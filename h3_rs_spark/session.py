"""SparkSession builder for the engine.

`get_spark` configures a session through its four parameters and
Spark's own settings, nothing else: it reads no environment variable,
and where shuffle files go (`spark.local.dir`) is the deployment's to
set, through Spark's `SPARK_LOCAL_DIRS` or `extra_conf`.
Iceberg is the nominal table format at design scale (BASELINE.json); in
this sandbox no Iceberg runtime jar is bundled with pyspark, so the
warehouse transparently falls back to parquet paths (sources/io.py) —
the table layout (partition spec, schema) is identical.

Python boundary: executor Python workers fork from `h3_rs_spark.daemon`,
which imports the worker-side modules once, so the workers share those
pages instead of each paying ~100 MB of private imports; the daemon
imports the package from the zip that `spark.executorEnv.PYTHONPATH`
names (`get_spark` rewrites it before the session starts when the
sources changed; on a cluster `--py-files` ships it). DataFrame
debugging is off on the driver: with it on, every DataFrame and Column
API call walks the stack for its call site, tries to import IPython and
makes about 4 extra py4j calls. Spark errors then carry no Python
`file:line` query context; they still raise.
"""

from __future__ import annotations

import hashlib
import zipfile
from pathlib import Path

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_REPO = Path(__file__).resolve().parents[1]
PACKAGE_ZIP = _REPO / "dist" / "h3_rs_spark.zip"
# a JVM flag, so it binds only the session that starts the JVM
_DRIVER_MEMORY = "8g"


def write_package_zip(zip_path: Path) -> bool:
    """Write the package zip with the source CONTENT hash as its zip
    comment, unless the zip already carries that hash — mtime comparison
    would silently ship stale worker code after a fresh clone or
    cherry-pick that preserves timestamps. Returns True when written."""
    sources = sorted((_REPO / "h3_rs_spark").rglob("*.py"))
    digest = hashlib.sha256()
    for py in sources:
        digest.update(str(py.relative_to(_REPO)).encode())
        digest.update(py.read_bytes())
    want = digest.hexdigest().encode()
    if zip_path.exists():
        try:
            with zipfile.ZipFile(zip_path) as zf:
                if zf.comment == want:
                    return False
        except (OSError, zipfile.BadZipFile):
            pass
    zip_path.parent.mkdir(exist_ok=True)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.comment = want
        for py in sources:
            zf.write(py, py.relative_to(_REPO))
    return True


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """`rows` (a pandas frame, or tuples in schema order) as a local
    relation built from Arrow under the schema's own Arrow types, so a
    bigint column holding a NULL stays exact (no float64 inference).
    createDataFrame of Python rows, or of an empty pandas frame, checks
    the rows in a PythonRDD, so collecting it starts a Python worker;
    this plan holds none."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(rows, arrow_schema, preserve_index=False)
    else:
        columns = zip(*rows) if rows else [[]] * len(arrow_schema)
        table = pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, schema)


def get_spark(
    app: str = "h3-rs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's session. `master=None` leaves the master to
    spark-submit, else Spark's `local[*]`; `shuffle_partitions`
    defaults to twice the context's default parallelism, at most 64, and
    is set after the context starts, so it is the one setting
    `extra_conf` does not override."""
    builder = SparkSession.builder.appName(app)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # 128 GiB box: let AQE broadcast up to 64 MB relations (the 10 MB
        # default targets small executors); forced F.broadcast hints on
        # unbounded relations remain banned (tests assert their absence)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE's 1 MB minimum post-shuffle partition size assumes work is
        # byte-proportional; CPU-dense per-row stages coalesced at 1 MB
        # granularity starve to 2-3 tasks, and 64 KB lets
        # parallelismFirst use the cluster. At scale advisory =
        # max(bytes/parallelism, this) >> 1 MB and the floor never
        # binds. The floor is unmeasured on the PIP, kNN and tiling
        # workloads; extra_conf overrides it.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
        # Never use the bypass-merge shuffle writer: it writes one file
        # per (map task x reduce partition) — with 32 maps x 64 reduce
        # partitions that is 2048 tiny files per exchange, measured ~2x
        # slower than the serialized sort writer here. At production
        # reducer counts (>200) bypass never fires anyway, so this also
        # makes local-mode shuffle behave like the cluster shape.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.driver.memory", _DRIVER_MEMORY)
        # Spark's default is the host's time zone
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # fork every Python worker from the pre-imported engine daemon;
        # its PYTHONPATH holds the package zip, written below before any
        # Python task runs (the daemon starts with the first one)
        .config("spark.python.daemon.module", "h3_rs_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", str(PACKAGE_ZIP))
        # no per-call call-site capture on the driver (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    write_package_zip(PACKAGE_ZIP)
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions or min(64, 2 * spark.sparkContext.defaultParallelism)),
    )
    return spark
