"""SparkSession builder tuned for the engine.

Design-for-scale defaults (SURVEY.md §4.2): Arrow-batched Python UDF
transfer, AQE with skew-join handling, explicit shuffle partitioning.
Iceberg is the nominal table format at design scale (BASELINE.json); in
this sandbox no Iceberg runtime jar is bundled with pyspark, so the
warehouse transparently falls back to parquet paths (sources/io.py) —
the table layout (partition spec, schema) is identical.

Python boundary: executor Python workers fork from `h3_rs_spark.daemon`,
which imports the worker-side modules once, so the workers share those
pages instead of each paying ~100 MB of private imports; the daemon
imports the package from the zip that `spark.executorEnv.PYTHONPATH`
names. DataFrame debugging is off on the driver: with it on, every
DataFrame and Column API call walks the stack for its call site, tries
to import IPython and makes about 4 extra py4j calls. Spark errors then
carry no Python `file:line` query context; they still raise.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zipfile
from pathlib import Path

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_REPO = Path(__file__).resolve().parents[1]
PACKAGE_ZIP = _REPO / "dist" / "h3_rs_spark.zip"


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


def ship_package(spark: SparkSession) -> None:
    """Ship the package zip to executor python workers (their sys.path
    does not include the driver's repo checkout when launched from
    another cwd), rebuilding it first when the sources changed."""
    write_package_zip(PACKAGE_ZIP)
    marker = "_h3_rs_spark_pyfile_added"
    if not getattr(spark.sparkContext, marker, False):
        spark.sparkContext.addPyFile(str(PACKAGE_ZIP))
        setattr(spark.sparkContext, marker, True)


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """`rows` (a pandas frame, or tuples in schema order) as a local
    relation built from Arrow. createDataFrame of Python rows, or of an
    empty pandas frame, checks the rows in a PythonRDD, so collecting it
    starts a Python worker; this plan holds none."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(rows, pd.DataFrame):
        rows = pd.DataFrame(rows, columns=schema.names)
    table = pa.Table.from_pandas(rows, preserve_index=False)
    return spark.createDataFrame(table, schema)


# below this much free tmpfs the shuffle dir goes to disk: a spill into
# /dev/shm is RAM, and a full tmpfs fails the job mid-shuffle. A
# container's default 64 MB /dev/shm falls back; a host's RAM-sized one
# does not
_SHM = Path("/dev/shm")
_SHM_MIN_FREE = 2 << 30


def _default_local_dir() -> str:
    """Fastest available scratch for shuffle files. Honors Spark's own
    SPARK_LOCAL_DIRS env (which overrides spark.local.dir anyway); else
    tmpfs when mounted with at least _SHM_MIN_FREE bytes free (ext4 /tmp
    measured ~2 ms of shuffle write time per tiny shuffle file, tmpfs
    halves exchange latency); else TMPDIR, else /tmp."""
    env = os.environ.get("SPARK_LOCAL_DIRS")
    if env:
        return env
    if (
        _SHM.is_dir()
        and os.access(_SHM, os.W_OK)
        and shutil.disk_usage(_SHM).free >= _SHM_MIN_FREE
    ):
        d = _SHM / "spark-local"
        try:
            d.mkdir(exist_ok=True)
            return str(d)
        except OSError:
            pass
    return os.environ.get("TMPDIR", "/tmp")


def get_spark(
    app: str = "h3-rs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
        if hasattr(os, "sched_getaffinity")
        else os.cpu_count() or 1
    )
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "SPARK_SHUFFLE_PARTITIONS", str(min(64, 2 * int(cpus)))
    ))
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # 128 GiB box: let AQE broadcast up to 64 MB relations (the 10 MB
        # default targets small executors); forced F.broadcast hints on
        # unbounded relations remain banned (tests assert their absence)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's 1 MB minimum post-shuffle partition size assumes work is
        # byte-proportional; CPU-dense per-row stages coalesced at 1 MB
        # granularity starve to 2-3 tasks, and 64 KB lets
        # parallelismFirst use the cluster. At scale advisory =
        # max(bytes/parallelism, this) >> 1 MB and the floor never
        # binds. The floor is unmeasured on the PIP, kNN and tiling
        # workloads; extra_conf overrides it.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Shuffle I/O layout (r7, guide §2.1/§2.2): keep shuffle files on
        # the fastest local storage — measured on this sandbox: 4.2 s of
        # Shuffle Write Time for 1.1 MB of shuffle bytes with the stock
        # layout. spark.local.dir is a per-deployment knob (clusters
        # point it at NVMe scratch); default to tmpfs here when present.
        # SPARK_LOCAL_DIRS (Spark's native env override) wins if set.
        .config("spark.local.dir", _default_local_dir())
        # Never use the bypass-merge shuffle writer: it writes one file
        # per (map task x reduce partition) — with 32 maps x 64 reduce
        # partitions that is 2048 tiny files per exchange, measured ~2x
        # slower than the serialized sort writer here. At production
        # reducer counts (>200) bypass never fires anyway, so this also
        # makes local-mode shuffle behave like the cluster shape.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # fork every Python worker from the pre-imported engine daemon;
        # its PYTHONPATH holds the zip ship_package keeps current before
        # any Python task runs (the daemon starts with the first one)
        .config("spark.python.daemon.module", "h3_rs_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", str(PACKAGE_ZIP))
        # no per-call call-site capture on the driver (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
