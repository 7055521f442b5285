"""SparkSession builder tuned for the engine.

Design-for-scale defaults (SURVEY.md §4.2): Arrow-batched Python UDF
transfer, AQE with skew-join handling, explicit shuffle partitioning.
Iceberg is the nominal table format at design scale (BASELINE.json); in
this sandbox no Iceberg runtime jar is bundled with pyspark, so the
warehouse transparently falls back to parquet paths (sources/io.py) —
the table layout (partition spec, schema) is identical.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_REPO = Path(__file__).resolve().parents[1]


def ship_package(spark: SparkSession) -> None:
    """Ship the package zip to executor python workers (their sys.path
    does not include the driver's repo checkout when launched from
    another cwd). Rebuilds the zip when the source CONTENT hash differs
    from the one stored in the zip comment — mtime comparison would
    silently ship stale worker code after a fresh clone or cherry-pick
    that preserves timestamps."""
    import hashlib
    import zipfile

    zip_path = _REPO / "dist" / "h3_rs_spark.zip"
    sources = sorted((_REPO / "h3_rs_spark").rglob("*.py"))
    digest = hashlib.sha256()
    for py in sources:
        digest.update(str(py.relative_to(_REPO)).encode())
        digest.update(py.read_bytes())
    want = digest.hexdigest().encode()
    stale = True
    if zip_path.exists():
        try:
            with zipfile.ZipFile(zip_path) as zf:
                stale = zf.comment != want
        except Exception:
            stale = True
    if stale:
        zip_path.parent.mkdir(exist_ok=True)
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.comment = want
            for py in sources:
                zf.write(py, py.relative_to(_REPO))
    marker = "_h3_rs_spark_pyfile_added"
    if not getattr(spark.sparkContext, marker, False):
        spark.sparkContext.addPyFile(str(zip_path))
        setattr(spark.sparkContext, marker, True)


def _default_local_dir() -> str:
    """Fastest available scratch for shuffle files. Honors Spark's own
    SPARK_LOCAL_DIRS env (which overrides spark.local.dir anyway); else
    tmpfs when mounted (this sandbox: ext4 /tmp costs ~2 ms of shuffle
    write time per tiny shuffle file, tmpfs halves exchange latency);
    else the java.io.tmpdir default."""
    env = os.environ.get("SPARK_LOCAL_DIRS")
    if env:
        return env
    shm = Path("/dev/shm")
    if shm.is_dir() and os.access(shm, os.W_OK):
        d = shm / "spark-local"
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
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
