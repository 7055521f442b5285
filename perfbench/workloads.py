"""The benchmark's workloads and the engine calls each request makes.

Every request is one closed-loop call sequence into the engine's public
functions, wrapped in spans (recorded only in a traced run). The three
request kinds (pip, knn, ingest) are module functions so a traced run can
also issue one small request of each kind its own workload does not make
(the sweep), which keeps every per-layer metric measured in every traced
run. Only pip and ingest have a workload of their own.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

import inputs
import oracles
from spans import Tracer

RES = 9
TABLE_ROWS = 100_000
TABLE_SIDE = 4
INGEST_ROWS = 30_000
INGEST_SIDE = 16
SWEEP_INGEST_ROWS = 20_000
TILE_PX = 4
TILE_RES = 15
SALT_BUCKETS = 16
KNN_K = 10
CELL_SAMPLE = 64


class Env:
    """One run's Spark session, scratch space and tracer."""

    def __init__(self, work: Path, cores: int, tracer: Tracer):
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        self.event_log = work / "events"

    def start(self, event_log: bool = False) -> float:
        """Start the session; returns the get_spark wall."""
        from h3_rs_spark.session import get_spark

        self.stop()
        # the engine's own driver heap and JVM flags; only scratch moves
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
            "spark.local.dir": str(self.work / "local"),
        }
        if event_log:
            self.event_log.mkdir(exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.event_log}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", "session"):
            self.spark = get_spark(
                app="perfbench",
                master=f"local[{self.cores}]",
                shuffle_partitions=2 * self.cores,
                extra_conf=conf,
            )
        wall = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return wall

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


@dataclass
class Outcome:
    """One request: its wall, the rows it moved and over which wall they
    count (the whole call, or ingest step 1), and oracle mismatches. A
    request that raised has no figures, only its error."""

    kind: str
    wall: float
    rows: int
    rows_wall: float
    check: Callable[[], list]  # the oracle check, run outside the timing
    detail: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    raised: bool = False


# --- request kinds ---------------------------------------------------------


def pip_call(env: Env, images, polys: dict) -> dict[str, int]:
    from h3_rs_spark.operators.pip_join import pip_count

    with env.tracer.span("pip_join.pip_count", "pip"):
        df = pip_count(env.spark, images, polys)
    with env.tracer.span("pip_join.exec", "pip"):
        rows = df.collect()
    return {r["polygon_id"]: int(r["n_images"]) for r in rows}


def knn_call(env: Env, images, batch: pd.DataFrame) -> pd.DataFrame:
    from h3_rs_spark.operators.knn import knn_join

    with env.tracer.span("knn.knn_join", "knn"):
        queries = env.spark.createDataFrame(batch)
        df = knn_join(env.spark, images, queries, k=KNN_K, res=RES)
    with env.tracer.span("knn.exec", "knn"):
        return df.toPandas()


def ingest_call(env: Env, raw: Path, wh: Path, n: int, seed: int) -> dict:
    """Steps: (1) io.write_images; (2) the tile rollup stage; (3) the same
    stage again, which must resume."""
    from h3_rs_spark.functions.native import h3_to_parent_col
    from h3_rs_spark.operators.skew import salted_aggregate
    from h3_rs_spark.operators.tiling import tile_assign
    from h3_rs_spark.plans.stages import StageRunner
    from h3_rs_spark.sources import io

    spark = env.spark
    table = str(wh / "images")
    t0 = time.perf_counter()
    with env.tracer.span("io.write_images", "io"):
        io.write_images(spark.read.parquet(str(raw)), table, res=RES)
    t1 = time.perf_counter()

    def rollup():
        with env.tracer.span("io.read_images", "io"):
            images = io.read_images(spark, table)
        with env.tracer.span("tiling.tile_assign", "tiling"):
            tiles = tile_assign(images, tile_px=TILE_PX, res=TILE_RES)
        tiles = tiles.withColumn("parent", h3_to_parent_col("cell", RES))
        with env.tracer.span("skew.salted_aggregate", "skew"):
            return salted_aggregate(
                tiles,
                "parent",
                [("n_tiles", "count"), ("mean_r", "sum"), ("mean_g", "sum"), ("mean_b", "sum")],
                salt_buckets=SALT_BUCKETS,
                salt_source="image_id",
            )

    runner = StageRunner(spark, str(wh / "stages"), run_id=f"seed{seed}")
    fp = f"tile_rollup:n={n}:seed={seed}:px={TILE_PX}:res={TILE_RES}"
    with env.tracer.span("stages.stage", "stages"):
        runner.stage("tile_rollup", fp, rollup, inputs=[table])
    t2 = time.perf_counter()
    with env.tracer.span("stages.stage.resume", "stages"):
        out = runner.stage("tile_rollup", fp, rollup, inputs=[table])
    t3 = time.perf_counter()
    return {
        "write_s": t1 - t0,
        "stage_s": t2 - t1,
        "resume_s": t3 - t2,
        "history": runner.history(),
        "out": out,
        "table": table,
    }


# --- oracle state for a table the benchmark generated ----------------------


class Points:
    """The generated points of one table, for the oracles."""

    def __init__(self, seed: int, n: int):
        self.seed, self.n = seed, n
        self.lat, self.lng = inputs.geography(seed, n)
        self._ids = None

    @property
    def ids(self) -> np.ndarray:
        if self._ids is None:
            self._ids = inputs.image_ids(np.arange(self.n))
        return self._ids

    def check_pip(self, polys: dict, got: dict) -> list[str]:
        return oracles.check_pip(got, oracles.pip_expected(self.lat, self.lng, polys))

    def check_knn(self, batch: pd.DataFrame, got: pd.DataFrame) -> list[str]:
        want = oracles.knn_expected(self.lat, self.lng, self.ids, batch, KNN_K)
        q = batch.set_index("query_id")

        def true_dist(qid, image_ids):
            idx = np.array([int(i[3:]) for i in image_ids])
            return oracles.haversine_m(q.at[qid, "lat"], q.at[qid, "lng"],
                                       self.lat[idx], self.lng[idx])

        return oracles.check_knn(got, want, true_dist)


class IngestOracle:
    def __init__(self, seed: int, n: int, side: int):
        self.seed, self.n = seed, n
        self.points = Points(seed, n)
        px = inputs.pixels(seed, n, side)
        self.rollup = oracles.tile_rollup_expected(
            px, self.points.lat, self.points.lng, side, TILE_PX, TILE_RES, RES
        )
        self.tiles_per_image = (side // TILE_PX) ** 2
        rng = inputs.rng_for(seed, "cell-sample")
        self.sample = np.sort(rng.choice(n, size=min(CELL_SAMPLE, n), replace=False))

    def check(self, env: Env, res: dict) -> list[str]:
        from pyspark.sql import functions as F

        errs = oracles.check_history(res["history"])
        table = env.spark.read.parquet(res["table"])
        rows = table.count()
        if rows != self.n:
            errs.append(f"ingest: {rows} rows != {self.n}")
        ids = [str(i) for i in inputs.image_ids(self.sample)]
        got = (
            table.where(F.col("image_id").isin(ids))
            .select("image_id", "cell", "lat", "lng")
            .toPandas()
            .sort_values("image_id")
        )
        got["index"] = got["image_id"].str[3:].astype(np.int64)
        if len(got) != len(ids):
            errs.append(f"ingest: {len(got)} of {len(ids)} sampled rows found")
        else:
            errs += oracles.check_cells(got, self.points.lat, self.points.lng, RES)
        out = res["out"].toPandas()
        errs += oracles.check_tile_rollup(out, self.rollup, self.n, self.tiles_per_image)
        return errs


# --- workloads -------------------------------------------------------------


class Workload:
    name = ""
    kind = ""  # request kind: pip, knn or ingest
    cycle = 1  # requests per measured cycle; runs stop on whole cycles
    warm_requests = 0  # untimed requests after set-up

    def __init__(self, env: Env, seed: int, log):
        self.env, self.seed, self.log = env, seed, log
        self.built_s = 0.0  # one-off cache builds, excluded from set-up
        # requests issued so far, warm-up or measured, traced or not; each
        # takes the next input of the pool, so an input comes back only
        # after a whole pool of others
        self.issued = 0

    def cache_names(self) -> list[str]:
        """The cache entries (see inputs) the workload reads."""
        return []

    def build(self) -> None:
        """Build the missing cache entries, in a process of its own."""

    def prepare(self) -> None:
        """Untimed: make sure the cached inputs exist; subclasses then open
        them and generate the oracle state. Missing entries are built by a
        child process, so this one neither grows by the build nor has a
        JVM before its set-up, whether the inputs were cached or not."""
        if all(inputs.is_cached(n) for n in self.cache_names()):
            return
        t0 = time.perf_counter()
        work, cores = str(self.env.work / "build"), str(self.env.cores)
        subprocess.run(
            [sys.executable, __file__, work, cores, str(self.seed), self.name],
            check=True, stdout=sys.stderr,
        )
        self.built_s += time.perf_counter() - t0

    def load(self) -> None:
        """Set-up: make the inputs readable by the fresh session."""

    def request(self, i: int) -> Outcome:
        raise NotImplementedError

    def next_request(self) -> Outcome:
        i = self.issued
        self.issued += 1
        return self.request(i)


class PipJoin(Workload):
    """pip_count of the next polygon set over the cached read table."""

    name = "pip-join"
    kind = "pip"
    cycle = inputs.REGIONAL_EVERY
    # with the set-up's: 7 plain sets; each measured cycle of 8 then opens
    # with a regional one (the regional build is driver numpy, warm at once)
    warm_requests = 6

    def cache_names(self):
        return [
            inputs.raw_name(self.seed, TABLE_ROWS, TABLE_SIDE),
            inputs.table_name(self.seed, TABLE_ROWS, inputs.engine_digest()),
        ]

    def build(self):
        """The raw images, and the read table ingested from them by the
        engine's io.write_images."""
        raw = inputs.raw_images(self.seed, TABLE_ROWS, TABLE_SIDE, 2 * self.env.cores)
        self.env.start()
        try:
            inputs.ingested_table(self.env.spark, self.seed, raw, TABLE_ROWS, inputs.engine_digest())
        finally:
            self.env.stop()

    def prepare(self):
        super().prepare()
        self.pool = inputs.polygon_pool(self.seed)
        self.raw = inputs.raw_images(self.seed, TABLE_ROWS, TABLE_SIDE, 2 * self.env.cores)
        self.log(inputs.describe("raw_images", self.raw.path, TABLE_ROWS))
        self.points = Points(self.seed, TABLE_ROWS)
        digest = inputs.engine_digest()
        self.table = inputs.ingested_table(None, self.seed, self.raw, TABLE_ROWS, digest)
        self.log(inputs.describe("read_table", self.table.path / "images", TABLE_ROWS))

    def load(self):
        from h3_rs_spark.sources import io

        with self.env.tracer.span("io.read_images", "io"):
            self.images = io.read_images(self.env.spark, str(self.table.path / "images"))

    def request(self, i):
        polys = self.pool[i % len(self.pool)]
        t0 = time.perf_counter()
        got = pip_call(self.env, self.images, polys)
        wall = time.perf_counter() - t0
        return Outcome(
            "pip", wall, TABLE_ROWS, wall,
            lambda: self.points.check_pip(polys, got), {"polys": polys},
        )


class IngestTiles(Workload):
    name = "ingest-tiles"
    kind = "ingest"
    cycle = 3  # a median of three pipelines, however slow the host
    warm_requests = 2  # after one, the first measured pipeline still ran ~15% slow
    last = None

    def cache_names(self):
        return [inputs.raw_name(self.seed, INGEST_ROWS, INGEST_SIDE)]

    def build(self):
        inputs.raw_images(self.seed, INGEST_ROWS, INGEST_SIDE, 2 * self.env.cores)

    def prepare(self):
        super().prepare()
        self.raw = inputs.raw_images(self.seed, INGEST_ROWS, INGEST_SIDE, 2 * self.env.cores)
        self.log(inputs.describe("raw_images", self.raw.path, INGEST_ROWS))
        self.oracle = IngestOracle(self.seed, INGEST_ROWS, INGEST_SIDE)

    def request(self, i):
        wh = self.env.work / f"wh-r{i}"
        shutil.rmtree(wh, ignore_errors=True)
        t0 = time.perf_counter()
        res = ingest_call(self.env, self.raw.path, wh, INGEST_ROWS, self.seed)
        wall = time.perf_counter() - t0
        detail = {k: res[k] for k in ("write_s", "stage_s", "resume_s", "table")}
        detail["tiles"] = INGEST_ROWS * self.oracle.tiles_per_image
        if self.last is not None:
            shutil.rmtree(Path(self.last["table"]).parent, ignore_errors=True)
        self.last = res  # kept for the traced run's sweep and hot-key count
        return Outcome(
            "ingest", wall, INGEST_ROWS, res["write_s"],
            lambda: self.oracle.check(self.env, res), detail,
        )


WORKLOADS = {w.name: w for w in (PipJoin, IngestTiles)}


if __name__ == "__main__":
    # python3 perfbench/workloads.py <work dir> <cores> <seed> <workload>:
    # build that workload's missing cache entries (Workload.prepare runs it)
    sys.path.insert(0, str(inputs.ROOT))
    work, cores, seed, name = sys.argv[1:]
    env = Env(Path(work), int(cores), Tracer(False))
    WORKLOADS[name](env, int(seed), print).build()
