"""Spark operator tests against single-process numpy oracles.

Strategy per SURVEY.md §5: every distributed operator must reproduce the
brute-force single-process answer row-for-row on the deterministic
synthetic tables (FIXTURES.md)."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from h3_rs_spark.h3core import faceijk, regions
from h3_rs_spark.operators import skew
from h3_rs_spark.operators.knn import knn_join, knn_oracle
from h3_rs_spark.operators.pip_join import pip_join
from h3_rs_spark.operators.tiling import decode_image, psnr_db, tile_assign
from h3_rs_spark.sources import datagen, io

N_IMAGES = 4000


@pytest.fixture(scope="module")
def images(spark):
    df = io.with_geo(
        datagen.generate_images(spark, N_IMAGES, w=16, h=16), res=9
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_geo():
    ids = np.arange(N_IMAGES, dtype=np.int64)
    lat, lng = datagen.row_geography(ids)
    return pd.DataFrame(
        {
            "image_id": [f"img{i:012d}" for i in ids],
            "lat": lat,
            "lng": lng,
        }
    )


class TestInputInvariants:
    def test_caption_roundtrip_and_pixels(self, images):
        """input_hint gates: caption equality end-to-end and decoded
        pixels exact (PSNR infinite for rgb24)."""
        rows = images.orderBy("image_id").limit(5).collect()
        for i, r in enumerate(rows):
            assert r["caption"] == f"photo {r['image_id']} at " \
                f"{r['lat']:.6f},{r['lng']:.6f}"
            px = decode_image(bytes(r["bytes"]), r["w"], r["h"], r["fmt"])
            rng = np.random.default_rng(datagen.SEED + i)
            expected = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
            assert psnr_db(px, expected) == float("inf")

    def test_distributed_generation_matches_oracle(self, spark):
        got = (
            datagen.generate_images(spark, 500, w=8, h=8)
            .orderBy("image_id")
            .toPandas()
        )
        exp = datagen.images_oracle_pdf(500, 8, 8)
        assert got["caption"].tolist() == exp["caption"].tolist()
        assert got["phash"].tolist() == exp["phash"].tolist()
        assert bytes(got["bytes"][0]) == exp["bytes"][0]


class TestPipJoin:
    def test_exact_vs_oracle(self, spark, images, oracle_geo):
        polys = {k: v for k, v in datagen.POLYGONS.items() if v[2] == 9}
        got = (
            pip_join(spark, images, polys)
            .select("polygon_id", "image_id")
            .toPandas()
        )
        for pid, (ext, holes, _res) in polys.items():
            inside = regions.points_in_polygon(
                oracle_geo["lng"].to_numpy(), oracle_geo["lat"].to_numpy(),
                ext, holes,
            )
            exp_ids = set(oracle_geo.loc[inside, "image_id"])
            got_ids = set(got.loc[got["polygon_id"] == pid, "image_id"])
            assert got_ids == exp_ids, (
                pid, len(got_ids), len(exp_ids),
                list(got_ids ^ exp_ids)[:5],
            )

    def test_no_double_counting(self, spark, images):
        """Compacted antichain: each image matches each polygon <= once."""
        polys = {"sf_hexagon": datagen.POLYGONS["sf_hexagon"]}
        got = pip_join(spark, images, polys).groupBy(
            "polygon_id", "image_id"
        ).count()
        assert got.where(F.col("count") > 1).count() == 0

    def test_partition_pruning_filter(self, spark, tmp_path):
        """The build side's base cells reach the parquet scan as a pushed
        `bc0` In filter, so files prune by their min/max statistics."""
        path = str(tmp_path / "images")
        io.write_images(datagen.generate_images(spark, 500, w=8, h=8), path)
        polys = {"sf_hexagon": datagen.POLYGONS["sf_hexagon"]}
        plan = pip_join(
            spark, io.read_images(spark, path), polys
        )._jdf.queryExecution().executedPlan().toString()
        scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
        pushed = re.search(r"PushedFilters: \[(.*?)\], ReadSchema", scan)
        assert pushed and re.search(r"\bIn\(bc0, \[", pushed.group(1)), scan


def _box(lng0, lat0, lng1, lat1):
    return [(lng0, lat0), (lng1, lat0), (lng1, lat1), (lng0, lat1)]


def _lat_ring(lat, eastward=True, n=12):
    lngs = np.linspace(-180.0, 180.0, n, endpoint=False)
    return [(float(x), lat) for x in (lngs if eastward else lngs[::-1])]


def _pentagon_centre():
    from h3_rs_spark.h3core import indexing
    from h3_rs_spark.h3core.constants import PENTAGON_BASE_CELLS

    cell = indexing.from_components(
        PENTAGON_BASE_CELLS[:1].astype(np.int64), 0, np.full((1, 15), 7)
    )
    lat, lng = faceijk.h3_to_geo(cell)
    return float(lat[0]), float(lng[0])


_PENT_LAT, _PENT_LNG = _pentagon_centre()

# polygon_id -> ((exterior, holes, res), sampling box (lat0, lat1, lng0,
# lng1) with lng1 > 180 wrapping); the open-ocean box gets no points
ADVERSARIAL = {
    "antimeridian_box": (
        (_box(179.0, -1.0, -179.0, 1.0), [], 6), (-1.5, 1.5, 178.5, 181.5)
    ),
    "north_cap_res3": ((_lat_ring(80.0), [], 3), (77.0, 90.0, -180.0, 180.0)),
    "south_cap_westward": (
        (_lat_ring(-80.0, eastward=False), [], 3), (-90.0, -77.0, -180.0, 180.0)
    ),
    "pentagon_centred": (
        (_box(_PENT_LNG - 3.0, _PENT_LAT - 1.5, _PENT_LNG + 3.0,
              _PENT_LAT + 1.5), [], 5),
        (_PENT_LAT - 2.0, _PENT_LAT + 2.0, _PENT_LNG - 4.0, _PENT_LNG + 4.0),
    ),
    "sf_two_holes": (
        datagen.POLYGONS["sf_hexagon_2holes"], (37.70, 37.82, -122.53, -122.35)
    ),
    "sub_cell_triangle": (
        ([(-73.9900, 40.7500), (-73.9896, 40.7500), (-73.9898, 40.7503)], [], 9),
        (40.7495, 40.7508, -73.9905, -73.9891),
    ),
    "open_ocean": ((_box(-140.0, -50.0, -139.0, -49.0), [], 7), None),
}


@pytest.fixture(scope="module")
def adversarial_table(spark):
    """Points placed in and around each adversarial polygon: uniform in
    a padded box plus jittered copies of every ring vertex."""
    rng = np.random.default_rng(11)
    lat, lng = [], []
    for (ext, holes, _res), box in ADVERSARIAL.values():
        if box is None:
            continue
        lat0, lat1, lng0, lng1 = box
        lat.append(rng.uniform(lat0, lat1, 300))
        lng.append(rng.uniform(lng0, lng1, 300))
        verts = np.concatenate([np.asarray(r, dtype=np.float64)
                                for r in [ext, *holes]])
        for scale in (1e-4, 1e-2):
            lng.append(verts[:, 0] + rng.normal(0.0, scale, len(verts)))
            lat.append(verts[:, 1] + rng.normal(0.0, scale, len(verts)))
    lat = np.clip(np.concatenate(lat), -89.999999, 89.999999)
    lng = (np.concatenate(lng) + 180.0) % 360.0 - 180.0
    captions = [f"p at {a:.6f},{b:.6f}" for a, b in zip(lat, lng)]
    raw = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"a{i:05d}" for i in range(len(lat))],
                      "caption": captions})
    )
    df = io.with_geo(raw).cache()
    df.count()
    return df


class TestAdversarialPip:
    """pip_count on hard geometry against the even-odd ray-cast oracle
    over the table's own rows: the antimeridian, both poles (opposite
    windings), a pentagon, holes, a polygon smaller than its cells, an
    empty result and an empty table."""

    @pytest.mark.parametrize("pid", sorted(ADVERSARIAL))
    def test_matches_ray_cast_oracle(self, spark, adversarial_table, pid):
        from h3_rs_spark.operators.pip_join import pip_count

        polys = {pid: ADVERSARIAL[pid][0]}
        ext, holes, _res = polys[pid]
        rows = adversarial_table.select("image_id", "lat", "lng").toPandas()
        inside = regions.points_in_polygon(
            rows["lng"].to_numpy(), rows["lat"].to_numpy(), ext, holes
        )
        want = set(rows.loc[inside, "image_id"])
        got = {
            r["image_id"]
            for r in pip_join(spark, adversarial_table, polys).collect()
        }
        counts = {
            r["polygon_id"]: r["n_images"]
            for r in pip_count(spark, adversarial_table, polys).collect()
        }
        assert got == want, (len(got), len(want), sorted(got ^ want)[:5])
        assert counts == ({pid: len(want)} if want else {})
        # every case but the ocean holds points on both sides
        assert (len(want) > 0) == (pid != "open_ocean")
        assert len(want) < len(rows)

    def test_empty_table(self, spark, adversarial_table):
        from h3_rs_spark.operators.pip_join import pip_count

        empty = adversarial_table.limit(0)
        polys = {"sf_two_holes": ADVERSARIAL["sf_two_holes"][0]}
        assert pip_count(spark, empty, polys).collect() == []

    def test_empty_polygon_set(self, spark, adversarial_table):
        """No polygons: the typed empty result, built without a Spark
        job (the build side has no rows to infer a schema from)."""
        from h3_rs_spark.operators.pip_join import pip_count

        sc = spark.sparkContext
        sc.setJobGroup("pip_empty", "pip_empty")
        try:
            joined = pip_join(spark, adversarial_table, {})
            counts = pip_count(spark, adversarial_table, {})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        assert tracker.getJobIdsForGroup("pip_empty") == []
        assert joined.columns == adversarial_table.columns + ["polygon_id"]
        rdd = joined._jdf.queryExecution().toRdd().toDebugString()
        assert "Python" not in rdd, rdd
        assert joined.collect() == []
        assert counts.columns == ["polygon_id", "n_images"]
        assert counts.collect() == []


class TestKnn:
    @pytest.mark.parametrize("n,k", [(24, 5), (8, 3)])
    def test_exact_vs_oracle(self, spark, images, oracle_geo, n, k):
        queries = datagen.generate_knn_queries(spark, n=n, k=k)
        q_pdf = queries.toPandas()
        got = knn_join(spark, images, queries, k=k, res=9).toPandas()
        exp = knn_oracle(oracle_geo, q_pdf, k=k)
        g = got.sort_values(["query_id", "rank"], ignore_index=True)
        x = exp.sort_values(["query_id", "rank"], ignore_index=True)
        assert g["image_id"].tolist() == x["image_id"].tolist()
        assert np.allclose(g["dist_m"], x["dist_m"], rtol=1e-9, atol=1e-6)

    def test_oversized_batch_raises(self, spark, images, oracle_geo,
                                    monkeypatch):
        """A batch above _MAX_QUERIES raises instead of pulling an
        unbounded relation to the driver; a batch at the limit still
        returns the exact rows. Exercised with a lowered limit so the
        same code path a 10^7-query caller would hit runs in test time."""
        from h3_rs_spark.operators import knn as knn_mod

        monkeypatch.setattr(knn_mod, "_MAX_QUERIES", 8)
        big = datagen.generate_knn_queries(spark, n=24, k=3)
        with pytest.raises(ValueError, match="at most 8 queries"):
            knn_join(spark, images, big, k=3, res=9)
        queries = datagen.generate_knn_queries(spark, n=8, k=3)
        q_pdf = queries.toPandas()
        got = knn_join(spark, images, queries, k=3, res=9).toPandas()
        exp = knn_oracle(oracle_geo, q_pdf, k=3)
        g = got.sort_values(["query_id", "rank"], ignore_index=True)
        x = exp.sort_values(["query_id", "rank"], ignore_index=True)
        assert g["image_id"].tolist() == x["image_id"].tolist()
        assert np.allclose(g["dist_m"], x["dist_m"], rtol=1e-9, atol=1e-6)

    def test_unseeded_rounds_match_oracle(self, spark, images, oracle_geo,
                                          monkeypatch):
        """Every query starts at (res, _INITIAL_RING), so the metro,
        South Pacific and polar queries widen and fold through several
        driver rounds, and still match the oracle row for row."""
        from h3_rs_spark.operators import knn as knn_mod

        monkeypatch.setattr(
            knn_mod, "_seed_plans",
            lambda spark, images, q_pdf, k, res: (
                np.full(len(q_pdf), res),
                np.full(len(q_pdf), knn_mod._INITIAL_RING),
            ),
        )
        folds = []
        fold = knn_mod._fold
        monkeypatch.setattr(
            knn_mod, "_fold", lambda r, g: folds.append(len(r)) or fold(r, g)
        )
        q_pdf = pd.DataFrame(
            {
                "query_id": ["sf", "sydney", "pacific", "arctic", "antarctic"],
                "lat": [37.77, -33.87, -30.0, 85.0, -88.0],
                "lng": [-122.42, 151.21, -140.0, 10.0, 45.0],
            }
        )
        got = knn_join(
            spark, images, spark.createDataFrame(q_pdf), k=5, res=9
        ).toPandas()
        assert len(folds) >= 3  # one fold per round
        exp = knn_oracle(oracle_geo, q_pdf, k=5)
        g = got.sort_values(["query_id", "rank"], ignore_index=True)
        x = exp.sort_values(["query_id", "rank"], ignore_index=True)
        assert g["image_id"].tolist() == x["image_id"].tolist()
        assert np.allclose(g["dist_m"], x["dist_m"], rtol=1e-9, atol=1e-6)

    def test_call_runs_bounded_jobs(self, spark, images):
        """A 24-query call plus its collect runs at most 8 Spark jobs:
        the batch collect, the seeding count and one probe per round."""
        sc = spark.sparkContext
        queries = datagen.generate_knn_queries(spark, n=24, k=5)
        sc.setJobGroup("knn", "knn")
        try:
            knn_join(spark, images, queries, k=5, res=9).toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup("knn")) <= 8


class TestRowsWithoutLocation:
    """A caption without a usable location gives NULL lat, lng, cell and
    bc0, never cell 0, and every operator answers over the valid rows."""

    BAD = [None, "a photo", "x at abc,1.0", "x at 95.0,200.0"]
    PARENT_OF_0 = 40532396646596607  # h3_to_parent_col(0, 9): not a cell

    @pytest.mark.parametrize("n_valid", [40, 0], ids=["bad_rows", "empty"])
    def test_operators_answer_over_valid_rows(self, spark, oracle_geo,
                                              tmp_path, n_valid):
        from h3_rs_spark.functions.native import h3_to_parent_col
        from h3_rs_spark.h3core import indexing
        from h3_rs_spark.operators.pip_join import pip_count

        raw = datagen.images_oracle_pdf(n_valid + 4, 16, 16)
        raw.loc[n_valid:, "caption"] = self.BAD
        if not n_valid:
            raw = raw.iloc[:0]
        # every field nullable: a null caption is one of the bad kinds
        schema = T.StructType(
            [T.StructField(f.name, f.dataType) for f in datagen.IMAGES_SCHEMA]
        )
        path = str(tmp_path / "img")
        io.write_images(spark.createDataFrame(raw, schema), path)
        images = io.read_images(spark, path)
        valid = oracle_geo.iloc[:n_valid]
        lat, lng = valid["lat"].to_numpy(), valid["lng"].to_numpy()

        # collect, not toPandas: a nullable cell column would go float
        got = sorted(
            images.select("image_id", "lat", "lng", "cell", "bc0").collect()
        )
        assert [tuple(r)[1:] for r in got[n_valid:]] == [(None,) * 4] * (
            len(raw) - n_valid
        )
        assert [tuple(r)[1:4] for r in got[:n_valid]] == list(
            zip(lat, lng, faceijk.geo_to_h3(lat, lng, 9).tolist())
        )

        polys = {k: p for k, p in datagen.POLYGONS.items() if p[2] == 9}
        pip = {
            r["polygon_id"]: r["n_images"]
            for r in pip_count(spark, images, polys).collect()
        }
        want = {
            pid: int(regions.points_in_polygon(lng, lat, ext, holes).sum())
            for pid, (ext, holes, _res) in polys.items()
        }
        assert pip == {p: n for p, n in want.items() if n}

        queries = datagen.generate_knn_queries(spark, n=4, k=3)
        knn = knn_join(spark, images, queries, k=3, res=9).toPandas()
        exp = knn_oracle(valid, queries.toPandas(), k=3)
        assert knn.sort_values(["query_id", "rank"])["image_id"].tolist() == (
            exp.sort_values(["query_id", "rank"])["image_id"].tolist()
        )

        tiles = tile_assign(images, tile_px=8, res=15).withColumn(
            "parent", h3_to_parent_col("cell", 9)
        )
        roll = {
            r["parent"]: r["n_tiles"]
            for r in skew.salted_aggregate(
                tiles, "parent", [("n_tiles", "count")], salt_buckets=4,
                salt_source="image_id",
            ).collect()
        }
        # 16x16 images, 8 px tiles: centres at +-4 px, 1e-6 deg per px
        dy, dx = (d.ravel() for d in np.meshgrid([-4e-6, 4e-6], [-4e-6, 4e-6]))
        cells = faceijk.geo_to_h3(
            (lat[:, None] - dy).ravel(), (lng[:, None] + dx).ravel(), 15
        )
        parents, counts = np.unique(
            indexing.to_parent(cells, 9), return_counts=True
        )
        assert roll == dict(zip(parents.tolist(), counts.tolist()))
        assert not {0, self.PARENT_OF_0} & ({r["cell"] for r in got} | set(roll))

    # caption (lat, lng) off [-180, 180] -> the longitude it wraps to
    OFF_RANGE = {(10.0, 200.0): -160.0, (-5.0, -200.0): 160.0,
                 (20.0, 540.0): -180.0}

    def test_longitude_off_range_is_wrapped(self, spark, tmp_path):
        """A caption longitude off [-180, 180] is stored wrapped, and
        every operator answers as over the wrapped point: the PIP
        refine too, for a row whose cell is a boundary cell."""
        from h3_rs_spark.operators.pip_join import pip_count
        from h3_rs_spark.operators.tiling import DEG_PER_PX

        n = 12
        raw = datagen.images_oracle_pdf(n, 16, 16)
        lat, wrapped = datagen.row_geography(np.arange(n, dtype=np.int64))
        for i, ((la, ln), w) in enumerate(self.OFF_RANGE.items()):
            lat[i], wrapped[i] = la, w
            raw.loc[i, "caption"] = f"photo {i} at {la:.6f},{ln:.6f}"
        path = str(tmp_path / "img")
        io.write_images(spark.createDataFrame(raw, datagen.IMAGES_SCHEMA), path)
        images = io.read_images(spark, path)

        got = sorted(images.select("image_id", "lat", "lng", "cell").collect())
        assert [tuple(r)[1:] for r in got] == list(
            zip(lat, wrapped, faceijk.geo_to_h3(lat, wrapped, 9).tolist())
        )

        # each box holds one wrapped row just inside an edge, so that
        # row's res-9 cell is a boundary cell and the refine decides it
        polys = {
            "east_of_-160": (_box(-160.0005, 9.99, -159.9, 10.01), [], 9),
            "west_of_160": (_box(159.9, -5.01, 160.0005, -4.99), [], 9),
            "seam_at_-180": (_box(179.9995, 19.99, -179.9, 20.01), [], 9),
        }
        cells = faceijk.geo_to_h3(lat[:3], wrapped[:3], 9)
        for cell, (ext, holes, res) in zip(cells, polys.values()):
            assert cell in regions.polygon_cover(ext, holes, res)[1]
        pip = {
            r["polygon_id"]: r["n_images"]
            for r in pip_count(spark, images, polys).collect()
        }
        want = {
            pid: int(regions.points_in_polygon(wrapped, lat, ext, holes).sum())
            for pid, (ext, holes, _res) in polys.items()
        }
        assert pip == want == dict.fromkeys(polys, 1)

        q = pd.DataFrame({"query_id": ["q0", "q1", "q2"],
                          "lat": lat[:3], "lng": wrapped[:3] + 1e-3})
        knn = knn_join(spark, images, spark.createDataFrame(q), k=1, res=9)
        exp = knn_oracle(
            pd.DataFrame({"image_id": raw["image_id"], "lat": lat,
                          "lng": wrapped}), q, k=1,
        )
        got_knn = sorted(map(tuple, knn.select("query_id", "image_id").collect()))
        assert got_knn == list(zip(exp["query_id"], exp["image_id"]))

        tiles = tile_assign(images, tile_px=8, res=15).select(
            "image_id", "tile_x", "tile_y", "cell"
        )
        # 16x16 images, 8 px tiles: centres at +-4 px from the anchor
        tx, ty = (t.ravel() for t in np.meshgrid([0, 1], [0, 1]))
        want_tiles = {
            (iid, int(x), int(y), int(c))
            for iid, la, ln in zip(raw["image_id"], lat, wrapped)
            for x, y, c in zip(tx, ty, faceijk.geo_to_h3(
                la - (ty * 8 - 4) * DEG_PER_PX, ln + (tx * 8 - 4) * DEG_PER_PX, 15
            ))
        }
        assert set(map(tuple, tiles.collect())) == want_tiles


class TestTiling:
    def test_tile_assignment_vs_oracle(self, spark, images):
        tiles = tile_assign(images.limit(64), tile_px=8, res=15).toPandas()
        assert len(tiles) == 64 * 4  # 16x16 image, 8px tiles -> 2x2
        # oracle: recompute one image's tiles in-process
        row = images.orderBy("image_id").first()
        px = decode_image(bytes(row["bytes"]), 16, 16, "rgb24")
        sub = tiles[tiles["image_id"] == row["image_id"]].sort_values(
            ["tile_y", "tile_x"]
        )
        assert len(sub) == 4
        means = px[:8, :8, :].astype(np.float64).mean(axis=(0, 1))
        first = sub.iloc[0]
        assert np.allclose(
            [first["mean_r"], first["mean_g"], first["mean_b"]], means
        )
        # cell assignment matches direct kernel call on tile centers
        lat = row["lat"] - (0.5 * 8 - 8.0) * 1e-6
        lng = row["lng"] + (0.5 * 8 - 8.0) * 1e-6
        expected_cell = int(
            faceijk.geo_to_h3(np.array([lat]), np.array([lng]), 15)[0]
        )
        assert int(first["cell"]) == expected_cell

    def test_unknown_fmt_raises(self):
        with pytest.raises(NotImplementedError):
            decode_image(b"", 1, 1, "png")

    @pytest.mark.parametrize(
        "case", ["short", "long", "short_then_long", "png", "null"]
    )
    def test_malformed_rows_raise(self, spark, case):
        """A payload one byte short or too long, a fmt without a decoder
        and a null payload each fail the tile stage. A short row next to
        a long one in the same batch (the right length together) must
        fail too: no row may borrow its neighbour's pixels."""
        from pyspark.errors import PythonException

        size = 4 * 4 * 3
        bad = {
            "short": [(bytes(size - 1), "rgb24")],
            "long": [(bytes(size + 1), "rgb24")],
            "short_then_long": [
                (bytes(size - 1), "rgb24"),
                (bytes(size + 1), "rgb24"),
            ],
            "png": [(bytes(size), "png")],
            "null": [(None, "rgb24")],
        }[case]
        good = [(bytes(size), "rgb24")]
        schema = T.StructType(
            [
                T.StructField("image_id", T.StringType()),
                T.StructField("bytes", T.BinaryType(), True),
                T.StructField("w", T.IntegerType()),
                T.StructField("h", T.IntegerType()),
                T.StructField("fmt", T.StringType()),
                T.StructField("lat", T.DoubleType()),
                T.StructField("lng", T.DoubleType()),
            ]
        )
        rows = [
            (f"img{i}", payload, 4, 4, fmt, 10.0, 20.0)
            for i, (payload, fmt) in enumerate(good + bad + good)
        ]
        df = spark.createDataFrame(rows, schema).coalesce(1)
        error = {"png": "NotImplementedError", "null": "ValueError|TypeError"}
        with pytest.raises(PythonException, match=error.get(case, "ValueError")):
            tile_assign(df, tile_px=2, res=15).collect()


class TestSkew:
    def test_salted_agg_equals_plain(self, spark, images):
        plain = {
            r["cell"]: r["n"]
            for r in images.groupBy("cell").agg(F.count("*").alias("n")).collect()
        }
        salted = {
            r["cell"]: r["n_rows"]
            for r in skew.salted_aggregate(
                images, "cell", [("n_rows", "count")], salt_buckets=8
            ).collect()
        }
        assert plain == salted

    def test_hot_keys_finds_metros(self, spark, images):
        hot = skew.hot_keys(images, "bc0", threshold=N_IMAGES / 10, fraction=0.5)
        assert len(hot) >= 1  # SF base cell is ~30% of data


class TestChildrenBatch:
    def test_matches_scalar(self):
        from h3_rs_spark.h3core import indexing as ix

        cells = [0x87283472BFFFFFF, 0x821C07FFFFFFFFF, 0x85283473FFFFFFF]
        o, got = ix.to_children_batch(np.array(cells), 9)
        for i, c in enumerate(cells):
            assert sorted(got[o == i].tolist()) == sorted(
                ix.to_children(c, 9).tolist()
            )


class TestPipBuildStrategy:
    def test_compacted_path_equals_expanded(self, spark, images, monkeypatch):
        """The cost-based build strategy must not change RESULTS: force
        the compacted multi-key probe (scale path for continental
        polygons) and compare with the default expanded single-key
        probe row-for-row. The plans prove both paths really ran: only
        the compacted build explodes one parent key per build res (a
        Generate node)."""
        from h3_rs_spark.operators import pip_join as pj

        polys = {
            k: v for k, v in datagen.POLYGONS.items() if v[2] == 9
        }

        def run():
            df = pip_join(spark, images, polys)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows = set(
                (r["polygon_id"], r["image_id"])
                for r in df.select("polygon_id", "image_id").collect()
            )
            return rows, plan

        expanded, plan_expanded = run()
        monkeypatch.setattr(pj, "_EXPAND_BUILD_MAX", 0)
        compacted, plan_compacted = run()
        assert "Generate" not in plan_expanded, plan_expanded
        assert "Generate" in plan_compacted, plan_compacted
        assert compacted == expanded and len(expanded) > 0


def test_wrap_sql_matches_numpy(spark):
    """The refine's longitude wrap equals numpy's `(d + 180) % 360 - 180`
    bit for bit, also where Spark's pmod would not: a remainder just
    below 0 gives 360 in numpy (so +180) and 0 in pmod (so -180), which
    flips the direction of a polar edge spanning 180 degrees."""
    from h3_rs_spark.functions.native import wrap_lng_sql as _wrap_sql
    from h3_rs_spark.operators.pip_join import _wrap

    below = np.nextafter(-180.0, -np.inf)
    d = np.array([below, -180.0, 180.0, 0.0, -0.0, 540.0, -540.0,
                  np.nextafter(180.0, np.inf), 1e-300, -1e-300])
    d = np.concatenate([d, np.random.default_rng(3).uniform(-720, 720, 200)])
    df = spark.createDataFrame(pd.DataFrame({"i": range(len(d)), "d": d}))
    got = [
        r["w"] for r in
        df.selectExpr("i", f"{_wrap_sql('d')} AS w").orderBy("i").collect()
    ]
    assert got == _wrap(d).tolist()
    assert _wrap(np.array([below]))[0] == 180.0


def test_pip_count_over_parquet_plans_no_python(spark, tmp_path, monkeypatch):
    """Over a table read from parquet, pip_count plans no python node
    for the expanded build nor for the compacted multi-key build (whose
    Generate node proves it ran): the boundary refine is a JVM
    expression, so a pip request starts no python worker."""
    from h3_rs_spark.operators import pip_join as pj

    path = str(tmp_path / "images")
    io.write_images(datagen.generate_images(spark, 2000, w=8, h=8), path)
    images = io.read_images(spark, path)
    polys = {k: v for k, v in datagen.POLYGONS.items() if v[2] == 9}
    counts = []
    for build_max, generate in ((pj._EXPAND_BUILD_MAX, False), (0, True)):
        monkeypatch.setattr(pj, "_EXPAND_BUILD_MAX", build_max)
        df = pj.pip_count(spark, images, polys)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert node not in plan, plan
        assert ("Generate" in plan) == generate, plan
        counts.append(sorted(tuple(r) for r in df.collect()))
    assert counts[0] == counts[1] and counts[0]


def test_images_table_is_flat_and_cell_ordered(spark, tmp_path):
    """write_images leaves flat part files, at most one per shuffle
    partition, holding disjoint `cell` ranges sorted within each file;
    read_images runs no Spark job, returns IMAGES_TABLE_SCHEMA and keeps
    a row without a location."""
    import pyarrow.parquet as pq

    n = 3000
    nowhere = spark.createDataFrame(
        [("nowhere", b"", 8, 8, "rgb24", "a photo", 0)], datagen.IMAGES_SCHEMA
    )
    path = tmp_path / "images"
    io.write_images(
        datagen.generate_images(spark, n, w=8, h=8).unionByName(nowhere),
        str(path),
    )

    assert not [p for p in path.iterdir() if p.is_dir()]
    files = sorted(path.glob("*.parquet"))
    assert 0 < len(files) <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranges = []
    for f in files:
        meta = pq.read_metadata(f)
        col = meta.schema.names.index("cell")
        stats = [
            meta.row_group(g).column(col).statistics
            for g in range(meta.num_row_groups)
        ]
        stats = [s for s in stats if s.has_min_max]
        if stats:
            ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
        cells = pq.read_table(f, columns=["cell"])["cell"].to_pylist()
        valid = [c for c in cells if c is not None]
        assert cells == [None] * (len(cells) - len(valid)) + sorted(valid)
    ranges.sort()
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])), ranges

    sc = spark.sparkContext
    sc.setJobGroup("read_images", "read_images")
    try:
        images = io.read_images(spark, str(path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup("read_images")
    assert images.schema == io.IMAGES_TABLE_SCHEMA
    assert images.count() == n + 1
    assert [
        r["image_id"] for r in images.where(F.col("cell").isNull()).collect()
    ] == ["nowhere"]


class TestKnnSeedFold:
    # (res_eff, ring) -> folded (res_eff, ring), captured from the
    # round loop's former Spark-side escalation: seeds at res_eff = res
    # for res 0..15 over RINGS, and widened starts below a res-15 base
    # over WIDE. Row i of each table is res_eff i.
    RINGS = [1, 2, 16, 17, 112, 10**4, 16 * 7**7]
    SEEDS = [
        [(0, 1), (0, 2), (0, 16), (0, 17),
         (0, 112), (0, 10000), (0, 13176688)],
        [(1, 1), (1, 2), (1, 16), (0, 4), (0, 16), (0, 16), (0, 16)],
        [(2, 1), (2, 2), (2, 16), (0, 4), (0, 16), (0, 16), (0, 16)],
        [(3, 1), (3, 2), (3, 16), (1, 4), (1, 16), (0, 16), (0, 16)],
        [(4, 1), (4, 2), (4, 16), (2, 4), (2, 16), (0, 16), (0, 16)],
        [(5, 1), (5, 2), (5, 16), (3, 4), (3, 16), (0, 16), (0, 16)],
        [(6, 1), (6, 2), (6, 16), (4, 4), (4, 16), (0, 16), (0, 16)],
        [(7, 1), (7, 2), (7, 16), (5, 4), (5, 16), (0, 6), (0, 16)],
        [(8, 1), (8, 2), (8, 16), (6, 4), (6, 16), (0, 6), (0, 16)],
        [(9, 1), (9, 2), (9, 16), (7, 4), (7, 16), (1, 6), (0, 16)],
        [(10, 1), (10, 2), (10, 16), (8, 4), (8, 16), (2, 6), (0, 16)],
        [(11, 1), (11, 2), (11, 16), (9, 4), (9, 16), (3, 6), (0, 16)],
        [(12, 1), (12, 2), (12, 16), (10, 4), (10, 16), (4, 6), (0, 16)],
        [(13, 1), (13, 2), (13, 16), (11, 4), (11, 16), (5, 6), (0, 16)],
        [(14, 1), (14, 2), (14, 16), (12, 4), (12, 16), (6, 6), (0, 16)],
        [(15, 1), (15, 2), (15, 16), (13, 4), (13, 16), (7, 6), (1, 16)],
    ]
    WIDE = [4, 8, 20, 64]
    WIDENED = [
        [(0, 4), (0, 8), (0, 20), (0, 64)],
        [(1, 4), (1, 8), (0, 4), (0, 11)],
        [(2, 4), (2, 8), (0, 4), (0, 11)],
        [(3, 4), (3, 8), (1, 4), (1, 11)],
        [(4, 4), (4, 8), (2, 4), (2, 11)],
        [(5, 4), (5, 8), (3, 4), (3, 11)],
        [(6, 4), (6, 8), (4, 4), (4, 11)],
        [(7, 4), (7, 8), (5, 4), (5, 11)],
        [(8, 4), (8, 8), (6, 4), (6, 11)],
        [(9, 4), (9, 8), (7, 4), (7, 11)],
        [(10, 4), (10, 8), (8, 4), (8, 11)],
        [(11, 4), (11, 8), (9, 4), (9, 11)],
        [(12, 4), (12, 8), (10, 4), (10, 11)],
        [(13, 4), (13, 8), (11, 4), (11, 11)],
        [(14, 4), (14, 8), (12, 4), (12, 11)],
    ]

    def test_fold_matches_parent_table(self):
        """The one vectorized fold reproduces the former Spark fold on
        every seed and widened start, in one call per table."""
        from h3_rs_spark.operators.knn import _fold

        for rings, table in ((self.RINGS, self.SEEDS),
                             (self.WIDE, self.WIDENED)):
            res_eff = np.repeat(np.arange(len(table)), len(rings))
            got = _fold(res_eff, np.tile(rings, len(table)))
            assert list(zip(*(a.tolist() for a in got))) == [
                pair for row in table for pair in row
            ]

    # _seed_plans' starting (res_eff, ring) for the 24 default queries
    # (k=5) over the images fixture, captured from the two-column
    # (stage, key) seeding join that the one-key join replaced
    SEED_RES_EFF = [1, 7, 7, 3, 7, 3, 9, 1, 7, 7, 9, 9,
                    7, 7, 7, 7, 3, 9, 9, 9, 1, 1, 3, 3]
    SEED_RING = [4, 4, 4, 16, 6, 16, 12, 4, 6, 4, 13, 12,
                 4, 6, 4, 4, 16, 12, 12, 12, 4, 4, 14, 16]

    def test_seed_plans_match_pinned_arrays(self, spark, images):
        from h3_rs_spark.operators.knn import _seed_plans

        q_pdf = (
            datagen.generate_knn_queries(spark, n=24, k=5)
            .select("query_id", "lat", "lng")
            .toPandas()
        )
        res_eff, ring = _seed_plans(spark, images, q_pdf, 5, 9)
        assert res_eff.tolist() == self.SEED_RES_EFF
        assert ring.tolist() == self.SEED_RING


class TestKnnEdgeCases:
    def test_empty_queries(self, spark, images):
        """Zero queries must return an empty typed result, not crash
        (exercises the unseeded entry + empty-levels break)."""
        from h3_rs_spark.operators.knn import knn_join

        empty_q = spark.createDataFrame(
            [], "query_id string, lat double, lng double"
        )
        out = knn_join(spark, images, empty_q, k=3, res=9)
        rdd = out._jdf.queryExecution().toRdd().toDebugString()
        assert "Python" not in rdd, rdd
        assert out.count() == 0
        assert set(out.columns) >= {"query_id", "image_id", "dist_m", "rank"}

    @pytest.mark.parametrize(
        "rows,message",
        [
            (
                [("a", 37.77, -122.42), ("a", -33.87, 151.21)],
                r"duplicate query_id, first: \['a'\]",
            ),
            (
                [("ok", 37.77, -122.42), ("no_lat", None, -122.4)],
                r"null or NaN lat/lng for query_id, first: \['no_lat'\]",
            ),
        ],
        ids=["duplicate_id", "null_lat"],
    )
    def test_bad_query_rows_raise(self, spark, images, rows, message):
        """A duplicate query_id (its answers would share one window
        partition, silently dropping one) or a null lat (NaN distances,
        arbitrary images) raises and names the offending id."""
        queries = spark.createDataFrame(
            rows, "query_id string, lat double, lng double"
        )
        with pytest.raises(ValueError, match=message):
            knn_join(spark, images, queries, k=3, res=9)

    def test_empty_images_terminates(self, spark):
        """An empty fact relation must terminate via the exhaustion
        filter (queries never get topk rows to carry the done flag)
        and return zero rows — guards the r4 round restructure against
        an infinite expand loop."""
        import pandas as pd

        from h3_rs_spark.operators.knn import knn_join

        empty_imgs = spark.createDataFrame(
            [], "image_id long, lat double, lng double, cell long"
        )
        queries = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": ["q0"], "lat": [37.7], "lng": [-122.4]}
            )
        )
        out = knn_join(
            spark, images=empty_imgs, queries=queries, k=3, res=9
        )
        assert out.count() == 0


class TestGeoDiskDynUdf:
    def test_matches_encode_plus_kring(self, spark):
        """The fused dynamic-res disk UDF must equal geo_to_h3 composed
        with k_ring for every (res, ring) group in the batch."""
        import numpy as np
        import pandas as pd

        from h3_rs_spark.functions.udfs import geo_disk_dyn_udf
        from h3_rs_spark.h3core import faceijk as fk
        from h3_rs_spark.h3core import traversal

        rows = [
            (0, 37.77, -122.42, 9, 2),
            (1, -33.87, 151.21, 7, 1),
            (2, 0.0, 0.0, 5, 3),
            (3, 37.78, -122.41, 9, 2),  # same (res, ring) group as row 0
            (4, 80.0, 10.0, 3, 1),
        ]
        df = spark.createDataFrame(
            pd.DataFrame(
                rows, columns=["i", "lat", "lng", "res_eff", "ring"]
            )
        )
        got = {
            r["i"]: sorted(r["disk"])
            for r in df.select(
                "i",
                geo_disk_dyn_udf()("lat", "lng", "res_eff", "ring").alias(
                    "disk"
                ),
            ).collect()
        }
        for i, lat, lng, res, ring in rows:
            cell = fk.geo_to_h3(np.array([lat]), np.array([lng]), res)
            _, disk = traversal.k_ring(cell, ring)
            assert got[i] == sorted(disk.tolist()), i


def test_cell_udfs_return_null_for_null_cell(spark):
    """A NULL cell gives a NULL centre, boundary and ring; the valid row
    in the same batch is what the kernel gives for it alone."""
    from h3_rs_spark.functions.udfs import h3_boundary_udf, h3_to_geo_udf, k_ring_udf
    from h3_rs_spark.h3core import traversal
    from h3_rs_spark.session import local_frame

    cell = 0x8928308280FFFFF
    df = local_frame(spark, [(0, cell), (1, None)], "i int, cell bigint")
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            h3_to_geo_udf("cell").alias("geo"),
            h3_boundary_udf("cell").alias("boundary"),
            k_ring_udf(1)("cell").alias("ring"),
        ).collect()
    }
    assert got[1]["geo"] is None
    assert got[1]["boundary"] is None and got[1]["ring"] is None
    lat, lng = faceijk.h3_to_geo(np.array([cell]))
    assert (got[0]["geo"]["lat"], got[0]["geo"]["lng"]) == (lat[0], lng[0])
    blat, blng = faceijk.h3_to_geo_boundary(np.array([cell]))
    keep = ~np.isnan(blat[0])
    assert [(v["lng"], v["lat"]) for v in got[0]["boundary"]] == list(
        zip(blng[0][keep], blat[0][keep])
    )
    assert got[0]["ring"] == traversal.k_ring(np.array([cell]), 1)[1].tolist()


def test_lists_by_owner_matches_append_loop():
    """The list-valued UDFs' vectorized split equals the per-cell append
    loop it replaced: each row's cells in output order, an empty list
    for a row without cells, on unsorted owners and on no rows."""
    from h3_rs_spark.functions.udfs import _lists_by_owner

    rng = np.random.default_rng(3)
    for n in (0, 1, 9):
        owner = rng.integers(0, max(n - 1, 1), 40 if n else 0)
        cells = rng.integers(0, 1 << 60, owner.size)
        want = [[] for _ in range(n)]
        for o, c in zip(owner.tolist(), cells.tolist()):
            want[o].append(c)
        got = _lists_by_owner(owner, cells, n)
        assert got.to_pylist() == want
