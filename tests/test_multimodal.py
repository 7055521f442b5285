"""Image operator tests (real rgb24 path) and the h3util CLI."""

import numpy as np

from h3_rs_spark.operators import multimodal as mm


def _img(rng, w=16, h=16):
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


class TestKernels:
    def test_resize_nn_identity(self):
        rng = np.random.default_rng(0)
        px = _img(rng)
        assert (mm.resize_nn(px, 16, 16) == px).all()
        small = mm.resize_nn(px, 8, 8)
        assert small.shape == (8, 8, 3)
        assert (small == px[::2, ::2, :]).all()

    def test_resize_box_mean(self):
        px = np.full((4, 4, 3), 10, dtype=np.uint8)
        px[:2, :2, :] = 30
        out = mm.resize_box(px, 2)
        assert out.shape == (2, 2, 3)
        assert out[0, 0, 0] == 30 and out[1, 1, 0] == 10

    def test_histogram_normalized(self):
        rng = np.random.default_rng(1)
        f = mm.channel_histogram(_img(rng), bins=8)
        assert f.shape == (24,)
        assert abs(f[:8].sum() - 1.0) < 1e-9


class TestSparkOps:
    def test_resize_and_features(self, spark):
        from h3_rs_spark.sources import datagen

        imgs = datagen.generate_images(spark, 50, w=16, h=16)
        resized = mm.resize_images(imgs, 8, 8).toPandas()
        assert len(resized) == 50
        assert (resized["w"] == 8).all()
        assert all(len(b) == 8 * 8 * 3 for b in resized["bytes"])

        feats = mm.image_features(imgs, bins=8).toPandas()
        assert len(feats) == 50 and len(feats["features"][0]) == 24
        # oracle: first image's features recomputed in-process
        row = imgs.orderBy("image_id").first()
        px = mm.decode_image(bytes(row["bytes"]), 16, 16, "rgb24")
        exp = mm.channel_histogram(px, 8)
        got = feats.sort_values("image_id")["features"].iloc[0]
        assert np.allclose(got, exp)


class TestCli:
    def test_h3util_roundtrip(self):
        import json
        import subprocess
        import sys

        out = subprocess.run(
            [sys.executable, "tools/h3util.py", "point-to-index",
             "--longitude", "-122.0553238", "--latitude", "37.3615593",
             "--resolution", "5"],
            capture_output=True, text=True, check=True, cwd="/root/repo",
        ).stdout.strip()
        assert out == f"H3Index={0x85283473fffffff}"

        gj = subprocess.run(
            [sys.executable, "tools/h3util.py", "index-to-boundary",
             "--indexes", "85283473fffffff"],
            capture_output=True, text=True, check=True, cwd="/root/repo",
        ).stdout
        fc = json.loads(gj)
        ring = fc["features"][0]["geometry"]["coordinates"][0]
        assert len(ring) == 7  # closed hexagon
        assert abs(ring[0][0] - -121.91508032705622) < 1e-9
