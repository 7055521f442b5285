"""The h3util CLI: point-to-index and index-to-boundary output for a
pinned cell, and boundary-to-index of the reference's SF polygon."""

from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


class TestCli:
    def test_h3util_roundtrip(self):
        import json
        import subprocess
        import sys

        out = subprocess.run(
            [sys.executable, "tools/h3util.py", "point-to-index",
             "--longitude", "-122.0553238", "--latitude", "37.3615593",
             "--resolution", "5"],
            capture_output=True, text=True, check=True, cwd=REPO,
        ).stdout.strip()
        assert out == f"H3Index={0x85283473fffffff}"

        gj = subprocess.run(
            [sys.executable, "tools/h3util.py", "index-to-boundary",
             "--indexes", "85283473fffffff"],
            capture_output=True, text=True, check=True, cwd=REPO,
        ).stdout
        fc = json.loads(gj)
        ring = fc["features"][0]["geometry"]["coordinates"][0]
        assert len(ring) == 7  # closed hexagon
        assert abs(ring[0][0] - -121.91508032705622) < 1e-9

    def test_boundary_to_index_sf(self):
        """The one subcommand that runs polyfill: the SF GeoJSON at res 9
        gives the reference's 1253 cells, 209 with --compact."""
        import json
        import subprocess
        import sys

        from h3_rs_spark.sources.datagen import SF_EXTERIOR

        gj = json.dumps({"type": "Polygon", "coordinates": [SF_EXTERIOR]})
        counts = []
        for extra in ([], ["--compact"]):
            out = subprocess.run(
                [sys.executable, "tools/h3util.py", "boundary-to-index",
                 "--geojson", gj, "--resolution", "9", *extra],
                capture_output=True, text=True, check=True, cwd=REPO,
            ).stdout
            counts.append(len(json.loads(out)))
        assert counts == [1253, 209]
