"""The h3util CLI: point-to-index and index-to-boundary output for a
pinned cell."""


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
