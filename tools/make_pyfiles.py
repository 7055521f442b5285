"""Build dist/h3_rs_spark.zip for spark-submit --py-files.

Writes the same zip, content-hash comment included, that
session.get_spark writes for the workers' PYTHONPATH, so the next
session start finds it current.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from h3_rs_spark.session import PACKAGE_ZIP, write_package_zip  # noqa: E402


def main():
    state = "wrote" if write_package_zip(PACKAGE_ZIP) else "up to date:"
    print(f"{state} {PACKAGE_ZIP}")


if __name__ == "__main__":
    main()
