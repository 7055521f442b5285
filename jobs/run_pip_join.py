"""spark-submit entry for the flagship PIP-join pipeline with resumable
stages (north_rule: jobs run via spark-submit --py-files with
per-partition lineage + metrics checkpointed so any stage is resumable).

Usage:
  python tools/make_pyfiles.py   # builds dist/h3_rs_spark.zip
  spark-submit --py-files dist/h3_rs_spark.zip jobs/run_pip_join.py \
      --n-images 200000 --res 9 --warehouse /tmp/h3_wh

Stages (each a resume point keyed by an input fingerprint):
  1. images      — deterministic synthetic fact table with its res-`res`
                   cell, laid out as the images table
                   (sources/io.images_table)
  2. pip_matches — exact PIP join against the reference polygons
  3. cell_counts — per-cell density rollup of the matches
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=200_000)
    ap.add_argument("--res", type=int, default=9)
    ap.add_argument("--warehouse", default="/tmp/h3_rs_spark_job")
    ap.add_argument("--run-id", default="run1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from h3_rs_spark.functions.native import h3_to_parent_col
    from h3_rs_spark.operators.pip_join import pip_join
    from h3_rs_spark.plans.stages import StageRunner
    from h3_rs_spark.session import get_spark
    from h3_rs_spark.sources import datagen, io

    spark = get_spark(app="pip-join-job")
    runner = StageRunner(spark, args.warehouse, run_id=args.run_id)

    images_fp = f"images:n={args.n_images}:res={args.res}:seed={datagen.SEED}"

    def build_images():
        return io.images_table(
            datagen.generate_images(spark, args.n_images, w=16, h=16),
            args.res,
        )

    images = runner.stage("images", images_fp, build_images)

    polys = {k: v for k, v in datagen.POLYGONS.items() if v[2] == args.res}
    pip_fp = f"{images_fp}|polys={sorted(polys)}"

    def build_matches():
        return pip_join(spark, images, polys).select(
            "polygon_id", "image_id", "cell", "lat", "lng"
        )

    # inputs= chains PHYSICAL staleness: if the images materialization
    # is ever rewritten in place (manual backfill, partial restore),
    # pip_matches re-runs from the file metadata digest even though the
    # logical fingerprint string is unchanged (stages.py stale-input
    # protection); the record lists it as the stage's lineage
    matches = runner.stage(
        "pip_matches",
        pip_fp,
        build_matches,
        inputs=[os.path.join(args.warehouse, "images")],
    )

    def build_counts():
        return (
            matches.withColumn("cell_r5", h3_to_parent_col("cell", 5))
            .groupBy("polygon_id", "cell_r5")
            .agg(F.count("*").alias("n_images"))
        )

    runner.stage(
        "cell_counts",
        pip_fp + "|rollup=r5",
        build_counts,
        inputs=[os.path.join(args.warehouse, "pip_matches")],
    )

    print("stage history:", runner.history())
    lineage = runner.lineage().toPandas()
    print("rows:", dict(zip(lineage["stage"], lineage["rows_total"].tolist())))
    spark.stop()


if __name__ == "__main__":
    main()
