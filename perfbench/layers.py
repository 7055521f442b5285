"""Per-layer metrics of a traced run.

Inputs are the spans the benchmark recorded around public engine calls,
the jobs and tasks Spark wrote to its event log, and a few probes the
traced run makes itself (h3core driver calls, the encode job alone, the
hot-key count). Layer names follow the engine's modules.
"""

from __future__ import annotations

import time

import numpy as np

import inputs
from spans import Tracer, descendant_jobs, driver_gap, median, self_times, union_length

LAYERS = ("session", "io", "udfs", "h3core", "pip", "knn", "tiling", "skew", "stages", "spark")

# every per-layer metric a traced run reports, with its unit
UNITS = {
    "session.start_s": "s",
    "io.write_images_s": "s",
    "io.bytes_written_per_row": "B/row",
    "io.files_written": "count",
    "udfs.encode_rows_per_s": "1/s",
    "udfs.python_bytes_per_row": "B/row",
    "h3core.geo_to_h3_res9_pts_per_s": "1/s",
    "h3core.geo_to_h3_res15_pts_per_s": "1/s",
    "h3core.k_ring_cells_per_s": "1/s",
    "h3core.polygon_cover_s": "s",
    "h3core.points_in_polygon_pts_per_s": "1/s",
    "pip.plan_s": "s",
    "pip.exec_s": "s",
    "pip.spark_jobs_per_call": "count",
    "pip.driver_gap_s": "s",
    "pip.build_cells": "count",
    "pip.refine_ratio": "ratio",
    "pip.refine_yield": "ratio",
    "knn.spark_jobs_per_call": "count",
    "knn.driver_gap_s": "s",
    "knn.scans_per_call": "ratio",
    "tiling.stage_job_s": "s",
    "tiling.tiles_per_s": "1/s",
    "skew.max_over_median_task_s": "ratio",
    "skew.hot_keys": "count",
    "stages.overhead_s": "s",
    "stages.spark_jobs_per_stage": "count",
    "stages.resume_s": "s",
    "spark.task_cpu_share": "ratio",
    "spark.gc_share": "ratio",
    "spark.shuffle_bytes_per_row": "B/row",
    "spark.tasks": "count",
    "spark.jvm_pss_mb": "MB",
    "trace.overhead_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}


# --- probes made by the traced run -----------------------------------------


def _rate(tracer: Tracer, name: str, fn, units: int, reps: int = 5) -> float:
    walls = []
    for _ in range(reps):
        with tracer.span(name, "h3core"):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
    return units / median(walls)


def h3core_probes(tracer: Tracer, seed: int, pool: list) -> dict:
    """Single-core driver calls on seeded inputs."""
    from h3_rs_spark.h3core import faceijk, regions, traversal

    lat, lng = inputs.geography(seed, 200_000)
    cells = faceijk.geo_to_h3(lat[:2000], lng[:2000], 9)
    sf = pool[1]["sf"]
    out = {
        "h3core.geo_to_h3_res9_pts_per_s": _rate(
            tracer, "faceijk.geo_to_h3", lambda: faceijk.geo_to_h3(lat, lng, 9), len(lat)
        ),
        "h3core.geo_to_h3_res15_pts_per_s": _rate(
            tracer, "faceijk.geo_to_h3", lambda: faceijk.geo_to_h3(lat, lng, 15), len(lat)
        ),
        "h3core.k_ring_cells_per_s": _rate(
            tracer, "traversal.k_ring_distances",
            lambda: traversal.k_ring_distances(cells, 2), len(cells), reps=3,
        ),
        "h3core.points_in_polygon_pts_per_s": _rate(
            tracer, "regions.points_in_polygon",
            lambda: regions.points_in_polygon(lng, lat, sf[0], sf[1]), len(lat),
        ),
    }
    walls = []
    for polys in pool[1:4]:  # plain sets: no regional polygon
        t0 = time.perf_counter()
        for ext, holes, res in polys.values():
            with tracer.span("regions.polygon_cover", "h3core"):
                regions.polygon_cover(ext, holes, res)
        walls.append(time.perf_counter() - t0)
    out["h3core.polygon_cover_s"] = median(walls)
    return out


def refine_stats(cells9: np.ndarray, lat, lng, pool: list) -> dict:
    """Build-table size and refine ratios of pip requests, counted from
    the inputs and the public (compacted) build table."""
    from h3_rs_spark.h3core import indexing
    from h3_rs_spark.operators.pip_join import build_polygon_cells

    import oracles

    cells, matched, boundary, kept_boundary = [], 0, 0, 0
    for polys in pool:
        build = build_polygon_cells(polys)
        cells.append(len(build))
        for pid, (ext, holes, _res) in polys.items():
            b = build[build["polygon_id"] == pid]
            hit_int = np.zeros(len(cells9), dtype=bool)
            hit_bnd = np.zeros(len(cells9), dtype=bool)
            keys = b["cell"].to_numpy(dtype=np.int64)
            for r in np.unique(indexing.get_resolution(keys)):
                parents = indexing.to_parent(cells9, int(r))
                at_r = indexing.get_resolution(keys) == r
                hit_int |= np.isin(parents, keys[at_r & ~b["is_boundary"].to_numpy()])
                hit_bnd |= np.isin(parents, keys[at_r & b["is_boundary"].to_numpy()])
            inside = oracles.polygon_count(lat, lng, ext, holes)
            matched += int((hit_int | hit_bnd).sum())
            boundary += int(hit_bnd.sum())
            kept_boundary += inside - int(hit_int.sum())
    return {
        "pip.build_cells": float(np.median(cells)),
        "pip.refine_ratio": boundary / max(matched, 1),
        "pip.refine_yield": kept_boundary / max(boundary, 1),
    }


# --- metrics from spans and the event log ----------------------------------


def _roots(tracer: Tracer, kind: str) -> list:
    return [s for s in tracer.spans if s.layer == "bench" and s.name.startswith(kind + "-")]


def _named(tracer: Tracer, roots, name: str) -> list:
    ids = {r.request for r in roots}
    return [s for s in tracer.spans if s.request in ids and s.name == name]


def _request_tasks(roots, tracer, jobs, tasks) -> list:
    """Tasks of every job run under the given request roots."""
    job_ids = set()
    for r in roots:
        job_ids.update(descendant_jobs(r, tracer.spans))
    stages = {st for j in job_ids for st in jobs[j].stages}
    return [t for t in tasks if t.stage in stages]


def _write_jobs(span, tracer, jobs) -> list[str]:
    """Jobs of the first SQL execution under a stage call: the output
    write (later executions are the runner's own metrics bookkeeping)."""
    js = sorted(descendant_jobs(span, tracer.spans), key=lambda j: jobs[j].start)
    sqls = [jobs[j].sql for j in js if jobs[j].sql is not None]
    return [j for j in js if sqls and jobs[j].sql == sqls[0]]


def _task_skew(job_ids, jobs, tasks) -> float:
    """Max over post-shuffle stages of (slowest task / median task)."""
    stages = {st for j in job_ids for st in jobs[j].stages}
    by_stage: dict = {}
    for t in tasks:
        if t.stage in stages:
            by_stage.setdefault(t.stage, []).append(t)
    ratios = []
    for ts in by_stage.values():
        if len(ts) >= 2 and any(t.shuffle_read_records for t in ts):
            d = [t.finish - t.launch for t in ts]
            ratios.append(max(d) / max(median(d), 1e-3))
    return max(ratios) if ratios else 1.0


def operator_metrics(tracer: Tracer, jobs: dict, tasks: list, rows: dict) -> dict:
    """pip.*, knn.*, io/tiling/skew/stages.* from whichever requests of
    each kind the run made (its own workload's, or the sweep's)."""
    out = {}
    pip = _roots(tracer, "pip")
    out["pip.plan_s"] = median(s.wall for s in _named(tracer, pip, "pip_join.pip_count"))
    out["pip.exec_s"] = median(s.wall for s in _named(tracer, pip, "pip_join.exec"))
    out["pip.spark_jobs_per_call"] = np.mean(
        [len(descendant_jobs(r, tracer.spans)) for r in pip]
    )
    out["pip.driver_gap_s"] = median(driver_gap(r, tracer.spans, jobs) for r in pip)

    knn = _roots(tracer, "knn")
    out["knn.spark_jobs_per_call"] = np.mean(
        [len(descendant_jobs(r, tracer.spans)) for r in knn]
    )
    out["knn.driver_gap_s"] = median(driver_gap(r, tracer.spans, jobs) for r in knn)
    scans = []
    for r in knn:
        ts = _request_tasks([r], tracer, jobs, tasks)
        scans.append(sum(t.input_records for t in ts) / rows["knn_table"])
    out["knn.scans_per_call"] = float(np.mean(scans))

    ing = _roots(tracer, "ingest")
    out["io.write_images_s"] = median(s.wall for s in _named(tracer, ing, "io.write_images"))
    stage_calls = _named(tracer, ing, "stages.stage")
    job_s, overhead, per_stage, skew, tps = [], [], [], [], []
    for sp in stage_calls:
        wj = _write_jobs(sp, tracer, jobs)
        busy = union_length([(jobs[j].start, jobs[j].end) for j in wj], sp.start, sp.end)
        job_s.append(busy)
        overhead.append(sp.wall - busy)
        per_stage.append(len(descendant_jobs(sp, tracer.spans)))
        skew.append(_task_skew(wj, jobs, tasks))
        tps.append(rows["tiles"] / sp.wall)
    out["tiling.stage_job_s"] = median(job_s)
    out["tiling.tiles_per_s"] = median(tps)
    out["skew.max_over_median_task_s"] = median(skew)
    out["stages.overhead_s"] = median(overhead)
    out["stages.spark_jobs_per_stage"] = median(per_stage)
    out["stages.resume_s"] = median(
        s.wall for s in _named(tracer, ing, "stages.stage.resume")
    )
    return out


def spark_metrics(tracer, jobs, tasks, kind: str, rows_per_request: int, cores: int) -> dict:
    """Engine-wide figures over the workload's own traced requests."""
    roots = _roots(tracer, kind)
    ts = _request_tasks(roots, tracer, jobs, tasks)
    wall = sum(r.wall for r in roots)
    run_ms = sum(t.run_ms for t in ts)
    total_rows = rows_per_request * len(roots)
    return {
        "spark.task_cpu_share": sum(t.cpu_ns for t in ts) / 1e9 / (wall * cores),
        "spark.gc_share": sum(t.gc_ms for t in ts) / max(run_ms, 1),
        "spark.shuffle_bytes_per_row": sum(t.shuffle_write_bytes for t in ts) / total_rows,
        "spark.tasks": len(ts) / len(roots),
        "udfs.python_bytes_per_row": sum(t.python_bytes for t in ts) / total_rows,
    }


def self_time_metrics(tracer: Tracer, jobs: dict) -> dict:
    st = self_times([s for s in tracer.spans if s.layer != "bench"], jobs)
    # root spans are the benchmark's own; their jobs count for `spark`
    for r in (s for s in tracer.spans if s.layer == "bench"):
        st["spark"] = st.get("spark", 0.0) + union_length(
            [(jobs[j].start, jobs[j].end) for j in r.jobs], r.start, r.end
        )
    return {f"self.{layer}_s": st.get(layer, 0.0) for layer in LAYERS}
