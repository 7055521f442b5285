"""Benchmark entry point.

    python3 perfbench/run.py --workload pip-join --seed 1 --seconds 12 --trace 0

Runs one workload closed-loop (one client thread) against the engine's
public functions on local[<cores>], checks every request against an
oracle and prints, as its last stdout line, one JSON object with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Lines before it describe the host, the inputs and the figures that are
printed but not compared. Spark logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "job_p50_s": "s",
    "python_pss_mb": "MB",
}


def log(line: str) -> None:
    print(line, flush=True)


def _loop(wl, mem, seconds: float) -> list:
    """Closed loop: the next request goes out when the previous returns.
    Stops once `seconds` of request wall have accumulated, on a whole
    cycle of the workload's request pool."""
    from workloads import Outcome

    env, outcomes, busy = wl.env, [], 0.0
    while True:
        rid = f"{wl.kind}-{wl.issued}"
        t0 = time.perf_counter()
        try:
            mem.take()
            with env.tracer.request(env.spark, rid):
                o = wl.next_request()
            o.detail["peak_mb"] = mem.take()
            o.errors = o.check()
        except Exception:  # a failed request counts, the run goes on
            traceback.print_exc()
            wall = time.perf_counter() - t0
            o = Outcome(wl.kind, wall, 0, 0.0, list, errors=[f"{rid} raised"], raised=True)
        for e in o.errors:
            print(f"MISMATCH {rid}: {e}", file=sys.stderr)
        outcomes.append(o)
        busy += o.wall
        if busy >= seconds and len(outcomes) % wl.cycle == 0:
            return outcomes


def _setup(wl, trace: bool) -> float:
    """The cold set-up: session start with package shipping, input load
    and one warm-up request, minus one-off cache builds (printed apart).
    A traced run starts the session with the event log on and records
    the session start and the input load."""
    built0 = wl.built_s
    t0 = time.perf_counter()
    wl.env.tracer.enabled = trace
    wl.session_start_s = wl.env.start(event_log=trace)
    t1 = time.perf_counter()
    wl.load()
    wl.env.tracer.enabled = False
    t2 = time.perf_counter()
    wl.next_request()
    t3 = time.perf_counter()
    built = wl.built_s - built0
    log(json.dumps({"setup": {"session_s": wl.session_start_s, "load_s": t2 - t1 - built,
                              "warm_s": t3 - t2, "one_off_build_s": built}}))
    return t3 - t0 - built


def _warm(wl, n: int) -> None:
    """Untimed requests until the loop's requests run warm."""
    for _ in range(n):
        wl.next_request()


def phases(wl, mem, seconds: float, trace: bool) -> tuple[float, list, list]:
    """Set-up, warm-up and the measured loop: (setup_s, untraced, traced
    outcomes). A traced run spends half of `seconds` untraced and the
    other half traced, in the same warm session; the difference is the
    tracing overhead. Every request takes the workload's next input, so
    no measured request reuses an input the engine's memos still hold."""
    setup_s = _setup(wl, trace)
    _warm(wl, wl.warm_requests)
    if not trace:
        return setup_s, _loop(wl, mem, seconds), []
    plain = _loop(wl, mem, seconds / 2)
    wl.env.tracer.enabled = True
    return setup_s, plain, _loop(wl, mem, seconds / 2)


def tally(outcomes) -> dict:
    failed = sum(1 for o in outcomes if o.errors)
    return {"attempted": len(outcomes), "failed": failed, "failed_share": failed / len(outcomes)}


def _shutdown_jvm() -> None:
    """Close the py4j gateway; its JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def completed(outcomes) -> list:
    """The requests that returned (oracle mismatches included): only they
    have figures. A run in which none returned has no metrics."""
    done = [o for o in outcomes if not o.raised]
    if not done:
        raise RuntimeError(f"all {len(outcomes)} requests raised")
    return done


def cycle_peak(done, cycle: int, side: str) -> float:
    """Peak PSS of one side (python or jvm) in each whole cycle of the
    request mix, median over cycles. A pip-join cycle holds one regional
    set, whose build is the memory spike."""
    from spans import median

    cycles = [done[i:i + cycle] for i in range(0, len(done), cycle)]
    return median(max(o.detail["peak_mb"][side] for o in c) for c in cycles)


def end_to_end(wl, outcomes, setup_s) -> dict:
    from spans import median, tail

    done = completed(outcomes)
    walls = [o.wall for o in done]
    rows_per_s = sum(o.rows for o in done) / sum(o.rows_wall for o in done)
    peak = {side: cycle_peak(done, wl.cycle, side) for side in ("python", "jvm")}
    t = tail(walls)
    log(
        json.dumps(
            {
                "workload": wl.name,
                "requests": len(outcomes),
                "peak_pss_mb": {**peak, "unit": "MB"},
                "peak_pss_mb_per_request": [o.detail["peak_mb"] for o in done],
                # no percentile has ten samples beyond it in 10 or fewer
                "job_tail_s": {"value": None, "unit": "s", "samples": len(walls)} if t is None
                else {"value": t[0], "unit": "s", "percentile": t[1], "samples": t[2]},
                "job_walls_s": walls,
                **(
                    {
                        "tiles_per_s": {"value": sum(o.detail["tiles"] for o in done)
                                        / sum(o.detail["stage_s"] for o in done), "unit": "1/s"},
                        **{k: [o.detail[k] for o in done]
                           for k in ("write_s", "stage_s", "resume_s")},
                    }
                    if wl.kind == "ingest" else {}
                ),
            }
        )
    )
    return {
        "setup_s": setup_s,
        "rows_per_s": rows_per_s,
        "job_p50_s": median(walls),
        "python_pss_mb": peak["python"],
    }


def run(args, work: Path) -> dict:
    import layers
    import procs
    import workloads
    from spans import Tracer, median, read_event_logs

    cores = procs.cores()
    tracer = Tracer(False)
    env = workloads.Env(work, cores, tracer)
    wl = workloads.WORKLOADS[args.workload](env, args.seed, log)
    t0 = time.perf_counter()
    wl.prepare()
    log(json.dumps({"prepare_s": time.perf_counter() - t0}))
    stray = procs.wait_no_stray_jvm()
    if stray:
        raise RuntimeError(f"refusing to time: stray Spark JVM(s) alive: {stray}")
    log(
        json.dumps(
            {
                "host": {
                    "cores": cores,
                    "master": f"local[{cores}]",
                    "shuffle_partitions": 2 * cores,
                    "cpu_probe_s": procs.cpu_probe_s(),
                    "client_threads": 1,
                }
            }
        )
    )

    try:
        with procs.MemSampler() as mem:
            setup_s, plain, traced = phases(wl, mem, args.seconds, bool(args.trace))
            log(json.dumps({"one_off_build_s": wl.built_s}))
            outcomes = plain + traced
            if args.trace:
                traced_done = completed(traced)
                extra = _traced_extras(wl, traced_done)
                outcomes += extra["sweep"]
    finally:
        t0 = time.perf_counter()
        env.stop()
        t1 = time.perf_counter()
        _shutdown_jvm()
        t2 = time.perf_counter()
    left = procs.reap_descendants()
    log(json.dumps({"teardown_s": {"stop": t1 - t0, "jvm": t2 - t1, "reap": time.perf_counter() - t2}}))
    if left:
        raise RuntimeError(f"processes still alive after teardown: {left}")

    counts = tally(outcomes)
    log(json.dumps({**counts, "failed_share": {"value": counts["failed_share"], "unit": "ratio"}}))
    failed = counts["failed"]
    if not args.trace:
        metrics = end_to_end(wl, outcomes, setup_s)
        units = END_TO_END
    else:
        jobs, tasks = read_event_logs(env.event_log)
        tracer.attach(jobs)
        traces = HERE / "_traces"
        traces.mkdir(exist_ok=True)
        path = traces / f"{wl.name}-seed{args.seed}.jsonl"
        tracer.write(path, jobs)
        log(json.dumps({"trace_file": str(path.relative_to(ROOT)), "spans": len(tracer.spans),
                        "jobs": len(jobs), "tasks": len(tasks)}))
        metrics = {
            "session.start_s": wl.session_start_s,
            **extra["probes"],
            **layers.operator_metrics(tracer, jobs, tasks, extra["rows"]),
            **layers.spark_metrics(tracer, jobs, tasks, wl.kind, traced_done[0].rows, cores),
            **layers.self_time_metrics(tracer, jobs),
            "spark.jvm_pss_mb": cycle_peak(traced_done, wl.cycle, "jvm"),
            "trace.overhead_s": median(o.wall for o in traced_done)
            - median(o.wall for o in completed(plain)),
        }
        units = layers.UNITS
    return {
        "correct": failed == 0,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def _traced_extras(wl, traced_outcomes) -> dict:
    """After the traced loop: one small request of each kind the workload
    does not make, and the layer probes. Takes the traced requests that
    returned; returns the sweep outcomes, the probe metrics and the row
    counts the operator metrics divide by."""
    import inputs
    import layers
    import workloads as W
    from h3_rs_spark.h3core import faceijk
    from h3_rs_spark.operators.skew import hot_keys
    from h3_rs_spark.sources import io

    env, tracer, seed = wl.env, wl.env.tracer, wl.seed
    spark = env.spark
    sweep = []
    pool = inputs.polygon_pool(seed)
    if wl.kind == "ingest":
        images = io.read_images(spark, wl.last["table"])
        points, table_rows, table_dir = wl.oracle.points, W.INGEST_ROWS, Path(wl.last["table"])
    else:
        images, points, table_rows = wl.images, wl.points, W.TABLE_ROWS
        table_dir = wl.table.path / "images"

    def one(kind, call, check, rows):
        with tracer.request(spark, f"{kind}-sweep"):
            t0 = time.perf_counter()
            got = call()
            wall = time.perf_counter() - t0
        o = W.Outcome(kind, wall, rows, wall, lambda: check(got), {"sweep": True})
        o.errors = o.check()
        sweep.append(o)
        return got

    if wl.kind != "pip":
        polys = pool[1]
        one("pip", lambda: W.pip_call(env, images, polys),
            lambda got: points.check_pip(polys, got), table_rows)
    pip_pools = [o.detail["polys"] for o in traced_outcomes if wl.kind == "pip"] or [pool[1]]
    if wl.kind != "knn":
        batch = inputs.knn_batches(seed)[0]
        one("knn", lambda: W.knn_call(env, images, batch),
            lambda got: points.check_knn(batch, got), table_rows)
    if wl.kind != "ingest":
        n = W.SWEEP_INGEST_ROWS
        raw = inputs.raw_images(seed + 2, n, W.INGEST_SIDE, env.cores).path
        oracle = W.IngestOracle(seed + 2, n, W.INGEST_SIDE)
        wh = env.work / "wh-sweep"
        res = one("ingest", lambda: W.ingest_call(env, raw, wh, n, seed + 2),
                  lambda got: oracle.check(env, got), n)
        ingest_rows, ingest_raw, tiles, ingest_table = n, raw, n * oracle.tiles_per_image, res["table"]
    else:
        ingest_rows, ingest_raw = W.INGEST_ROWS, wl.raw.path
        tiles, ingest_table = traced_outcomes[0].detail["tiles"], wl.last["table"]

    probes = layers.h3core_probes(tracer, seed, pool)
    with tracer.request(spark, "udfs-probe"):
        with tracer.span("io.with_geo.encode_job", "udfs"):
            t0 = time.perf_counter()
            io.with_geo(spark.read.parquet(str(ingest_raw)), res=W.RES).write.format(
                "noop"
            ).mode("overwrite").save()
            probes["udfs.encode_rows_per_s"] = ingest_rows / (time.perf_counter() - t0)
    with tracer.request(spark, "skew-probe"):
        with tracer.span("skew.hot_keys", "skew"):
            table = io.read_images(spark, ingest_table)
            probes["skew.hot_keys"] = len(hot_keys(table, "cell", threshold=ingest_rows // 1000))
    size, files = inputs.dir_bytes(table_dir)
    probes["io.bytes_written_per_row"] = size / table_rows
    probes["io.files_written"] = files
    cells9 = faceijk.geo_to_h3(points.lat, points.lng, W.RES)
    probes.update(layers.refine_stats(cells9, points.lat, points.lng, pip_pools))
    return {
        "sweep": sweep,
        "probes": probes,
        "rows": {"knn_table": table_rows, "tiles": tiles},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["pip-join", "ingest-tiles"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "h3_rs_spark" / "__init__.py").is_file():
        print(f"no engine package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    work = HERE / "_work" / f"{args.workload}-{os.getpid()}"
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": str(work / "tmp"),
            "SPARK_LOCAL_DIRS": str(work / "local"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
