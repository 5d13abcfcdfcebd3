"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload join_tile_skewed --seed 0 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed into Parquet under `.bench_work/` (set-up), warms up until a rep
is steady, then times reps for `--seconds` (`--trace 0`) or records
per-layer spans, counts and Spark event-log metrics (`--trace 1`).
Every rep's answer is checked against a reference computed at another
parallelism. The last line of stdout is the result; progress and the
per-rep log go to stderr, and a run record to `.bench_work/records/`.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STEADY_TOLERANCE = 0.10  # a warm-up rep is steady within 10% of the one before
FIXTURE_REPEATS = 2

# Answers of seed 0, computed at local[2] with 3 shuffle partitions; the
# full-size join figures are those of BENCH/BASELINE.md. The in-run
# reference must match them.
KNOWN_ANSWERS = {
    ("join_tile_skewed", 0, 1 << 17): (136_119, 454_691),
    ("join_tile_skewed", 0, 1 << 21): (2_173_948, 5_789_310),
    ("render_pyramid", 0, 14): ((12, 123, 4_724_235), (11, 72, 2_335_189), (10, 51, 1_237_527)),
    ("knn_sites", 0, 1 << 17): (25_000, 2_472_013_789),
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--images", type=int, default=None,
                    help="override the images count of join_tile_skewed / knn_sites")
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep Spark's and the JVM's scratch files inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_spark(nproc: int, work: str, trace: bool):
    from gdal_spark.session import get_spark

    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=2 * nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    from perfbench.hostinfo import children_map

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while children_map().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def at_other_parallelism(spark, nproc: int, fn):
    """Run `fn` with nproc + 1 shuffle partitions and 8 MiB scan splits
    instead of 2 * nproc partitions and whole-file splits."""
    keys = {
        "spark.sql.shuffle.partitions": str(nproc + 1),
        "spark.sql.files.maxPartitionBytes": str(8 << 20),
    }
    saved = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        return fn()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def check_answer(answer, reference) -> bool:
    """A rep is correct when its answer equals the reference exactly."""
    return answer is not None and tuple(answer) == tuple(reference)


def timed_reps(run_rep, reference, seconds: float, min_reps: int):
    """Run reps for `seconds`, and at least `min_reps`. Returns the wall
    times of the correct reps and the number of failed ones (raised, or
    answered differently from the reference)."""
    times, failed = [], 0
    t_end = time.perf_counter() + seconds
    while len(times) + failed < min_reps or time.perf_counter() < t_end:
        dt, answer = run_rep("timed")
        if check_answer(answer, reference):
            times.append(dt)
        else:
            failed += 1
    return times, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    log("start")
    sys.path.insert(0, ROOT)
    try:
        import gdal_spark  # noqa: F401  (the program under test)

        from perfbench import hostinfo, tracing, workloads
    except ImportError as e:
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2

    nproc = hostinfo.nproc()
    cls = workloads.WORKLOADS[args.workload]
    size = {"n_images": args.images} if args.images else {}
    wl = cls(nproc, **size)
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{wl.name}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    trace = bool(args.trace)
    record: dict = {"workload": wl.name, "seed": args.seed, "trace": trace, "reps": []}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(nproc, work, trace)
        session_s = time.perf_counter() - t0
        record["host"] = hostinfo.host_record(spark)
        log(f"host {record['host']}; session start {session_s:.2f} s")

        write_s = []
        for k in range(FIXTURE_REPEATS):
            t0 = time.perf_counter()
            paths = wl.write_inputs(spark, args.seed, os.path.join(work, f"inputs{k}"))
            write_s.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(os.path.join(work, f"inputs{k - 1}"), ignore_errors=True)
        fixtures_s = statistics.median(write_s)
        log(f"fixtures written in {', '.join(f'{s:.2f}' for s in write_s)} s")
        inp = wl.load(spark, paths)
        rep_dir = os.path.join(work, "rep")

        def run_rep(kind: str) -> tuple[float, tuple | None]:
            probe = hostinfo.host_probe()
            before = workloads.persisted_rdd_ids(spark)
            steal0 = hostinfo.cpu_steal_s()
            t0 = time.perf_counter()
            try:
                answer = wl.rep(spark, inp, rep_dir)
            except Exception as e:  # a failed rep counts; the run goes on
                log(f"{kind} rep raised {type(e).__name__}: {e}")
                answer = None
            dt = time.perf_counter() - t0
            steal = hostinfo.cpu_steal_s() - steal0
            workloads.restore_caches(spark, before)
            record["reps"].append(
                {"kind": kind, "s": dt, "probe": probe, "steal_s": steal, "answer": answer})
            log(f"{kind:9s} {dt:8.3f} s  probe {probe:8.1f}/s  steal {steal:5.2f} s  answer {answer}")
            return dt, answer

        t0 = time.perf_counter()
        ref_s, reference = at_other_parallelism(spark, nproc, lambda: run_rep("reference"))
        if reference is None:
            log("the reference rep failed")
            return 1
        known = KNOWN_ANSWERS.get((wl.name, args.seed, wl.n_images))
        correct = known is None or check_answer(reference, known)
        if not correct:
            log(f"reference {reference} differs from the known answer {known}")
        # The reference rep is the first warm-up rep: same plan, other
        # split. Warm up for the workload's minimum time, then until a
        # rep is within STEADY_TOLERANCE of the one before, or until the
        # maximum time has gone (host noise alone can keep reps apart).
        warm = [ref_s]
        min_s, max_s = wl.warmup_s
        while sum(warm[1:]) < max_s:
            dt, answer = run_rep("warmup")
            warm.append(dt)
            correct &= check_answer(answer, reference)
            if (sum(warm[1:]) >= min_s
                    and abs(warm[-1] - warm[-2]) <= STEADY_TOLERANCE * warm[-2]):
                break
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + fixtures_s + warmup_s
        log(f"set-up {setup_s:.2f} s (warm-up {warmup_s:.2f} s, {len(warm)} reps)")
        record["setup"] = {"session_s": session_s, "fixture_write_s": write_s, "warmup_s": warm}

        if not trace:
            times, failed = timed_reps(run_rep, reference, args.seconds, wl.min_timed_reps)
            attempted = len(times) + failed
            job_s = statistics.median(times) if times else float("nan")
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s_p50": (job_s, "s"),
                "items_per_s": (wl.items(reference) / job_s, "1/s"),
                "ok_frac": (len(times) / attempted, "ratio"),
            }
            record["job_s_samples"] = len(times)
        else:
            with hostinfo.PeakRss() as rss:
                with workloads.phase(spark, "plain"):
                    plain_s, answer = run_rep("plain")
                failed = int(not check_answer(answer, reference))
                tracer = tracing.Tracer()
                before = workloads.persisted_rdd_ids(spark)
                layer = wl.trace(spark, inp, paths, tracer, rep_dir, reference)
                workloads.restore_caches(spark, before)
            traced_s = tracer.total("rep")
            record["spans"] = tracer.dump()
            stop_spark(spark)
            spark = None
            # a rolling event log: events_<index>_<app id> files in one dir
            parts = glob.glob(os.path.join(work, "eventlog", "*", "events_*"))
            events = [
                e for p in sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
                for e in tracing.read_events(p)
            ]
            plain = tracing.phase_metrics(events, "plain")
            scan = tracing.phase_metrics(events, "trace.scan")
            layer.update({
                "scan.rows": scan["input_rows"],
                "scan.bytes_read": scan["files_bytes"],
                "scan.self_s": tracer.total("scan.read_parquet", "self"),
                "memory.peak_rss_mb": rss.peak / 2**20,
                "session.start_s": session_s,
                "fixtures.write_s": fixtures_s,
                "trace.plain_rep_s": plain_s,
                "trace.traced_rep_s": traced_s,
                "trace.overhead_s": traced_s - plain_s,
                **{f"spark.{k}": plain[k] for k in (
                    "jobs", "tasks", "shuffle_write_bytes", "spill_bytes",
                    "gc_s", "python_s", "task_skew")},
            })
            attempted = 1
            metrics = {k: (v, UNITS[k]) for k, v in layer_defaults(layer).items()}
        correct &= failed == 0
        result = {
            "correct": bool(correct),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        rec_dir = os.path.join(bench_dir, "records")
        os.makedirs(rec_dir, exist_ok=True)
        with open(os.path.join(rec_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        shutil.rmtree(work, ignore_errors=True)
    log("done")
    print(json.dumps(result))
    return 0


# Units of every per-layer metric. A traced run reports all of them;
# layers its workload does not run report 0.
UNITS = {
    "spatial_join.zone_cells": "count",
    "spatial_join.cell_candidates": "count",
    "spatial_join.bbox_survivors": "count",
    "spatial_join.zone_edges": "count",
    "spatial_join.zone_edges_s": "s",
    "spatial_join.edge_rows": "count",
    "spatial_join.pairs": "count",
    "spatial_join.refine_yield": "ratio",
    "spatial_join.hot_cell_ratio": "ratio",
    "spatial_join.self_s": "s",
    "tiling.tile_rows": "count",
    "tiling.distinct_tiles": "count",
    "tiling.self_s": "s",
    "scan.rows": "count",
    "scan.bytes_read": "bytes",
    "scan.self_s": "s",
    "knn.jobs_per_call": "count",
    "knn.eager_jobs": "count",
    "knn.cached_after_call": "count",
    "knn.rows_out": "count",
    "knn.self_s": "s",
    "render.tiles": "count",
    "render.base_s": "s",
    "render.overview_s": "s",
    "render.covering_per_image": "ratio",
    "render.self_s": "s",
    "codecs.decode_ms_png": "ms",
    "codecs.decode_ms_jpeg": "ms",
    "codecs.decode_ms_tiff": "ms",
    "scale.commit_s": "s",
    "scale.rows_committed": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.python_s": "s",
    "spark.task_skew": "ratio",
    "memory.peak_rss_mb": "MB",
    "session.start_s": "s",
    "fixtures.write_s": "s",
    "trace.plain_rep_s": "s",
    "trace.traced_rep_s": "s",
    "trace.overhead_s": "s",
}


def layer_defaults(layer: dict) -> dict:
    unknown = set(layer) - set(UNITS)
    if unknown:
        raise KeyError(f"per-layer metrics without a unit: {sorted(unknown)}")
    return {k: layer.get(k, 0) for k in UNITS}


if __name__ == "__main__":
    sys.exit(main())
