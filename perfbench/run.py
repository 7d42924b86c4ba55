#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_migrate --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It generates the workload's inputs
from the seed under ``.perfbench_work/``, starts one Spark ``local[N]``
session with N = the CPUs this process may use, runs passes of the
workload's ops back to back (a closed loop, one client) until
``--seconds`` have elapsed, checks the outputs, and prints one JSON
object as its last line. The first pass runs in a fresh JVM, as a
migration or batch job does.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps each
layer's public functions (see layers.py), writes the spans as JSONL
under ``.perfbench_work/spans/`` and reports the per-layer metrics.
Metric names and meanings: perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402
from stats import median  # noqa: E402

T_PROC = common.process_start_time()


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def make_workload(name: str, work: str, seed: int):
    if name == "etl_migrate":
        from etl import EtlMigrate

        return EtlMigrate(work, seed)
    if name == "analytics_llm":
        from mixed import AnalyticsLlm

        return AnalyticsLlm(work, seed)
    raise SystemExit(f"unknown workload {name!r}")


def run_pass(wl, tracer=None) -> tuple[float, list[tuple[str, float, bool]]]:
    """One pass over the workload's ops; returns (wall, [(op, latency, ok)])."""
    ops = []
    t_pass = time.perf_counter()
    for i, (name, kind, fn) in enumerate(wl.pass_ops()):
        t0 = time.perf_counter()
        ok = True
        try:
            if tracer is None:
                fn()
            else:
                tracer.op_id = i
                with tracer.span("op", op_name=name, kind=kind):
                    fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            log(f"op {name} failed: {type(exc).__name__}: {exc}")
        ops.append((name, time.perf_counter() - t0, ok))
        log(f"op {name} {ops[-1][1]:.3f}s")
    return time.perf_counter() - t_pass, ops


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its session (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "php_etl_spark")):
        log(f"no engine source (php_etl_spark/) under {ROOT}; run from a checkout root")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    common.pin_environment(work)
    sampler = common.RssSampler()
    sampler.start()
    context = {"nproc": common.nproc(), "load_before": os.getloadavg()[0]}
    spark = None
    try:
        wl = make_workload(args.workload, work, args.seed)
        t0 = time.time()
        props = wl.generate()
        gen_s = time.time() - t0

        from php_etl_spark.session import get_spark

        t0 = time.time()
        spark = get_spark(
            f"perfbench-{args.workload}", extra_conf=common.spark_conf(work)
        )
        get_spark_s = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        wl.bind(spark)
        setup_s = time.time() - T_PROC - gen_s

        if args.trace:
            import layers

            spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            context["spans"] = os.path.join(spans_dir, f"{os.path.basename(work)}.jsonl")
            result = layers.traced_run(wl, spark, args.seconds, run_pass, context["spans"])
            result["metrics"]["session.get_spark_s"] = get_spark_s
        else:
            result = timed_run(wl, args.seconds)
        failures, extra = wl.check()
        if args.trace:
            layers.add_check_counts(result["metrics"], extra, wl)
        import bench

        context["sentinel_s"] = bench.sentinel_time(spark)
        context["load_after"] = os.getloadavg()[0]
    finally:
        if spark is not None:
            common.stop_spark(spark)
        peak_rss_mb = sampler.stop()

    ops = result["ops"]
    # an op fails if it raised or if the check failed its name (etl
    # checks name the table of ops such as "assures@1")
    bad = [n for n, _, ok in ops if not ok or n.split("@")[0] in failures]
    attempted, failed = len(ops), len(bad)
    for k, why in failures.items():
        log(f"check failed: {k}: {why}")
    m = result["metrics"]
    declared = declared_metrics()
    if not args.trace:
        lat = [t for _, t, _ in ops]
        m.update({
            "setup_s": setup_s,
            "rows_per_s": wl.input_rows() / m["wall_s"],
            "ops_ok_frac": (attempted - failed) / attempted,
            "space_amp": extra.get("space_amp", 1.0),
            "dedup_recall": extra.get("dedup_recall", 1.0),
            "topk_recall": extra.get("topk_recall", 1.0),
        })
        per_op: dict[str, list[float]] = {}
        for n, t, _ in ops:
            per_op.setdefault(n, []).append(t)
        context.update({
            "op_samples": len(lat),
            "op_median_s": {n: round(median(v), 3) for n, v in per_op.items()},
            "peak_rss_mb": peak_rss_mb,
        })
    else:
        context.update(result["context"])
        m["peak_rss_mb"] = peak_rss_mb
        for name in declared["per_layer"]:
            m.setdefault(name, 0.0)  # a layer this workload never calls
    context.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "gen_s": gen_s, "get_spark_s": get_spark_s,
        "passes": result["passes"], "inputs": props, "failed_ops": sorted(set(bad)),
    })
    print(json.dumps({"context": context}, default=str))
    units = declared["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in m.items() if k in units},
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


def timed_run(wl, seconds: float) -> dict:
    """Passes back to back until ``seconds`` have elapsed."""
    walls, ops = [], []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        wall, pass_ops = run_pass(wl)
        walls.append(wall)
        ops.extend(pass_ops)
    return {"ops": ops, "passes": len(walls), "metrics": {"wall_s": median(walls)}}


def declared_metrics() -> dict[str, dict[str, str]]:
    """BENCHMARK.json's metrics: {"end_to_end"|"per_layer": {name: unit}}."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in b[kind]} for kind in ("end_to_end", "per_layer")}


if __name__ == "__main__":
    sys.exit(main())
