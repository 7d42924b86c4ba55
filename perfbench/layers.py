"""The traced run: which engine functions are wrapped, and how the spans
become the per-layer metrics listed in BENCHMARK.json.

The first pass of the traced run, in a fresh JVM like the untraced
run's only pass, is traced; the per-layer metrics describe it. The
traced run reports that pass's wall as ``trace.wall_s``; the tracing
overhead is its difference from the untraced run's ``wall_s``. Counts
that need an extra Spark action (the dedup and ANN candidate counts)
run after the pass, outside every span.
"""

from __future__ import annotations

import os
import tempfile
import time

from stats import TAIL_MIN_SAMPLES, median, tail
from tracing import Tracer, attribute, fetch_jobs_and_stages

import common

SPARK_COUNTERS = [
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
]


def _commits(base: str) -> int:
    d = os.path.join(base, "checkpoint", "commits")
    return sum(1 for f in os.listdir(d) if f.isdigit()) if os.path.isdir(d) else 0


def install(tr: Tracer) -> None:
    """Wrap each layer's public entry points (see METRICS.md)."""
    from php_etl_spark import catalog, materialize
    from php_etl_spark import queries as Q
    from php_etl_spark.llm import dedup, similarity, text
    from php_etl_spark.plans import runner, spec
    from php_etl_spark.sources import readers, writers
    from php_etl_spark.streaming import events

    tr.rebind(catalog.Catalog, "table", tr.wrap(catalog.Catalog.table, "catalog.table"))
    tr.rebind(catalog.Catalog, "raw", tr.wrap(catalog.Catalog.raw, "catalog.raw"))
    tr.patch_everywhere(catalog.cached, "catalog.cached")
    parse = spec.PipelineSpec.__dict__["from_dict"].__func__
    tr.rebind(spec.PipelineSpec, "from_dict", classmethod(tr.wrap(parse, "plans.spec_parse")))
    tr.patch_everywhere(runner.build_table_frame, "plans.build_frame")
    tr.patch_everywhere(runner.run_table, "plans.run_table")
    tr.patch_everywhere(readers.read_source, "sources.read")
    for name in ("append", "upsert", "overwrite"):
        tr.patch_everywhere(getattr(writers, name), f"sources.{name}")
    tr.patch_everywhere(materialize.materialize, "materialize")
    for fn in (text.quality_stats, text.language_id):
        tr.patch_everywhere(fn, "llm.text")
    for fn in (dedup.minhash_lsh_pairs, dedup.incremental_near_dup):
        tr.patch_everywhere(fn, "llm.dedup")
    for fn in (similarity.brute_force_topk, similarity.ann_topk_lsh):
        tr.patch_everywhere(fn, "llm.similarity")
    for key, fn in list(Q.QUERIES.items()):
        tr.rebind_item(Q.QUERIES, key, tr.wrap(fn, "queries.construct"))
    tr.rebind(common, "force", tr.wrap(common.force, "execute"))
    tr.rebind(common, "write_parquet", tr.wrap(common.write_parquet, "execute"))

    def capture(fn, key):
        def captured(*a, **kw):
            out = fn(*a, **kw)
            tr.captures.setdefault(key, []).append(out)
            return out

        return captured

    tr.patch_everywhere(dedup.lsh_candidates, "llm.dedup.candidates",
                        around=lambda f: capture(f, "dedup_candidates"))
    tr.patch_everywhere(similarity.lsh_buckets, "llm.similarity.buckets",
                        around=lambda f: capture(f, "ann_buckets"))

    def streaming(fn):
        def counted(*a, **kw):
            tmp = tempfile.gettempdir()
            before = set(os.listdir(tmp))
            with tr.span("streaming") as s:
                out = fn(*a, **kw)
            s["batches"] = sum(_commits(os.path.join(tmp, d)) for d in set(os.listdir(tmp)) - before)
            return out

        return counted

    for fn in (events.run_to_files, events.run_dedup_ingest):
        tr.patch_everywhere(fn, None, around=streaming)


def probe_candidates(tr: Tracer) -> dict:
    """Candidate counts of the last traced pass (extra Spark actions)."""
    from pyspark.sql import functions as F

    out = {}
    cands = tr.captures.pop("dedup_candidates", [])
    if cands:
        out["llm.dedup.candidate_pairs"] = float(sum(c.count() for c in cands))
    buckets = tr.captures.pop("ann_buckets", [])
    if len(buckets) >= 2:
        cb, qb = buckets[-2], buckets[-1]
        n = (
            cb.withColumnRenamed("vid", "n").join(qb.withColumnRenamed("vid", "q"), ["tbl", "bucket"])
            .filter(F.col("n") != F.col("q")).select("q", "n").distinct().count()
        )
        # brute force scores every (query, vector) pair; every id has a bucket
        pairs = cb.select("vid").distinct().count() * qb.select("vid").distinct().count()
        out["llm.similarity.candidate_share"] = n / pairs
    return out


def _descendants(spans: list[dict], root: dict) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root["id"]]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def pass_metrics(spans: list[dict], pass_span: dict, cores: int, untimed_s: float) -> dict[str, float]:
    """Per-layer metrics of one traced pass. ``untimed_s`` is time inside
    the pass span spent on the benchmark's own bookkeeping between ops,
    when no task runs; it is left out of the pass wall."""
    inner = _descendants(spans, pass_span)
    by_id = {s["id"]: s for s in spans}

    def named(prefix: str, top_only: bool = False):
        sel = [s for s in inner if s["name"] == prefix or s["name"].startswith(prefix + ".")]
        if top_only:  # not nested in a span of the same layer
            sel = [s for s in sel if s["parent"] is None or not by_id[s["parent"]]["name"].startswith(prefix)]
        return sel

    m: dict[str, float] = {}
    cat = named("catalog", top_only=True)
    m["catalog.calls"] = float(len(cat))
    m["catalog.s"] = float(sum(map(_dur, cat)))
    m["queries.construct_s"] = m["queries.execute_s"] = m["queries.construct_jobs"] = 0.0
    ops = [s for s in inner if s["name"] == "op"]
    for op in ops:
        if op["kind"].startswith("plans."):
            continue
        ex = [s for s in _descendants(spans, op) if s["name"] == "execute"]
        m["queries.execute_s"] += sum(map(_dur, ex))
        m["queries.construct_s"] += _dur(op) - sum(map(_dur, ex))
        m["queries.construct_jobs"] += op["incl_jobs"] - sum(s["incl_jobs"] for s in ex)
    for name, metric in (("plans.spec_parse", "plans.spec_parse_s"), ("plans.build_frame", "plans.build_frame_s"),
                         ("plans.run_table", "plans.run_table_s"), ("sources.read", "sources.read_s"),
                         ("sources.append", "sources.append_s"), ("sources.upsert", "sources.upsert_s"),
                         ("sources.overwrite", "sources.overwrite_s")):
        m[metric] = float(sum(_dur(s) for s in named(name, top_only=True)))
    mat = named("materialize", top_only=True)
    m["materialize.calls"] = float(len(mat))
    m["materialize.s"] = float(sum(map(_dur, mat)))
    for kind in ("llm.text", "llm.dedup", "llm.similarity"):
        m[f"{kind}.s"] = float(sum(_dur(op) for op in ops if op["kind"] == kind))
    st = named("streaming", top_only=True)
    m["streaming.s"] = float(sum(map(_dur, st)))
    m["streaming.batches"] = float(sum(s.get("batches", 0) for s in st))
    m["streaming.idle_s"] = float(sum(_dur(s) - s["task_busy_s"] for s in st))
    m["sources.files_written"] = float(sum(op.get("files_written", 0) for op in ops))
    m["sources.bytes_written_mb"] = sum(op.get("bytes_written", 0) for op in ops) / 2**20
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = float(pass_span[f"incl_{k}"])
    wall = _dur(pass_span) - untimed_s
    m["spark.busy_frac"] = pass_span["incl_executor_run_s"] / (wall * cores)
    m["spark.driver_gap_s"] = wall - pass_span["task_busy_s"]
    return m


class _WriteCounting:
    """Wraps a workload so each op records the parquet files and bytes
    it left new or rewritten under the workload's destination tree.
    The tree is listed after each op, between ops, outside the op's
    latency; ``untimed_s`` sums the time spent listing."""

    def __init__(self, wl, tr: Tracer):
        self.wl, self.tr = wl, tr
        self.untimed_s = 0.0

    def pass_ops(self):
        before: dict[str, int] = {}
        for op_def in self.wl.pass_ops():
            yield op_def
            root = getattr(self.wl, "dst", None)
            if root is None:
                continue
            t0 = time.perf_counter()
            after = common.dir_files(root)
            new = {p: b for p, b in after.items() if before.get(p) != b}
            op = next(s for s in reversed(self.tr.spans) if s["name"] == "op")
            op["files_written"] = len(new)
            op["bytes_written"] = sum(new.values())
            before = after
            self.untimed_s += time.perf_counter() - t0


def traced_run(wl, spark, seconds: float, run_pass, spans_path: str) -> dict:
    """Trace the first pass, which runs in a fresh JVM like the untraced
    run's; then run untraced passes until ``seconds`` have elapsed and
    ``TAIL_MIN_SAMPLES`` ops have run, so that ``op_tail_s`` is a
    percentile above the median."""
    sc = spark.sparkContext
    tr = Tracer(sc)
    t_end = time.perf_counter() + seconds
    install(tr)
    counting = _WriteCounting(wl, tr)
    try:
        with tr.span("pass") as ps:
            wall, ops = run_pass(counting, tr)
    finally:
        tr.restore()
    wall -= counting.untimed_s
    probes = probe_candidates(tr)
    passes = 1
    while len(ops) < TAIL_MIN_SAMPLES or time.perf_counter() < t_end:
        ops += run_pass(wl)[1]
        passes += 1
    jobs, stages = fetch_jobs_and_stages(sc)
    attribute(tr.spans, jobs, stages)
    tr.dump(spans_path)
    metrics = {**pass_metrics(tr.spans, ps, common.nproc(), counting.untimed_s), **probes, "trace.wall_s": wall}
    lat = [t for _, t, _ in ops]
    metrics["op_p50_s"] = median(lat)
    metrics["op_tail_s"], percentile = tail(lat)
    return {"ops": ops, "passes": passes, "metrics": metrics,
            "context": {"op_samples": len(ops), "op_tail_percentile": percentile,
                        "write_listing_s": counting.untimed_s}}


def add_check_counts(metrics: dict, extra: dict, wl) -> None:
    """Per-layer counts the output check measured on the last pass."""
    if "quarantine_rows" in extra:
        metrics["sources.quarantine_rows"] = float(extra["quarantine_rows"])
        metrics["sources.write_amp"] = metrics["sources.bytes_written_mb"] * 2**20 / wl.props["source_bytes"]
    if "verified_pairs" in extra:
        metrics["llm.dedup.verified_pairs"] = float(extra["verified_pairs"])
        cands = metrics.get("llm.dedup.candidate_pairs")
        if cands:
            metrics["llm.dedup.yield"] = extra["verified_pairs"] / cands
