"""Tests for the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The Spark test starts a small ``local[2]`` session; the rest are pure
Python.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import statistics
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
from stats import self_times, tail, union_length  # noqa: E402
from tracing import Tracer, attribute  # noqa: E402


# -- tail percentile ----------------------------------------------------------


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = tail(xs)
    assert value == 90.0
    assert sum(x > value for x in xs) == 10
    assert pct == 90.0


def test_tail_of_the_fewest_samples_lies_above_the_median():
    xs = [float(x) for x in (14, 3, 21, 7, 1, 18, 9, 12, 5, 22, 20, 2, 16, 8, 11, 19, 4, 10, 6, 15, 13, 17)]
    value, pct = tail(xs)
    assert value == 12.0
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 12 / 22)
    assert value > statistics.median(xs)


def test_tail_is_order_independent_and_counts_ties():
    xs = [1.0] * 5 + [2.0] * 20
    value, _ = tail(list(reversed(xs)))
    assert value == 2.0  # the 15th smallest; ten samples sit at or beyond it


def test_tail_needs_a_sample_above_the_median():
    with pytest.raises(ValueError):
        tail([float(i) for i in range(21)])  # the 11th of 21 is the median


# -- span arithmetic ----------------------------------------------------------


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_child_cover_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: cover is [1, 6]
        _span(3, 1, 1.5, 2.0),  # grandchild: counts for span 1 only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_self_time_clips_children_to_the_parent():
    st = self_times([_span(0, None, 0.0, 2.0), _span(1, 0, 1.0, 5.0)])
    assert st[0] == pytest.approx(1.0)


def test_tracer_nests_and_restores_patches():
    import common

    tr = Tracer()
    orig = common.dir_bytes
    tr.rebind(common, "dir_bytes", tr.wrap(orig, "probe"))
    with tr.span("outer"):
        common.dir_bytes(HERE)
    tr.restore()
    assert common.dir_bytes is orig
    outer, inner = tr.spans
    assert inner["name"] == "probe" and inner["parent"] == outer["id"]
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


# -- generators ---------------------------------------------------------------


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        h.update(os.path.relpath(f, path).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("make", [
    lambda seed, d: gen.gen_cnss(seed, d, assures=300, batches=1),
    lambda seed, d: gen.gen_star(seed, d, sf=0.002),
    lambda seed, d: gen.gen_corpus(seed, d, docs=200, arriving=20, planted_pairs=5,
                                   planted_arriving=3, vectors=100, queries=4),
])
def test_generators_are_byte_deterministic(tmp_path, make):
    make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_cnss_properties_hold(tmp_path):
    import pyarrow.parquet as pq

    props = gen.gen_cnss(3, str(tmp_path), assures=2000, batches=1)
    keys = []
    for b, rel in props["files"]["assures"]:
        keys += pq.read_table(tmp_path / rel, columns=["numero_assure"]).column(0).to_pylist()
    assert len(keys) == props["rows"]["assures"]
    padded = sum(k != k.rstrip() for k in keys) / len(keys)
    dups = 1 - len({k.strip() for k in keys}) / len(keys)
    assert 0.01 < padded < 0.06
    assert 0.02 < dups < 0.12
    assert [b for b, _ in props["files"]["assures"]] == [0, 0, 1]


def test_corpus_planted_pairs_are_near_duplicates(tmp_path):
    import pyarrow.parquet as pq

    from corpus import THRESHOLD, jaccard, shingles

    props = gen.gen_corpus(5, str(tmp_path), docs=300, arriving=30, planted_pairs=10,
                           planted_arriving=5, vectors=50, queries=4)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert len(props["planted_pairs"]) == 10
    for a, b in props["planted_pairs"]:
        assert jaccard(shingles(text[a]), shingles(text[b])) >= THRESHOLD


# -- metric names ---------------------------------------------------------------


def test_metric_names_and_units_follow_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert {"setup_s"} <= {m["name"] for m in b["end_to_end"]}


def test_metric_map_documents_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    with open(os.path.join(BENCH, "METRICS.md")) as f:
        doc = f.read()
    for m in b["per_layer"] + b["end_to_end"]:
        assert f"`{m['name']}`" in doc, m["name"]


# -- stage attribution by job group ----------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import common

    work = str(tmp_path_factory.mktemp("spark"))
    from pyspark.sql import SparkSession

    conf = common.spark_conf(work)
    builder = SparkSession.builder.master("local[2]").appName("perfbench-tests")
    for k, v in conf.items():
        builder = builder.config(k, v)
    s = builder.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_stage_metrics_attribute_to_the_span_that_started_them(spark):
    from tracing import fetch_jobs_and_stages

    tr = Tracer(spark.sparkContext)
    with tr.span("op") as op:
        with tr.span("execute") as ex:
            spark.range(0, 10000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        with tr.span("idle"):
            time.sleep(0.05)
    spark.range(10).count()  # outside every span: attributed to none
    jobs, stages = fetch_jobs_and_stages(spark.sparkContext)
    attribute(tr.spans, jobs, stages)
    idle = tr.spans[-1]
    assert ex["self_jobs"] >= 1 and ex["self_stages"] >= 2
    assert ex["self_tasks"] >= 3
    assert op["self_jobs"] == 0
    assert op["incl_jobs"] == ex["incl_jobs"]
    assert op["incl_executor_run_s"] == pytest.approx(ex["incl_executor_run_s"])
    assert idle["incl_jobs"] == 0
    assert ex["task_busy_s"] > 0
    total_jobs = len([j for j in jobs if j["status"] == "SUCCEEDED"])
    assert total_jobs > op["incl_jobs"]
