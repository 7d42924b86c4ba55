"""End-to-end pipeline-engine tests: JSON spec → scan → mapping →
first-wins dedup → anti-join vs destination → sink; upsert and
delete-reinsert semantics; quarantine split.

Golden expectations follow the reference semantics in
/root/reference/sdk/src/ETLTask.php (dedup/trim rules) and
/root/reference/sdk/migrate_assures.php (upsert / delete-reinsert).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from php_etl_spark.plans.spec import PipelineSpec
from php_etl_spark.plans.runner import run_pipeline
from php_etl_spark.sources.writers import (
    merge_frames,
    refresh_frames,
    upsert,
    delete_reinsert,
    split_quarantine,
)


@pytest.fixture()
def src_dir(tmp_path, spark):
    d = tmp_path / "src"
    rows = [
        (1, "Alice ", "a@x.com", 10.0),
        (2, "Alice", "dup-of-1-after-trim@x.com", 20.0),
        (3, "Bob", "b@x.com", 30.0),
        (4, "Carol", "c@x.com", 40.0),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "email", "amount"])
    df.coalesce(1).write.parquet(str(d / "people"))
    return str(d)


def _spec(src, dst, **table_extra):
    table = {
        "flow": "people -> persons",
        "columns": {
            "person_id": "[id]",
            "full_name": "[name]",
            "source_system": "legacy",
        },
        "unique": ["full_name"],
        "order_by": ["id"],
    }
    table.update(table_extra)
    return PipelineSpec.from_dict(
        {
            "connections": {
                "from": {"type": "parquet", "path": src},
                "to": {"type": "parquet", "path": dst},
            },
            "tables": [table],
        }
    )


def test_pipeline_end_to_end_first_wins_and_literal(spark, src_dir, tmp_path):
    dst = str(tmp_path / "dst")
    results = run_pipeline(spark, _spec(src_dir, dst))
    assert results[0].rows_written == 3  # 'Alice ' ≡ 'Alice' after trim
    out = spark.read.parquet(os.path.join(dst, "persons"))
    rows = {r.person_id: r for r in out.collect()}
    assert set(rows) == {1, 3, 4}  # first wins: id=1 kept, id=2 dropped
    assert rows[1].full_name == "Alice "  # original value kept, key trimmed
    assert rows[1].source_system == "legacy"


def test_pipeline_rerun_is_idempotent(spark, src_dir, tmp_path):
    dst = str(tmp_path / "dst")
    run_pipeline(spark, _spec(src_dir, dst))
    results2 = run_pipeline(spark, _spec(src_dir, dst))
    assert results2[0].rows_written == 0  # anti-join vs destination
    out = spark.read.parquet(os.path.join(dst, "persons"))
    assert out.count() == 3


def test_pipeline_query_pushdown(spark, src_dir, tmp_path):
    dst = str(tmp_path / "dst2")
    spec = _spec(src_dir, dst, query="amount >= 30")
    results = run_pipeline(spark, spec)
    assert results[0].rows_written == 2


def test_merge_frames_upsert_semantics(spark):
    existing = spark.createDataFrame(
        [(1, "old", 1.0), (2, "keep", 2.0)], ["k", "v", "x"]
    )
    updates = spark.createDataFrame([(1, "new", 9.0), (3, "ins", 3.0)], ["k", "v", "x"])
    out = {r.k: r.v for r in merge_frames(existing, updates, ["k"]).collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


def test_refresh_frames_delete_reinsert(spark):
    existing = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "keep")], ["fk", "v"]
    )
    replacement = spark.createDataFrame([(1, "c")], ["fk", "v"])
    out = sorted((r.fk, r.v) for r in refresh_frames(existing, replacement, ["fk"]).collect())
    assert out == [(1, "c"), (2, "keep")]


def test_upsert_sink_on_disk(spark, tmp_path):
    conn = {"type": "parquet", "path": str(tmp_path)}
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    upsert(spark, base, conn, "t", keys=["k"])
    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    upsert(spark, upd, conn, "t", keys=["k"])
    out = {r.k: r.v for r in spark.read.parquet(str(tmp_path / "t")).collect()}
    assert out == {1: "a", 2: "B", 3: "c"}


def test_delete_reinsert_sink_on_disk(spark, tmp_path):
    conn = {"type": "parquet", "path": str(tmp_path)}
    base = spark.createDataFrame([(1, "a"), (1, "a2"), (2, "b")], ["fk", "v"])
    delete_reinsert(spark, base, conn, "links", keys=["fk"])
    repl = spark.createDataFrame([(1, "fresh")], ["fk", "v"])
    delete_reinsert(spark, repl, conn, "links", keys=["fk"])
    out = sorted((r.fk, r.v) for r in spark.read.parquet(str(tmp_path / "links")).collect())
    assert out == [(1, "fresh"), (2, "b")]


def test_quarantine_split(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "ok@x.com"), (2, "bad"), (3, "another@y.org")], ["id", "email"]
    )
    from php_etl_spark.functions.strings import email_valid

    qpath = str(tmp_path / "quarantine")
    good, bad = split_quarantine(df, email_valid("email"), qpath)
    assert {r.id for r in good.collect()} == {1, 3}
    assert spark.read.parquet(qpath).count() == 1


def test_spec_parsing_flow_and_column_forms():
    spec = PipelineSpec.from_dict(
        {
            "connections": {"from": {}, "to": {}},
            "tables": [
                {"flow": "  a  ->  b ", "columns": ["x <- [y]", "z"]},
            ],
        }
    )
    t = spec.tables[0]
    assert (t.source, t.destination) == ("a", "b")
    assert t.columns == {"x": "[y]", "z": "[z]"}


def test_spec_requires_tables():
    with pytest.raises(ValueError):
        PipelineSpec.from_dict({"connections": {}})


def test_incremental_matches_batch_with_dedup(spark):
    """Streaming (availableNow) execution of a dedup spec returns one
    row per normalized unique key — same key set as the batch path."""
    from php_etl_spark.plans.runner import run_table_incremental
    from php_etl_spark.plans.spec import TableSpec

    spec = TableSpec.from_dict(
        {
            "flow": "events -> by_user",
            "columns": ["user <- [user_id]", "etype <- [event_type]"],
            "unique": ["user", "etype"],
        }
    )
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    out = run_table_incremental(spark, sf, spec)
    from php_etl_spark.catalog import Catalog

    batch_keys = (
        Catalog(spark, sf)
        .events.select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert out.count() == batch_keys
    assert out.select("user", "etype").distinct().count() == batch_keys


def test_cli_end_to_end(spark, tmp_path, capsys):
    """CLI parity with etl.php: --config + path overrides runs the
    pipeline and reports per-table rows written."""
    import json

    from php_etl_spark.cli import main

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    spec = {
        "tables": [
            {
                "flow": "nation -> nation_out",
                "columns": ["key <- [n_nationkey]", "name <- [n_name]"],
                "unique": ["name"],
            }
        ]
    }
    cfg = tmp_path / "spec.json"
    cfg.write_text(json.dumps(spec))
    rc = main(
        [
            "--config", str(cfg),
            "--from-path", sf,
            "--to-path", str(tmp_path / "out"),
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    rec = json.loads(out[-1])
    assert rec["table"] == "nation_out" and rec["rows_written"] == 25
    assert spark.read.parquet(rec["path"]).count() == 25


# ---------------------------------------------------------------------------
# Partition-scoped upsert (J7 at scale) + staged-rewrite safety
# ---------------------------------------------------------------------------


def _file_digests(root):
    import hashlib

    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = hashlib.md5(
                    open(p, "rb").read()
                ).hexdigest()
    return out


def test_partition_scoped_upsert_leaves_untouched_partitions_byte_identical(
    spark, tmp_path
):
    """Delete-scope parity with the reference's partition-bounded
    refresh (/root/reference/sdk/migrate_assures.php:205-236): an
    upsert touching only partition 'b' must not rewrite a single byte
    of partitions 'a' and 'c'."""
    conn = {"type": "parquet", "path": str(tmp_path)}
    seed = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "b", 40)],
        ["k", "part", "v"],
    )
    upsert(spark, seed, conn, "t", keys=["k"], partition_by=["part"])
    root = str(tmp_path / "t")
    before = _file_digests(root)
    updates = spark.createDataFrame([(2, "b", 999), (9, "b", 90)], ["k", "part", "v"])
    upsert(spark, updates, conn, "t", keys=["k"], partition_by=["part"])
    after = _file_digests(root)
    untouched_before = {p: h for p, h in before.items() if "part=b" not in p}
    untouched_after = {p: h for p, h in after.items() if "part=b" not in p}
    assert untouched_before == untouched_after  # byte-identical files
    rows = {r["k"]: (r["part"], r["v"]) for r in spark.read.parquet(root).collect()}
    assert rows == {1: ("a", 10), 2: ("b", 999), 3: ("c", 30), 4: ("b", 40), 9: ("b", 90)}


def test_partition_scoped_upsert_key_moves_partition(spark, tmp_path):
    """A matched key whose partition value changes must vanish from
    its OLD partition (even when that empties the partition dir)."""
    conn = {"type": "parquet", "path": str(tmp_path)}
    seed = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ["k", "part", "v"])
    upsert(spark, seed, conn, "t", keys=["k"], partition_by=["part"])
    moved = spark.createDataFrame([(1, "b", 11)], ["k", "part", "v"])
    upsert(spark, moved, conn, "t", keys=["k"], partition_by=["part"])
    rows = sorted(
        (r["k"], r["part"], r["v"])
        for r in spark.read.parquet(str(tmp_path / "t")).collect()
    )
    assert rows == [(1, "b", 11), (2, "b", 20)]


@pytest.mark.parametrize("layout", ["plain", "partitioned", "versioned"])
def test_upsert_matches_keys_like_pipeline_dedup(spark, tmp_path, layout):
    """Upsert matches keys as in-run dedup and the append anti-join do
    (dedup_key: strings trimmed), so a key that loses its padding
    between runs replaces its row instead of gaining a second one."""
    from php_etl_spark.sources.readers import read_source

    conn = {"type": "parquet", "path": str(tmp_path)}
    if layout == "versioned":
        conn["layout"] = "versioned"
    partition_by = ["part"] if layout == "partitioned" else None
    for key, v in [("A1 ", "x"), ("A1", "y")]:
        batch = spark.createDataFrame([(key, "p", v)], ["k", "part", "v"])
        upsert(spark, batch, conn, "t", keys=["k"], partition_by=partition_by)
    rows = [(r["k"], r["v"]) for r in read_source(spark, conn, "t").collect()]
    assert rows == [("A1", "y")]


def test_partition_scoped_delete_reinsert(spark, tmp_path):
    conn = {"type": "parquet", "path": str(tmp_path)}
    seed = spark.createDataFrame(
        [(1, "a", "old"), (1, "a", "old2"), (2, "b", "keep")],
        ["k", "part", "tag"],
    )
    delete_reinsert(spark, seed, conn, "t", keys=["k"], partition_by=["part"])
    repl = spark.createDataFrame([(1, "a", "new")], ["k", "part", "tag"])
    before = _file_digests(str(tmp_path / "t"))
    delete_reinsert(spark, repl, conn, "t", keys=["k"], partition_by=["part"])
    after = _file_digests(str(tmp_path / "t"))
    assert {p: h for p, h in before.items() if "part=b" in p} == {
        p: h for p, h in after.items() if "part=b" in p
    }
    rows = sorted(
        (r["k"], r["tag"]) for r in spark.read.parquet(str(tmp_path / "t")).collect()
    )
    assert rows == [(1, "new"), (2, "keep")]


def test_staged_rewrite_keep_backup_restores(spark, tmp_path):
    """O8 pre-run backup (/root/reference/sdk/import.sh:74-80): with
    keep_backup the previous table contents survive the rewrite and
    restore_backup swaps them back."""
    from php_etl_spark.sources.writers import restore_backup

    conn = {"type": "parquet", "path": str(tmp_path)}
    seed = spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"])
    upsert(spark, seed, conn, "t", keys=["k"])
    updates = spark.createDataFrame([(2, 999)], ["k", "v"])
    upsert(spark, updates, conn, "t", keys=["k"], keep_backup=True)
    path = str(tmp_path / "t")
    assert {r["k"]: r["v"] for r in spark.read.parquet(path).collect()} == {1: 10, 2: 999}
    assert os.path.isdir(path + ".backup")
    restore_backup(path)
    assert {r["k"]: r["v"] for r in spark.read.parquet(path).collect()} == {1: 10, 2: 20}
    assert not os.path.exists(path + ".backup")


def test_append_run_survives_partial_destination_dir(spark, tmp_path):
    """An empty/partial destination directory (interrupted earlier
    write) must read as 'no destination yet', not break the anti-join."""
    src = tmp_path / "src"
    spark.createDataFrame([(1, "A"), (2, "B")], ["id", "name"]).write.parquet(
        str(src / "people")
    )
    out = tmp_path / "out"
    (out / "persons").mkdir(parents=True)  # exists, but no parquet parts
    spec = PipelineSpec.from_dict(
        {
            "connections": {
                "from": {"type": "parquet", "path": str(src)},
                "to": {"type": "parquet", "path": str(out)},
            },
            "tables": [
                {
                    "flow": "people -> persons",
                    "columns": {"person_id": "[id]", "full_name": "[name]"},
                    "unique": ["full_name"],
                    "order_by": ["id"],
                }
            ],
        }
    )
    res = run_pipeline(spark, spec)
    assert res[0].rows_written == 2


def test_metrics_jsonl_shape(spark, src_dir, tmp_path, monkeypatch):
    """O6 observability: a pipeline run appends one table_done record
    per table with rows/bytes/wall-time/rate, and the streaming
    listener records per-batch progress."""
    from php_etl_spark import observability as O

    metrics = str(tmp_path / "metrics.jsonl")
    monkeypatch.setenv(O.ENV_KEY, metrics)
    dst = str(tmp_path / "dst")
    run_pipeline(spark, _spec(src_dir, dst))
    recs = O.read_metrics(metrics)
    done = [r for r in recs if r["event"] == "table_done"]
    assert len(done) == 1
    rec = done[0]
    assert rec["table"] == "persons"
    assert rec["rows_written"] == 3
    assert rec["mode"] == "append"
    assert rec["bytes_written"] > 0
    assert rec["wall_s"] >= 0
    assert rec["rows_per_s"] > 0
    assert "ts" in rec


def test_metrics_streaming_listener(spark, tmp_path):
    from php_etl_spark import observability as O
    from php_etl_spark.streaming.events import events_stream, run_to_files

    metrics = str(tmp_path / "stream_metrics.jsonl")
    listener = O.attach_streaming_metrics(spark, metrics)
    try:
        out = run_to_files(
            events_stream(spark, "/root/testdata/sf0.001").select(
                "event_id", "user_id"
            ),
            "append",
        )
        n = out.count()
        # listener events are delivered on the async listener bus —
        # give them a bounded window to land before reading
        import time

        for _ in range(40):
            if any(
                r["event"] == "stream_progress" for r in O.read_metrics(metrics)
            ):
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    recs = O.read_metrics(metrics)
    progress = [r for r in recs if r["event"] == "stream_progress"]
    assert progress, "listener should record at least one batch"
    assert sum(p["num_input_rows"] for p in progress) == n
    assert {r["event"] for r in recs} >= {"stream_started", "stream_progress"}


def test_pipeline_csv_destination(spark, src_dir, tmp_path):
    """A pipeline spec whose `to` connection is csv runs end-to-end;
    the csv source connection reads the result back."""
    from php_etl_spark.plans.spec import PipelineSpec
    from php_etl_spark.sources.readers import read_source

    dst = str(tmp_path / "dst_csv")
    spec = PipelineSpec.from_dict(
        {
            "connections": {
                "from": {"type": "parquet", "path": src_dir},
                "to": {"type": "csv", "path": dst},
            },
            "tables": [
                {
                    "flow": "people -> persons",
                    "columns": {"person_id": "[id]", "full_name": "[name]"},
                    "unique": ["full_name"],
                    "order_by": ["id"],
                }
            ],
        }
    )
    results = run_pipeline(spark, spec)
    assert results[0].rows_written == 3
    back = read_source(spark, {"type": "csv", "path": dst}, "persons")
    assert back.count() == 3
    assert {r["person_id"] for r in back.collect()} == {1, 3, 4}


def test_pipeline_constraints_quarantine_and_fail(spark, src_dir, tmp_path):
    """Declarative constraints in the table spec: violators (amount
    range) leave the main flow and land in <dest>_quarantine;
    on_violation='fail' aborts before writing."""
    dst = str(tmp_path / "dstc")
    spec = _spec(
        src_dir,
        dst,
        columns={
            "person_id": "[id]",
            "full_name": "[name]",
            "amount": "[amount]",
        },
        unique=["person_id"],
        constraints=[{"type": "range", "column": "amount", "max": 25.0}],
    )
    results = run_pipeline(spark, spec)
    assert results[0].rows_written == 2  # ids 1,2 pass; 3,4 quarantined
    q = spark.read.parquet(os.path.join(dst, "persons_quarantine"))
    assert {r.person_id for r in q.collect()} == {3, 4}

    spec_fail = _spec(
        src_dir,
        str(tmp_path / "dstf"),
        columns={"person_id": "[id]", "amount": "[amount]"},
        unique=["person_id"],
        constraints=[{"type": "range", "column": "amount", "max": 25.0}],
        on_violation="fail",
    )
    with pytest.raises(ValueError, match="constraint violations"):
        run_pipeline(spark, spec_fail)
    assert not os.path.exists(os.path.join(str(tmp_path / "dstf"), "persons"))


def test_progress_estimator_sliding_window_rate_and_eta():
    """Reference parity (sdk/lib/progress.php:424-446): rate over a
    5-sample sliding window, ETA = remaining/rate. Injected clocks
    make the math exact: after warm-up samples at 2 units/s, a burst
    to 10 units/s must dominate once the slow samples age out of the
    window."""
    from php_etl_spark.observability import ProgressEstimator

    p = ProgressEstimator(total=100, window=5)
    # 2 units/s for 5 samples
    for i in range(5):
        snap = p.update(done=2 * i, now=float(i))
    assert snap["rate_per_s"] == 2.0
    assert snap["eta_s"] == (100 - 8) / 2.0
    assert snap["pct"] == 8.0
    # burst: 10 units/s; window slides, old slow samples age out
    done = 8
    t = 4.0
    for _ in range(4):
        t += 1.0
        done += 10
        snap = p.update(done=done, now=t)
    assert snap["rate_per_s"] == 10.0
    assert snap["eta_s"] == (100 - done) / 10.0


def test_progress_estimator_degenerate_cases():
    from php_etl_spark.observability import ProgressEstimator

    p = ProgressEstimator(total=10)
    # single sample: no rate, no ETA, but pct present
    snap = p.update(done=0, now=0.0)
    assert snap["rate_per_s"] is None and snap["eta_s"] is None
    # zero progress across samples: still no rate (no divide-by-zero)
    snap = p.update(done=0, now=5.0)
    assert snap["rate_per_s"] is None and snap["eta_s"] is None
    # no total: rate but no pct/eta keys
    q = ProgressEstimator()
    q.update(done=0, now=0.0)
    snap = q.update(done=4, now=2.0)
    assert snap["rate_per_s"] == 2.0 and "eta_s" not in snap


def test_pipeline_emits_progress_records(spark, src_dir, tmp_path, monkeypatch):
    """A sequential pipeline run emits one progress record per table
    with rising done counts and pct reaching 100."""
    import json as _json

    from php_etl_spark import observability as O
    from php_etl_spark.plans.runner import run_pipeline
    from php_etl_spark.plans.spec import PipelineSpec

    sink = str(tmp_path / "metrics.jsonl")
    monkeypatch.setenv(O.ENV_KEY, sink)
    spec = PipelineSpec.from_dict(
        {
            "connections": {
                "from": {"type": "parquet", "path": src_dir},
                "to": {"type": "parquet", "path": str(tmp_path / "out")},
            },
            "tables": [
                {
                    "flow": "people -> t1",
                    "columns": {"id": "[id]", "name": "[name]"},
                },
                {
                    "flow": "people -> t2",
                    "columns": {"id": "[id]"},
                },
            ],
        }
    )
    run_pipeline(spark, spec, max_parallel=1)
    recs = [
        _json.loads(line)
        for line in open(sink)
        if '"progress"' in line
    ]
    assert [r["done"] for r in recs] == [1, 2]
    assert recs[-1]["pct"] == 100.0


def test_pipeline_maintenance_compact(spark, src_dir, tmp_path):
    """A table spec can declare post-write compaction; data unchanged,
    small files merged."""
    from php_etl_spark.sources.maintenance import dir_file_stats

    dst = str(tmp_path / "dst")
    spec = _spec(src_dir, dst, mode="overwrite")
    # force a fragmented write by pre-splitting the source
    spark.read.parquet(os.path.join(src_dir, "people")).repartition(16).write.mode(
        "overwrite"
    ).parquet(os.path.join(str(tmp_path), "frag", "people"))
    frag_src = os.path.join(str(tmp_path), "frag")
    spec = _spec(frag_src, dst, mode="overwrite",
                 maintenance={"compact_target_bytes": 64 << 20})
    run_pipeline(spark, spec)
    path = os.path.join(dst, "persons")
    n_files, _ = dir_file_stats(path)
    assert n_files == 1
    out = spark.read.parquet(path)
    assert out.count() == 3


def test_pipeline_maintenance_zorder(spark, src_dir, tmp_path):
    dst = str(tmp_path / "dst")
    spec = _spec(
        src_dir, dst, mode="overwrite",
        maintenance={"zorder_by": ["person_id"], "zorder_files": 2},
    )
    run_pipeline(spark, spec)
    out = spark.read.parquet(os.path.join(dst, "persons"))
    assert {r.person_id for r in out.collect()} == {1, 3, 4}


def test_pipeline_resume_skips_completed_tables(spark, src_dir, tmp_path):
    """state_path makes reruns skip tables completed under an
    unchanged spec; editing the spec re-runs the table."""
    dst = str(tmp_path / "dst")
    state = str(tmp_path / "state.json")
    spec = _spec(src_dir, dst, mode="overwrite")
    first = run_pipeline(spark, spec, state_path=state)
    assert not first[0].skipped and first[0].rows_written == 3
    second = run_pipeline(spark, spec, state_path=state)
    assert second[0].skipped and second[0].rows_written == 0
    # spec change -> fingerprint change -> re-run
    spec2 = _spec(src_dir, dst, mode="overwrite", query="id > 1")
    third = run_pipeline(spark, spec2, state_path=state)
    assert not third[0].skipped
    # without state_path, never skips
    fourth = run_pipeline(spark, spec)
    assert not fourth[0].skipped


def test_cli_explain_dry_run(spark, tmp_path, capsys):
    """--explain prints each table's physical plan and writes nothing."""
    import json

    from php_etl_spark.cli import main

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    spec = {
        "tables": [
            {
                "flow": "nation -> nation_out",
                "columns": ["key <- [n_nationkey]", "name <- [n_name]"],
                "query": "n_regionkey = 1",
            }
        ]
    }
    cfg = tmp_path / "spec.json"
    cfg.write_text(json.dumps(spec))
    out_dir = tmp_path / "out"
    rc = main(
        [
            "--config", str(cfg),
            "--from-path", sf,
            "--to-path", str(out_dir),
            "--explain",
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "nation -> nation_out" in printed
    assert "FileScan" in printed and "PushedFilters" in printed
    assert not (out_dir / "nation_out").exists(), "dry run must not write"
