"""Pipeline runner — ETLTask::run re-expressed as ~5 DataFrame ops
(/root/reference/sdk/src/ETLTask.php:28-72).

Per table: scan (+pushed filter) → mapping projection → in-run
first-wins dedup on the unique keys → anti-join against the
destination's existing keys → batched write. The reference does this
with a per-row cursor loop, an unbounded driver-memory dedup cache
and one existence probe per row; here dedup is a shuffle and the
destination probe one anti-join, so no driver memory grows with the
data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from php_etl_spark.materialize import materialize
from php_etl_spark.operators.agg import first_wins_dedup
from php_etl_spark.operators.project import compile_mapping, source_columns
from php_etl_spark.plans.spec import PipelineSpec, TableSpec
from php_etl_spark.sources.readers import read_source
from php_etl_spark.sources.writers import append, join_on_keys, overwrite, upsert, _sink_path


@dataclass
class TableResult:
    table: str
    rows_written: int
    path: str | None
    skipped: bool = False


def build_table_frame(
    spark: SparkSession, spec: PipelineSpec, table: TableSpec
) -> DataFrame:
    """The transform plan for one table, without the sink — scan,
    filter, mapping, in-run dedup."""
    conn = spec.conn_for(table, "from")
    cols = source_columns(table.columns) or None
    # read full columns when order_by needs extra ones
    needed = set(cols or [])
    needed.update(table.order_by)
    df = read_source(
        spark, conn, table.source, query=table.query, columns=sorted(needed) or None
    )
    if table.order_by:
        # reserved aliases avoid collisions with mapped output names
        order_exprs = [
            F.col(c).alias(f"__ord_{i}") for i, c in enumerate(table.order_by)
        ]
    else:
        # the reference's "first" is cursor order; without a declared
        # order we fall back to source row position, stable for a
        # given file layout
        df = df.withColumn("__ord_0", F.monotonically_increasing_id())
        order_exprs = [F.col("__ord_0").alias("__ord_0")]
    order_names = [f"__ord_{i}" for i in range(len(order_exprs))]
    projected = df.select(*compile_mapping(table.columns), *order_exprs)
    if table.unique:
        projected = first_wins_dedup(
            projected,
            keys=table.unique,
            order_by=[F.col(n) for n in order_names],
            normalize=True,
        )
    out_cols = list(table.columns.keys())
    return projected.select(*out_cols)


def _read_destination(
    spark: SparkSession, conn: dict[str, Any], table: str
) -> DataFrame | None:
    """Read the sink's current rows for the idempotency anti-join, or
    ``None`` when the destination doesn't exist yet. A directory left
    behind by an interrupted write (exists but holds no parquet parts)
    counts as absent instead of failing schema inference, so re-runs
    stay idempotent."""
    if conn.get("type") == "jdbc":
        from php_etl_spark.sources.jdbc import read_jdbc_table

        try:
            return read_jdbc_table(spark, conn, table)
        except Exception:  # noqa: BLE001 — table not created yet
            return None
    path = _sink_path(conn, table)
    if not os.path.exists(path):
        return None
    has_parts = any(
        f.endswith(".parquet")
        for _, _, files in os.walk(path)
        for f in files
    )
    if not has_parts:
        return None
    return spark.read.parquet(path)


def run_table(
    spark: SparkSession, spec: PipelineSpec, table: TableSpec
) -> TableResult:
    """One table end-to-end, with per-table metrics (rows, bytes,
    wall seconds, rows/sec) appended to the ``SPARK_GRAFT_METRICS``
    JSONL — the engine-native form of the reference's progress surface
    (/root/reference/sdk/lib/progress.php:102-446)."""
    from php_etl_spark.observability import table_metrics

    with table_metrics(table.destination) as rec:
        result = _run_table(spark, spec, table)
        if table.maintenance:
            _apply_maintenance(spark, table, result.path, rec)
        rec["mode"] = table.mode
        rec["rows_written"] = result.rows_written
        rec["dest_path"] = result.path
    return result


def _apply_maintenance(
    spark: SparkSession,
    table: TableSpec,
    path: str | None,
    rec: dict,
) -> None:
    """Post-write layout maintenance declared on the table spec — the
    OPTIMIZE step a scheduler would otherwise run out-of-band, here a
    declarative part of the pipeline (the reference's configs describe
    the whole table lifecycle in one document; layout upkeep belongs
    in it). zorder_by reclusters (and consolidates) the destination;
    otherwise compact_target_bytes bin-packs small files. File sinks
    only — JDBC/Delta destinations maintain themselves."""
    import os

    from php_etl_spark.sources.maintenance import compact, zorder_write

    if not path or not os.path.isdir(path):
        return
    m = table.maintenance or {}
    if m.get("zorder_by"):
        zorder_write(
            spark.read.parquet(path),
            path,
            [F.col(c) for c in m["zorder_by"]],
            n_files=int(m.get("zorder_files", 8)),
        )
        rec["maintenance"] = {"zorder_by": m["zorder_by"]}
    elif m.get("compact_target_bytes"):
        stats = compact(
            spark, path, target_file_bytes=int(m["compact_target_bytes"])
        )
        rec["maintenance"] = {
            "compacted": not stats["skipped"],
            "files_before": stats["files_before"],
            "files_after": stats["files_after"],
        }


def _run_table(
    spark: SparkSession, spec: PipelineSpec, table: TableSpec
) -> TableResult:
    frame = build_table_frame(spark, spec, table)
    to_conn = spec.conn_for(table, "to")

    if table.constraints:
        # declarative guards (the reference's per-row validity checks,
        # e.g. /root/reference/sdk/migrate_assures.php:136-170, as one
        # set-oriented split): violators either quarantine next to the
        # destination or fail the table run before anything is written
        from php_etl_spark.operators.validate import split_valid

        frame, bad = split_valid(frame, table.constraints)
        if table.on_violation == "fail":
            n_bad = bad.count()
            if n_bad:
                raise ValueError(
                    f"{table.destination}: {n_bad} constraint violations"
                )
        elif "path" in to_conn:
            qpath = _sink_path(to_conn, table.destination) + "_quarantine"
            if not bad.isEmpty():
                bad.write.mode("append").parquet(qpath)

    if table.mode == "upsert":
        n = frame.count()
        upsert(
            spark,
            frame,
            to_conn,
            table.destination,
            keys=table.unique,
            partition_by=table.partition_by or None,
        )
        return TableResult(table.destination, n, _sink_path(to_conn, table.destination))

    if table.mode == "overwrite":
        n = frame.count()
        path = overwrite(frame, to_conn, table.destination)
        return TableResult(table.destination, n, path)

    # append mode: anti-join against destination's existing unique
    # keys (ETLTask's exists() probe per row → one left-anti join,
    # /root/reference/sdk/src/ETLTask.php:43-53)
    dest_path = _sink_path(to_conn, table.destination)
    existing = _read_destination(spark, to_conn, table.destination)
    if table.unique and existing is not None:
        frame = join_on_keys(frame, existing, table.unique, "left_anti")
    frame = materialize(frame)
    # in-plan observation: the write job itself counts the rows — no
    # second action over the frame
    from php_etl_spark.observability import observed_count

    frame, obs = observed_count(frame)
    append(frame, to_conn, table.destination)
    n = obs.get["rows"]
    return TableResult(table.destination, n, dest_path)


def _table_fingerprint(spec: PipelineSpec, table: TableSpec) -> str:
    """Content hash of everything that determines a table's output:
    its own spec plus the global connections. A resumed run SKIPS a
    completed table only when the fingerprint still matches — edit the
    spec and the table re-runs."""
    import hashlib
    import json as _json
    from dataclasses import asdict

    payload = {"table": asdict(table), "connections": spec.connections}
    return hashlib.sha256(
        _json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


class RunState:
    """Crash-resumable pipeline state: one JSON file mapping completed
    destinations to their spec fingerprints, rewritten atomically after
    every table. A rerun with the same state_path skips tables already
    completed under an identical spec — the driver-restart story the
    reference gets by re-running import.sh and relying on per-row
    existence probes; here the probe is one file read, not a table
    scan. Delete the state file (or change the spec) to force."""

    def __init__(self, path: str):
        import json as _json
        import os as _os

        self.path = path
        self.completed: dict[str, str] = {}
        if _os.path.exists(path):
            with open(path) as f:
                self.completed = _json.load(f).get("completed", {})

    def is_done(self, dest: str, fingerprint: str) -> bool:
        return self.completed.get(dest) == fingerprint

    def mark(self, dest: str, fingerprint: str) -> None:
        import json as _json
        import os as _os
        import uuid as _uuid

        self.completed[dest] = fingerprint
        tmp = f"{self.path}.tmp-{_uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            _json.dump({"completed": self.completed}, f, sort_keys=True)
        _os.replace(tmp, self.path)


def _run_or_skip(
    spark: SparkSession,
    spec: PipelineSpec,
    table: TableSpec,
    state: "RunState | None",
) -> TableResult:
    if state is None:
        return run_table(spark, spec, table)
    fp = _table_fingerprint(spec, table)
    if state.is_done(table.destination, fp):
        return TableResult(table.destination, 0, None, skipped=True)
    result = run_table(spark, spec, table)
    state.mark(table.destination, fp)
    return result


def run_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    max_parallel: int | None = None,
    state_path: str | None = None,
) -> list[TableResult]:
    """Execute the tables[] DAG (/root/reference/sdk/etl.php:91-150).

    ``state_path`` enables crash-resume: completed tables are recorded
    (destination → spec fingerprint) after each success and skipped on
    rerun while their spec is unchanged.

    ``max_parallel`` defaults to the spec's ``parallel`` flag
    (``PipelineSpec.parallel``; 1 unless the config opts in).
    ``max_parallel=1`` is the reference's sequential order (its
    parallel execution is a TODO at sdk/etl.php:146). With
    ``max_parallel>1``, tables whose *destinations and sources don't
    overlap* run concurrently — Spark's scheduler interleaves the
    jobs, which is the engine-native version of process.php's
    spawn-a-worker-per-batch orchestration
    (/root/reference/sdk/process.php:31-43). Tables that read a
    destination written by an earlier table stay ordered (the
    employeurs→assures dependency in import.sh:86-100).
    """
    if max_parallel is None:
        max_parallel = spec.parallel
    from php_etl_spark.observability import ProgressEstimator

    # pipeline-level rate/ETA ticks on table completion — the Spark
    # equivalent of the reference's per-row 5-sample sliding-window
    # progress (/root/reference/sdk/lib/progress.php:424-446); emits
    # to the metrics JSONL only when one is configured
    progress = ProgressEstimator(total=len(spec.tables))

    state = RunState(state_path) if state_path else None

    if max_parallel <= 1:
        out: list[TableResult] = []
        for t in spec.tables:
            out.append(_run_or_skip(spark, spec, t, state))
            progress.update(len(out))
            progress.emit_progress("pipeline")
        return out

    from concurrent.futures import ThreadPoolExecutor

    # stage the DAG: a table depends on every earlier table whose
    # destination it reads from
    stages: list[list[TableSpec]] = []
    written: set[str] = set()
    current: list[TableSpec] = []
    for t in spec.tables:
        pending = {c.destination for c in current}
        reading = {c.source for c in current}
        # flush on read-after-write, write-after-write, AND
        # write-after-read (t overwriting a path a same-stage table
        # is still scanning would race that scan)
        if (
            t.source in written
            or t.source in pending
            or t.destination in pending
            or t.destination in reading
        ):
            stages.append(current)
            written.update(c.destination for c in current)
            current = [t]
        else:
            current.append(t)
    if current:
        stages.append(current)

    results: dict[str, TableResult] = {}
    order: list[str] = [t.destination for t in spec.tables]
    for stage in stages:
        with ThreadPoolExecutor(max_workers=max_parallel) as pool:
            futs = {
                t.destination: pool.submit(_run_or_skip, spark, spec, t, state)
                for t in stage
            }
            for dest, fut in futs.items():
                results[dest] = fut.result()
                progress.update(len(results))
        progress.emit_progress("pipeline")
    return [results[d] for d in order]


def run_table_incremental(
    spark: SparkSession, sf_dir: str, table: TableSpec
) -> "DataFrame":
    """Incremental execution of a table spec via Structured Streaming
    (availableNow trigger): the same mapping/filter plan as the batch
    path, with state-store dedup on normalized unique keys — arrival-
    order first-wins across micro-batches. This is the engine-native
    form of the reference's idempotent incremental re-runs (existence
    probes J4/J5 making at-least-once ingestion effectively
    exactly-once, /root/reference/sdk/migrate_employeur.php:60-68):
    new files landing in the source directory are picked up by the
    next availableNow run, already-seen keys are dropped by the state
    store instead of a per-row destination probe."""
    from php_etl_spark.functions.strings import dedup_key
    from php_etl_spark.streaming.events import run_to_files, stream_table

    sdf = stream_table(spark, sf_dir, table.source)
    if table.query:
        sdf = sdf.filter(F.expr(table.query))
    out = sdf.select(*compile_mapping(table.columns))
    if table.unique:
        key_cols = [
            dedup_key(F.col(k)).alias(f"__key_{i}")
            for i, k in enumerate(table.unique)
        ]
        out = (
            out.select("*", *key_cols)
            .dropDuplicates([f"__key_{i}" for i in range(len(table.unique))])
            .select(*table.columns.keys())
        )
    return run_to_files(out, "append")
