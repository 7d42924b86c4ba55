"""Sinks (SURVEY.md §2.1 S7-S10): append, upsert (merge),
delete-then-reinsert, and failure quarantine.

The reference writes with batched multi-VALUES INSERTs
(/root/reference/sdk/lib/db.php:250-274), per-key UPDATEs
(/root/reference/sdk/migrate_assures.php:47-67), and DELETE+reinsert
refreshes (/root/reference/sdk/migrate_assures.php:205-236). On plain
parquet there is no transactional MERGE, so upsert/delete are staged
rewrites with an atomic directory swap; on Delta/Iceberg these map to
``MERGE INTO`` / ``replaceWhere`` — the production path at 100 TB,
where only touched files rewrite. The relational semantics
(merge = updates ⟕ existing; refresh = anti ∪ new) are engine
functions so both storage paths share one definition.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from php_etl_spark.functions.strings import dedup_key
from php_etl_spark.materialize import materialize


def _sink_path(conn: dict[str, Any], table: str) -> str:
    return os.path.join(conn.get("path", "."), table)


def _file_write(df: DataFrame, conn: dict[str, Any], path: str, mode: str) -> str:
    """Dispatch a file-format write: parquet (default), csv/json/text
    (ReadWriter write parity — the reference's line-oriented file sink,
    /root/reference/sdk/src/IO/ReadWriter.php:78-88 — but partition-
    parallel and atomic per task)."""
    kind = conn.get("type", "parquet")
    w = df.write.mode(mode).options(**conn.get("options", {}))
    if kind == "csv":
        w.options(header="true").csv(path)
    elif kind == "json":
        w.json(path)
    elif kind == "text":
        w.text(path)
    elif kind == "orc":
        w.orc(path)
    else:
        w.parquet(path)
    return path


def append(df: DataFrame, conn: dict[str, Any], table: str) -> str:
    """S8 batched append. One partition-parallel write — the multi-
    VALUES INSERT batching is Spark's native write granularity. A
    ``{"type": "jdbc"}`` connection routes to the batched JDBC insert
    (db_insert_many parity, /root/reference/sdk/lib/db.php:250-274);
    csv/json/text types write those formats (ReadWriter parity)."""
    if conn.get("type") == "jdbc":
        from php_etl_spark.sources import jdbc as _jdbc

        _jdbc.jdbc_append(df, conn, table)
        return table
    path = _sink_path(conn, table)
    if conn.get("format") == "delta":
        from php_etl_spark.sources import delta_sink

        return delta_sink.append(df, path)
    return _file_write(df, conn, path, "append")


def overwrite(df: DataFrame, conn: dict[str, Any], table: str) -> str:
    if conn.get("type") == "jdbc":
        from php_etl_spark.sources import jdbc as _jdbc

        _jdbc.jdbc_overwrite(df, conn, table)
        return table
    path = _sink_path(conn, table)
    if conn.get("format") == "delta":
        from php_etl_spark.sources import delta_sink

        return delta_sink.overwrite(df, path)
    if conn.get("layout") == "versioned":
        # manifest-pointer commit (object-store-safe); an overwrite is
        # simply the next published version
        from php_etl_spark.sources import versioned as _v

        _v.publish(df, path)
        return path
    return _file_write(df, conn, path, "overwrite")


def merge_frames(
    existing: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Upsert semantics (J7): matched rows take the update's values,
    unmatched existing rows survive, unmatched updates insert
    (/root/reference/sdk/migrate_assures.php:165-203). Updates must be
    unique per key (enforce upstream with first_wins_dedup)."""
    survivors = join_on_keys(existing, updates, keys, "left_anti")
    return survivors.unionByName(updates)


def join_on_keys(
    existing: DataFrame, other: DataFrame, keys: Sequence[str], how: str
) -> DataFrame:
    """Semi/anti join of ``existing`` against ``other``'s keys, matched
    as pipeline dedup matches them: on ``dedup_key`` (strings trimmed,
    numbers raw), NULL equal to NULL. Append, upsert and partition
    scoping all match keys through here."""
    probe = other.select(*[F.col(k).alias(f"__k_{k}") for k in keys])
    cond = F.lit(True)
    for k in keys:
        cond = cond & dedup_key(k).eqNullSafe(dedup_key(f"__k_{k}"))
    return existing.join(probe, on=cond, how=how)


def refresh_frames(
    existing: DataFrame, replacement: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Delete-then-reinsert (J8): drop every existing row whose key
    appears in the replacement set, then insert the replacement rows
    (/root/reference/sdk/migrate_assures.php:205-236)."""
    kept = existing.join(replacement.select(*keys).distinct(), on=list(keys), how="left_anti")
    return kept.unionByName(replacement)


def _staged_rewrite(result: DataFrame, path: str, keep_backup: bool = False) -> str:
    """Write to a staging dir then atomically swap — the plain-parquet
    stand-in for a transactional commit (O5; the reference wraps each
    record in BEGIN/COMMIT, /root/reference/sdk/migrate_employeur.php:196-219).

    Crash-safe: if the forward swap fails after the old directory was
    moved aside, the backup is restored so the table never vanishes.
    ``keep_backup=True`` (O8, pre-run backup parity with
    /root/reference/sdk/import.sh:74-80) leaves the previous contents
    at ``<path>.backup`` for manual restore."""
    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    result.write.mode("overwrite").parquet(staging)
    backup = f"{path}.backup" if keep_backup else f"{path}.old-{uuid.uuid4().hex[:8]}"
    had_previous = os.path.exists(path)
    if had_previous:
        if keep_backup and os.path.exists(backup):
            shutil.rmtree(backup)  # only ever our own prior backup dir
        os.rename(path, backup)
    try:
        os.rename(staging, path)
    except OSError:
        if had_previous:
            os.rename(backup, path)  # restore — table must not vanish
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if had_previous and not keep_backup:
        shutil.rmtree(backup)
    return path


def restore_backup(path: str) -> str:
    """Swap ``<path>.backup`` (from ``keep_backup=True``) back into
    place, discarding the current contents."""
    backup = f"{path}.backup"
    if not os.path.exists(backup):
        raise FileNotFoundError(f"no backup directory at {backup}")
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(backup, path)
    return path


def _touched_partitions(
    spark: SparkSession,
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str],
) -> list[tuple]:
    """Distinct partition tuples an upsert must rewrite: partitions
    the update rows land in, plus partitions currently holding a
    matched key (a key whose partition value changes must have its OLD
    partition rewritten too). Both scans are column-pruned to
    key+partition columns; the result is bounded by the partition
    count, so collecting it to the driver is O(partitions), not
    O(rows)."""
    pcols = list(partition_by)
    from_updates = updates.select(*pcols).distinct()
    from_matched = (
        join_on_keys(existing, updates, keys, "left_semi").select(*pcols).distinct()
    )
    rows = from_updates.unionByName(from_matched).distinct().collect()
    return [tuple(r[c] for c in pcols) for r in rows]


def _partition_filter(partition_by: Sequence[str], touched: list[tuple]) -> Column:
    cond = F.lit(False)
    for values in touched:
        match = F.lit(True)
        for col, v in zip(partition_by, values):
            match = match & (F.col(col).eqNullSafe(F.lit(v)))
        cond = cond | match
    return cond


def _partition_scoped_rewrite(
    spark: SparkSession,
    combine,
    incoming: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str],
) -> str:
    """Rewrite ONLY partitions containing touched keys via dynamic
    partition overwrite — the plain-parquet answer to "a 1-row upsert
    must not rewrite a 100 TB table". Untouched partition directories
    are left byte-identical (asserted in tests/test_pipeline.py). On
    Delta/Iceberg the same call maps to MERGE INTO / replaceWhere."""
    existing = spark.read.parquet(path)
    touched = _touched_partitions(spark, existing, incoming, keys, partition_by)
    if not touched:
        result = materialize(incoming)
    else:
        flt = _partition_filter(partition_by, touched)
        # static isin-style pruning: the filter is on partition columns
        # only, so the scan reads just the touched directories
        scoped = existing.filter(flt)
        result = materialize(combine(scoped, incoming, keys))
    with _conf_override(
        spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"
    ):
        result.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    # dynamic overwrite only replaces partitions PRESENT in the result;
    # a touched partition left with zero rows (its only row moved
    # partitions) must be dropped explicitly or its stale file survives
    present = {
        tuple(r[c] for c in partition_by)
        for r in result.select(*partition_by).distinct().collect()
    }
    for values in touched:
        if tuple(values) not in present:
            segs = [
                f"{c}={_hive_part_value(v)}"
                for c, v in zip(partition_by, values)
            ]
            shutil.rmtree(os.path.join(path, *segs), ignore_errors=True)
    return path


def _hive_part_value(v: Any) -> str:
    """Partition-directory value formatting matching Spark's writer
    (hive layout): NULL sentinel, ISO dates, plain str otherwise."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


class _conf_override:
    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark, self.key, self.value = spark, key, value

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(self.key)
        except Exception:  # noqa: BLE001 — unset conf
            self.prev = None
        self.spark.conf.set(self.key, self.value)

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self.key)
        else:
            self.spark.conf.set(self.key, self.prev)
        return False


def upsert(
    spark: SparkSession,
    updates: DataFrame,
    conn: dict[str, Any],
    table: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
    keep_backup: bool = False,
) -> str:
    """J7/S9 upsert. With ``partition_by`` the sink is a partitioned
    layout and ONLY partitions containing touched keys rewrite
    (dynamic partition overwrite); without it, full staged rewrite —
    correct but the documented scale-weak path."""
    if conn.get("type") == "jdbc":
        from php_etl_spark.sources import jdbc as _jdbc

        _jdbc.jdbc_upsert(spark, updates, conn, table, keys)
        return table
    path = _sink_path(conn, table)
    if conn.get("format") == "delta":
        # transactional MERGE INTO: only files holding matched keys
        # rewrite — the real fix for "1-row upsert rewrites the table"
        from php_etl_spark.sources import delta_sink

        return delta_sink.upsert(spark, updates, path, keys)
    if conn.get("layout") == "versioned":
        # merge-publish: immutable snapshot + atomic pointer write —
        # the object-store-safe commit (no directory rename)
        from php_etl_spark.sources import versioned as _v

        _v.upsert(spark, updates, path, keys)
        return path
    if not os.path.exists(path):
        w = updates.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path
    if partition_by:
        return _partition_scoped_rewrite(
            spark, merge_frames, updates, path, keys, partition_by
        )
    existing = spark.read.parquet(path)
    # materialize inputs before the swap invalidates the scan path
    result = materialize(merge_frames(existing, updates, keys))
    return _staged_rewrite(result, path, keep_backup=keep_backup)


def delete_reinsert(
    spark: SparkSession,
    replacement: DataFrame,
    conn: dict[str, Any],
    table: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
    keep_backup: bool = False,
) -> str:
    if conn.get("type") == "jdbc":
        from php_etl_spark.sources import jdbc as _jdbc

        _jdbc.jdbc_delete_reinsert(spark, replacement, conn, table, keys)
        return table
    path = _sink_path(conn, table)
    if conn.get("format") == "delta":
        from php_etl_spark.sources import delta_sink

        return delta_sink.delete_reinsert(spark, replacement, path, keys)
    if conn.get("layout") == "versioned":
        from php_etl_spark.sources import versioned as _v

        _v.delete_reinsert(spark, replacement, path, keys)
        return path
    if not os.path.exists(path):
        w = replacement.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path
    if partition_by:
        return _partition_scoped_rewrite(
            spark, refresh_frames, replacement, path, keys, partition_by
        )
    existing = spark.read.parquet(path)
    result = materialize(refresh_frames(existing, replacement, keys))
    return _staged_rewrite(result, path, keep_backup=keep_backup)


def split_quarantine(
    df: DataFrame, valid: Column, quarantine_path: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """O4 failure quarantine: split rows by a validity predicate; bad
    rows go to a side output for a later bounded retry pass
    (/root/reference/sdk/migrate_employeur.php:191-228). Returns
    (good, bad); writes bad to ``quarantine_path`` when given."""
    good = df.filter(valid)
    bad = df.filter(~F.coalesce(valid, F.lit(False)))
    if quarantine_path:
        bad.write.mode("append").parquet(quarantine_path)
    return good, bad
