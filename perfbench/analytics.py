"""Read-only registry keys over a generated star schema (the analytics
half of the ``analytics_llm`` workload, see mixed.py).

One op builds ``queries.QUERIES[key]`` and forces it with a noop write.
After the timed region the check collects the DataFrame that each key's
last op built and compares row count, column names and
``tools/check_oracle.table_hash`` with the key's DuckDB oracle over the
same generated files.
"""

from __future__ import annotations

import os

import common
import gen

SF = 0.02  # scale factor of the generated star schema (sf 0.1 ~ 600k lineitem rows)

# key -> catalog tables it scans (for rows_per_s: input rows per pass)
KEYS = {
    "agg_groupby_sum": ["lineitem"],
    "join_star_q5": ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    "join_asof": ["events"],
    "stream_tumbling": ["events"],
}


class AnalyticsMix:
    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.data = os.path.join(work, "inputs", "star")

    def generate(self) -> dict:
        self.props = gen.gen_star(self.seed, self.data, SF)
        return self.props

    def bind(self, spark) -> None:
        self.spark = spark
        self.frames = {}

    def input_rows(self) -> int:
        rows = self.props["rows"]
        return sum(rows[t] for tables in KEYS.values() for t in tables)

    def _op(self, key: str) -> None:
        from php_etl_spark import queries as Q

        self.frames.pop(key, None)  # a failed op leaves no result to check
        df = Q.QUERIES[key](self.spark, self.data)
        common.force(df)
        self.frames[key] = df

    def pass_ops(self):
        for key in KEYS:
            yield key, "queries", lambda key=key: self._op(key)

    def check(self) -> tuple[dict[str, str], dict]:
        import duckdb

        from php_etl_spark import queries as Q
        from tools.check_oracle import table_hash

        con = duckdb.connect()
        for t in self.props["rows"]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        failures = {}
        for key in KEYS:
            sdf = self.frames.get(key)
            if sdf is None:
                failures[key] = "no result: the op raised"
                continue
            try:
                scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
                cur = con.execute(Q.ORACLES[key])
                ocols, orows = [d[0] for d in cur.description], cur.fetchall()
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                failures[key] = f"{type(exc).__name__}: {exc}"
                continue
            if sorted(scols) != sorted(ocols):
                failures[key] = f"columns {sorted(scols)} != oracle {sorted(ocols)}"
            elif len(srows) != len(orows):
                failures[key] = f"{len(srows)} rows != oracle {len(orows)}"
            elif table_hash(scols, srows) != table_hash(ocols, orows):
                failures[key] = "value hash differs from the DuckDB oracle"
            elif not srows:
                failures[key] = "0 rows: the check would verify nothing"
        return failures, {}
