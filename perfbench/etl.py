"""``etl_migrate``: the config-driven migration the engine exists for.

One pass lands the initial CNSS-style load in an empty source tree and
runs the multi-table pipeline spec into an empty parquet destination,
then lands each incremental batch as new source files and runs the same
spec again. One op is one table run through ``plans.runner.run_pipeline``.

The output check reads the last pass's destination with DuckDB and
compares it with a reference that keeps the first row (by ``src_seq``)
per trimmed key over all batches, after the pass's last run of the
append tables with no new input; that run must append 0 rows.
"""

from __future__ import annotations

import os
import shutil

import common
import gen

ASSURES = 1000  # assures rows in the initial load; the other tables scale with it
BATCHES = 2  # incremental batches after the initial load

# columns of each destination table: dst -> source column
MAPPINGS = {
    "employeurs": ("ass_registrants", {
        "sin": "numero_employeur", "name": "raison_sociale",
        "address": "adresse", "contact": "address",
    }),
    "assures": ("ass_policy_holders", {
        "sin": "numero_assure", "policy_holder_type_id": "type_assure",
        "lastname": "nom", "firstname": "prenoms", "sex": "sexe",
        "birth_date": "date_naissance", "birth_place": "lieu_naissance",
        "nationality": "code_pays_nationalite", "enrolled_at": "date_immatriculation",
        "status": "etat_assure", "handicaped": "code_etat_handicap",
        "phone_number": "tel", "email": "email", "address": "adresse",
        "registrant_sin": "numero_employeur_actuel", "hired_at": "date_embauche",
    }),
    "carriere_assures": ("ass_registrant_policy_holders", {
        "policy_holder_sin": "numero_assure", "registrant_sin": "numero_employeur",
        "start_date": "date_entree", "end_date": "date_sortie",
    }),
    "conjoints": ("ass_spouses", {
        "spouse_no": "numero_conjoint", "firstname": "prenoms", "lastname": "nom",
        "sex": "sexe", "birth_date": "date_naissance", "state": "etat_conjoint",
    }),
    "assure_conjoints": ("ass_mariage_bounds", {
        "spouse_no": "numero_conjoint", "policy_holder_sin": "numero_assure",
        "bound_at": "date_lien", "bound_type_id": "type_lien",
    }),
}

TABLE_OPTS = {
    "employeurs": {"unique": ["sin"], "mode": "append"},
    "assures": {"unique": ["sin"], "mode": "upsert", "partition_by": ["status"]},
    "carriere_assures": {
        "unique": ["policy_holder_sin", "registrant_sin", "start_date"],
        "mode": "append",
        "constraints": [{"type": "not_null", "column": "registrant_sin"}],
    },
    "conjoints": {
        "unique": ["spouse_no"],
        "mode": "append",
        "constraints": [{"type": "in_set", "column": "sex", "values": ["M", "F"]}],
    },
    "assure_conjoints": {
        "unique": ["spouse_no", "policy_holder_sin"],
        "mode": "overwrite",
        "query": "type_lien > 0",
    },
}


def spec_doc(src: str, dst: str) -> dict:
    """The pipeline spec document: one entry per source table."""
    tables = []
    for t in gen.CNSS_TABLES:
        dest, cols = MAPPINGS[t]
        tables.append({
            "flow": f"{t} -> {dest}",
            "columns": {d: f"[{s}]" for d, s in cols.items()},
            "order_by": ["src_seq"],
            **TABLE_OPTS[t],
        })
    return {
        "connections": {
            "from": {"type": "parquet", "path": src},
            "to": {"type": "parquet", "path": dst},
        },
        "tables": tables,
    }


class EtlMigrate:
    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.pass_dir = os.path.join(work, "pass")
        self.spark = None

    def generate(self) -> dict:
        self.props = gen.gen_cnss(self.seed, os.path.join(self.work, "inputs", "cnss"), ASSURES, BATCHES)
        return {k: v for k, v in self.props.items() if k != "files"}

    def bind(self, spark) -> None:
        self.spark = spark

    def input_rows(self) -> int:
        return self.props["source_rows"]

    def _land(self, batch: int) -> None:
        """Hard-link the batch's generated files into the source tree."""
        for t, files in self.props["files"].items():
            for b, rel in files:
                if b == batch:
                    dst = os.path.join(self.src, t, os.path.basename(rel))
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.link(os.path.join(self.props["dir"], rel), dst)

    def _run_table(self, doc: dict, table: dict):
        from php_etl_spark.plans import runner
        from php_etl_spark.plans.spec import PipelineSpec

        spec = PipelineSpec.from_dict({"connections": doc["connections"], "tables": [table]})
        return runner.run_pipeline(self.spark, spec)[0]

    def pass_ops(self):
        """Ops of one pass, from empty source and destination trees:
        the initial load, each incremental batch, then one more run of
        the append tables with no new input (``<table>@idle``)."""
        shutil.rmtree(self.pass_dir, ignore_errors=True)
        self.src = os.path.join(self.pass_dir, "src")
        self.dst = os.path.join(self.pass_dir, "dst")
        self.doc = spec_doc(self.src, self.dst)
        self.idle_rows: dict[str, int] = {}
        for b in [*range(self.props["batches"] + 1), "idle"]:
            if b != "idle":
                self._land(b)
            for t, table in zip(gen.CNSS_TABLES, self.doc["tables"]):
                if b == "idle" and table["mode"] != "append":
                    continue
                yield f"{t}@{b}", f"plans.{table['mode']}", lambda t=t, table=table, b=b: self._op(t, table, b)

    def _op(self, t: str, table: dict, step) -> None:
        res = self._run_table(self.doc, table)
        if step == "idle":
            self.idle_rows[t] = res.rows_written

    # -- output check ------------------------------------------------------

    def _reference_sql(self, t: str) -> tuple[str, str]:
        dest, cols = MAPPINGS[t]
        opts = TABLE_OPTS[t]
        sel = ", ".join(f"{s} AS {d}" for d, s in cols.items())
        where = f"WHERE {opts['query']}" if opts.get("query") else ""
        keys = ", ".join(f"trim(CAST({k} AS VARCHAR))" for k in opts["unique"])
        first = (
            f"SELECT * EXCLUDE (src_seq) FROM (SELECT {sel}, src_seq FROM "
            f"read_parquet('{self.src}/{t}/*.parquet') {where}) "
            f"QUALIFY row_number() OVER (PARTITION BY {keys} ORDER BY src_seq) = 1"
        )
        bad = "FALSE"
        for rule in opts.get("constraints", []):
            c = rule["column"]
            if rule["type"] == "not_null":
                bad = f"({bad} OR {c} IS NULL)"
            else:
                vals = ", ".join(f"'{v}'" for v in rule["values"])
                bad = f"({bad} OR ({c} IS NOT NULL AND {c} NOT IN ({vals})))"
        return (f"SELECT * FROM ({first}) WHERE NOT {bad}",
                f"SELECT DISTINCT * FROM ({first}) WHERE {bad}")

    def _dest_rows(self, con, path: str, cols: list[str]):
        files = f"{path}/**/*.parquet"
        rel = con.sql(f"SELECT {', '.join(cols)} FROM read_parquet('{files}', hive_partitioning = true)")
        return rel.fetchall()

    def check(self) -> tuple[dict[str, str], dict]:
        """Returns ({op-name prefix: failure}, extra metrics)."""
        import duckdb

        from tools.check_oracle import table_hash

        con = duckdb.connect()
        failures: dict[str, str] = {}
        quarantine_rows = 0
        for t in gen.CNSS_TABLES:
            dest, cols = MAPPINGS[t]
            good_sql, bad_sql = self._reference_sql(t)
            want = table_hash(list(cols), con.sql(good_sql).fetchall())
            got = table_hash(list(cols), self._dest_rows(con, os.path.join(self.dst, dest), list(cols)))
            if want != got:
                failures[t] = f"destination {dest} differs from the first-wins reference"
            qpath = os.path.join(self.dst, dest) + "_quarantine"
            if TABLE_OPTS[t].get("constraints"):
                want_bad = table_hash(list(cols), con.sql(bad_sql).fetchall())
                rows = self._dest_rows(con, qpath, list(cols)) if os.path.isdir(qpath) else []
                quarantine_rows += len(rows)
                if table_hash(list(cols), sorted(set(rows), key=repr)) != want_bad:
                    failures.setdefault(t, f"quarantine {dest}_quarantine differs from the violators")
        # idempotency: the run with no new input appends nothing
        for t, table in zip(gen.CNSS_TABLES, self.doc["tables"]):
            n = self.idle_rows.get(t)
            if table["mode"] == "append" and n != 0:
                failures.setdefault(t, f"the run with no new input appended {n} rows")
        space = common.dir_bytes(self.dst) / self.props["source_bytes"]
        return failures, {"space_amp": space, "quarantine_rows": quarantine_rows}
