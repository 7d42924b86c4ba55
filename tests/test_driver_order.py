"""The order of the driver contract (``__spark_entry__.queries()``).

The verification driver checks the first 50 keys it is given. A key
whose newest driver row is red, or whose code changed since its last
green row, must land in that window; every other caller sees the
registry in registration order.
"""

from __future__ import annotations

import json
import linecache
import os
import re
import subprocess
import sys

import __spark_entry__ as E
from php_etl_spark import driver_order as D
from php_etl_spark.queries import ORACLES, QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50

# rewritten after their last green driver row, before the stamp file
REWRITTEN = [
    "agg_groupby_sum", "join_star_q5", "join_mktshare_q8", "join_multiway",
    "dedup_semantic", "graph_bipartite_copurchase", "graph_pagerank_exact",
]


def _ledger(root, rnd, rows):
    with open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json"), "w") as f:
        json.dump(rows, f)


def _stamp_file(root, fingerprints, rnd=1):
    with open(os.path.join(root, D.STAMPS), "w") as f:
        json.dump({"round": rnd, "fingerprints": fingerprints}, f)


def test_driver_history_latest_row_wins(tmp_path):
    """A key whose NEWEST driver row is red is red even if an older
    round passed; rows-only rows report their most recent round."""
    _ledger(tmp_path, 1, {
        "a": {"hash_match": True},
        "b": {"hash_match": True},
        "c": {"err": "no_oracle", "spark_rows": 5},
    })
    _ledger(tmp_path, 2, {
        "b": {"hash_match": False},
        "c": {"err": "no_oracle", "spark_rows": 5},
        "d": {"err": "boom", "spark_rows": None},
    })
    assert D.latest_rows(str(tmp_path)) == {
        "a": (1, "hash"), "b": (2, "red"), "c": (2, "rows_only"), "d": (2, "red"),
    }


def test_red_key_goes_first(tmp_path):
    keys = list(QUERIES)
    _ledger(tmp_path, 1, {k: {"hash_match": True} for k in keys})
    _ledger(tmp_path, 2, {keys[-1]: {"hash_match": False}})
    _stamp_file(tmp_path, D.fingerprints(QUERIES, ORACLES), rnd=2)
    assert D.order(QUERIES, ORACLES, str(tmp_path))[0] == keys[-1]


def test_changed_fingerprint_enters_the_window(tmp_path):
    """The key with the newest green row sorts last, unless its code
    changed since that row was stamped."""
    keys = list(QUERIES)
    fresh = keys[0]
    _ledger(tmp_path, 1, {k: {"hash_match": True} for k in keys})
    _ledger(tmp_path, 2, {fresh: {"hash_match": True}})
    stamps = D.fingerprints(QUERIES, ORACLES)
    _stamp_file(tmp_path, stamps, rnd=2)
    assert D.order(QUERIES, ORACLES, str(tmp_path))[-1] == fresh
    _stamp_file(tmp_path, {**stamps, fresh: "stale"}, rnd=2)
    assert fresh in D.order(QUERIES, ORACLES, str(tmp_path))[:WINDOW]


def test_fingerprint_follows_helper_edits(tmp_path, monkeypatch):
    """Editing a helper re-fingerprints the queries that call it and
    no others."""
    src = tmp_path / "mini_registry.py"
    template = (
        "def _h1():\n    return {}\n\n\ndef _h2():\n    return 2\n\n\n"
        "def q1():\n    return _h1()\n\n\ndef q2():\n    return _h2()\n"
    )
    monkeypatch.syspath_prepend(str(tmp_path))

    def fingerprints(h1_body):
        src.write_text(template.format(h1_body))
        linecache.checkcache(str(src))
        sys.modules.pop("mini_registry", None)
        import mini_registry as m

        return D.fingerprints({"q1": m.q1, "q2": m.q2}, {})

    before, after = fingerprints(1), fingerprints(10)
    assert before["q1"] != after["q1"]
    assert before["q2"] == after["q2"]


def test_stamp_records_green_keys_of_new_ledgers(tmp_path):
    """A rows-only row certifies only a key without an oracle."""
    with_oracle = next(k for k in QUERIES if k in ORACLES)
    rows_only = next(k for k in QUERIES if k not in ORACLES)
    red = next(k for k in QUERIES if k not in (with_oracle, rows_only))
    no_oracle_row = {"err": "no_oracle", "spark_rows": 3}
    _ledger(tmp_path, 3, {
        with_oracle: no_oracle_row, rows_only: no_oracle_row, red: {"hash_match": False},
    })
    D.stamp(str(tmp_path))
    stamps = D.load_stamps(str(tmp_path))
    assert stamps["round"] == 3
    assert stamps["fingerprints"] == {
        rows_only: D.fingerprints({rows_only: QUERIES[rows_only]}, ORACLES)[rows_only]
    }


def test_contract_is_a_permutation_of_the_registry():
    order = list(E.queries())
    assert sorted(order) == sorted(QUERIES) and len(order) == len(QUERIES)
    oracles = list(E.oracle_sql())
    assert set(oracles) <= set(order)
    assert oracles == [k for k in order if k in ORACLES]


def test_import_keeps_registration_order_and_reads_no_ledger():
    with open(os.path.join(ROOT, "php_etl_spark", "queries.py")) as f:
        registered = re.findall(r'^@query\(\s*"([^"]+)"', f.read(), re.M)
    assert list(QUERIES) == registered
    probe = (
        "import builtins, sys\n"
        "opened = []\n"
        "real = builtins.open\n"
        "def spy(file, *a, **k):\n"
        "    opened.append(str(file))\n"
        "    return real(file, *a, **k)\n"
        "builtins.open = spy\n"
        "import php_etl_spark.queries\n"
        "builtins.open = real\n"
        "print([p for p in opened if 'CORRECTNESS_r' in p or p.endswith('FINGERPRINTS.json')])\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().splitlines()[-1] == "[]"


def test_stamp_file_covers_the_newest_ledger():
    """A landed ledger must be stamped, or keys it certifies keep
    taking window slots and keys it leaves stale go unnoticed."""
    newest = max(rnd for rnd, _ in D.latest_rows().values())
    assert D.load_stamps()["round"] >= newest, (
        f"CORRECTNESS_r{newest:02d}.json is newer than {D.STAMPS}: run "
        "`python -c 'from php_etl_spark.driver_order import stamp; stamp()'` "
        "and commit the file"
    )


def test_uncertified_keys_lead_the_real_window():
    """On the committed ledgers and stamp file, every red or
    re-fingerprinted key comes before every certified one, and the keys
    rewritten after their last green row are in the first window."""
    last, stamps = D.latest_rows(), D.load_stamps()["fingerprints"]
    current = D.fingerprints(QUERIES, ORACLES)
    uncertified = {
        k for k in QUERIES
        if last.get(k, (0, ""))[1] == "red" or stamps.get(k) != current[k]
    }
    order = list(E.queries())
    assert set(order[: len(uncertified)]) == uncertified
    if D.load_stamps()["round"] == 14:
        assert set(REWRITTEN) <= set(order[:WINDOW])
