"""The order in which the driver contract lists the registry.

The verification driver checks a bounded window at the head of
``__spark_entry__.queries()`` and leaves its verdicts in the repo root
as ``CORRECTNESS_r<N>.json`` ledgers. ``FINGERPRINTS.json`` next to
them records, per key, the source fingerprint its last green row
certified. ``order()`` lists first the keys those verdicts no longer
cover:

1. keys whose newest ledger row is red;
2. keys whose fingerprint differs from the stamped one, or has none;
3. the rest: oldest verdict first (never checked counts as round 0),
   oracle-backed before rows-only, then registration order.

Run ``stamp()`` once each time a ledger lands.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import inspect
import json
import linecache
import os
import re
import types

_PKG = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(_PKG)
STAMPS = "FINGERPRINTS.json"


def latest_rows(root: str = ROOT) -> dict[str, tuple[int, str]]:
    """key -> (round, status) of its newest ledger row, where status is
    ``hash`` (hash-matched its oracle), ``rows_only`` (clean run of a
    key without an oracle) or ``red``. Latest row wins, so a key whose
    newest row is red is red even if an older round passed."""
    last: dict[str, tuple[int, str]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            rows = json.load(f)
        rnd = int(m.group(1))
        for key, row in rows.items():
            if row.get("hash_match") is True:
                status = "hash"
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                status = "rows_only"
            else:
                status = "red"
            if rnd >= last.get(key, (0, ""))[0]:
                last[key] = (rnd, status)
    return last


def order(queries: dict, oracles: dict, root: str = ROOT) -> list[str]:
    """The registry keys in driver order (see the module docstring);
    plain registration order when no ledger is present."""
    last = latest_rows(root)
    if not last:
        return list(queries)
    stamped = load_stamps(root)["fingerprints"]
    current = fingerprints(queries, oracles)

    def rank(key):  # a stable sort keeps registration order among ties
        rnd, status = last.get(key, (0, ""))
        return (status != "red", stamped.get(key) == current[key], rnd, key not in oracles)

    return sorted(queries, key=rank)


def load_stamps(root: str = ROOT) -> dict:
    path = os.path.join(root, STAMPS)
    if not os.path.exists(path):
        return {"round": 0, "fingerprints": {}}
    with open(path) as f:
        return json.load(f)


def stamp(root: str = ROOT) -> None:
    """Stamp the current fingerprint of every key that went green in a
    ledger newer than the stamp file's round. A rows-only row counts
    as green only for a key that still has no oracle."""
    from php_etl_spark.queries import ORACLES, QUERIES

    stamps, last = load_stamps(root), latest_rows(root)
    current = fingerprints(QUERIES, ORACLES)
    for key, (rnd, status) in last.items():
        green = status == "hash" or (status == "rows_only" and key not in ORACLES)
        if green and rnd > stamps["round"] and key in current:
            stamps["fingerprints"][key] = current[key]
    stamps["round"] = max([stamps["round"], *(rnd for rnd, _ in last.values())])
    with open(os.path.join(root, STAMPS), "w") as f:
        json.dump(stamps, f, indent=1, sort_keys=True)
        f.write("\n")


def fingerprints(queries: dict, oracles: dict) -> dict[str, str]:
    """key -> sha256 over the query function's source, its oracle SQL,
    the source of each ``php_etl_spark`` module it imports or
    references, the constants it reads, and the same for each helper
    of its own module it calls, transitively. Helpers are hashed one
    function at a time, so editing one re-fingerprints only its
    callers."""
    file_sha = functools.cache(_file_sha)
    reads = functools.cache(lambda fn: _reads(fn, file_sha))
    out = {}
    for key, fn in queries.items():
        parts, todo, seen = set(), [fn], set()
        while todo:
            f = inspect.unwrap(todo.pop())
            if f not in seen:
                seen.add(f)
                own, helpers = reads(f)
                parts |= own
                todo += helpers
        out[key] = _sha("\n".join(sorted(parts)) + "\n" + oracles.get(key, ""))
    return out


def _reads(fn, file_sha) -> tuple[frozenset[str], tuple]:
    """(hashes of what ``fn`` itself depends on, the helpers it calls)."""
    codes = list(_codes(fn.__code__))
    names = {name for code in codes for name in code.co_names}
    # decorators through the end of the last expression: the same span
    # inspect.getsource finds, without tokenizing the module per call
    end = max(pos[1] or 0 for code in codes for pos in code.co_positions())
    lines = linecache.getlines(fn.__code__.co_filename)[fn.__code__.co_firstlineno - 1 : end]
    parts, helpers = {_sha("".join(lines))}, []
    for name in names:
        if name.startswith("php_etl_spark."):  # an import inside the body
            modules = [name, *(f"{name}.{n}" for n in names)]
            parts |= {file_sha(p) for p in map(_module_file, modules) if p}
        if name.startswith("__") or name not in fn.__globals__:
            continue
        obj = fn.__globals__[name]
        module = obj.__name__ if isinstance(obj, types.ModuleType) else getattr(obj, "__module__", None)
        if isinstance(obj, types.FunctionType) and module == fn.__module__:
            helpers.append(obj)
        elif isinstance(module, str) and module.startswith("php_etl_spark"):
            parts.add(file_sha(_module_file(module)))
        elif isinstance(obj, (str, int, float, tuple, list)):
            parts.add(_sha(repr(obj)))
    return frozenset(parts), tuple(helpers)


def _codes(code: types.CodeType):
    yield code
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            yield from _codes(const)


def _module_file(name: str) -> str | None:
    base = os.path.join(_PKG, *name.split(".")[1:])
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _file_sha(path: str) -> str:
    with open(path) as f:
        return _sha(f.read())


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()
