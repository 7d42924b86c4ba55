"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory, writes parquet
with pyarrow only (no Spark), and returns a dict of the properties it
generated: row counts, duplicate and trailing-space key shares, change
rate per batch, files per table, planted pairs, clusters. The same seed
gives byte-identical files; the engine only ever sees the files.

- ``gen_cnss``: CNSS-style migration sources (FIXTURES.md section B)
  with an initial load and ``batches`` incremental batches.
- ``gen_star``: the TPC-H-like star schema plus ``events`` that the
  query registry reads (FIXTURES.md section A), at a chosen scale.
- ``gen_corpus``: a document corpus with planted near-duplicate pairs
  and one hot shingle, an arriving batch, and clustered embeddings
  with held-out query vectors.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)


def _write(table: pa.Table, path: str) -> int:
    """Write one parquet file with fixed options; returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    a = (dt.date.fromisoformat(lo) - EPOCH).days
    b = (dt.date.fromisoformat(hi) - EPOCH).days
    return rng.integers(a, b, n).astype("int32")


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    return pa.array(_days(rng, n, lo, hi), pa.date32())


def _with_nulls(rng: np.random.Generator, values: list, share: float) -> list:
    mask = rng.random(len(values)) < share
    return [None if m else v for v, m in zip(values, mask)]


def _pick(rng: np.random.Generator, choices: list, n: int) -> list:
    return [choices[i] for i in rng.integers(0, len(choices), n)]


# --------------------------------------------------------------------------
# etl_migrate: CNSS-style sources
# --------------------------------------------------------------------------

CNSS_TABLES = ["employeurs", "assures", "carriere_assures", "conjoints", "assure_conjoints"]
_FIRST = ["Kofi", "Ama", "Yao", "Afi", "Kossi", "Akossiwa", "Komla", "Abla", "Edem", "Sena"]
_LAST = ["Mensah", "Agbeko", "Amouzou", "Kpodar", "Lawson", "Tchalla", "Adjo", "Gbeze"]
_CITY = ["Lome", "Kara", "Sokode", "Atakpame", "Kpalime", "Dapaong", "Tsevie"]
_STATUS = ["ACTIF", "INACTIF", "SUSPENDU", "RETRAITE"]


# shares of the generated CNSS sources
DUP_SHARE = 0.04  # duplicate keys in the initial load
SPACE_SHARE = 0.03  # keys written with trailing spaces
NULL_SHARE = 0.08  # nulls in optional columns
CHANGE_RATE = 0.05  # rows per batch, as a share of the initial rows
FILES_INITIAL = 2  # files per table in the initial load


class _Keys:
    """Key stream for one table: fresh keys, duplicates of earlier keys
    (the later copy is a changed row), and a share of keys written with
    trailing spaces. Duplicates always come later in ``src_seq``."""

    def __init__(self, rng, prefix):
        self.rng, self.prefix = rng, prefix
        self.issued: list[int] = []

    def take(self, n: int, dup_share: float) -> list[str]:
        keys = []
        dup = self.rng.random(n) < dup_share
        pad = self.rng.random(n) < SPACE_SHARE
        for i in range(n):
            if dup[i] and self.issued:
                k = self.issued[int(self.rng.integers(0, len(self.issued)))]
            else:
                k = len(self.issued)
                self.issued.append(k)
            s = f"{self.prefix}{k:07d}"
            keys.append(s + " " * int(self.rng.integers(1, 4)) if pad[i] else s)
        return keys


def gen_cnss(seed: int, out_dir: str, assures: int, batches: int) -> dict:
    """CNSS-style sources under ``out_dir/batch<b>/<table>/part-<b>-<j>.parquet``.

    Batch 0 is the initial load (``FILES_INITIAL`` files per table);
    batches 1..``batches`` each add one file per table holding
    ``CHANGE_RATE`` x initial rows: half new keys, half changed rows of
    existing keys. Every row carries ``src_seq``, a global arrival
    order, which the pipeline spec uses as its first-wins order."""
    rng = np.random.default_rng([seed, 1])
    n_emp = max(50, assures // 10)
    sizes0 = {
        "employeurs": n_emp,
        "assures": assures,
        "carriere_assures": assures * 2,
        "conjoints": assures // 3,
        "assure_conjoints": assures // 3,
    }
    keys = {
        "employeurs": _Keys(rng, "EMP"),
        "assures": _Keys(rng, "AS"),
        "conjoints": _Keys(rng, "CJ"),
    }
    seq = [0]

    def next_seq(n):
        s = np.arange(seq[0], seq[0] + n, dtype=np.int64)
        seq[0] += n
        return pa.array(s)

    def emp_ref(n):
        ids = rng.integers(0, max(1, len(keys["employeurs"].issued)), n)
        return [f"EMP{i:07d}" for i in ids]

    def as_ref(n, miss_share=0.0):
        hi = max(1, len(keys["assures"].issued))
        ids = rng.integers(0, hi, n)
        miss = rng.random(n) < miss_share
        return [f"AS{(i + 9_000_000) if m else i:07d}" for i, m in zip(ids, miss)]

    def make(table: str, n: int, dup_share: float) -> pa.Table:
        if table == "employeurs":
            k = keys[table].take(n, dup_share)
            names = [f"ETS {c} {i % 97}" for c, i in zip(_pick(rng, _CITY, n), rng.integers(0, 10_000, n))]
            tel = rng.integers(0, 4, n)
            addr = [
                f"{c} TEL 22{p:06d}" if t else ("TEL 22000000" if p % 2 else c)
                for c, p, t in zip(_pick(rng, _CITY, n), rng.integers(0, 999_999, n), tel)
            ]
            return pa.table({
                "numero_employeur": k,
                "raison_sociale": names,
                "adresse": _with_nulls(rng, _pick(rng, _CITY, n), NULL_SHARE),
                "address": addr,
                "src_seq": next_seq(n),
            })
        if table == "assures":
            k = keys[table].take(n, dup_share)
            return pa.table({
                "numero_assure": k,
                "type_assure": pa.array(rng.integers(1, 4, n).astype("int32")),
                "nom": _pick(rng, _LAST, n),
                "prenoms": _with_nulls(rng, _pick(rng, _FIRST, n), NULL_SHARE),
                "sexe": _with_nulls(rng, _pick(rng, ["M", "F"], n), NULL_SHARE),
                "date_naissance": _dates(rng, n, "1940-01-01", "2004-12-31"),
                "lieu_naissance": _with_nulls(rng, _pick(rng, _CITY, n), NULL_SHARE),
                "code_pays_nationalite": _pick(rng, ["TG", "TG", "TG", "BJ", "GH"], n),
                "date_immatriculation": _dates(rng, n, "1975-01-01", "2024-12-31"),
                "etat_assure": _pick(rng, _STATUS, n),
                "code_etat_handicap": _pick(rng, ["O", "o", "N", "N", None], n),
                "tel": _with_nulls(rng, [f"+228 9{x:07d}" for x in rng.integers(0, 9_999_999, n)], NULL_SHARE),
                "email": _with_nulls(rng, [f"user{x}@mail.tg" for x in rng.integers(0, 10**6, n)], 0.3),
                "adresse": _with_nulls(rng, _pick(rng, _CITY, n), NULL_SHARE),
                "numero_employeur_actuel": _with_nulls(rng, emp_ref(n), NULL_SHARE),
                "date_embauche": _dates(rng, n, "1990-01-01", "2024-12-31"),
                "src_seq": next_seq(n),
            })
        if table == "carriere_assures":
            ent = _days(rng, n, "1990-01-01", "2020-12-31")
            left = ent + rng.integers(30, 6000, n).astype("int32")
            out = pa.array(left, pa.date32(), mask=rng.random(n) < 0.4)
            return pa.table({
                "numero_assure": as_ref(n),
                "numero_employeur": _with_nulls(rng, emp_ref(n), NULL_SHARE),
                "date_entree": pa.array(ent, pa.date32()),
                "date_sortie": out,
                "src_seq": next_seq(n),
            })
        if table == "conjoints":
            k = keys[table].take(n, dup_share)
            return pa.table({
                "numero_conjoint": k,
                "prenoms": _pick(rng, _FIRST, n),
                "nom": _pick(rng, _LAST, n),
                # 'X' violates the spec's in_set rule and is quarantined
                "sexe": _with_nulls(rng, _pick(rng, ["M", "F", "F", "M", "X"], n), NULL_SHARE),
                "date_naissance": _dates(rng, n, "1945-01-01", "2005-12-31"),
                "etat_conjoint": _pick(rng, ["VIVANT", "DECEDE"], n),
                "src_seq": next_seq(n),
            })
        if table == "assure_conjoints":
            hi = max(1, len(keys["conjoints"].issued))
            return pa.table({
                "numero_conjoint": [f"CJ{i:07d}" for i in rng.integers(0, hi, n)],
                "numero_assure": as_ref(n, miss_share=0.05),
                "date_lien": _dates(rng, n, "1970-01-01", "2024-12-31"),
                "type_lien": pa.array(rng.integers(0, 4, n).astype("int32")),
                "src_seq": next_seq(n),
            })
        raise ValueError(table)

    files: dict[str, list[tuple[int, str]]] = {t: [] for t in CNSS_TABLES}
    rows = {t: 0 for t in CNSS_TABLES}
    total_bytes = 0
    for b in range(batches + 1):
        for t in CNSS_TABLES:
            if b == 0:
                parts = np.array_split(np.arange(sizes0[t]), FILES_INITIAL)
                counts = [len(p) for p in parts]
            else:
                counts = [max(1, int(sizes0[t] * CHANGE_RATE))]
            for j, n in enumerate(counts):
                # a batch holds half new keys, half changed rows of existing keys
                tbl = make(t, n, 0.5 if b > 0 else DUP_SHARE)
                rel = os.path.join(f"batch{b}", t, f"part-{b:03d}-{j:02d}.parquet")
                total_bytes += _write(tbl, os.path.join(out_dir, rel))
                files[t].append((b, rel))
                rows[t] += n
    return {
        "dir": out_dir,
        "tables": CNSS_TABLES,
        "files": files,
        "rows": rows,
        "source_rows": sum(rows.values()),
        "source_bytes": total_bytes,
        "batches": batches,
        "change_rate": CHANGE_RATE,
        "dup_key_share": DUP_SHARE,
        "trailing_space_key_share": SPACE_SHARE,
        "null_share": NULL_SHARE,
        "files_initial": FILES_INITIAL,
    }


# --------------------------------------------------------------------------
# analytics_llm, analytics half: star schema + events
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _cents(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _ts_us(rng, n, lo: str, hi: str, day_grain: bool) -> pa.Array:
    a = int(dt.datetime.fromisoformat(lo).timestamp()) * 10**6
    b = int(dt.datetime.fromisoformat(hi).timestamp()) * 10**6
    v = rng.integers(a, b, n)
    if day_grain:
        v -= v % (86_400 * 10**6)
    return pa.array(v, pa.timestamp("us"))


def gen_star(seed: int, out_dir: str, sf: float) -> dict:
    """Star schema at scale factor ``sf`` (sf 0.1 ~ 600k lineitem rows),
    one parquet file per table, ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": _cents(rng, n_cust, -999, 9999),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": _cents(rng, n_supp, -999, 9999),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{a} {b}" for a, b in zip(
                _pick(rng, ["blue", "red", "hot", "cold", "small"], n_part),
                _pick(rng, ["ring", "plate", "gear", "rod", "bolt", "anvil"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, n_ord, 1000, 500_000),
            "o_orderdate": _ts_us(rng, n_ord, "1995-01-01", "2001-08-01", True),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
    }
    per_order = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(okeys)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1)
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(lineno.astype("int32")),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, n_li, 900, 2100), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts_us(rng, n_li, "1995-01-02", "2001-11-04", True),
    })
    ev_ts = np.sort(_ts_us(rng, n_ev, "2024-01-01", "2024-01-31", False).to_numpy())
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 60), n_ev).astype("int64")),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _cents(rng, n_ev, 0, 50),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    rows, nbytes = {}, 0
    for name, tbl in tables.items():
        nbytes += _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return {"sf": sf, "rows": rows, "bytes": nbytes}


# --------------------------------------------------------------------------
# analytics_llm, LLM half: documents, planted near-duplicates, embeddings
# --------------------------------------------------------------------------

HOT_PHRASE = "read more here"
HOT_SHARE = 0.2  # documents holding HOT_PHRASE
VOCAB = 3000  # distinct words, drawn Zipf-like
CLUSTERS = 16  # Gaussian clusters of the embeddings
DIM = 32  # embedding dimension
SPREAD = 0.8  # per-coordinate standard deviation around a cluster center
_MARKERS = ["the", "a", "of", "and", "is", "le", "la", "et", "der", "und", "el", "que"]


def gen_corpus(
    seed: int,
    out_dir: str,
    docs: int,
    arriving: int,
    planted_pairs: int,
    planted_arriving: int,
    vectors: int,
    queries: int,
) -> dict:
    """``<out_dir>/documents.parquet`` holds ``docs`` corpus documents
    (ids < ``docs``) followed by ``arriving`` new ones (the ingest
    batch). ``planted_pairs`` corpus documents are copies of earlier
    corpus documents with one word replaced (3-gram Jaccard ~0.9);
    ``planted_arriving`` arriving documents are such copies of corpus
    documents. ``HOT_PHRASE`` (one shared shingle) appears in a
    ``HOT_SHARE`` of documents. ``embeddings.parquet`` holds
    ``vectors`` clustered vectors and ``queries.parquet`` the
    held-out query vectors, drawn from the same ``CLUSTERS`` Gaussian
    clusters (unit-variance centers, per-coordinate ``SPREAD``)."""
    rng = np.random.default_rng([seed, 3])
    words = []
    for i in range(VOCAB):
        ln = 3 + i % 6
        words.append("".join(chr(97 + c) for c in rng.integers(0, 26, ln)) + str(i % 7))
    probs = 1.0 / np.arange(1, VOCAB + 1) ** 0.9
    probs /= probs.sum()

    def fresh_doc() -> list[str]:
        n = int(rng.integers(40, 120))
        toks = [words[w] for w in rng.choice(VOCAB, n, p=probs)]
        for pos in rng.integers(0, n, 4):
            toks[pos] = _MARKERS[int(rng.integers(0, len(_MARKERS)))]
        if rng.random() < HOT_SHARE:
            at = int(rng.integers(0, n))
            toks[at:at] = HOT_PHRASE.split()
        return toks

    def near_copy(toks: list[str]) -> list[str]:
        out = list(toks)
        out[int(rng.integers(0, len(out)))] = "zz" + words[int(rng.integers(0, VOCAB))]
        return out

    total = docs + arriving
    texts: list[list[str]] = [None] * total  # type: ignore[list-item]
    planted: list[tuple[int, int]] = []
    plant_at = set(rng.choice(np.arange(docs // 2, docs), planted_pairs, replace=False).tolist())
    arrive_at = set(rng.choice(np.arange(docs, total), planted_arriving, replace=False).tolist())
    for i in range(total):
        if i in plant_at:
            src = int(rng.integers(0, docs // 2))
            texts[i] = near_copy(texts[src])
            planted.append((src, i))
        elif i in arrive_at:
            src = int(rng.integers(0, docs))
            texts[i] = near_copy(texts[src])
        else:
            texts[i] = fresh_doc()
    body = [" ".join(t) for t in texts]
    doc_tbl = pa.table({
        "doc_id": pa.array(np.arange(total, dtype=np.int64)),
        "text": body,
        "lang": _pick(rng, ["en", "fr", "de", "es"], total),
        "source": [f"src{i % 13}" for i in range(total)],
        "n_chars": pa.array([len(b) for b in body], pa.int64()),
    })
    centers = rng.normal(0.0, 1.0, (CLUSTERS, DIM))

    def draw(n):
        lab = rng.integers(0, CLUSTERS, n)
        v = centers[lab] + rng.normal(0.0, SPREAD, (n, DIM))
        return v.astype(np.float32), lab.astype(np.int32)

    vec, lab = draw(vectors)
    qvec, qlab = draw(queries)

    def emb_table(ids, v, lbl):
        flat = pa.array(v.reshape(-1), pa.float32())
        offs = pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32))
        return pa.table({
            "vec_id": pa.array(ids),
            "embedding": pa.ListArray.from_arrays(offs, flat),
            "label": pa.array(lbl),
        })

    nbytes = _write(doc_tbl, os.path.join(out_dir, "documents.parquet"))
    nbytes += _write(
        emb_table(np.arange(vectors, dtype=np.int64), vec, lab),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    nbytes += _write(
        emb_table(np.arange(10**6, 10**6 + queries, dtype=np.int64), qvec, qlab),
        os.path.join(out_dir, "queries.parquet"),
    )
    return {
        "docs": docs,
        "arriving": arriving,
        "corpus_max_id": docs - 1,
        "planted_pairs": sorted(planted),
        "planted_arriving": planted_arriving,
        "hot_phrase": HOT_PHRASE,
        "hot_share": HOT_SHARE,
        "vectors": vectors,
        "queries": queries,
        "clusters": CLUSTERS,
        "spread": SPREAD,
        "dim": DIM,
        "bytes": nbytes,
    }
