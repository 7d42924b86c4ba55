"""LLM data-pipeline operators over a generated corpus (the LLM half of
the ``analytics_llm`` workload, see mixed.py).

Ops of one pass: ``llm.text.quality_stats`` with ``llm.text.language_id``,
``llm.dedup.minhash_lsh_pairs`` over the corpus,
``streaming.events.run_dedup_ingest`` of the arriving batch against the
corpus, ``llm.similarity.brute_force_topk`` and
``llm.similarity.ann_topk_lsh``. Each result is written as parquet so
the check can read it after the timed region.

The check recomputes in Python/numpy: token counts and language ids,
the exact 3-gram Jaccard of every emitted pair and every rejected
arriving document, and the exact top-k. It reports ``dedup_recall``
(planted near-duplicates found, by both dedup paths, over planted) and
``topk_recall`` (mean overlap of the ANN ids with the exact ids, over k).
"""

from __future__ import annotations

import os
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.parquet as pq

import common
import gen

K = 10
THRESHOLD = 0.8
# generated sizes (see gen.gen_corpus)
SIZES = {"docs": 1500, "arriving": 200, "planted_pairs": 40, "planted_arriving": 25,
         "vectors": 2000, "queries": 16}
LANGS = {
    "en": ["the", "a", "of", "and", "is"],
    "fr": ["le", "la", "et", "des", "une"],
    "de": ["der", "die", "und", "nicht", "ein"],
    "es": ["el", "los", "y", "una", "que"],
}


def tokens(text: str) -> list[str]:
    return [t for t in re.sub(r"\s+", " ", text).strip().lower().split(" ") if t]


def shingles(text: str) -> set[str]:
    """Word 3-grams, the engine's default shingle for both dedup paths."""
    toks = tokens(text)
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def language(text: str) -> str:
    toks = tokens(text)
    scores = {lang: sum(t in m for t in toks) for lang, m in LANGS.items()}
    best = max(scores.values())
    if best == 0:
        return "und"
    return next(lang for lang, s in scores.items() if s == best)


def quantize(v: np.ndarray) -> np.ndarray:
    """Spark's round(x * 1e6) on the float's shortest decimal form."""
    flat = [
        int(Decimal(repr(float(x) * 1_000_000)).quantize(Decimal(1), ROUND_HALF_UP))
        for x in v.astype(np.float64).reshape(-1)
    ]
    return np.array(flat, dtype=np.int64).reshape(v.shape)


def exact_topk(emb_ids, emb, q_ids, q, k: int) -> dict[int, list[tuple[int, float]]]:
    """Reference for brute_force_topk: exact integer dots, cosine in
    double, order by cosine desc then neighbor id."""
    ev, qv = quantize(emb), quantize(q)
    en = np.sqrt((ev * ev).sum(axis=1).astype(np.float64))
    qn = np.sqrt((qv * qv).sum(axis=1).astype(np.float64))
    dots = (qv @ ev.T).astype(np.float64)
    out = {}
    for i, qid in enumerate(q_ids):
        cos = dots[i] / (qn[i] * en)
        order = sorted((j for j in range(len(emb_ids)) if emb_ids[j] != qid), key=lambda j: (-cos[j], emb_ids[j]))
        out[int(qid)] = [(int(emb_ids[j]), float(cos[j])) for j in order[:k]]
    return out


def read_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist() if os.path.isdir(path) else []


def ranked(rows: list[dict]) -> dict[int, list[tuple[int, float]]]:
    """Top-k rows -> {query_id: [(neighbor_id, cosine)] in rank order}."""
    out: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
    return out


class LlmCorpus:

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.data = os.path.join(work, "inputs", "corpus")
        self.out = os.path.join(work, "out")

    def generate(self) -> dict:
        self.props = gen.gen_corpus(self.seed, self.data, **SIZES)
        return {k: (len(v) if k == "planted_pairs" else v) for k, v in self.props.items()}

    def bind(self, spark) -> None:
        self.spark = spark

    def input_rows(self) -> int:
        return self.props["docs"] + self.props["arriving"]

    def _read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.data, f"{name}.parquet"))

    def _corpus(self):
        from pyspark.sql import functions as F

        return self._read("documents").filter(F.col("doc_id") <= self.props["corpus_max_id"])

    def _text(self):
        from php_etl_spark.llm import text

        df = self._corpus()
        lang = df.select("doc_id", text.language_id("text").alias("lang_id"))
        common.write_parquet(text.quality_stats(df).join(lang, "doc_id"), f"{self.out}/text")

    def _dedup(self):
        from php_etl_spark.llm import dedup

        common.write_parquet(dedup.minhash_lsh_pairs(self._corpus(), threshold=THRESHOLD), f"{self.out}/pairs")

    def _ingest(self):
        from php_etl_spark.streaming import events

        admitted = events.run_dedup_ingest(self.spark, self.data, self.props["corpus_max_id"], threshold=THRESHOLD)
        common.write_parquet(admitted.select("doc_id"), f"{self.out}/admitted")

    def _exact(self):
        from php_etl_spark.llm import similarity

        common.write_parquet(similarity.brute_force_topk(self._read("embeddings"), self._read("queries"), k=K), f"{self.out}/exact")

    def _ann(self):
        from php_etl_spark.llm import similarity

        df = similarity.ann_topk_lsh(self._read("embeddings"), self._read("queries"), k=K, dim=self.props["dim"])
        common.write_parquet(df, f"{self.out}/ann")

    def pass_ops(self):
        yield "text_stats", "llm.text", self._text
        yield "dedup_minhash", "llm.dedup", self._dedup
        yield "ingest_dedup", "streaming", self._ingest
        yield "topk_exact", "llm.similarity", self._exact
        yield "topk_ann", "llm.similarity", self._ann

    # -- output check ------------------------------------------------------

    def check(self) -> tuple[dict[str, str], dict]:
        docs = pq.read_table(os.path.join(self.data, "documents.parquet")).to_pydict()
        text = dict(zip(docs["doc_id"], docs["text"]))
        cmax = self.props["corpus_max_id"]
        corpus_ids = [d for d in text if d <= cmax]
        sh = {d: shingles(t) for d, t in text.items()}
        index: dict[str, list[int]] = {}
        for c in corpus_ids:
            for s in sh[c]:
                index.setdefault(s, []).append(c)

        def has_near_dup(d: int) -> bool:
            """Exact: some corpus document sharing a shingle with ``d``
            has Jaccard at least THRESHOLD with it."""
            cands = {c for s in sh[d] for c in index.get(s, ())}
            return any(jaccard(sh[d], sh[c]) >= THRESHOLD for c in cands)

        failures: dict[str, str] = {}
        stats = read_rows(f"{self.out}/text")
        if sorted(r["doc_id"] for r in stats) != corpus_ids or any(
            r["n_tokens"] != len(tokens(text[r["doc_id"]]))
            or r["lang_id"] != language(text[r["doc_id"]])
            for r in stats
        ):
            failures["text_stats"] = "doc ids, token counts or language ids differ from the reference"

        pairs = {(r["doc_a"], r["doc_b"]) for r in read_rows(f"{self.out}/pairs")}
        if any(a >= b or jaccard(sh[a], sh[b]) < THRESHOLD for a, b in pairs):
            failures["dedup_minhash"] = "an emitted pair is below the Jaccard threshold"
        planted = [tuple(p) for p in self.props["planted_pairs"]]
        found = sum(p in pairs for p in planted)

        arriving = {d for d in text if d > cmax}
        admitted = {r["doc_id"] for r in read_rows(f"{self.out}/admitted")}
        rejected = arriving - admitted
        if not admitted <= arriving:
            failures["ingest_dedup"] = "admitted a document that was not in the arriving batch"
        near_dups = {d for d in arriving if has_near_dup(d)}
        if not rejected <= near_dups:
            failures["ingest_dedup"] = "rejected a document with no near-duplicate in the corpus"
        caught = len(near_dups & rejected)

        emb = pq.read_table(os.path.join(self.data, "embeddings.parquet")).to_pydict()
        qs = pq.read_table(os.path.join(self.data, "queries.parquet")).to_pydict()
        ref = exact_topk(emb["vec_id"], np.array(emb["embedding"], np.float32),
                         qs["vec_id"], np.array(qs["embedding"], np.float32), K)
        exact = ranked(read_rows(f"{self.out}/exact"))
        ids = {q: [n for n, _ in v] for q, v in exact.items()}
        if ids != {q: [n for n, _ in v] for q, v in ref.items()} or any(
            abs(c - rc) > 1e-12 for q in ref for (_, c), (_, rc) in zip(exact[q], ref[q])
        ):
            failures["topk_exact"] = "top-k differs from the numpy reference"
        ann = ranked(read_rows(f"{self.out}/ann"))
        if any(len(v) > K for v in ann.values()) or not set(ann) <= set(ref):
            failures["topk_ann"] = "ANN returned more than k rows or an unknown query"
        recall = [len({n for n, _ in ann.get(q, [])} & {n for n, _ in v}) / K for q, v in ref.items()]
        return failures, {
            "dedup_recall": (found + caught) / (len(planted) + len(near_dups)),
            "topk_recall": sum(recall) / len(recall),
            "verified_pairs": len(pairs),
        }
