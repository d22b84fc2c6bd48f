"""llm_curate: corpus dedup, cleaning, chunking and vector search.

The corpus (``documents`` + 64-d ``embeddings``) is generated with planted
exact-copy and near-duplicate document pairs (``gen.make_corpus`` writes them
to ``truth.json``). Each cycle calls, in an order drawn from the
seed, the engine's operators directly:

- dedup: ``exact_dedup``; ``batch_near_dedup`` (MinHash signatures, LSH
  candidates, Jaccard verification, clustering);
- text: ``clean_text``, ``chunk_text``, ``search_terms_bm25`` (two terms);
- similarity: ``cosine_topk`` (exact) and ``ivf_topk`` (ANN) for seeded
  probe vectors.

Checks: ``exact_dedup`` counts against duckdb; ``cosine_topk`` and BM25
against numpy; ``clean_text`` and ``chunk_text`` against a Python replay of
their rules; the dedups may only remove documents of planted pairs, at most
one per pair. The share of planted pairs they remove is ``dup_recall``;
``ivf_topk`` against exact top-k is ``ann_recall_at_10``.
"""

from __future__ import annotations

import json
import math
import os
import random
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from harness import Op, Tracer, mean_or_zero, median_or_zero
from spark_iceberg_schema_evolution_spark.operators import dedup, similarity, text

K = 10
CHUNK, OVERLAP = 32, 8
_CTRL = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
_WS = re.compile("[ \t\n\x0b\x0c\r]+")


def _tokens(s: str) -> list[str]:
    """``dedup.normalized_words``: lower(trim(s)) split on \\s+."""
    return _WS.split(s.lower().strip(" "))


class LlmCurate:
    name = "llm_curate"
    # half the sf0.1 corpus: the operators' cost here is per-job and
    # per-plan, not per-row (sf0.1 added ~15% per cycle, sf0.02 saved ~5%)
    default_scale = 0.05

    def __init__(self, spark, tracer: Tracer, seed: int, scale: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.scale = scale
        self.dup_recall: list[float] = []
        self.ann_recall: list[float] = []
        # (verified pairs, share of them that are planted pairs) per call
        self.verified: list[tuple[int, float]] = []

    def prepare(self, work_dir: str) -> None:
        self.data_dir = os.path.join(work_dir, "corpus")
        self.paths = gen.make_corpus(self.data_dir, self.seed, self.scale)
        with open(self.paths["truth"]) as fh:
            truth = json.load(fh)
        self.text_pairs = [tuple(p) for p in truth["exact_pairs"] + truth["near_pairs"]]
        docs = pq.read_table(self.paths["documents"]).to_pydict()
        self.doc_ids = docs["doc_id"]
        self.texts = docs["text"]
        emb = pq.read_table(self.paths["embeddings"])
        self.vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
        probes = np.array(pq.read_table(self.paths["probes"])["embedding"].to_pylist(), dtype=np.float64)
        cn = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        qn = probes / np.linalg.norm(probes, axis=1, keepdims=True)
        scores = qn @ cn.T
        self.exact_topk = [
            sorted(range(len(row)), key=lambda j: (-row[j], j))[:K] for row in scores
        ]
        self.exact_scores = scores
        con = duckdb.connect()
        try:
            self.n_distinct = con.execute(
                f"SELECT COUNT(DISTINCT text) FROM read_parquet('{self.paths['documents']}')"
            ).fetchone()[0]
        finally:
            con.close()

    def _read(self, name: str):
        return self.spark.read.parquet(self.paths[name])

    # -- checks -------------------------------------------------------------

    def _removed_ok(self, kept_ids) -> bool:
        """Only members of planted pairs may go, at most one per pair."""
        pairs = self.text_pairs
        removed = set(self.doc_ids) - set(kept_ids)
        members = {d for p in pairs for d in p}
        one_each = all(not (a in removed and b in removed) for a, b in pairs)
        hit = sum(1 for a, b in pairs if a in removed or b in removed)
        self.dup_recall.append(hit / len(pairs))
        return removed <= members and one_each

    # -- operations ---------------------------------------------------------

    def _exact(self) -> Op:
        tr = self.tracer

        def fn():
            with tr.span("dedup.exact_dedup"):
                df = dedup.exact_dedup(self._read("documents"))
            with tr.span("consume"):
                n = df.count()
            return n

        return Op("exact_dedup", "transform", fn, lambda n: n == self.n_distinct)

    def _near(self) -> Op:
        tr = self.tracer

        def fn():
            with tr.span("dedup.batch_near_dedup", build=True):
                kept, pairs = dedup.batch_near_dedup(
                    self._read("documents"), threshold=0.7, return_pairs=True
                )
            with tr.span("consume"):
                ids = [r[0] for r in kept.select("doc_id").collect()]
                found = {(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()}
            return ids, found

        def check(out) -> bool:
            ids, found = out
            truth = {tuple(sorted(p)) for p in self.text_pairs}
            self.verified.append((len(found), len(found & truth) / max(1, len(found))))
            return self._removed_ok(ids)

        return Op("batch_near_dedup", "transform", fn, check)

    def _clean(self) -> Op:
        tr = self.tracer

        def fn():
            with tr.span("text.clean_text"):
                df = text.clean_text(self._read("documents"))
            with tr.span("consume"):
                rows = df.select("doc_id", "text").collect()
                tr.phases(df)
            return rows

        def check(rows) -> bool:
            got = dict(rows)
            return len(got) == len(self.texts) and all(
                got[i] == _WS.sub(" ", _CTRL.sub("", t)).strip(" ")
                for i, t in zip(self.doc_ids, self.texts)
            )

        return Op("clean_text", "transform", fn, check)

    def _chunk(self) -> Op:
        tr = self.tracer

        def fn():
            with tr.span("text.chunk_text"):
                df = text.chunk_text(self._read("documents"), chunk_tokens=CHUNK, overlap=OVERLAP)
            with tr.span("consume"):
                row = df.agg(F.count(F.lit(1)), F.sum("n_tokens")).collect()[0]
            return tuple(row)

        def check(out) -> bool:
            stride = CHUNK - OVERLAP
            n = 0
            for t in self.texts:
                w = len(_tokens(t))
                n += max(math.ceil((w - OVERLAP) / stride), 1)
            return out[0] == n

        return Op("chunk_text", "transform", fn, check)

    def _bm25(self, rng: random.Random) -> Op:
        terms = rng.sample(gen.VOCAB, 2)
        tr = self.tracer

        def fn():
            with tr.span("text.search_terms_bm25"):
                df = text.search_terms_bm25(self._read("documents"), terms)
                top = df.orderBy(F.col("score").desc(), "doc_id").limit(K).select("doc_id", "score")
            with tr.span("consume"):
                rows = top.collect()
                tr.phases(top)
            return [(r[0], r[1]) for r in rows]

        def check(rows) -> bool:
            toks = [[w for w in _tokens(t) if w != ""] for t in self.texts]
            dl = np.array([len(t) for t in toks], dtype=np.float64)
            n, avgdl = len(toks), dl.sum() / len(toks)
            score = np.zeros(n)
            hit = np.zeros(n, dtype=bool)
            for term in sorted(terms):
                tf = np.array([t.count(term) for t in toks], dtype=np.float64)
                dfreq = float((tf > 0).sum())
                idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
                score += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                hit |= tf > 0
            order = sorted(np.flatnonzero(hit), key=lambda i: (-score[i], self.doc_ids[i]))[:K]
            return [r[0] for r in rows] == [self.doc_ids[i] for i in order] and all(
                abs(r[1] - score[i]) < 1e-9 for r, i in zip(rows, order)
            )

        return Op("bm25", "read", fn, check)

    def _topk(self, ann: bool) -> Op:
        tr = self.tracer
        name = "ivf_topk" if ann else "cosine_topk"

        def fn():
            corpus, probes = self._read("embeddings"), self._read("probes")
            with tr.span(f"similarity.{name}"):
                if ann:
                    df = similarity.ivf_topk(corpus, probes, k=K, num_centroids=16, n_probe=3)
                else:
                    df = similarity.cosine_topk(corpus, probes, k=K)
            with tr.span("consume"):
                rows = df.select("query_id", "vec_id", "score").collect()
                tr.phases(df)
            got: dict[int, list] = {}
            for q, v, s in sorted(rows, key=lambda r: (r[0], -r[2], r[1])):
                got.setdefault(q, []).append((v, s))
            return got

        def check(got) -> bool:
            ok = True
            hits = 0
            for q, exact in enumerate(self.exact_topk):
                res = got.get(q, [])
                ids = [v for v, _ in res]
                hits += len(set(ids) & set(exact))
                # ANN may return fewer than K when its probed cells are small
                ok &= len(set(ids)) == len(ids) <= K and all(
                    abs(s - self.exact_scores[q][v]) < 1e-9 for v, s in res
                )
                if not ann:
                    ok &= ids == exact
            if ann:
                self.ann_recall.append(hits / (K * len(self.exact_topk)))
            return ok

        return Op(name, "read", fn, check)

    def cycle(self, i: int) -> list[Op]:
        rng = random.Random(f"{self.seed}/curate/{i}")
        ops = [
            self._exact(), self._near(),
            self._clean(), self._chunk(), self._bm25(rng),
            self._topk(False), self._topk(True),
        ]
        rng.shuffle(ops)
        return ops

    # -- results ------------------------------------------------------------

    def final_check(self) -> list[str]:
        return []

    def stored_bytes_per_live_row(self) -> float:
        size = sum(os.path.getsize(self.paths[k]) for k in ("documents", "embeddings"))
        return size / (len(self.doc_ids) + len(self.vecs))

    def extra_metrics(self) -> dict:
        return {
            "dup_recall": mean_or_zero(self.dup_recall),
            "ann_recall_at_10": mean_or_zero(self.ann_recall),
        }

    def layer_metrics(self, errors: list[str]) -> dict:
        spans = self.tracer.spans

        def op_s(name):
            return median_or_zero(s.t1 - s.t0 for s in spans if s.name == f"op.{name}")

        builds = [s for s in spans if s.attrs.get("build")]
        return {
            "dedup.exact_dedup_s": op_s("exact_dedup"),
            "dedup.near_dedup_s": op_s("batch_near_dedup"),
            "dedup.build_s": median_or_zero(s.t1 - s.t0 for s in builds),
            "dedup.build_jobs": mean_or_zero(s.spark.get("jobs", 0) for s in builds),
            "dedup.verified_pairs": mean_or_zero(n for n, _ in self.verified),
            "dedup.pair_precision": mean_or_zero(p for _, p in self.verified),
            "similarity.cosine_topk_s": op_s("cosine_topk"),
            "similarity.ivf_topk_s": op_s("ivf_topk"),
            "text.clean_text_s": op_s("clean_text"),
            "text.chunk_text_s": op_s("chunk_text"),
            "text.bm25_s": op_s("bm25"),
        }
