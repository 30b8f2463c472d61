"""``curation_batch``: one curation pass over a seeded corpus.

A pass runs exact dedup, MinHash-LSH and SimHash near-duplicate search
over the documents, and exact (``cosine_topk``) and IVF-SQ8
(``ivfsq_topk``) top-10 search for a seeded sample of the embeddings.
Its work is pair-generating shuffles and array expressions, with no
sinks. The injected duplicates and the exact search give the pass a
recall to keep, so a faster but lossier operator does not pass as a gain.
"""
from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import functions as F

from mgo_liveagent_data_pipeline_spark.operators.annsearch import cosine_topk, ivfsq_topk
from mgo_liveagent_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    release_intermediates,
    simhash_near_dup,
)
from mgo_liveagent_data_pipeline_spark.sources.tables import load_table

from .common import Ctx, median, tree_cpu_s

INPUTS = ("corpus",)
K = 10
# below the lowest recall the current operators reached over forty seeds
# (perfbench/README.md), by the margin a seed's own draw needs: with 150
# injected pairs near-duplicate recall moves by about 0.02 from seed to
# seed. A pass below either floor fails its check.
NEAR_DUP_RECALL_FLOOR = 0.84
ANN_RECALL_FLOOR = 0.95
STEPS = (
    ("exact", "operators.dedup"),
    ("minhash_lsh", "operators.dedup"),
    ("simhash_near_dup", "operators.dedup"),
    ("cosine_topk", "operators.annsearch"),
    ("ivfsq_topk", "operators.annsearch"),
)


class Workload:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.m = ctx.manifest["corpus"]
        self.dir = os.path.join(ctx.data_dir, "corpus")

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        release_intermediates()

    def _plans(self) -> dict:
        spark = self.ctx.spark
        docs = load_table(spark, self.dir, "documents")
        emb = load_table(spark, self.dir, "embeddings")
        queries = emb.where(F.col("vec_id").isin(self.m["ann_queries"])).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return {
            "exact": lambda: exact_dedup(docs, "text", "doc_id"),
            "minhash_lsh": lambda: minhash_lsh_dedup(docs, "text", "doc_id"),
            "simhash_near_dup": lambda: simhash_near_dup(docs, "text", "doc_id"),
            "cosine_topk": lambda: cosine_topk(emb, queries, k=K, query_key="query_id"),
            "ivfsq_topk": lambda: ivfsq_topk(emb, queries, k=K, query_key="query_id"),
        }

    def one_pass(self) -> dict:
        tr = self.ctx.tracer
        plans = self._plans()
        rec = {"step_s": {}, "out": {}}
        cpu0, t_pass = tree_cpu_s(), time.perf_counter()
        for name, layer in STEPS:
            with tr.span(f"{layer}.{name}", layer):
                t0 = time.perf_counter()
                rec["out"][name] = self.ctx.attempt(name, lambda: plans[name]().toArrow())
                rec["step_s"][name] = time.perf_counter() - t0
        rec["s"] = time.perf_counter() - t_pass
        rec["cpu_s"] = tree_cpu_s() - cpu0
        release_intermediates()
        return rec

    def warmup(self, traced: bool) -> None:
        """None for the timed run: a curation batch is one pass in a fresh
        session, and its user pays the session's first-pass costs every
        time. The traced run compares warm passes, so it warms up."""
        if traced:
            self.one_pass()

    def measure(self, seconds: float, traced: bool) -> list[dict]:
        """One pass, however long it takes; with ``traced`` a plain pass
        and then a traced one."""
        recs = []
        for traced_pass in ((False, True) if traced else (False,)):
            self.ctx.tracer.begin(len(recs), traced_pass)
            rec = self.one_pass()
            rec["traced"] = traced_pass
            recs.append(rec)
        for rec in recs:
            rec.update(self.quality(rec), n_docs=self.m["n_docs"])
        return recs

    def quality(self, rec: dict) -> dict:
        out = rec["out"]
        q = {"dup_recall": 0.0, "near_dup_recall": 0.0, "ann_recall_at_10": 0.0,
             "pairs_out": 0}
        if any(out[s] is None for s, _ in STEPS):
            return q
        groups = {
            (h, k): n for h, k, n in zip(
                out["exact"].column("content_hash").to_pylist(),
                out["exact"].column("keep_id").to_pylist(),
                out["exact"].column("n_copies").to_pylist(),
            )
        }
        texts = self._texts()
        exact_found = sum(
            groups.get((hashlib.md5(texts[a].encode()).hexdigest(), min(a, b)), 0) >= 2
            for a, b in self.m["exact_pairs"]
        )
        near = set()
        for name in ("minhash_lsh", "simhash_near_dup"):
            t = out[name]
            near |= set(zip(t.column("id_a").to_pylist(), t.column("id_b").to_pylist()))
        near_found = sum((min(a, b), max(a, b)) in near for a, b, _k in self.m["near_pairs"])
        injected = len(self.m["exact_pairs"]) + len(self.m["near_pairs"])

        def topk(t):
            res: dict = {}
            for qid, cid in zip(t.column("query_id").to_pylist(),
                                t.column("corpus_id").to_pylist()):
                res.setdefault(qid, set()).add(cid)
            return res

        exact_nn, approx_nn = topk(out["cosine_topk"]), topk(out["ivfsq_topk"])
        hits = sum(len(exact_nn[qid] & approx_nn.get(qid, set())) for qid in exact_nn)
        q.update(
            dup_recall=(exact_found + near_found) / injected,
            near_dup_recall=near_found / len(self.m["near_pairs"]),
            ann_recall_at_10=hits / (K * len(self.m["ann_queries"])),
            pairs_out=len(near),
        )
        return q

    def _texts(self) -> dict:
        if not hasattr(self, "_text_cache"):
            import pyarrow.parquet as pq

            t = pq.read_table(os.path.join(self.dir, "documents.parquet"),
                              columns=["doc_id", "text"])
            self._text_cache = dict(zip(t.column("doc_id").to_pylist(),
                                        t.column("text").to_pylist()))
        return self._text_cache

    def check(self, recs: list[dict]) -> None:
        """The exact-duplicate groups must be exactly the corpus's own
        (md5 of the text → lowest id, copy count), and the near-duplicate
        and top-10 recalls must hold. The exact pairs are in the groups
        already, so near-duplicate recall is checked on its own."""
        ctx = self.ctx
        want: dict = {}
        for doc_id, text in self._texts().items():
            h = hashlib.md5(text.encode()).hexdigest()
            keep, n = want.get(h, (doc_id, 0))
            want[h] = (min(keep, doc_id), n + 1)
        for i, rec in enumerate(recs):
            t = rec["out"]["exact"]
            if t is None:
                ctx.check(f"curation pass {i}: exact groups", False, "no result")
                continue
            have = {
                h: (k, n) for h, k, n in zip(t.column("content_hash").to_pylist(),
                                             t.column("keep_id").to_pylist(),
                                             t.column("n_copies").to_pylist())
            }
            ctx.check(f"curation pass {i}: exact groups", have == want,
                      f"{len(set(have.items()) ^ set(want.items()))} groups differ")
            ctx.check(f"curation pass {i}: near_dup_recall",
                      rec["near_dup_recall"] >= NEAR_DUP_RECALL_FLOOR,
                      f"{rec['near_dup_recall']:.3f} < {NEAR_DUP_RECALL_FLOOR}")
            ctx.check(f"curation pass {i}: ann_recall_at_10",
                      rec["ann_recall_at_10"] >= ANN_RECALL_FLOOR,
                      f"{rec['ann_recall_at_10']:.3f} < {ANN_RECALL_FLOOR}")


def unit_seconds(recs: list[dict]) -> list[float]:
    return [r["s"] for r in recs]


def summarize_e2e(recs: list[dict]) -> dict:
    passes = unit_seconds(recs)
    n_docs = recs[0]["n_docs"]
    p50 = median(passes)
    return {
        "op_s_p50": p50,
        "op_s_tail": max(passes),
        "work_per_s": n_docs / p50,
        "op_cpu_s": median([r["cpu_s"] for r in recs]),
        "detail": {
            "curation_docs_per_s": n_docs / p50,
            "corpus_docs": n_docs,
            "pass_s_tail_is": f"p100 of {len(passes)}",
            "dup_recall": median([r["dup_recall"] for r in recs]),
            "near_dup_recall": median([r["near_dup_recall"] for r in recs]),
            "ann_recall_at_10": median([r["ann_recall_at_10"] for r in recs]),
            "passes": len(passes),
            "pass_s": [round(x, 4) for x in passes],
            "step_s_p50": {s: round(median([r["step_s"][s] for r in recs]), 4)
                           for s, _ in STEPS},
        },
    }


def summarize_layers(recs: list[dict], tracer) -> dict:
    def step(name):
        return median([r["step_s"][name] for r in recs])

    return {
        "operators.dedup.exact_s": step("exact"),
        "operators.dedup.minhash_lsh_s": step("minhash_lsh"),
        "operators.dedup.simhash_near_dup_s": step("simhash_near_dup"),
        "operators.dedup.pairs_out": median([r["pairs_out"] for r in recs]),
        "operators.dedup.dup_recall": median([r["dup_recall"] for r in recs]),
        "operators.dedup.near_dup_recall": median([r["near_dup_recall"] for r in recs]),
        "operators.annsearch.cosine_topk_s": step("cosine_topk"),
        "operators.annsearch.ivfsq_topk_s": step("ivfsq_topk"),
        "operators.annsearch.recall_at_10": median([r["ann_recall_at_10"] for r in recs]),
    }
