"""vector_topk: query batches against a seeded clustered embedding corpus.

Setup builds an IVF index (``build_ivf_index``).  One operation answers one
batch of queries three ways: exact ``brute_force_topk``, ``ivf_topk_indexed``
against the index, and int8 ``quantized_topk``.  The only workload that
exercises ``operators.similarity`` and ``operators.quantized``.

Checks per batch against numpy: the exact top-10 cosine scores at every rank
(ties tolerated), the int8 top-10 exactly (integer dot products), and every
IVF score equal to the true cosine of the id it names.  ``recall_at_10`` is
the mean recall of the IVF answers against the exact top-10; a batch whose
recall falls below ``MIN_RECALL`` fails.
"""

from __future__ import annotations

import os

import numpy as np

import gen
from frames_map_reduce_spark.operators import quantized as QZ
from frames_map_reduce_spark.operators import similarity as SIM
from workloads.base import Workload

DIM, CLUSTERS, QUERIES, K, NPROBE = 32, 16, 16, 10, 4
N_BATCHES = 64
MIN_RECALL = 0.8
TOL = 2e-6


def _quantize(x: np.ndarray) -> np.ndarray:
    """The int8 grid of ``quantize_expr``: floor(x * 2^8) clamped."""
    return np.clip(np.floor(x.astype(np.float64) * 256), -128, 127).astype(np.int64)


class VectorTopk(Workload):
    NAME = "vector_topk"
    ROWS = "queries"
    TAIL = True

    def __init__(self, *a):
        super().__init__(*a)
        self.n = max(500, int(4000 * self.scale))
        self.recalls = []

    def setup(self) -> None:
        rng = self.rng()
        self.x = gen.clustered_vectors(rng, self.n, DIM, CLUSTERS)
        self.q = gen.clustered_vectors(rng, QUERIES * N_BATCHES, DIM, CLUSTERS)
        self.corpus_path = self.fresh_dir("corpus")
        gen.write_table(gen.vector_table(np.arange(self.n), self.x, "vec_id"),
                        self.corpus_path, self.n_files)
        root = self.fresh_dir("queries")
        for b in range(N_BATCHES):
            ids = np.arange(b * QUERIES, (b + 1) * QUERIES)
            gen.write_table(gen.vector_table(ids, self.q[ids], "query_id"),
                            os.path.join(root, f"b{b:03d}"), self.n_files)
        with self.tr.span("operators.similarity.ivf_build"):
            self.centroids = SIM.build_ivf_index(
                self.spark.read.parquet(self.corpus_path), "v_ivf",
                n_centroids=CLUSTERS)

    def op(self, i: int):
        tr, spark = self.tr, self.spark
        b = i % N_BATCHES
        corpus = spark.read.parquet(self.corpus_path)
        q = spark.read.parquet(os.path.join(self.data, "queries", f"b{b:03d}"))

        def rows(df, score):
            return [(r["query_id"], r["vec_id"], r[score], r["rank"])
                    for r in df.collect()]
        with tr.span("operators.similarity.exact_topk"):
            exact = rows(SIM.brute_force_topk(corpus, q, K), "cosine_sim")
        with tr.span("operators.similarity.ivf_probe"):
            ivf = rows(SIM.ivf_topk_indexed(spark, "v_ivf", q, self.centroids,
                                            K, nprobe=NPROBE), "cosine_sim")
        with tr.span("operators.quantized.int8_topk"):
            int8 = rows(QZ.quantized_topk(corpus, q, K), "dot_q")
        return QUERIES, (b, exact, ivf, int8)

    def check(self, records: list) -> list[bool]:
        xn = self.x.astype(np.float64)
        xn /= np.linalg.norm(xn, axis=1, keepdims=True)
        xq = _quantize(self.x)
        self.recalls = []
        return [self.check_batch(xn, xq, *r) for r in records]

    def check_batch(self, xn, xq, b, exact, ivf, int8) -> bool:
        ok = True
        for qid in range(b * QUERIES, (b + 1) * QUERIES):
            v = self.q[qid].astype(np.float64)
            sims = np.round(xn @ (v / np.linalg.norm(v)), 6)
            order = np.lexsort((np.arange(self.n), -sims))[:K]
            got = sorted((r for r in exact if r[0] == qid), key=lambda r: r[3])
            ok &= len(got) == K and all(
                abs(g[2] - sims[o]) <= TOL and abs(sims[g[1]] - g[2]) <= TOL
                for g, o in zip(got, order))
            dots = xq @ _quantize(self.q[qid])
            want = np.lexsort((np.arange(self.n), -dots))[:K]
            got = sorted((r for r in int8 if r[0] == qid), key=lambda r: r[3])
            ok &= [(g[1], g[2]) for g in got] == [(int(w), int(dots[w])) for w in want]
            approx = [r for r in ivf if r[0] == qid]
            ok &= len(approx) == K and all(abs(sims[r[1]] - r[2]) <= TOL
                                           for r in approx)
            self.recalls.append(len({r[1] for r in approx} & set(order.tolist())) / K)
        ok &= np.mean(self.recalls[-QUERIES:]) >= MIN_RECALL
        return bool(ok)

    def extra_metrics(self) -> dict:
        return {"recall_at_10": float(np.mean(self.recalls))}
