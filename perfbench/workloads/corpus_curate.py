"""corpus_curate: batch LLM-corpus curation over seeded documents (Zipf
vocabulary, varied length, planted exact duplicates, near-duplicates and
repeated boilerplate lines).  Python Arrow signing, string expressions and
explode/groupBy dominate; no persisted index, no ``map_reduce``.

One operation is one pass: ``exact_dedup`` -> ``minhash_near_dup_pairs``
(drop the larger id of each pair) -> ``remove_duplicated_lines`` -> cache
the cleaned corpus -> ``unigram_lm_score``, ``train_logodds_classifier`` +
``classifier_score``, ``encode_ids`` -> ``pack_token_ids``.

Checks: exact-dedup winners, line removal, LM scores, classifier scores,
token ids and packing against the package's DuckDB ``*_sql`` twins fed the
same upstream rows; near-duplicate pairs against the planted truth (every
planted pair, Jaccard >= 0.95, is found) and against exact shingle Jaccard
computed in Python (every reported pair is >= 0.8).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

import gen
from frames_map_reduce_spark.functions import text as TX
from frames_map_reduce_spark.functions import tokenizer as TK
from frames_map_reduce_spark.operators import classifier as CL
from frames_map_reduce_spark.operators import dedup as DD
from frames_map_reduce_spark.operators import packing as PK
from frames_map_reduce_spark.operators import quality as QA
from workloads.base import Workload, duck, frame_digest, same_rows, spark_rows

N_BUCKETS = 4096
BLOCK = 256
THRESHOLD = 0.8


class CorpusCurate(Workload):
    NAME = "corpus_curate"
    ROWS = "documents per pass"
    SETUP_REPS = 1

    def __init__(self, *a):
        super().__init__(*a)
        self.n_docs = max(200, int(1500 * self.scale))

    def setup(self) -> None:
        rng = self.rng()
        table, self.truth = gen.corpus(rng, gen.TextModel(rng), self.n_docs)
        self.path = self.fresh_dir("docs")
        gen.write_table(table, self.path, self.n_files)
        gen.write_truth(self.path, self.truth)
        self.texts = dict(zip(table["doc_id"].to_pylist(),
                              table["text"].to_pylist()))

    def stages(self) -> dict:
        tr = self.tr
        docs = self.spark.read.parquet(self.path)
        out = {}
        ex = tr.force("operators.dedup.exact", lambda: DD.exact_dedup(docs, "text", "doc_id"))
        out["exact"] = ex.select("doc_id")
        pairs = tr.force("operators.dedup.minhash_pairs",
                         lambda: DD.minhash_near_dup_pairs(ex, "text", "doc_id",
                                                           threshold=THRESHOLD))
        out["pairs"] = pairs
        kept = ex.join(pairs.select(F.col("id_b").alias("doc_id")).distinct(),
                       "doc_id", "left_anti")
        lines = tr.force("operators.dedup.dup_lines",
                         lambda: DD.remove_duplicated_lines(kept, "text", "doc_id"))
        out["lines"] = lines
        clean = (lines.join(kept.select("doc_id", "label"), "doc_id")
                      .select("doc_id", "clean_text", "label").persist())
        self.cached = clean
        out["lm"] = tr.force("operators.quality.lm_score",
                             lambda: QA.unigram_lm_score(clean, "clean_text", "doc_id"))
        weights = tr.force("operators.classifier.train",
                           lambda: CL.train_logodds_classifier(clean, "clean_text", "label",
                                                       n_buckets=N_BUCKETS))
        out["score"] = tr.force("operators.classifier.score",
                                lambda: CL.classifier_score(clean, weights, "clean_text",
                                                    "doc_id", N_BUCKETS))
        ids = tr.force("functions.tokenizer.encode",
                       lambda: TK.encode_ids(clean, "clean_text", "doc_id"))
        out["ids"] = ids
        out["packed"] = tr.force("operators.packing.pack",
                                 lambda: PK.pack_token_ids(ids, "token_ids", BLOCK,
                                                   order_by=["doc_id"]))
        return out

    def op(self, i: int):
        out = self.stages()
        try:
            if i == 0:
                self.kept = self.collect(out)
            digests = {k: frame_digest(v) for k, v in out.items()}
        finally:
            self.cached.unpersist()
        if i == 0:
            self.want = digests
        return self.n_docs, digests

    @staticmethod
    def collect(out: dict) -> dict:
        kept = {k: spark_rows(v) for k, v in out.items() if k not in ("lines", "ids")}
        kept["lines"] = out["lines"].toPandas()
        kept["ids"] = out["ids"].toPandas()
        kept["ids"]["token_ids"] = kept["ids"]["token_ids"].map(
            lambda a: [int(x) for x in a])
        return kept

    def counters(self) -> dict:
        """Work counts of one untraced pass (LSH candidates are counted
        with the same signature spec the pair operator uses)."""
        out = self.stages()
        try:
            pk = out["packed"].agg(F.sum("n_tokens"), F.count(F.lit(1))).first()
            ex = DD.exact_dedup(self.spark.read.parquet(self.path), "text", "doc_id")
            cands = DD.minhash_lsh_candidates(ex, "text", "doc_id").count()
            verified = out["pairs"].count()
            tokens = out["ids"].agg(F.sum(F.size("token_ids"))).first()[0]
        finally:
            self.cached.unpersist()
        return {
            "functions.tokenizer.tokens_out": tokens,
            "operators.packing.fill_ratio": pk[0] / (pk[1] * BLOCK),
            "operators.dedup.lsh_candidates": cands,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.pair_yield": verified / cands if cands else 0.0,
        }

    def check(self, records: list) -> list[bool]:
        """The warm-up's outputs against the references; every timed op's
        digests against the warm-up's."""
        good = self.check_rows(self.kept)
        return [good and r == self.want for r in records]

    def check_rows(self, out: dict) -> bool:
        con = duck()
        docs = self.spark.read.parquet(self.path).toPandas()
        con.register("docs", docs)
        fp = TX.fingerprint_sql("text")
        ok = same_rows(out["exact"], con.execute(
            f"SELECT min(doc_id) FROM docs GROUP BY {fp}").fetchall(), 1)

        pairs = [r[:2] for r in out["pairs"]]
        found = {(min(a, b), max(a, b)) for a, b in pairs}
        sh = {}

        def shingles(i):
            if i not in sh:
                sh[i] = gen.shingles(self.texts[i])
            return sh[i]
        ok &= all(gen.jaccard(shingles(a), shingles(b)) >= THRESHOLD
                  for a, b in found)
        ok &= all((min(int(n), b), max(int(n), b)) in found
                  for n, b in self.truth["near_dups"].items())

        kept = {r[0] for r in out["exact"]} - {b for _, b in found}
        con.execute("CREATE TABLE kept AS SELECT * FROM docs WHERE doc_id IN "
                    f"(SELECT unnest({json.dumps(sorted(kept))}))")
        lines = out["lines"]
        ok &= same_rows(lines.itertuples(index=False), con.execute(
            DD.remove_duplicated_lines_sql("kept", "text", "doc_id")).fetchall(), 1)

        con.register("lines", lines)
        con.execute("CREATE TABLE clean AS SELECT l.doc_id, l.clean_text, k.label "
                    "FROM lines l JOIN kept k USING (doc_id)")
        ok &= same_rows(out["lm"], con.execute(
            QA.unigram_lm_score_sql("clean", "clean_text", "doc_id")).fetchall(), 1)
        train = CL.train_logodds_classifier_sql("clean", "clean_text", "label",
                                                n_buckets=N_BUCKETS)
        score = CL.classifier_score_sql("clean", "w", "clean_text", "doc_id",
                                        N_BUCKETS)
        ok &= same_rows(out["score"], con.execute(
            f"WITH w AS ({train}) {score}").fetchall(), 1)

        ids = out["ids"]
        ok &= same_rows(ids.itertuples(index=False), con.execute(
            TK.encode_ids_sql("clean", "clean_text", "doc_id")).fetchall(), 1)
        con.register("ids", ids)
        ok &= same_rows(out["packed"], con.execute(
            PK.pack_token_ids_sql("ids", "token_ids", BLOCK,
                                  order_by=["doc_id"])).fetchall(), 1)
        return bool(ok)
