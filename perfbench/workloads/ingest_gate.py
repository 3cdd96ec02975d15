"""ingest_gate: recurring admission with writes beside reads.

Setup builds the Bloom, MinHash and contamination indexes over an accepted
corpus and an eval set.  Each operation screens one incoming batch (planted
mix: exact repeats, near-duplicates, eval-contaminated and clean documents)
with ``bloom_probe_index``, ``minhash_probe_index``,
``probe_contamination_index`` and the Gopher/C4 rules, collects the verdicts,
and only then extends the Bloom and MinHash indexes with the accepted
documents (the ordering ``extend_bloom_index`` documents), so the next batch
is screened against the index this one extended.  A document is accepted
when no firewall flags it; the rule verdicts are reported beside.

MinHash signing is shared with corpus_curate, here through the persisted
probe/extend path; index state grows across batches, and the per-batch jobs
are small enough that fixed Spark overhead shows.

Checks per batch: every planted exact repeat is a Bloom hit; every planted
near-duplicate pair is found and every reported pair has exact shingle
Jaccard >= 0.8; contamination rows equal an exact Python n-gram recount;
rule verdicts equal the DuckDB twins; the accepted set is exactly the
planted clean documents less Bloom false positives.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

import gen
from frames_map_reduce_spark.functions import text as TX
from frames_map_reduce_spark.operators import bloom as BL
from frames_map_reduce_spark.operators import dedup as DD
from frames_map_reduce_spark.operators import retrieval as RT
from workloads.base import Workload, duck, table_bytes

M_BITS, K = 1 << 20, 7
NGRAM = 13
THRESHOLD = 0.8
N_BATCHES = 24
_WS = re.compile("[ \t\n\x0b\f\r]+")


def _grams(text: str) -> set[str]:
    toks = [t for t in _WS.split(text.lower()) if t]
    return {" ".join(toks[i:i + NGRAM]) for i in range(len(toks) - NGRAM + 1)}


class IngestGate(Workload):
    NAME = "ingest_gate"
    ROWS = "incoming documents"
    TAIL = True
    SETUP_REPS = 1
    MAX_OPS = N_BATCHES

    def __init__(self, *a):
        super().__init__(*a)
        self.n_accepted = max(200, int(1000 * self.scale))
        self.batch = max(20, int(100 * self.scale))

    def setup(self) -> None:
        rng = self.rng()
        tables, self.truth = gen.gate_inputs(rng, gen.TextModel(rng),
                                             self.n_accepted, 150, N_BATCHES,
                                             self.batch)
        self.texts = {int(k): v for k, v in self.truth["texts"].items()}
        for name in ("accepted", "eval"):
            gen.write_table(tables[name], self.fresh_dir(name), self.n_files)
        root = self.fresh_dir("batches")
        for i, b in enumerate(tables["batches"]):
            gen.write_table(b, os.path.join(root, f"b{i:03d}"), self.n_files)
        gen.write_truth(root, self.truth)
        self.admitted_bytes = sum(len(t.encode()) for t in
                                  tables["accepted"]["text"].to_pylist())
        self.eval_grams = set().union(*map(_grams, tables["eval"]["text"].to_pylist()))

        tr, spark = self.tr, self.spark
        acc = spark.read.parquet(os.path.join(self.data, "accepted"))
        with tr.span("operators.bloom.build"):
            BL.build_bloom_index(acc, "g_bloom", "text", m_bits=M_BITS, k=K)
        with tr.span("operators.dedup.index_build"):
            DD.build_minhash_index(acc, "g_mh", "text", "doc_id")
        with tr.span("operators.retrieval.contam_build"):
            RT.build_contamination_index(
                spark.read.parquet(os.path.join(self.data, "eval")),
                "g_ct", "text", n=NGRAM)

    def op(self, i: int):
        tr, spark = self.tr, self.spark
        q = spark.read.parquet(os.path.join(self.data, "batches", f"b{i:03d}"))
        with tr.span("operators.bloom.probe"):
            bloom = {r[0]: r[1] for r in BL.bloom_probe_index(
                spark, "g_bloom", q, "text", "doc_id", m_bits=M_BITS, k=K).collect()}
        with tr.span("operators.dedup.index_probe"):
            pairs = [tuple(r) for r in DD.minhash_probe_index(
                spark, "g_mh", q, "text", "doc_id", threshold=THRESHOLD)
                .select("doc_id", "ref_id").collect()]
        with tr.span("operators.retrieval.contam_probe"):
            contam = [tuple(r) for r in RT.probe_contamination_index(
                spark, "g_ct", q, "text", "doc_id", n=NGRAM).collect()]
        with tr.span("functions.text.rules"):
            rules = [tuple(r) for r in q.select(
                "doc_id", TX.gopher_rules(F.col("text"))["pass_gopher"],
                TX.c4_rules(F.col("text"))["pass_c4"]).collect()]
        flagged = ({d for d, hit in bloom.items() if hit} | {d for d, _ in pairs}
                   | {r[0] for r in contam})
        accepted = sorted(d for d, _, _ in rules if d not in flagged)
        delta = q.filter(F.col("doc_id").isin(accepted))
        with tr.span("operators.bloom.extend"):
            BL.extend_bloom_index(delta, "g_bloom", "text", m_bits=M_BITS, k=K)
        with tr.span("operators.dedup.index_extend"):
            DD.extend_minhash_index(delta, "g_mh", "text", "doc_id")
        self.admitted_bytes += sum(len(self.texts[d].encode()) for d in accepted)
        return len(rules), (i, bloom, pairs, contam, rules, accepted)

    def check(self, records: list) -> list[bool]:
        self.fp, self.negatives = 0, 0
        return [self.check_batch(*r) for r in records]

    def check_batch(self, i, bloom, pairs, contam, rules, accepted) -> bool:
        kinds = {d: self.truth["verdicts"][str(d)] for d, _, _ in rules}
        ok = len(kinds) == self.batch and set(bloom) == set(kinds)
        fps = set()
        for d, (kind, _) in kinds.items():
            if kind == "exact":
                ok &= bloom[d]
            else:
                self.negatives += 1
                if bloom[d]:
                    fps.add(d)
        self.fp += len(fps)
        sh = {}

        def shingles(d):
            if d not in sh:
                sh[d] = gen.shingles(self.texts[d])
            return sh[d]
        found = set(pairs)
        ok &= all(gen.jaccard(shingles(d), shingles(r)) >= THRESHOLD
                  for d, r in found)
        ok &= all((d, src) in found for d, (kind, src) in kinds.items()
                  if kind == "near")
        want = []
        for d in kinds:
            g = _grams(self.texts[d])
            hit = len(g & self.eval_grams)
            if hit:
                want.append((d, len(g), hit, round(hit / len(g), 6)))
        ok &= sorted(contam) == sorted(want)
        ok &= all(kinds[d][0] == "contam" for d, *_ in contam) and \
            all(any(c[0] == d for c in contam) for d, (k, _) in kinds.items()
                if k == "contam")
        con = duck()
        con.execute("CREATE TABLE b AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.data, 'batches', f'b{i:03d}', '*.parquet')}')")
        g, c = TX.gopher_rules_sql("text"), TX.c4_rules_sql("text")
        ref = con.execute(f"SELECT doc_id, {g['pass_gopher']}, {c['pass_c4']} "
                          "FROM b").fetchall()
        ok &= sorted(rules) == sorted(ref)
        clean = {d for d, (k, _) in kinds.items() if k == "clean"}
        ok &= set(accepted) == clean - fps
        return bool(ok)

    def extra_metrics(self) -> dict:
        stored = sum(table_bytes(self.spark, t) for t in
                     ("g_bloom_words", "g_mh_buckets", "g_mh_shingles", "g_ct_grams"))
        return {"stored_bytes_per_input_byte": stored / self.admitted_bytes}

    def counters(self) -> dict:
        return {
            "operators.dedup.docs_signed": self.tr.python_rows(
                ("operators.dedup.index_probe", "operators.dedup.index_extend")),
            "operators.dedup.index_bytes": table_bytes(self.spark, "g_mh_buckets")
            + table_bytes(self.spark, "g_mh_shingles"),
            "operators.bloom.table_bytes": table_bytes(self.spark, "g_bloom_words"),
            "operators.bloom.false_positive_ratio": self.fp / max(1, self.negatives),
        }
