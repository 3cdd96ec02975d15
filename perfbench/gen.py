"""Seeded input generators for the four benchmark workloads.

Every input is a pure function of ``(seed, scale)``: the same seed writes the
same bytes.  Tables are written as multi-file parquet directories (at least
as many files as cores, so no scan runs on a single split), and the planted
ground truth (duplicates, near-duplicates, contaminated documents, hot key)
is written beside each table as ``<table>.truth.json``.  :func:`digest` hashes every file
under a directory so two runs can show they saw identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with",
             "a", "in", "is", "it", "for", "on", "as", "was")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_WS = re.compile("[ \t\n\x0b\f\r]+")


def write_table(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def write_truth(path: str, truth: dict) -> None:
    """Planted ground truth of the table at ``path``, beside it."""
    with open(f"{path}.truth.json", "w") as f:
        json.dump(truth, f, sort_keys=True)


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (relative name + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for name in sorted(filenames):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


# ---------------------------------------------------------------------------
# fold_rollup: a skewed fact table
# ---------------------------------------------------------------------------

def fact_table(rng: np.random.Generator, n_rows: int, n_groups: int,
               hot_share: float = 0.15) -> tuple[pa.Table, int]:
    """Fact rows with Zipf-skewed ``key1`` (key ``r`` has Zipf rank ``r``;
    key 0 is also the hot key, taking ``hot_share`` of the rows), 64
    ``key2`` values and a 3-value flag.  Which keys are heavy is fixed, so
    every seed gives the same shuffle skew; the seed draws the rows."""
    key1 = rng.choice(n_groups, size=n_rows, p=zipf_probs(n_groups, 1.1))
    hot = 0
    key1[rng.random(n_rows) < hot_share] = hot
    flags = np.array(["A", "N", "R"])[rng.choice(3, size=n_rows,
                                                 p=[0.5, 0.3, 0.2])]
    table = pa.table({
        "key1": key1,
        "key2": rng.integers(0, 64, size=n_rows).astype(np.int32),
        "flag": flags,
        "x": np.round(rng.normal(100.0, 25.0, size=n_rows), 2),
        "qty": rng.integers(1, 51, size=n_rows).astype(np.int64),
    })
    return table, hot


# ---------------------------------------------------------------------------
# Text: Zipf vocabulary documents
# ---------------------------------------------------------------------------

class TextModel:
    """Two Zipf word distributions over one vocabulary (the stopwords
    lead both), so documents carry a learnable binary label, plus a pool
    of boilerplate lines that repeat across documents."""

    def __init__(self, rng: np.random.Generator, vocab: int = 3000,
                 n_boiler: int = 12):
        words = set(STOPWORDS)
        content = []
        while len(content) < vocab - len(STOPWORDS):
            w = "".join(rng.choice(_LETTERS, size=int(rng.integers(3, 10))))
            if w not in words:
                words.add(w)
                content.append(w)
        self.rng = rng
        self.orders = []
        for _ in range(2):
            perm = rng.permutation(len(content))
            self.orders.append(np.array(list(STOPWORDS)
                                        + [content[i] for i in perm]))
        self.cdf = np.cumsum(zipf_probs(vocab, 1.05))
        self.boiler = [self.sentence(0, 8) for _ in range(n_boiler)]

    def sentence(self, label: int, n_words: int) -> str:
        ranks = np.searchsorted(self.cdf, self.rng.random(n_words) * self.cdf[-1],
                                side="right")
        return " ".join(self.orders[label][ranks]) + "."

    def document(self, label: int, n_lines: int, boiler_p: float = 0.5) -> str:
        lines = [self.sentence(label, int(self.rng.integers(6, 15)))
                 for _ in range(n_lines)]
        while self.rng.random() < boiler_p:
            pos = int(self.rng.integers(0, len(lines) + 1))
            lines.insert(pos, self.boiler[int(self.rng.integers(len(self.boiler)))])
        return "\n".join(lines)

    def near_dup(self, text: str) -> str:
        """``text`` with one plain word replaced by a word of the other
        order."""
        words = text.split(" ")
        plain = [i for i, w in enumerate(words) if w.isalpha()]
        words[plain[int(self.rng.integers(len(plain)))]] = \
            self.orders[1][int(self.rng.integers(200, 2000))]
        return " ".join(words)


def normalize(s: str) -> str:
    """Lowercase, collapse whitespace runs, trim (the canonical text form
    exact dedup and MinHash shingling use)."""
    return _WS.sub(" ", s.lower()).strip(" ")


def shingles(s: str, k: int = 5) -> set[str]:
    n = normalize(s)
    if len(n) <= k:
        return {n}
    return {n[i:i + k] for i in range(len(n) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 1.0


def variant(rng: np.random.Generator, text: str) -> str:
    """An exact duplicate under normalization: case and spacing changed."""
    if rng.random() < 0.5:
        text = text.upper()
    return "  " + text.replace(" ", "  ", 3) + " "


def plant_near_dup(model: TextModel, text: str, min_j: float = 0.95):
    """A one-word edit of ``text`` whose shingle Jaccard is >= ``min_j``,
    or None when no such edit is found."""
    base = shingles(text)
    for _ in range(8):
        cand = model.near_dup(text)
        j = jaccard(base, shingles(cand))
        if min_j <= j < 1.0:
            return cand, j
    return None


def corpus(rng: np.random.Generator, model: TextModel, n_docs: int,
           dup_share: float = 0.08, near_share: float = 0.08) -> tuple[pa.Table, dict]:
    """Documents with planted exact duplicates and near-duplicates.  Ids
    are assigned in generation order, so every planted copy has a larger
    id than its base (exact dedup keeps the base)."""
    n_dup = int(n_docs * dup_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_dup - n_near
    texts, labels = [], []
    for _ in range(n_base):
        label = int(rng.random() < 0.5)
        texts.append(model.document(label, int(rng.integers(4, 13))))
        labels.append(label)
    dups, nears = {}, {}
    # disjoint base sets for the two kinds of copy
    bases = rng.permutation(n_base)
    for b in bases[:n_dup]:
        dups[len(texts)] = int(b)
        texts.append(variant(rng, texts[b]))
        labels.append(labels[b])
    for b in bases[n_dup:]:
        if len(texts[b]) <= 600:
            continue
        if len(nears) == n_near:
            break
        made = plant_near_dup(model, texts[b])
        if made is not None:
            nears[len(texts)] = int(b)
            texts.append(made[0])
            labels.append(labels[b])
    order = rng.permutation(len(texts))
    table = pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "label": pa.array([labels[i] for i in order], pa.int32()),
    })
    truth = {"exact_dups": {str(k): v for k, v in dups.items()},
             "near_dups": {str(k): v for k, v in nears.items()}}
    return table, truth


# ---------------------------------------------------------------------------
# ingest_gate: accepted corpus, eval set and incoming batches
# ---------------------------------------------------------------------------

def gate_inputs(rng: np.random.Generator, model: TextModel, n_accepted: int,
                n_eval: int, n_batches: int, batch: int) -> tuple[dict, dict]:
    """Accepted corpus, eval set, and incoming batches, each with the same
    planted mix in a seeded order: 15% exact repeats, 15% near-duplicates
    (of the accepted corpus or an earlier batch's clean documents), 10%
    carrying a 20-word span of an eval document, the rest clean.  Returns
    (tables, truth)."""
    acc = [model.document(int(rng.random() < 0.5), int(rng.integers(6, 13)))
           for _ in range(n_accepted)]
    ev = [model.document(1, int(rng.integers(4, 9)), boiler_p=0.0)
          for _ in range(n_eval)]
    texts = {i: t for i, t in enumerate(acc)}
    pool = list(texts)                       # ids an incoming doc may copy
    long_pool = [i for i in pool if len(texts[i]) > 600]
    next_id = 1_000_000
    batches, truth = [], {}
    n_exact, n_near, n_contam = round(0.15 * batch), round(0.15 * batch), round(0.1 * batch)
    mix = np.array(["exact"] * n_exact + ["near"] * n_near + ["contam"] * n_contam
                   + ["clean"] * (batch - n_exact - n_near - n_contam))
    for _ in range(n_batches):
        rows, clean_ids = [], []
        for planted in mix[rng.permutation(batch)]:
            doc_id = next_id
            next_id += 1
            if planted == "exact":
                src = pool[int(rng.integers(len(pool)))]
                text, kind = variant(rng, texts[src]), ("exact", src)
            elif planted == "near":
                made = None
                while made is None:
                    src = long_pool[int(rng.integers(len(long_pool)))]
                    made = plant_near_dup(model, texts[src])
                text, kind = made[0], ("near", src)
            elif planted == "contam":
                e = ev[int(rng.integers(len(ev)))].replace("\n", " ").split(" ")
                s = int(rng.integers(0, max(1, len(e) - 20)))
                span = " ".join(e[s:s + 20])
                body = model.document(int(rng.random() < 0.5),
                                      int(rng.integers(5, 11)))
                text, kind = body + "\n" + span, ("contam", None)
            else:
                text = model.document(int(rng.random() < 0.5),
                                      int(rng.integers(6, 13)))
                kind = ("clean", None)
                clean_ids.append(doc_id)
            texts[doc_id] = text
            truth[str(doc_id)] = list(kind)
            rows.append((doc_id, text))
        pool.extend(clean_ids)               # admitted before the next batch
        long_pool.extend(i for i in clean_ids if len(texts[i]) > 600)
        batches.append(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string())}))
    tables = {
        "accepted": pa.table({"doc_id": pa.array(range(n_accepted), pa.int64()),
                              "text": pa.array(acc, pa.string())}),
        "eval": pa.table({"doc_id": pa.array(range(n_eval), pa.int64()),
                          "text": pa.array(ev, pa.string())}),
        "batches": batches,
    }
    return tables, {"verdicts": truth,
                    "texts": {str(k): v for k, v in texts.items()}}


# ---------------------------------------------------------------------------
# vector_topk: clustered unit vectors
# ---------------------------------------------------------------------------

def clustered_vectors(rng: np.random.Generator, n: int, dim: int,
                      n_clusters: int, spread: float = 0.35) -> np.ndarray:
    centers = rng.normal(size=(n_clusters, dim))
    x = centers[rng.integers(n_clusters, size=n)] + spread * rng.normal(size=(n, dim))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def vector_table(ids: np.ndarray, vecs: np.ndarray, id_col: str) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32()))
    return pa.table({id_col: pa.array(ids, pa.int64()), "embedding": emb})
