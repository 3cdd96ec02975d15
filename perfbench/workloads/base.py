"""Shared workload plumbing: input layout, output digests, row comparison."""

from __future__ import annotations

import math
import os
import shutil

import duckdb
import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen


class Workload:
    """One benchmark workload.  ``setup`` (re)generates the inputs from the
    seed and builds any index, and may be called repeatedly; ``op(i)``
    runs operation ``i`` and returns ``(input rows, record)`` (the first
    ops are untimed warm-ups; op 0 may keep its full outputs for the
    checks); ``check`` maps the records of every timed op to pass/fail,
    outside the timed region."""

    NAME = ""
    ROWS = ""        # what one input row is, for rows_per_s
    TAIL = False     # whether op_tail_s is reported
    SETUP_REPS = 3   # set-ups per run; setup_s takes their median
    WARMUP_OPS = 1   # untimed ops after set-up, counted in setup_s
    MAX_OPS = None   # ops the generated inputs last for (None: unbounded)

    def __init__(self, spark, data_dir: str, seed: int, scale: float, tracer):
        self.spark = spark
        self.data = data_dir
        self.seed = seed
        self.scale = scale
        self.tr = tracer
        self.n_files = max(4, len(os.sched_getaffinity(0)))

    def rng(self) -> np.random.Generator:
        return np.random.default_rng([self.seed, sum(map(ord, self.NAME))])

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.data, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def digest(self) -> str:
        return gen.digest(self.data)

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int):
        raise NotImplementedError

    def check(self, records: list) -> list[bool]:
        raise NotImplementedError

    def extra_metrics(self) -> dict:
        return {}

    def counters(self) -> dict:
        return {}


def _stable(field: T.StructField):
    """Column expression of ``field`` with doubles rounded to 6 places, so
    a digest does not depend on floating-point summation order."""
    c = F.col(f"`{field.name}`")
    dt = field.dataType
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.round(c.cast("double"), 6)
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType,
                                                  (T.DoubleType, T.FloatType)):
        return F.transform(c, lambda x: F.round(x.cast("double"), 6))
    return c


def frame_digest(df) -> tuple[int, int]:
    """(row count, order-independent xor of row hashes) — consumes the
    whole frame in one aggregation."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.bit_xor(F.xxhash64(*[_stable(f) for f in df.schema.fields]))
                .alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, (list, tuple, np.ndarray)) and isinstance(b, (list, tuple, np.ndarray)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _key(row) -> tuple:
    return tuple((v is None, str(v)) for v in row)


def same_rows(got: list, want: list, n_keys: int) -> bool:
    """Multiset equality of two row lists, matching rows on their first
    ``n_keys`` fields and comparing floats with a relative tolerance."""
    g = sorted(map(tuple, got), key=lambda r: _key(r[:n_keys]))
    w = sorted(map(tuple, want), key=lambda r: _key(r[:n_keys]))
    if len(g) != len(w):
        return False
    return all(len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
               for a, b in zip(g, w))


def spark_rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def table_bytes(spark, table: str) -> int:
    """Bytes on disk of a managed table's data files."""
    from urllib.parse import urlparse
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    total = 0
    for dirpath, _, files in os.walk(os.path.join(wh, table.lower())):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if not f.startswith((".", "_")))
    return total
