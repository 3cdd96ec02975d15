"""fold_rollup: the paper's Unpack -> Assign -> Reduce pipeline over a skewed
fact table.  Scan, codegen, shuffle and Arrow grouped-map work dominate, with
no text or index work: the control workload for every text or dedup change.

One operation is one pass of six pipelines over the table, each consumed by
an order-independent digest:

- ``map_reduce``: filter -> ``split_on_keys`` -> fused native fold;
- a fold mixing native and ``pandas_fold`` outputs (FoldReduce's two-pass +
  join path);
- ``reduce_and_add_key`` (grouped ``applyInPandas``);
- ``aggregate_fold`` coarsening ``key1`` into buckets, holding ``flag``;
- ``rollup_fold`` over (flag, key2);
- ``skew.salted_aggregate`` on ``key1``, which has one hot key.

Checked against DuckDB GROUP BY over the same parquet files.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

import gen
from frames_map_reduce_spark import (aggregation, folds, map_reduce,
                                     reduce_and_add_key, salted_aggregate,
                                     split_on_keys, unpack_filter_on_field,
                                     unpack_no_op)
from frames_map_reduce_spark.mapreduce import fold_and_add_key
from workloads.base import Workload, duck, frame_digest, same_rows, spark_rows


def _median(x: pd.Series) -> float:
    return float(x.median())


def _wavg(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"wavg_x": [float((pdf.x * pdf.qty).sum() / pdf.qty.sum())],
                         "n": [len(pdf)]})


# (output name, number of key columns, DuckDB reference over table t)
REFERENCES = [
    ("fold_reduce", 1, """SELECT key1, sum(x), avg(x), count(*), max(qty)
        FROM t WHERE flag <> 'R' GROUP BY key1"""),
    ("mixed_fold", 2, """SELECT key2, flag, sum(qty), median(x)
        FROM t GROUP BY key2, flag"""),
    ("group_map", 1, """SELECT key2, sum(x * qty) / sum(qty), count(*)
        FROM t GROUP BY key2"""),
    ("aggregate_fold", 2, """SELECT flag, key1 // 100, sum(x), count(*)
        FROM t GROUP BY flag, key1 // 100"""),
    ("rollup_fold", 3, """SELECT flag, key2, grouping(flag, key2), sum(qty),
        count(*) FROM t GROUP BY ROLLUP (flag, key2)"""),
    ("salted_agg", 1, """SELECT key1, sum(x), count(*), avg(qty)
        FROM t GROUP BY key1"""),
]


class FoldRollup(Workload):
    NAME = "fold_rollup"
    ROWS = "fact rows per pass"
    # the first pass is cold (~6x a warm one) and the second still ~15%
    # slower; later passes speed up by ~1% each as the JIT catches up
    WARMUP_OPS = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.n_rows = max(2000, int(300_000 * self.scale))
        self.n_groups = max(100, int(20_000 * self.scale))
        self.groups_out = 0

    def setup(self) -> None:
        table, hot = gen.fact_table(self.rng(), self.n_rows, self.n_groups)
        self.path = self.fresh_dir("facts")
        gen.write_table(table, self.path, self.n_files)
        gen.write_truth(self.path, {"hot_key": hot, "rows": self.n_rows})

    def outputs(self) -> dict:
        tr = self.tr
        df = self.spark.read.parquet(self.path)
        if tr.on:
            with tr.span("sources.scan"):
                df.write.format("noop").mode("overwrite").save()
        out = {}
        out["fold_reduce"] = tr.force("mapreduce.fold_reduce", lambda: map_reduce(
            df, unpack_filter_on_field("flag", lambda c: c != "R"),
            split_on_keys(["key1"]),
            fold_and_add_key(folds.sum_("x", "sum_x") & folds.mean_("x", "mean_x")
                             & folds.count_star("n") & folds.max_("qty", "max_qty"))))
        out["mixed_fold"] = tr.force("mapreduce.mixed_fold", lambda: map_reduce(
            df, unpack_no_op(), split_on_keys(["key2", "flag"]),
            fold_and_add_key(folds.sum_("qty", "sum_qty")
                             & folds.pandas_fold(_median, "double", "x",
                                                 out="median_x"))))
        out["group_map"] = tr.force("mapreduce.group_map", lambda: map_reduce(
            df.select("key2", "x", "qty"), unpack_no_op(), split_on_keys(["key2"]),
            reduce_and_add_key(_wavg, "wavg_x double, n long")))
        out["aggregate_fold"] = tr.force("aggregation.aggregate_fold",
            lambda: aggregation.aggregate_fold(
                df, aggregation.key_map("key1", "bucket", F.expr("key1 div 100")),
                folds.sum_("x", "sum_x") & folds.count_star("n"),
                constant_keys=["flag"]))
        out["rollup_fold"] = tr.force("aggregation.rollup_fold",
            lambda: aggregation.rollup_fold(df, ["flag", "key2"],
                                    folds.sum_("qty", "sum_qty")
                                    & folds.count_star("n")))
        out["salted_agg"] = tr.force("skew.salted_agg", lambda: salted_aggregate(
            df, ["key1"], {"sum_x": ("sum", "x"), "n": ("count_star", "x"),
                           "mean_qty": ("mean", "qty")}))
        return out

    def op(self, i: int):
        outs = self.outputs()
        if i == 0:
            self.kept = {name: spark_rows(df) for name, df in outs.items()}
        digests = tuple(frame_digest(d) for d in outs.values())
        self.groups_out = digests[0][0]
        if i == 0:
            self.want = digests
        return self.n_rows, digests

    def check(self, records: list) -> list[bool]:
        """The warm-up's rows against DuckDB; every timed op's digests
        against the warm-up's."""
        con = duck()
        con.execute(f"CREATE VIEW t AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.path, '*.parquet')}')")
        good = all(same_rows(self.kept[name], con.execute(sql).fetchall(), keys)
                   for name, keys, sql in REFERENCES)
        return [good and r == self.want for r in records]

    def counters(self) -> dict:
        return {"mapreduce.groups_out": self.groups_out}
