"""Result checks: the timed digest action and the DuckDB oracle compare.

The digest is the timed action of every batch operation. It is one row:
the row count and the sum, as ``decimal(38,0)``, of ``xxhash64`` over all
output columns. The hash takes every column, so Catalyst can prune none of
them, and the sum is order-independent and cannot overflow (each term is
below 2^63, so 10^19 rows still fit in 38 digits).
"""

from __future__ import annotations

import hashlib
import os
import re

import duckdb
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES
from tools.driver_sim import canon

from .data import TABLES


def digest_frame(df: DataFrame) -> DataFrame:
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return df.select(h.alias("__h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("__h").cast("decimal(38,0)")).alias("s")
    )


def digest(df: DataFrame) -> tuple[int, int]:
    row = digest_frame(df).first()
    return int(row["n"]), int(row["s"] or 0)


def hashed_columns(df: DataFrame) -> list[str]:
    """The arguments of the digest's hash in ``df``'s optimized digest
    plan: an attribute's name, else the expression's class (a column the
    optimizer inlined, or a folded constant). The benchmark's self-test
    checks there is one per column of ``df.columns``."""
    plan = digest_frame(df)._jdf.queryExecution().optimizedPlan()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def find_expr(e):
        if e.prettyName() == "xxhash64":
            return e
        return next(filter(None, map(find_expr, seq(e.children()))), None)

    def find(p):  # pre-order: the digest's hash sits above any the entry uses
        for e in seq(p.expressions()):
            if (h := find_expr(e)) is not None:
                return h
        return next(filter(None, map(find, seq(p.children()))), None)

    digest_hash = find(plan)
    if digest_hash is None:
        raise AssertionError("no xxhash64 in the digest plan")
    out = []
    for arg in seq(digest_hash.children()):
        kind = arg.getClass().getSimpleName()
        out.append(arg.name() if kind == "AttributeReference" else kind)
    return out


class Oracle:
    """DuckDB over the run's input tables.

    ``expected`` keeps each entry's oracle result in ``cache_dir``, keyed on
    the SQL and the bytes of the tables it names: the jitter leaves tables
    without float columns (``documents``) identical on every seed, so the
    costly text-dedup oracles run once per checkout."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.con = duckdb.connect()
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def query(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def expected(self, name: str) -> pd.DataFrame:
        sql = QUERIES[name].oracle
        h = hashlib.sha1(sql.encode())
        for t in TABLES:
            if re.search(rf"\b{t}\b", sql):
                with open(os.path.join(self.data_dir, f"{t}.parquet"), "rb") as f:
                    h.update(f.read())
        path = os.path.join(self.cache_dir, f"{name}-{h.hexdigest()}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        want = self.query(sql)
        tmp = f"{path}.{os.getpid()}"
        want.to_parquet(tmp)
        if mismatch(pd.read_parquet(tmp), want) is None:  # keep only exact round trips
            os.replace(tmp, path)
        else:
            os.remove(tmp)
        return want

    def close(self) -> None:
        self.con.close()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows (any order), else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    try:
        pd.testing.assert_frame_equal(canon(got), canon(want), check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"values differ: {str(e)[:300]}"
    return None
