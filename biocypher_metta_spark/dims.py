"""Dimension (broadcast) tables — the S11 pickle id-maps and S3 alias
table as small DataFrames for broadcast hash joins.

The reference holds these as driver-resident Python dicts consumed by
dict.get inside scan loops (create_knowledge_graph.py:29-31, J1-J7 in
SURVEY.md §2.4). Here each becomes a DataFrame dimension joined with
F.broadcast — same semantics, but the big side streams instead of
pulling rows through Python. For dimensions that outgrow broadcast
(dbsnp rsid<->pos at ~38M rows), pass broadcast=False and the join
falls back to shuffle with AQE deciding the physical strategy.

Every driver-side frame (these maps and the linking dictionaries) is
built by `local_frame` from an Arrow table. Below
`spark.sql.execution.arrow.localRelationThreshold` (48 MB by default)
it plans as a `LocalTableScan` held in the plan itself, so a join
against it runs no job to rebuild the rows; above it, as an
Arrow-backed scan. Neither carries pickled Python rows.
"""

from __future__ import annotations

import pickle
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_pickle_map(path: str | Path) -> dict:
    with open(path, "rb") as f:
        return pickle.load(f)


def local_frame(spark: SparkSession, columns: dict[str, list],
                schema: str | None = None) -> DataFrame:
    """Driver-side columns -> DataFrame through one Arrow table.

    `schema` (DDL, same column names) pins the types; without it they
    are inferred per column the way row inference does it. Arrow keeps
    ints with None as int64 (a pandas route turns them into float64)."""
    return spark.createDataFrame(pa.table(columns), schema)


def dim_from_map(spark: SparkSession, mapping: dict,
                 key_col: str = "key", val_col: str = "value") -> DataFrame:
    """dict -> 2-col DataFrame (values stringified; nested dicts preserved
    as columns when the values are {chr,pos} style)."""
    items = sorted(mapping.items())
    keys = [str(k) for k, _ in items]
    if items and isinstance(items[0][1], dict):
        sub_keys = sorted(items[0][1].keys())
        return local_frame(spark, {
            key_col: keys, **{sk: [v.get(sk) for _, v in items] for sk in sub_keys}})
    return local_frame(spark, {key_col: keys, val_col: [str(v) for _, v in items]},
                       f"`{key_col}` string, `{val_col}` string")


def dim_from_pickle(spark: SparkSession, path: str | Path,
                    key_col: str = "key", val_col: str = "value") -> DataFrame:
    return dim_from_map(spark, load_pickle_map(path), key_col, val_col)


def lookup_join(df: DataFrame, dim: DataFrame, on_col, key_col: str = "key",
                val_col: str = "value", out_col: str = "mapped",
                how: str = "inner", broadcast: bool = True) -> DataFrame:
    """The dict.get pattern as a join.

    how='inner'  == skip-on-miss  (P5 semi-filter sites)
    how='left'   == keep-with-null (optional enrichments)
    """
    d = dim.select(F.col(key_col).alias("__k"), F.col(val_col).alias(out_col))
    if broadcast:
        d = F.broadcast(d)
    joined = df.join(d, on_col == F.col("__k"), how)
    return joined.drop("__k")
