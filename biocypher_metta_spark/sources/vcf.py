"""Vectorized VCF line parsing (S6) — built-in expressions only.

Reference semantics: dbsnp_adapter.py:38-49 (tab-split, '#' comments,
INFO 'k=v;' pairs with ','-split multi-values) and dbvar_adapter.py:30-48
(END= extraction). `str_to_map` handles the INFO dict natively.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def parse_vcf(lines: DataFrame) -> DataFrame:
    """`value` lines -> chrom, pos, id, ref, alt, info (raw) + info_map."""
    c = F.col("value")
    out = lines.filter(~c.startswith("#") & (F.trim(c) != ""))
    t = F.split(c, "\t")
    return out.select(
        *[F.col(f) for f in lines.columns if f != "value"],
        F.get(t, 0).alias("chrom"),
        F.get(t, 1).try_cast("long").alias("pos"),
        F.get(t, 2).alias("id"),
        F.get(t, 3).alias("ref"),
        F.get(t, 4).alias("alt"),
        F.get(t, 7).alias("info"),
        F.str_to_map(F.coalesce(F.get(t, 7), F.lit("")), F.lit(";"), F.lit("=")).alias("info_map"),
    )


def info_value(info_map: Column, key: str) -> Column:
    return F.element_at(info_map, key)


def info_multi(info_map: Column, key: str) -> Column:
    """','-split multi-value (dbsnp_adapter.py:30-32): returns array."""
    v = F.element_at(info_map, key)
    return F.when(v.isNull(), F.lit(None)).otherwise(F.split(v, ","))
