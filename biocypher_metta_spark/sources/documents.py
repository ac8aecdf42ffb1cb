"""The engine's primary input: interleaved text+media `documents` table.

Contract (BASELINE.json input_hint):
    documents(doc_id string,
              spans array<struct<kind:string, text:string,
                                 media_ref:string, offset:int>>)

Per-row invariant: extraction never mutates or reorders source spans —
(kind, text, media_ref, order-by-offset) must be preserved exactly.
`span_fingerprint` + `assert_span_invariant` make that checkable cheaply
at any scale (distributed hash compare, no collect of span data).

The reference's per-format file scans (SURVEY.md §2.1 S1-S10) become span
interpreters here: `span_lines(df, kind)` yields the text payloads of one
format family, which the format parsers (sources/gtf.py, vcf.py, ...)
consume. Media spans pass through untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN_STRUCT = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])

DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(SPAN_STRUCT)),
])


def read_documents(spark, path: str) -> DataFrame:
    """Read a documents table (parquet layout standing in for Iceberg in
    the sandbox — partition pruning / predicate pushdown behave the same)."""
    return spark.read.parquet(path)


def explode_spans(df: DataFrame) -> DataFrame:
    """One row per span, ordered within each doc by `offset`.

    Uses the array position (posexplode) only as tie-break; `offset` is the
    authoritative order per the input contract. Nested-schema pruning keeps
    the scan narrow when callers select a subset of span fields.
    """
    return (
        df.select("doc_id", F.posexplode("spans").alias("pos", "span"))
        .select(
            "doc_id",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
            F.col("span.offset").alias("offset"),
            "pos",
        )
    )


def _text_spans(df: DataFrame) -> DataFrame:
    """(doc_id, span struct<kind, text, offset>) per span, with media_ref
    pruned from the parquet read."""
    # arrays_zip over direct nested-field extractions is the one explode
    # form where nested-schema pruning survives a downstream filter: the
    # parquet ReadSchema drops media_ref (verified via .explain — plain
    # explode/posexplode + filter read the full span struct)
    z = F.arrays_zip(F.col("spans.kind").alias("kind"),
                     F.col("spans.text").alias("text"),
                     F.col("spans.offset").alias("offset"))
    return df.select("doc_id", F.explode(z).alias("span"))


def span_lines(df: DataFrame, kind: str) -> DataFrame:
    """Text payloads of one format family: filter on span kind — this
    predicate reaches the scan (partition pruning when the table is
    partitioned/bucketed by kind)."""
    return (
        _text_spans(df)
        .filter(F.col("span.kind") == kind)
        .select("doc_id", F.col("span.offset").alias("offset"),
                F.col("span.text").alias("value"))
    )


def keyed_span_lines(df: DataFrame, prefix: str, key_col: str) -> DataFrame:
    """Text payloads of the spans tagged '<prefix>:<key>' (e.g.
    'pwm:ATF1_HUMAN.H11MO.0.B', 'gtex:Adipose_Subcutaneous'), with the key
    as column `key_col` — the Spark twin of filename-carries-the-key
    directory scans. Reads the spans as `span_lines` does."""
    return (
        _text_spans(df)
        .filter(F.col("span.kind").startswith(prefix + ":"))
        .select("doc_id", F.col("span.offset").alias("offset"),
                F.col("span.text").alias("value"),
                F.expr(f"substring(span.kind, {len(prefix) + 2})").alias(key_col))
    )


def span_fingerprint(df: DataFrame) -> DataFrame:
    """Deterministic per-doc fingerprint of the span sequence
    (kind, text, media_ref, order-by-offset) — xxhash64 over the
    offset-sorted concatenation. Pure JVM expression work."""
    canon = F.sha2(
        F.concat_ws(
            "\x1e",
            F.transform(
                F.array_sort(
                    F.expr(
                        "transform(spans, s -> struct(s.offset as offset, s.kind as kind,"
                        " s.text as text, s.media_ref as media_ref))"
                    )
                ),
                lambda s: F.concat_ws(
                    "\x1f",
                    s["offset"].cast("string"),
                    F.coalesce(s["kind"], F.lit("\x02")),
                    F.coalesce(s["text"], F.lit("\x02")),
                    F.coalesce(s["media_ref"], F.lit("\x02")),
                ),
            ),
        ),
        256,
    )
    return df.select("doc_id", canon.alias("span_fp"))


def assert_span_invariant(before: DataFrame, after: DataFrame) -> int:
    """Distributed check that `after` preserved every doc's span sequence.
    Returns the number of violating docs (0 == invariant holds)."""
    fb = span_fingerprint(before).withColumnRenamed("span_fp", "fp_before")
    fa = span_fingerprint(after).withColumnRenamed("span_fp", "fp_after")
    joined = fb.join(fa, "doc_id", "full_outer")
    return joined.filter(
        F.col("fp_before").isNull()
        | F.col("fp_after").isNull()
        | (F.col("fp_before") != F.col("fp_after"))
    ).count()
