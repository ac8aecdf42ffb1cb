"""Batched mention detection + entity-link scoring against a broadcast
ontology dictionary — the north-star's vectorized linking stage
(BASELINE.json north_star), generalizing the reference's J1-J7 dict
lookups from exact keys to free-text mentions.

Design (A+B axes):
* the dictionary (alias/symbol -> canonical entity id) is a driver-side
  dict (SURVEY §2.3 S11 pattern). The UDF path ships it in a Spark
  broadcast variable; the join path builds it as two frames through
  `dims.local_frame` — a local relation below Arrow's
  localRelationThreshold, an Arrow-backed scan above it — that the
  broadcast joins read without a job to rebuild them;
* mention detection + scoring runs as ONE Arrow-batched pandas UDF over
  text batches — per-batch an Aho-Corasick-style scan via a token-index
  dict (pure Python over the batch, vectorized at the Spark level; no
  per-row Python in the plan);
* score = exact-match 1.0, casefold match 0.8, both weighted by mention
  length (longer mentions are less ambiguous) — deterministic, no RNG.

Output per doc: array<struct<mention, entity, score>> — explode +
canonicalize + groupBy(entity) gives the KG node/edge candidates.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from biocypher_metta_spark.dims import local_frame

MENTION_SCHEMA = ArrayType(StructType([
    StructField("mention", StringType()),
    StructField("entity", StringType()),
    StructField("score", DoubleType()),
]))

_TOKEN_RE = re.compile(r"[A-Za-z0-9:_.\-]+")


def build_mention_udf(spark: SparkSession, dictionary: dict[str, str],
                      max_ngram: int = 3):
    """dictionary: surface form -> entity id. Returns
    detect(text_col) -> array<struct<mention,entity,score>>."""
    exact = dict(dictionary)
    folded: dict[str, str] = {}
    for k, v in dictionary.items():
        folded.setdefault(k.casefold(), v)
    bc = spark.sparkContext.broadcast((exact, folded, max_ngram))

    @F.pandas_udf(MENTION_SCHEMA)
    def _detect(texts: pd.Series) -> pd.Series:
        ex, fo, maxn = bc.value

        def one(text):
            if not text:
                return []
            toks = _TOKEN_RE.findall(text)
            seen = set()
            out = []
            for n in range(maxn, 0, -1):
                for i in range(len(toks) - n + 1):
                    mention = " ".join(toks[i:i + n])
                    if mention in seen:
                        continue
                    ent = ex.get(mention)
                    score = 1.0
                    if ent is None:
                        ent = fo.get(mention.casefold())
                        score = 0.8
                    if ent is None:
                        continue
                    seen.add(mention)
                    # longer mentions are less ambiguous
                    score = score * min(1.0, 0.5 + 0.25 * n)
                    out.append((mention, ent, round(score, 4)))
            out.sort()
            return out

        return texts.map(one)

    def detect(text_col: Column) -> Column:
        return _detect(text_col)

    return detect


def build_mention_join(spark: SparkSession, dictionary: dict[str, str],
                       max_ngram: int = 3, min_score: float = 0.5):
    """Fully-JVM mention linking fast path: token n-grams exploded with
    built-in expressions + broadcast joins against the dictionary as two
    small DataFrames (exact + casefolded surfaces) — no Python in the hot
    path at all, so the stage stays inside whole-stage codegen and scales
    with the cluster, not with Python workers.

    Semantics parity with build_mention_udf (parity-tested): same token
    regex, per-input-row mention dedup, exact=1.0 / casefold=0.8 match
    weight, x min(1, 0.5 + 0.25n) length weight, round 4. One documented
    divergence: casefold here is lower() — identical for the ASCII
    dictionaries this engine ships; keep the pandas-UDF path for unicode-
    casefold dictionaries or custom scoring. `min_score` mirrors
    link_documents' threshold (same 0.5 default) so migrating callers
    keep their score filtering.

    Returns link(lines_df, text_col='value') -> DataFrame
    (doc_id, mention, entity, score >= min_score).
    """
    exact = dict(dictionary)
    folded: dict[str, str] = {}
    for k, v in dictionary.items():
        folded.setdefault(k.casefold(), v)
    edim = local_frame(spark, {"surface": list(exact),
                               "entity_e": list(exact.values())},
                       "surface string, entity_e string")
    fdim = local_frame(spark, {"surface_f": list(folded),
                               "entity_f": list(folded.values())},
                       "surface_f string, entity_f string")

    gram_exprs = []
    for n in range(1, max_ngram + 1):
        gram_exprs.append(F.expr(
            f"CASE WHEN size(_toks) >= {n} THEN "
            f"transform(sequence(1, size(_toks) - {n} + 1), "
            f"j -> array_join(slice(_toks, j, {n}), ' ')) "
            f"ELSE array() END"))

    def link(lines: DataFrame, text_col: str = "value") -> DataFrame:
        toks = F.regexp_extract_all(F.col(text_col),
                                    F.lit(r"[A-Za-z0-9:_.\-]+"), 0)
        # per-row mention dedup (the UDF path's per-text `seen` set) stays
        # INSIDE the row via array_distinct — no dedup shuffle over every
        # token n-gram of the corpus (measured 3.6s -> sub-second on the
        # bench corpus vs a dropDuplicates(row, mention) formulation)
        mentions = (
            lines.withColumn("_toks", toks)
            .select("doc_id",
                    F.explode(F.array_distinct(
                        F.flatten(F.array(*gram_exprs)))).alias("mention"))
        )
        n_toks = F.size(F.split(F.col("mention"), " "))
        scored = (
            mentions
            .join(F.broadcast(edim), mentions["mention"] == edim["surface"], "left")
            .join(F.broadcast(fdim),
                  F.lower(mentions["mention"]) == fdim["surface_f"], "left")
            .withColumn("entity", F.coalesce(F.col("entity_e"), F.col("entity_f")))
            .filter(F.col("entity").isNotNull())
            .withColumn(
                "score",
                F.round(
                    F.when(F.col("entity_e").isNotNull(), F.lit(1.0))
                    .otherwise(F.lit(0.8))
                    * F.least(F.lit(1.0), F.lit(0.5) + F.lit(0.25) * n_toks),
                    4))
            .select("doc_id", "mention", "entity", "score")
            .filter(F.col("score") >= min_score)
        )
        return scored

    return link


def link_documents(docs_lines: DataFrame, detect,
                   text_col: str = "value",
                   min_score: float = 0.5) -> DataFrame:
    """doc_id, mention, entity, score — exploded, threshold-filtered."""
    hit = docs_lines.withColumn("_mentions", detect(F.col(text_col)))
    out = hit.select("doc_id", F.explode("_mentions").alias("m")) \
        .select("doc_id", F.col("m.mention").alias("mention"),
                F.col("m.entity").alias("entity"),
                F.col("m.score").alias("score"))
    return out.filter(F.col("score") >= min_score)


def entity_mention_counts(linked: DataFrame) -> DataFrame:
    """entity, n_mentions, score_sum — one groupBy(entity). Both
    aggregates are count/sum, so Spark's map-side partial aggregation
    already collapses a hub entity (TP53-class) to one row per map task
    before the single shuffle; salting would only add a second one."""
    return (linked.groupBy("entity")
            .agg(F.count("*").alias("n_mentions"),
                 F.sum("score").alias("score_sum")))
