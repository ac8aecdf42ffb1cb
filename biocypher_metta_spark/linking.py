"""Mention detection + entity-link scoring against an ontology
dictionary — the north-star's linking stage (BASELINE.json north_star),
generalizing the reference's J1-J7 dict lookups from exact keys to
free-text mentions.

Design:
* the dictionary (alias/symbol -> canonical entity id) is a driver-side
  dict (SURVEY §2.3 S11 pattern), built as two frames through
  `dims.local_frame` — a local relation below Arrow's
  localRelationThreshold, an Arrow-backed scan above it — that the
  broadcast joins read without a job to rebuild them;
* mention detection is built-in expressions only: token n-grams per
  text, deduplicated inside the row, then broadcast joins against the
  dictionary, so the whole stage runs in the JVM with no Python worker;
* score = exact-match 1.0, case-folded match 0.8, both weighted by mention
  length (longer mentions are less ambiguous) — deterministic, no RNG.

Output: (doc_id, mention, entity, score) rows — canonicalize +
groupBy(entity) gives the KG node/edge candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biocypher_metta_spark.dims import local_frame


MIN_SCORE = 0.5  # links scoring below this are dropped


def build_mention_join(spark: SparkSession, dictionary: dict[str, str],
                       max_ngram: int = 3):
    """Mention linking in the JVM: token n-grams exploded with built-in
    expressions + broadcast joins against the dictionary as two small
    DataFrames (exact + casefolded surfaces) — no Python at all, so the
    stage stays inside whole-stage codegen and scales with the cluster,
    not with Python workers.

    Tokens are runs of `[A-Za-z0-9:_.-]`; every n-gram of 1..max_ngram
    tokens is a candidate mention, once per input row. A mention equal to
    a dictionary surface scores 1.0; otherwise one whose lower() equals a
    surface's casefold() scores 0.8 (lower() equals casefold on ASCII).
    The score is then multiplied by min(1, 0.5 + 0.25n) for an n-token
    mention, rounded to 4 places, and rows below MIN_SCORE are dropped.

    Returns link(lines_df) -> DataFrame (doc_id, mention, entity,
    score >= MIN_SCORE) over the lines' `value` texts.
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

    def link(lines: DataFrame) -> DataFrame:
        toks = F.regexp_extract_all(F.col("value"),
                                    F.lit(r"[A-Za-z0-9:_.\-]+"), 0)
        # per-row mention dedup stays INSIDE the row via array_distinct —
        # no dedup shuffle over every token n-gram of the corpus (measured
        # 3.6s -> sub-second on the bench corpus vs a
        # dropDuplicates(row, mention) formulation)
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
            .filter(F.col("score") >= MIN_SCORE)
        )
        return scored

    return link


def entity_mention_counts(linked: DataFrame) -> DataFrame:
    """entity, n_mentions, score_sum — one groupBy(entity). Both
    aggregates are count/sum, so Spark's map-side partial aggregation
    already collapses a hub entity (TP53-class) to one row per map task
    before the single shuffle; salting would only add a second one."""
    return (linked.groupBy("entity")
            .agg(F.count("*").alias("n_mentions"),
                 F.sum("score").alias("score_sum")))
