"""Physical-plan evidence for the scale story: AQE skew-join splitting on
hub keys, broadcast joins on dimensions, partition pruning on the triple
table, salted aggregation equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def skew_spark():
    """Session with thresholds forced low so the skew machinery engages
    on test-sized data (same switches that act at real scale)."""
    from biocypher_metta_spark.session import get_spark

    s = get_spark("skew-test", master="local[4]", extra_confs={
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })
    yield s


def test_aqe_splits_skewed_join(skew_spark):
    """Hub-entity join (one rsid carrying 100k rows vs uniform rest):
    AQE must mark the sort-merge join skew=true and split the hub
    partition — the north rule's skew handling, via conf not custom code."""
    spark = skew_spark
    # heavily skewed fact: 100k rows for rs_hub, 1 row each for 1000 others
    fact = spark.range(101_000).select(
        F.when(F.col("id") < 100_000, F.lit("rs_hub"))
        .otherwise(F.concat(F.lit("rs"), F.col("id"))).alias("rsid"),
        F.rand(7).alias("payload"),
    )
    dim = spark.range(2_000).select(
        F.concat(F.lit("rs"), F.col("id") + 100_000).alias("rsid"),
        F.lit("chrX").alias("chr")).union(
        spark.createDataFrame([("rs_hub", "chr1")], "rsid string, chr string"))
    joined = fact.join(dim, "rsid")
    # collect() runs THIS DataFrame's own QueryExecution, so its AQE plan
    # finalizes (count()/write() spawn separate executions)
    assert len(joined.collect()) == 101_000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan[:2000]


def test_dimension_join_broadcasts(spark):
    """J1-J7 dimension joins must be broadcast, not shuffle."""
    from biocypher_metta_spark import dims

    big = spark.range(10_000).select(F.concat(F.lit("k"), F.col("id") % 50).alias("key2"),
                                     F.col("id"))
    d = dims.dim_from_map(spark, {f"k{i}": f"v{i}" for i in range(50)})
    out = dims.lookup_join(big, d, F.col("key2"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the dimension is a local relation: no job rebuilds pickled Python rows
    assert "LocalTableScan" in plan
    assert not [ln for ln in plan.splitlines()
                if "Scan ExistingRDD" in ln and "arrow" not in ln], plan


def test_triple_table_partition_pruning(spark, tmp_path):
    """Probe queries on the materialized triple table must prune
    partitions (label/kind are partition columns)."""
    from biocypher_metta_spark import sinks

    nodes = spark.range(1000).select(
        F.concat(F.lit("ENSG"), F.col("id")).alias("id"),
        F.when(F.col("id") % 2 == 0, "gene").otherwise("transcript").alias("label"))
    sinks.write_triple_table(nodes, None, str(tmp_path / "tt"))
    tt = spark.read.parquet(str(tmp_path / "tt"))
    q = tt.filter("kind = 'node' AND label = 'gene'")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(kind" in plan or "kind#" in plan
    # the pruned scan must list both partition predicates
    assert "label" in plan.split("PartitionFilters")[1][:200]
    assert q.count() == 500


def test_entity_mention_counts_one_shuffle(spark):
    """Hub-skewed mention counts: the values are the hand-computed count
    and sum per entity, and the executed plan shuffles exactly once (the
    map-side partial aggregate absorbs the hub, no salt stage)."""
    from biocypher_metta_spark import linking

    # 9,000 TP53 mentions scoring 0.5 each; 1,000 singletons scoring 0.25
    linked = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit("TP53")).otherwise(
            F.concat(F.lit("G"), F.col("id"))).alias("entity"),
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") < 9_000, F.lit(0.5)).otherwise(F.lit(0.25))
        .alias("score"))
    counts = linking.entity_mention_counts(linked)
    # read before any action: once AQE finalizes, the string holds both
    # the final and the initial plan
    plan = counts._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    got = {r.entity: (r.n_mentions, r.score_sum) for r in counts.collect()}
    expected = {"TP53": (9_000, 4_500.0)}
    expected.update({f"G{i}": (1, 0.25) for i in range(9_000, 10_000)})
    assert got == expected


def test_ann_bucket_layout_prunes_partitions(spark, tmp_path):
    """write_embeddings_bucketed + lsh_bucketed_topk_from_table: the probe
    query's _bucket predicate must reach the scan as a partition filter,
    and the pruned read must return the same top-k as the full-scan path."""
    import math

    from biocypher_metta_spark.operators import similarity as sim

    rows = [(i, [math.cos(i / 37.0), math.sin(i / 37.0),
                 math.cos(i / 11.0), math.sin(i / 11.0)])
            for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "emb_bucketed")
    sim.write_embeddings_bucketed(emb, path, dim=4, n_planes=4)

    q = [1.0, 0.05, 0.9, 0.1]
    pruned = sim.lsh_bucketed_topk_from_table(spark, path, q, k=5, n_planes=4)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_bucket" in plan.split("PartitionFilters")[1][:300]

    full = sim.lsh_bucketed_topk(emb, q, k=5, n_planes=4)
    assert [r.vec_id for r in pruned.collect()] == [r.vec_id for r in full.collect()]
