"""hg19 -> hg38 liftover as a dimension join (P11).

Reference: helpers.py:145-175 convert_genome_reference — a cached
chainfile lifter queried per row; rows that fail to lift are dropped
(dbsuper_adapter.py:51-52,83).

The chain's aligned blocks (functions/chainfile.py) are a dimension
frame like any id-map, built once on the driver:

    blocks = chain_blocks(spark, ChainLifter.from_path("hg19ToHg38.over.chain"))
    lifted = lift(df, "chr", "start", blocks, "start38")

`lift` is a range join made an equi-join: each block is exploded into
every 64 kb bin it covers, each distinct (chrom, pos) joins the blocks
of its bin, and a filter keeps the blocks that contain it. The full
hg19ToHg38 chain is ~10^6 blocks, so the join is planned like any other
and never needs a broadcast. `ChainLifter.query` is the oracle the
join is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biocypher_metta_spark.dims import local_frame
from biocypher_metta_spark.functions.chainfile import ChainLifter

# the columns of ChainLifter.blocks_table() rows, in order
BLOCKS_SCHEMA = ("src_chrom string, src_start long, src_end long, dst_chrom string, "
                 "dst_anchor long, sign long, strand string, score long, ord long")
BIN_BITS = 16  # 64 kb position bins


def chain_blocks(spark: SparkSession, lifter: ChainLifter) -> DataFrame:
    """The lifter's aligned blocks (`ChainLifter.blocks_table()`) as a
    dimension frame."""
    rows = lifter.blocks_table()
    cols = [field.split()[0] for field in BLOCKS_SCHEMA.split(", ")]
    return local_frame(spark, {c: [r[i] for r in rows] for i, c in enumerate(cols)},
                       BLOCKS_SCHEMA)


def lift(df: DataFrame, chr_col: str, pos_col: str, blocks: DataFrame,
         out_col: str) -> DataFrame:
    """`df` plus `out_col`: the best chain's destination position of
    (chr_col, pos_col), as `ChainLifter.query(chr, pos)[0]` gives it, or
    NULL where no block maps it (callers drop those rows, P11). The
    chrom loses a 'chr'/'ch' prefix, as the reference strips it before
    querying (helpers.py:168)."""
    keyed = (df.withColumn("_lift_chrom", F.regexp_replace(F.col(chr_col), "^(chr|ch)", ""))
             .withColumn("_lift_pos", F.col(pos_col).cast("long")))
    points = (keyed.select("_lift_chrom", "_lift_pos").dropna().distinct()
              .withColumn("_lift_bin", F.shiftright("_lift_pos", BIN_BITS)))
    bins = blocks.withColumn("_lift_bin", F.explode(F.sequence(
        F.shiftright("src_start", BIN_BITS), F.shiftright(F.col("src_end") - 1, BIN_BITS))))
    hits = points.join(bins, (points["_lift_chrom"] == bins["src_chrom"])
                       & (points["_lift_bin"] == bins["_lift_bin"])
                       & (F.col("_lift_pos") >= F.col("src_start"))
                       & (F.col("_lift_pos") < F.col("src_end")))
    best = hits.groupBy("_lift_chrom", "_lift_pos").agg(F.max_by(
        F.col("dst_anchor") + F.col("sign") * (F.col("_lift_pos") - F.col("src_start")),
        F.struct("score", -F.col("ord"))).alias(out_col))
    return (keyed.join(best, ["_lift_chrom", "_lift_pos"], "left")
            .drop("_lift_chrom", "_lift_pos"))
