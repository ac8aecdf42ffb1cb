"""hg19 -> hg38 liftover as a dimension join (P11).

Reference: helpers.py:145-175 convert_genome_reference — a cached
chainfile lifter queried per row; rows that fail to lift are dropped
(dbsuper_adapter.py:51-52,83).

The chain's aligned blocks (functions/chainfile.py) are a dimension
frame like any id-map, built once on the driver:

    blocks = chain_blocks(spark, ChainLifter.from_path("hg19ToHg38.over.chain"))
    lifted = lift(df, "chr", {"start38": "start", "end38": "end"}, blocks)

`lift` gathers the distinct (chrom, pos) points of every position column
in one pass and range-joins them to the blocks that contain them with
`genomic.interval_point_join` in 64 kb buckets. The full hg19ToHg38
chain is ~10^6 blocks, so the join is planned like any other and never
needs a broadcast. `ChainLifter.query` is the oracle the join is tested
against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biocypher_metta_spark.dims import local_frame
from biocypher_metta_spark.functions.chainfile import ChainLifter
from biocypher_metta_spark.functions.genomic import interval_point_join

# the columns of ChainLifter.blocks_table() rows, in order
BLOCKS_SCHEMA = ("src_chrom string, src_start long, src_end long, dst_chrom string, "
                 "dst_anchor long, sign long, strand string, score long, ord long")
BIN_BITS = 16  # 64 kb range-join buckets


def chain_blocks(spark: SparkSession, lifter: ChainLifter) -> DataFrame:
    """The lifter's aligned blocks (`ChainLifter.blocks_table()`) as a
    dimension frame."""
    rows = lifter.blocks_table()
    cols = [field.split()[0] for field in BLOCKS_SCHEMA.split(", ")]
    return local_frame(spark, {c: [r[i] for r in rows] for i, c in enumerate(cols)},
                       BLOCKS_SCHEMA)


def lift(df: DataFrame, chr_col: str, positions: dict[str, str],
         blocks: DataFrame) -> DataFrame:
    """`df` plus one column per `positions` entry (out_col -> pos_col):
    the best chain's destination position of (chr_col, pos_col), as
    `ChainLifter.query(chr, pos)[0]` gives it, or NULL where no block
    maps it (callers drop those rows, P11). The chrom loses a 'chr'/'ch'
    prefix, as the reference strips it before querying (helpers.py:168).

    The points of all position columns are lifted together: one distinct
    (chrom, pos) frame, one range join and one best pick, then one join
    back per position."""
    pos_cols = [f"_lift_p{i}" for i in range(len(positions))]
    keyed = df.withColumn("_lift_chrom", F.regexp_replace(F.col(chr_col), "^(chr|ch)", ""))
    for p, pos_col in zip(pos_cols, positions.values()):
        keyed = keyed.withColumn(p, F.col(pos_col).cast("long"))
    # a generator, not unpivot: its Expand would give the chrom a new
    # expression id in each join back's copy of `best`, the optimizer then
    # pushes different filters into the copies, and Spark no longer reuses
    # the points' shuffle between them (one more scan of the input each)
    stacked = F.expr(f"stack({len(pos_cols)}, {', '.join(pos_cols)}) AS _lift_pos")
    points = keyed.select("_lift_chrom", stacked).dropna().distinct()
    hits = interval_point_join(blocks.withColumnRenamed("src_chrom", "_lift_chrom"), points,
                               bucket=1 << BIN_BITS, chrom="_lift_chrom",
                               start="src_start", end="src_end", pos="_lift_pos")
    best = hits.groupBy("_lift_chrom", "_lift_pos").agg(F.max_by(
        F.col("dst_anchor") + F.col("sign") * (F.col("_lift_pos") - F.col("src_start")),
        F.struct("score", -F.col("ord"))).alias("_lifted"))
    for p, out_col in zip(pos_cols, positions):
        keyed = keyed.join(best.withColumnsRenamed({"_lift_pos": p, "_lifted": out_col}),
                           ["_lift_chrom", p], "left")
    return keyed.drop("_lift_chrom", *pos_cols)
