"""Deterministic synthesis of the interleaved documents table.

Two generators:

1. `spans_from_files` — wraps real fixture files (e.g. the reference's
   samples/) into the documents span shape for parity tests: each line of
   a file becomes a text span (kind = format tag), with deterministic
   media spans interleaved to exercise pass-through. Driver-side — only
   used on KB-scale fixtures.

2. `synth_gtf_documents` / GTF_LINE_SQL — a fully arithmetic,
   engine-portable GTF corpus keyed off integer doc ids. The SAME formula
   is expressed as a Spark plan (here) and as DuckDB SQL
   (__spark_entry__.oracle_sql), which is what lets the driver verify the
   span->parse->extract pipeline end-to-end at sf0.01. Distributed via
   spark.range — scales to any row count with zero driver data.
"""

from __future__ import annotations

import gzip
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biocypher_metta_spark.sources.documents import DOCUMENTS_SCHEMA

MEDIA_EVERY = 7  # every 7th span slot carries a media ref, no text
LINES_PER_DOC = 50  # fixture lines per document


def _read_lines(path: str | Path) -> list[str]:
    p = Path(path)
    if p.suffix == ".gz":
        with gzip.open(p, "rt") as f:
            return [l.rstrip("\n") for l in f]
    with open(p) as f:
        return [l.rstrip("\n") for l in f]


def spans_from_files(spark: SparkSession,
                     kind_to_path: dict[str, str | Path]) -> DataFrame:
    """Fixture wrapper: every LINES_PER_DOC lines of each file become one
    document; offsets are the original line numbers so span order is the
    file order; a media span is interleaved every MEDIA_EVERY slots."""
    rows = []
    for kind, path in sorted(kind_to_path.items()):
        lines = _read_lines(path)
        for start in range(0, len(lines), LINES_PER_DOC):
            chunk = lines[start:start + LINES_PER_DOC]
            doc_id = f"{kind}-{start // LINES_PER_DOC:06d}"
            spans = []
            for i, line in enumerate(chunk):
                offset = start + i
                if i % MEDIA_EVERY == MEDIA_EVERY - 1:
                    spans.append((f"{kind}_media", None,
                                  f"media://{kind}/{offset}", offset * 2))
                spans.append((kind, line, None, offset * 2 + 1))
            rows.append((doc_id, spans))
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


# ---------------------------------------------------------------------------
# arithmetic GTF corpus (portable Spark <-> DuckDB)
# ---------------------------------------------------------------------------
# Per integer i (0-based):
#   chrom      = 'chr' || (1 + i % 22)
#   start      = 1 + (i * 9973) % 100000000
#   end        = start + 100 + (i % 5000)
#   gene_num   = lpad(i % 100000, 11, '0');  version = 1 + i % 9
#   gene_type  = protein_coding / lncRNA / miRNA by i % 3
#   line: '<chrom>\tHAVANA\tgene\t<start>\t<end>\t.\t+\t.\tgene_id
#          "ENSG<num>.<ver>"; gene_type "<t>"; gene_name "G<num>";'

GTF_SYNTH_EXPRS = {
    "chrom": "concat('chr', cast(1 + i % 22 as string))",
    "start": "1 + (i * 9973) % 100000000",
    "end": "(1 + (i * 9973) % 100000000) + 100 + (i % 5000)",
    "gene_id": "concat('ENSG', lpad(cast(i % 100000 as string), 11, '0'), '.', cast(1 + i % 9 as string))",
    "gene_type": "element_at(array('protein_coding','lncRNA','miRNA'), cast(i % 3 as int) + 1)",
    "gene_name": "concat('G', lpad(cast(i % 100000 as string), 11, '0'))",
}

GTF_LINE_SQL = (
    "concat({chrom}, '\\tHAVANA\\tgene\\t', cast({start} as string), '\\t', "
    "cast({end} as string), '\\t.\\t+\\t.\\tgene_id \"', {gene_id}, "
    "'\"; gene_type \"', {gene_type}, '\"; gene_name \"', {gene_name}, '\";')"
).format(**GTF_SYNTH_EXPRS)

GTF_TX_EXPRS = dict(
    GTF_SYNTH_EXPRS,
    transcript_id="concat('ENST', lpad(cast(i % 100000 as string), 11, '0'), '.', cast(1 + i % 9 as string))",
    transcript_name="concat('T', lpad(cast(i % 100000 as string), 11, '0'))",
)

GTF_TX_LINE_SQL = (
    "concat({chrom}, '\\tHAVANA\\ttranscript\\t', cast({start} as string), '\\t', "
    "cast({end} as string), '\\t.\\t+\\t.\\tgene_id \"', {gene_id}, "
    "'\"; transcript_id \"', {transcript_id}, '\"; gene_type \"', {gene_type}, "
    "'\"; gene_name \"', {gene_name}, '\"; transcript_type \"', {gene_type}, "
    "'\"; transcript_name \"', {transcript_name}, '\";')"
).format(**GTF_TX_EXPRS)


def _gtf_spans_from_i(df: DataFrame) -> DataFrame:
    """i -> documents row: gene line span + transcript line span + media
    span (interleaved text+media per the input contract)."""
    gene_line = F.expr(GTF_LINE_SQL)
    tx_line = F.expr(GTF_TX_LINE_SQL)
    return df.select(
        F.concat(F.lit("doc-"), F.col("i").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("gtf").alias("kind"),
                gene_line.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("gtf").alias("kind"),
                tx_line.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(1).cast("int").alias("offset"),
            ),
            F.struct(
                F.lit("image").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("media://img/"), F.col("i").cast("string")).alias("media_ref"),
                F.lit(2).cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )


def synth_gtf_documents(spark: SparkSession, n_docs: int,
                        partitions: int | None = None) -> DataFrame:
    """documents table with GTF gene+transcript line spans and one media
    span per doc. Fully distributed (spark.range), seedless-deterministic
    (pure function of the id)."""
    rng = spark.range(n_docs)
    if partitions:
        rng = rng.repartition(partitions)
    return _gtf_spans_from_i(rng.select(F.col("id").alias("i")))


def synth_gtf_documents_from_ids(ids_df: DataFrame) -> DataFrame:
    """Same corpus but keyed off an existing integer `doc_id` column (the
    driver testdata documents.doc_id) so DuckDB oracles can reproduce it."""
    return _gtf_spans_from_i(ids_df.select(F.col("doc_id").cast("long").alias("i")))
