"""GENCODE GTF adapters: gene / transcript / exon nodes and
transcribed_to / transcribed_from edges.

Reference semantics: gencode_gene_adapter.py:84-127 (gene nodes + alias
join), gencode_adapter.py:55-134 (transcript nodes + edges),
gencode_exon_adapter.py:42-77 (exon nodes).

Spark-first notes:
* The reference reads the same GTF once per config entry (5x). Here one
  parsed DataFrame feeds all five outputs — cache() it at the call site.
* The gene-alias dimension (gencode_gene_adapter.py:45-82) is a ~40k-row
  table: broadcast left join (J1), with the ensembl->hgnc fallback chain
  expressed as two joins + coalesce.
* Synonyms are emitted sorted: the reference materializes a Python set
  whose iteration order is run-dependent (gencode_gene_adapter.py:74),
  so a deterministic engine must pick a canonical order. Parity tests
  compare synonyms set-wise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark.adapters import provenance_props
from biocypher_metta_spark.dims import lookup_join
from biocypher_metta_spark.functions.genomic import genomic_window
from biocypher_metta_spark.serializer import Prop, atoms_df, node_def_out, edge_def_out
from biocypher_metta_spark.sources.gtf import strip_version

SOURCE = "GENCODE"
SOURCE_URL = "https://www.gencodegenes.org/human/"


# ---------------------------------------------------------------------------
# gene alias dimension (gencode_gene_adapter.py:45-82)
# ---------------------------------------------------------------------------

GENE_INFO_COLS = [
    "tax_id", "gene_id", "symbol", "locus_tag", "synonyms", "dbxrefs",
    "chromosome", "map_location", "description", "type_of_gene",
    "symbol_from_nomenclature_authority", "full_name_from_nomenclature_authority",
    "nomenclature_status", "other_designations", "modification_date",
    "feature_type",
]


def parse_gene_alias(spark, path: str) -> DataFrame:
    """gene_info TSV -> (alias_key, synonyms array) dimension, one row per
    ensembl/hgnc key. Mirrors the dict build at
    gencode_gene_adapter.py:45-82; synonym set is emitted sorted+distinct.
    """
    df = (
        spark.read.csv(str(path), sep="\t", header=False)
        .toDF(*GENE_INFO_COLS)
    )
    return gene_alias_dim(df)


def gene_alias_dim(df: DataFrame) -> DataFrame:
    """The dimension build itself over a GENE_INFO_COLS-shaped frame —
    split out of parse_gene_alias so synthesized inputs (the driver gate's
    kg_alias_dimension twin) exercise the exact production logic."""
    df = (
        df
        # the reference skips the header with next(input)
        .filter(F.col("tax_id") != "#tax_id")
        .filter(~F.col("tax_id").startswith("#"))
    )
    xref = F.split(F.col("dbxrefs"), r"\|")
    hgnc_arr = F.filter(xref, lambda r: r.startswith("HGNC:"))
    ens_arr = F.filter(xref, lambda r: r.startswith("Ensembl:"))
    # reference keeps the LAST matching prefix (loop overwrites)
    hgnc = F.when(F.size(hgnc_arr) > 0,
                  F.substring(F.element_at(hgnc_arr, -1), 6, 10_000))
    ensembl = F.when(F.size(ens_arr) > 0,
                     F.substring(F.element_at(ens_arr, -1), 9, 10_000))
    syn = F.concat(
        F.array(F.col("symbol")),
        F.split(F.col("synonyms"), r"\|"),
        F.when(hgnc.isNotNull(), F.array(hgnc)).otherwise(F.array()),
        F.split(F.col("other_designations"), r"\|"),
        F.array(F.col("symbol_from_nomenclature_authority")),
        F.array(F.col("full_name_from_nomenclature_authority")),
    )
    syn = F.array_sort(F.array_remove(F.array_distinct(syn), "-"))
    d = df.select(hgnc.alias("hgnc"), ensembl.alias("ensembl"), syn.alias("synonyms"))
    d = d.filter(F.col("hgnc").isNotNull() | F.col("ensembl").isNotNull())
    return (
        d.select(F.explode(F.array_compact(F.array("ensembl", "hgnc"))).alias("alias_key"),
                 "synonyms")
        .filter(F.col("alias_key") != "")
        .dropDuplicates(["alias_key"])
    )


# ---------------------------------------------------------------------------
# gene nodes
# ---------------------------------------------------------------------------


def gene_nodes(gtf: DataFrame, alias_df: DataFrame | None = None,
               chr: str | None = None, start: int | None = None,
               end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """(typed nodes DF, atoms DF). gtf = parse_gtf(...) output with
    GENE_KEYS attribute columns."""
    g = gtf.filter(F.col("type") == "gene").filter(F.col("gene_id").isNotNull())
    # reference skips rows whose coords fail int() (try/except :108-127)
    g = g.filter(F.col("start").isNotNull() & F.col("end").isNotNull())
    base = F.split(F.col("gene_id"), r"\.").getItem(0)
    g = g.withColumn("_id", strip_version(F.col("gene_id"))).withColumn("_base", base)
    g = g.filter(genomic_window(F.col("chr"), F.col("start"), F.col("end"),
                                chr, start, end))
    # reference: KeyError on gene_type/gene_name -> row skipped (:113-117)
    g = g.filter(F.col("gene_type").isNotNull() & F.col("gene_name").isNotNull())
    if alias_df is not None:
        for on, out in ((F.col("_base"), "_syn1"), (F.col("hgnc_id"), "_syn2")):
            g = lookup_join(g, alias_df, on, key_col="alias_key", val_col="synonyms",
                            out_col=out, how="left")
        # fallback only when the ensembl lookup missed (:96-100)
        g = g.withColumn("synonyms", F.coalesce(F.col("_syn1"), F.col("_syn2")))
    else:
        g = g.withColumn("synonyms", F.lit(None).cast("array<string>"))

    typed = g.select(
        F.col("_id").alias("id"), F.lit("gene").alias("label"),
        "chr", "start", "end", "gene_type", "gene_name", "synonyms",
    )
    props = [
        Prop("gene_type", F.col("gene_type"), "str"),
        Prop("chr", F.col("chr"), "str"),
        Prop("start", F.col("start"), "int"),
        Prop("end", F.col("end"), "int"),
        Prop("gene_name", F.col("gene_name"), "str"),
        Prop("synonyms", F.col("synonyms"), "str_list"),
    ] + provenance_props(SOURCE, SOURCE_URL)
    atoms = atoms_df(g, node_def_out("gene", F.col("_id")), props)
    return typed, atoms


# ---------------------------------------------------------------------------
# transcript nodes (gencode_adapter.py:55-96)
# ---------------------------------------------------------------------------


def transcript_nodes(gtf: DataFrame,
                     chr: str | None = None, start: int | None = None,
                     end: int | None = None) -> tuple[DataFrame, DataFrame]:
    t = gtf.filter(F.col("type") == "transcript").filter(F.col("transcript_id").isNotNull())
    t = t.filter(F.col("start").isNotNull() & F.col("end").isNotNull())
    t = t.withColumn("_id", strip_version(F.col("transcript_id")))
    t = t.filter(genomic_window(F.col("chr"), F.col("start"), F.col("end"),
                                chr, start, end))
    t = t.filter(F.col("transcript_name").isNotNull()
                 & F.col("transcript_type").isNotNull()
                 & F.col("gene_name").isNotNull())
    typed = t.select(
        F.col("_id").alias("id"), F.lit("transcript").alias("label"),
        "chr", "start", "end", "transcript_id", "transcript_name",
        "transcript_type", "gene_name",
    )
    props = [
        Prop("transcript_id", F.col("transcript_id"), "str"),
        Prop("transcript_name", F.col("transcript_name"), "str"),
        Prop("transcript_type", F.col("transcript_type"), "str"),
        Prop("chr", F.col("chr"), "str"),
        Prop("start", F.col("start"), "int"),
        Prop("end", F.col("end"), "int"),
        Prop("gene_name", F.col("gene_name"), "str"),
    ] + provenance_props(SOURCE, SOURCE_URL)
    atoms = atoms_df(t, node_def_out("transcript", F.col("_id")), props)
    return typed, atoms


# ---------------------------------------------------------------------------
# transcribed_to / transcribed_from edges (gencode_adapter.py:98-134)
# NOTE: the reference applies NO genomic-window filter on edges.
# ---------------------------------------------------------------------------


def transcribed_edges(gtf: DataFrame, registry, direction: str = "to",
                      ) -> tuple[DataFrame, DataFrame]:
    t = gtf.filter(F.col("type") == "transcript").filter(
        F.col("transcript_id").isNotNull() & F.col("gene_id").isNotNull()
    )
    gene_key = strip_version(F.col("gene_id"))
    tx_key = strip_version(F.col("transcript_id"))
    if direction == "to":
        label, src, tgt = "transcribed_to", gene_key, tx_key
    else:
        label, src, tgt = "transcribed_from", tx_key, gene_key
    e = t.select(src.alias("src"), tgt.alias("tgt"))
    typed = e.select(F.col("src"), F.col("tgt"), F.lit(label).alias("label"))
    props = provenance_props(SOURCE, SOURCE_URL)
    atoms = atoms_df(e, edge_def_out(label, registry, F.col("src"), F.col("tgt")), props)
    return typed, atoms


# ---------------------------------------------------------------------------
# exon nodes (gencode_exon_adapter.py:42-77) — no _PAR_Y re-append here
# ---------------------------------------------------------------------------


def exon_nodes(gtf: DataFrame,
               chr: str | None = None, start: int | None = None,
               end: int | None = None) -> tuple[DataFrame, DataFrame]:
    x = gtf.filter(F.col("type") == "exon").filter(
        F.col("exon_id").isNotNull() & F.col("gene_id").isNotNull()
        & F.col("transcript_id").isNotNull()
    )
    x = x.filter(F.col("start").isNotNull() & F.col("end").isNotNull())
    x = x.withColumn("_id", F.split(F.col("exon_id"), r"\.").getItem(0))
    x = x.filter(genomic_window(F.col("chr"), F.col("start"), F.col("end"),
                                chr, start, end))
    gene_plain = F.split(F.col("gene_id"), r"\.").getItem(0)
    tx_plain = F.split(F.col("transcript_id"), r"\.").getItem(0)
    exon_number = F.coalesce(F.col("exon_number").cast("long"), F.lit(-1))
    typed = x.select(
        F.col("_id").alias("id"), F.lit("exon").alias("label"),
        "chr", "start", "end",
        gene_plain.alias("gene_id"), tx_plain.alias("transcript_id"),
        exon_number.alias("exon_number"),
    )
    props = [
        Prop("gene_id", gene_plain, "str"),
        Prop("transcript_id", tx_plain, "str"),
        Prop("chr", F.col("chr"), "str"),
        Prop("start", F.col("start"), "int"),
        Prop("end", F.col("end"), "int"),
        Prop("exon_number", exon_number, "int"),
        Prop("exon_id", F.col("_id"), "str"),
    ] + provenance_props(SOURCE, SOURCE_URL)
    atoms = atoms_df(x, node_def_out("exon", F.col("_id")), props)
    return typed, atoms
