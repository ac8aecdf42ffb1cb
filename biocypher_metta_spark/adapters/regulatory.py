"""Regulatory-region adapters: EPD promoters, EnhancerAtlas enhancers,
TADMap domains, dbSUPER super-enhancers (liftover path), PEREGRINE
enhancers (multi-file join).

The dbSUPER node and edge functions both read `dbsuper_lifted`, the
scan lifted to hg38 and windowed once; the pipeline caches it per
window. Symbol and tissue maps join through `dims.lookup_join`.

Reference: epd_adapter.py:34-76, enhancer_atlas_adapter.py:51-105,
tadmap_adapter.py:43-79, dbsuper_adapter.py:39-94,
peregrine_adapter.py:59-146.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark.adapters import provenance_props
from biocypher_metta_spark.dims import lookup_join
from biocypher_metta_spark.functions.genomic import genomic_window
from biocypher_metta_spark.functions.ids import build_regulatory_region_id
from biocypher_metta_spark.functions.liftover import lift
from biocypher_metta_spark.serializer import (
    Prop,
    atoms_df,
    edge_def_out,
    node_def_out,
)
from biocypher_metta_spark.sources.tabular import split_cols

EPD_SOURCE = ("EPD", "https://epd.expasy.org/ftp/epdnew/H_sapiens/")
EA_SOURCE = ("Enancer Atlas", "http://enhanceratlas.org/downloadv2.php")
TAD_SOURCE = ("TADMap", "https://cb.csail.mit.edu/cb/tadmap/")
DBSUPER_SOURCE = ("dbSuper", "https://asntech.org/dbsuper/download.php")
PEREGRINE_SOURCE = ("PEREGRINE", "https://www.peregrineproj.org/")


# --------------------------------------------------------------------------
# EPD promoters
# --------------------------------------------------------------------------

EPD_COLS = {"chr": 0, "coord_start": 1, "coord_end": 2, "gene_id": 3}


def _epd_base(lines: DataFrame, chr, start, end) -> DataFrame:
    d = split_cols(lines, EPD_COLS, " ")
    s = F.col("coord_start").try_cast("long") + 1
    e = F.col("coord_end").try_cast("long") + 1
    d = (d.withColumn("_s", s).withColumn("_e", e)
         .filter(F.col("_s").isNotNull() & F.col("_e").isNotNull()))
    d = d.withColumn("_id", build_regulatory_region_id(F.col("chr"), F.col("_s"), F.col("_e")))
    return d.filter(genomic_window(F.col("chr"), F.col("_s"), F.col("_e"),
                                   chr, start, end))


def epd_promoter_nodes(lines: DataFrame, label: str = "promoter",
                       chr: str | None = None, start: int | None = None,
                       end: int | None = None) -> tuple[DataFrame, DataFrame]:
    d = _epd_base(lines, chr, start, end)
    typed = d.select(F.col("_id").alias("id"), F.lit(label).alias("label"),
                     "chr", F.col("_s").alias("start"), F.col("_e").alias("end"))
    props = [
        Prop("chr", F.col("chr"), "str"),
        Prop("start", F.col("_s"), "int"),
        Prop("end", F.col("_e"), "int"),
    ] + provenance_props(*EPD_SOURCE)
    atoms = atoms_df(d, node_def_out(label, F.col("_id")), props)
    return typed, atoms


def epd_promoter_gene_edges(lines: DataFrame, hgnc2ensembl: DataFrame,
                            registry, label: str = "promoter_gene",
                            chr: str | None = None, start: int | None = None,
                            end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """promoter -> gene: symbol from the BED name field ('NOC2L_1' ->
    'NOC2L'), resolved through the hgnc symbol dimension (inner = skip on
    miss, epd_adapter.py:63-66)."""
    d = _epd_base(lines, chr, start, end)
    sym = F.split(F.col("gene_id"), "_").getItem(0)
    d = lookup_join(d, hgnc2ensembl, sym, out_col="tgt")
    typed = d.select(F.col("_id").alias("src"), F.col("tgt"),
                     F.lit(label).alias("label"))
    props = provenance_props(*EPD_SOURCE)
    atoms = atoms_df(d, edge_def_out(label, registry, F.col("_id"), F.col("tgt")), props)
    return typed, atoms


# --------------------------------------------------------------------------
# EnhancerAtlas
# --------------------------------------------------------------------------


def enhancer_atlas_nodes(lines: DataFrame, label: str = "enhancer",
                         chr: str | None = None, start: int | None = None,
                         end: int | None = None) -> tuple[DataFrame, DataFrame]:
    d = split_cols(lines, {"chr": 0, "coord_start": 1, "coord_end": 2}, "\t")
    s = F.col("coord_start").try_cast("long") + 1
    e = F.col("coord_end").try_cast("long") + 1
    d = (d.withColumn("_s", s).withColumn("_e", e)
         .filter(F.col("_s").isNotNull() & F.col("_e").isNotNull()))
    d = d.withColumn("_id", build_regulatory_region_id(F.col("chr"), F.col("_s"), F.col("_e")))
    d = d.filter(genomic_window(F.col("chr"), F.col("_s"), F.col("_e"), chr, start, end))
    typed = d.select(F.col("_id").alias("id"), F.lit(label).alias("label"),
                     "chr", F.col("_s").alias("start"), F.col("_e").alias("end"))
    props = [
        Prop("chr", F.col("chr"), "str"),
        Prop("start", F.col("_s"), "int"),
        Prop("end", F.col("_e"), "int"),
    ] + provenance_props(*EA_SOURCE)
    atoms = atoms_df(d, node_def_out(label, F.col("_id")), props)
    return typed, atoms


def enhancer_atlas_edges(lines: DataFrame, tissue_map: DataFrame, registry,
                         label: str = "enhancer_gene",
                         chr: str | None = None, start: int | None = None,
                         end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """enhancer -> gene from the per-tissue *_EP.txt files (S9 fan-in:
    `lines` carries the tissue key). Compound field parse
    'chr1:874840-876520_ENSG...$SYM$...' (enhancer_atlas_adapter.py:51-57),
    0-based -> +1, tissue -> ontology id (skip on miss)."""
    d = split_cols(lines, {"compound": 0, "score": 1}, "\t")
    info = F.split(F.col("compound"), "_").getItem(0)
    chrom = F.split(info, ":").getItem(0)
    rng = F.split(info, ":").getItem(1)
    s = F.split(rng, "-").getItem(0).try_cast("long") + 1
    e = F.split(rng, "-").getItem(1).try_cast("long") + 1
    gene = F.split(F.split(F.col("compound"), "_").getItem(1), r"\$").getItem(0)
    d = (d.withColumn("_chr", chrom).withColumn("_s", s).withColumn("_e", e)
         .withColumn("_gene", gene)
         .filter(F.col("_s").isNotNull() & F.col("_e").isNotNull()))
    d = lookup_join(d, tissue_map, F.col("tissue"), out_col="_ctx")
    d = d.filter(genomic_window(F.col("_chr"), F.col("_s"), F.col("_e"), chr, start, end))
    d = d.withColumn("_id", build_regulatory_region_id(F.col("_chr"), F.col("_s"), F.col("_e")))
    score = F.col("score").cast("double")
    typed = d.select(F.col("_id").alias("src"), F.col("_gene").alias("tgt"),
                     F.lit(label).alias("label"), F.col("_ctx").alias("biological_context"),
                     score.alias("score"))
    props = [
        Prop("biological_context", F.col("_ctx"), "str"),
        Prop("score", score, "float"),
    ] + provenance_props(*EA_SOURCE)
    atoms = atoms_df(d, edge_def_out(label, registry, F.col("_id"), F.col("_gene")), props)
    return typed, atoms


# --------------------------------------------------------------------------
# TADMap
# --------------------------------------------------------------------------


def tadmap_nodes(lines: DataFrame, chr: str | None = None,
                 start: int | None = None, end: int | None = None,
                 ) -> tuple[DataFrame, DataFrame]:
    """TAD nodes (tadmap_adapter.py:43-79): 'id|chr|start|end' location
    key, ';'-joined gene list -> Ensembl ids (index-error entries skipped).
    """
    d = split_cols(lines, {"loc_info": 0, "genes_info": 1}, ",")
    # the header row ('tad,genelist') drops out via the null-coord filter
    # below — same output as the reference's next(tad_file) skip
    loc = F.split(F.col("loc_info"), r"\|")
    chrom = F.get(loc, 1)
    s = F.get(loc, 2)
    e = F.get(loc, 3)
    genes = F.filter(
        F.transform(
            F.split(F.col("genes_info"), ";"),
            lambda g: F.get(F.split(F.get(F.split(g, r"\|"), 1), ":"), 1),
        ),
        lambda x: x.isNotNull(),
    )
    d = (d.withColumn("_chr", chrom)
         .withColumn("_s", s.try_cast("long")).withColumn("_e", e.try_cast("long"))
         .withColumn("_genes", genes)
         .filter(F.col("_s").isNotNull() & F.col("_e").isNotNull()))
    d = d.filter(genomic_window(F.col("_chr"), F.col("_s"), F.col("_e"), chr, start, end))
    # reference builds the id from the RAW strings (no int cast)
    d = d.withColumn("_id", build_regulatory_region_id(F.col("_chr"), s, e))
    typed = d.select(F.col("_id").alias("id"), F.lit("tad").alias("label"),
                     F.col("_chr").alias("chr"), F.col("_s").alias("start"),
                     F.col("_e").alias("end"), F.col("_genes").alias("genes"))
    props = [
        Prop("chr", F.col("_chr"), "str"),
        Prop("start", F.col("_s"), "int"),
        Prop("end", F.col("_e"), "int"),
        Prop("genes", F.col("_genes"), "str_list"),
    ] + provenance_props(*TAD_SOURCE)
    atoms = atoms_df(d, node_def_out("tad", F.col("_id")), props)
    return typed, atoms


# --------------------------------------------------------------------------
# dbSUPER super-enhancers (liftover P11)
# --------------------------------------------------------------------------

DBSUPER_COLS = {"chr": 0, "coord_start": 1, "coord_end": 2, "se_id": 3,
                "gene_id": 4, "cell_name": 5}


def dbsuper_lifted(lines: DataFrame, blocks: DataFrame, chr: str | None = None,
                   start: int | None = None, end: int | None = None) -> DataFrame:
    """The scan both dbSUPER outputs read: 0-based hg19 -> +1 -> lifted
    hg38 through the chain `blocks` (functions/liftover.py); rows whose
    start or end fails to lift are dropped (dbsuper_adapter.py:46-52),
    then the window applies to the lifted coordinates."""
    d = split_cols(lines, DBSUPER_COLS, "\t")
    d = d.filter(F.col("chr") != "chrom")
    s19 = F.col("coord_start").try_cast("long") + 1
    e19 = F.col("coord_end").try_cast("long") + 1
    d = (d.withColumn("_s19", s19).withColumn("_e19", e19)
         .filter(F.col("_s19").isNotNull() & F.col("_e19").isNotNull()))
    d = lift(d, "chr", {"_s": "_s19", "_e": "_e19"}, blocks)
    d = d.filter(F.col("_s").isNotNull() & F.col("_e").isNotNull())
    d = d.withColumn("_id", build_regulatory_region_id(
        F.col("chr"), F.col("_s"), F.col("_e")))
    return d.filter(genomic_window(F.col("chr"), F.col("_s"), F.col("_e"),
                                   chr, start, end))


def dbsuper_nodes(lifted: DataFrame, label: str = "super_enhancer",
                  ) -> tuple[DataFrame, DataFrame]:
    """super_enhancer nodes over `dbsuper_lifted` (dbsuper_adapter.py:39-66)."""
    typed = lifted.select(F.col("_id").alias("id"), F.lit(label).alias("label"),
                          "chr", F.col("_s").alias("start"), F.col("_e").alias("end"),
                          F.col("se_id"))
    props = [
        Prop("id", F.col("se_id"), "str"),
        Prop("chr", F.col("chr"), "str"),
        Prop("start", F.col("_s"), "int"),
        Prop("end", F.col("_e"), "int"),
    ] + provenance_props(*DBSUPER_SOURCE)
    atoms = atoms_df(lifted, node_def_out(label, F.col("_id")), props)
    return typed, atoms


def dbsuper_edges(lifted: DataFrame, hgnc2ensembl: DataFrame, tissue_map: DataFrame,
                  registry, label: str = "super_enhancer_gene",
                  ) -> tuple[DataFrame, DataFrame]:
    """super_enhancer -> gene over `dbsuper_lifted` (dbsuper_adapter.py:68-94).
    Note the reference KeyErrors (crashes) on a tissue-map miss at :81 —
    sample data always hits, so an inner join is behavior-equivalent."""
    d = lookup_join(lifted, hgnc2ensembl, F.col("gene_id"), out_col="tgt")
    d = lookup_join(d, tissue_map, F.col("cell_name"), out_col="_ctx")
    typed = d.select(F.col("_id").alias("src"), F.col("tgt"),
                     F.lit(label).alias("label"),
                     F.col("_ctx").alias("biological_context"))
    props = [Prop("biological_context", F.col("_ctx"), "str")] \
        + provenance_props(*DBSUPER_SOURCE)
    atoms = atoms_df(d, edge_def_out(label, registry, F.col("_id"), F.col("tgt")), props)
    return typed, atoms


# --------------------------------------------------------------------------
# PEREGRINE enhancers (J8 multi-file join)
# --------------------------------------------------------------------------

def peregrine_nodes(enhancer_lines: DataFrame, source_lines: DataFrame,
                    label: str = "enhancer",
                    chr: str | None = None, start: int | None = None,
                    end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """enhancer nodes (peregrine_adapter.py:64-101): enhancers file joined
    with the datasource file on enhancer_id (the reference KeyErrors on a
    missing source => inner join)."""
    e = split_cols(enhancer_lines, {"chr": 0, "coord_start": 1,
                                    "coord_end": 2, "enh_id": 3}, "\t")
    s = F.col("coord_start").try_cast("long")
    en = F.col("coord_end").try_cast("long")
    e = (e.withColumn("_s", s).withColumn("_e", en)
         .filter(F.col("_s").isNotNull() & F.col("_e").isNotNull()))
    # reference dict build keeps the LAST row per enhancer_id (:65-74)
    e = e.withColumn("_rn", F.row_number().over(
        __import__("pyspark").sql.Window.partitionBy("enh_id")
        .orderBy(F.col("offset").desc()))).filter(F.col("_rn") == 1)
    src = split_cols(source_lines, {"src_id": 0, "data_source": 1}, "\t") \
        .dropDuplicates(["src_id"])
    e = e.join(F.broadcast(src), e["enh_id"] == src["src_id"])
    e = e.withColumn("_id", build_regulatory_region_id(
        F.col("chr"), F.col("_s"), F.col("_e")))
    e = e.filter(genomic_window(F.col("chr"), F.col("_s"), F.col("_e"),
                                chr, start, end))
    typed = e.select(F.col("_id").alias("id"), F.lit(label).alias("label"),
                     "chr", F.col("_s").alias("start"), F.col("_e").alias("end"),
                     F.col("enh_id"), F.col("data_source"))
    props = [
        Prop("id", F.col("enh_id"), "str"),
        Prop("chr", F.col("chr"), "str"),
        Prop("start", F.col("_s"), "int"),
        Prop("end", F.col("_e"), "int"),
        Prop("data_source", F.col("data_source"), "str"),
    ] + provenance_props(*PEREGRINE_SOURCE)
    atoms = atoms_df(e, node_def_out(label, F.col("_id")), props)
    return typed, atoms


def peregrine_edges(enhancer_lines: DataFrame, link_lines: DataFrame,
                    hgnc_ensembl_map: DataFrame, tissue_map: DataFrame,
                    registry, label: str = "enhancer_gene",
                    chr: str | None = None, start: int | None = None,
                    end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """enhancer -> gene links (peregrine_adapter.py:103-146): enhancer id
    -> region id (window-filtered), gene 'HUMAN|HGNC=..|..' -> 'HGNC:..'
    -> ensembl (skip on miss), tissue -> ontology (skip on miss; the map
    values are LISTS — element 0 is used, :137). Score column optional."""
    e = split_cols(enhancer_lines, {"chr": 0, "coord_start": 1,
                                    "coord_end": 2, "enh_id": 3}, "\t")
    s = F.col("coord_start").try_cast("long")
    en = F.col("coord_end").try_cast("long")
    e = (e.withColumn("_s", s).withColumn("_e", en)
         .filter(F.col("_s").isNotNull() & F.col("_e").isNotNull()))
    e = e.filter(genomic_window(F.col("chr"), F.col("_s"), F.col("_e"),
                                chr, start, end))
    e = e.select(F.col("enh_id").alias("_eid"),
                 build_regulatory_region_id(F.col("chr"), F.col("_s"),
                                            F.col("_e")).alias("_region")) \
         .dropDuplicates(["_eid"])
    l = split_cols(link_lines, {"enhancer": 0, "gene": 1, "linkid": 2,
                                "assay": 3, "tissue": 4, "pvalue": 5,
                                "eqtl": 6, "score": 7}, "\t")
    l = l.filter(F.col("enhancer") != "enhancer")
    l = l.join(F.broadcast(e), l["enhancer"] == e["_eid"])
    hgnc = F.regexp_replace(F.get(F.split(F.col("gene"), r"\|"), 1), "=", ":")
    l = lookup_join(l, hgnc_ensembl_map, hgnc, out_col="tgt")
    l = lookup_join(l, tissue_map, F.col("tissue"), out_col="_ctx")
    score = F.when((F.col("score").isNotNull()) & (F.col("score") != ""),
                   F.col("score"))
    typed = l.select(F.col("_region").alias("src"), F.col("tgt"),
                     F.lit(label).alias("label"),
                     F.col("_ctx").alias("biological_context"),
                     score.alias("score"))
    props = [
        Prop("biological_context", F.col("_ctx"), "str"),
        Prop("score", score, "str"),
    ] + provenance_props(*PEREGRINE_SOURCE)
    atoms = atoms_df(l, edge_def_out(label, registry, F.col("_region"), F.col("tgt")), props)
    return typed, atoms
