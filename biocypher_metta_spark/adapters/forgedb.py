"""ForgeDB-family adapters keyed on the dbSNP rsid dimension (J5):
Roadmap epigenomes, ABC regulatory regions/edges, CADD variants,
RefSeq closest gene, TopLD linkage (J6, pos -> rsid), GTEx eQTL.

Reference: roadmap_adapter.py:48-81, abc_adapter.py:42-90,
cadd_adapter.py:35-65, refseq_closest_gene_adapter.py:36-66,
topld_adapter.py:35-70, gtex_eqtl_adapter.py:57-95.

Scale note (SURVEY §2.4 J5/J6): the reference holds dbsnp rsid->pos as a
driver dict; at production scale that dimension is ~38M rows, so these
joins take a DataFrame `rsid_dim(rsid, chr, pos)` and always hint it
for broadcast, so pass a window-restricted subset at that scale. Hub
rsids are uniform (primary key) so no salting is needed on the dim side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark.adapters import provenance_props
from biocypher_metta_spark.dims import lookup_join
from biocypher_metta_spark.functions.genomic import genomic_window
from biocypher_metta_spark.functions.values import to_float_col
from biocypher_metta_spark.serializer import (
    Prop,
    atoms_df,
    edge_def_out,
    node_def_out,
)
from biocypher_metta_spark.sources.tabular import quoted_csv_cols, split_cols

ROADMAP_SOURCE = ("Roadmap Epigenomics Project",
                  ['https://forgedb.cancer.gov/api/forge2.erc2-chromatin15state-all/v1.0/forge2.erc2'
                   '-chromatin15state-all.{0-9}.forgedb.csv.gz',
                   "https://forgedb.cancer.gov/api/forge2.erc2-H3-all/v1.0/forge2.erc2-H3-all.{"
                   "0-9}.forgedb.csv.gz",
                   "https://forgedb.cancer.gov/api/forge2.erc2-DHS/v1.0/forge2.erc2-DHS.forgedb.csv.gz"])
ABC_SOURCE = ("ABC", "https://forgedb.cancer.gov/api/abc/v1.0/abc.forgedb.csv.gz")
CADD_SOURCE = ("CADD", "https://forgedb.cancer.gov/api/cadd/v1.0/cadd.forgedb.csv.gz")
REFSEQ_SOURCE = ("RefSeq Closest Gene",
                 "https://forgedb.cancer.gov/api/closest_gene/v1.0/closest_gene.forgedb.csv.gz")
TOPLD_SOURCE = ("TopLD", "http://topld.genetics.unc.edu/")
GTEX_SOURCE = ("GTEx", "https://www.gtexportal.org/home/datasets")


def _join_rsid(d: DataFrame, rsid_dim: DataFrame, on: str = "rsid") -> DataFrame:
    dim = F.broadcast(rsid_dim.select(F.col("rsid").alias("__rsid"),
                                      F.col("chr").alias("__chr"),
                                      F.col("pos").alias("__pos")))
    return d.join(dim, d[on] == dim["__rsid"])


# --------------------------------------------------------------------------
# Roadmap regulatory_region nodes
# --------------------------------------------------------------------------

ROADMAP_COLS = {"rsid": 0, "dataset": 1, "cell": 2, "tissue": 3, "datatype": 4}


def roadmap_nodes(lines: DataFrame, tissue_map: DataFrame, rsid_dim: DataFrame,
                  chr: str | None = None, start: int | None = None,
                  end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """regulatory_region nodes (roadmap_adapter.py:48-81): rsid -> chr/pos
    via the dbsnp dimension (inner, KeyError-skip parity), tissue ->
    ontology id (inner, None-skip), quotes stripped from the cell/tissue
    fields by the CSV parser itself."""
    d = quoted_csv_cols(lines, 5, ROADMAP_COLS, ",")
    d = d.filter(F.col("rsid") != "rsid")
    # reference strips '"' and "'" from tissue beyond csv unquoting (:59)
    tissue = F.translate(F.col("tissue"), "\"'", "")
    d = d.withColumn("_tissue", tissue)
    d = _join_rsid(d, rsid_dim)
    d = lookup_join(d, tissue_map, F.col("_tissue"), out_col="_ctx")
    d = d.filter(genomic_window(F.col("__chr"), F.col("__pos"), F.col("__pos"),
                                chr, start, end))
    typed = d.select(F.col("rsid").alias("id"),
                     F.lit("regulatory_region").alias("label"),
                     F.col("__chr").alias("chr"), F.col("__pos").alias("start"),
                     F.col("__pos").alias("end"), F.col("cell"),
                     F.col("_ctx").alias("biological_context"),
                     F.col("datatype").alias("biochemical_activity"))
    props = [
        Prop("cell", F.col("cell"), "str"),
        Prop("biological_context", F.col("_ctx"), "str"),
        Prop("biochemical_activity", F.col("datatype"), "str"),
    ] + provenance_props(*ROADMAP_SOURCE)
    atoms = atoms_df(d, node_def_out("regulatory_region", F.col("rsid")), props)
    return typed, atoms


# --------------------------------------------------------------------------
# ABC nodes + edges
# --------------------------------------------------------------------------

ABC_COLS = {"rsid": 0, "chromosome": 1, "target_gene": 10, "abc_score": 24,
            "cell_type": 27}


def abc_nodes(lines: DataFrame, tissue_map: DataFrame, rsid_dim: DataFrame,
              chr: str | None = None, start: int | None = None,
              end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """ABC regulatory_region nodes (abc_adapter.py:42-62). Quirk parity:
    no provenance (the reference builds its own props dict), the window
    uses the dbsnp pos but the FILE's chromosome column, and a tissue-map
    miss drops the row (KeyError inside the try)."""
    d = quoted_csv_cols(lines, 29, ABC_COLS, ",")
    d = d.filter(F.col("rsid") != "rsid")
    d = _join_rsid(d, rsid_dim)
    d = lookup_join(d, tissue_map, F.col("cell_type"), out_col="_ctx")
    d = d.filter(genomic_window(F.col("chromosome"), F.col("__pos"), F.col("__pos"),
                                chr, start, end))
    typed = d.select(F.col("rsid").alias("id"),
                     F.lit("regulatory_region").alias("label"),
                     F.col("chromosome").alias("chr"),
                     F.col("__pos").alias("start"), F.col("__pos").alias("end"),
                     F.col("_ctx").alias("biological_context"))
    props = [
        Prop("chr", F.col("chromosome"), "str"),
        Prop("start", F.col("__pos"), "int"),
        Prop("end", F.col("__pos"), "int"),
        Prop("biochemical_activity", F.lit("DNase I hypersensitive"), "str"),
        Prop("biological_context", F.col("_ctx"), "str"),
    ]
    atoms = atoms_df(d, node_def_out("regulatory_region", F.col("rsid")), props)
    return typed, atoms


def abc_edges(lines: DataFrame, hgnc2ensembl: DataFrame, tissue_map: DataFrame,
              rsid_dim: DataFrame, registry,
              chr: str | None = None, start: int | None = None,
              end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """regulatory_region_gene edges (abc_adapter.py:66-90). Quirks: the
    window check receives the rsid-map VALUE (a dict in the reference) —
    only exercised when no window is set, so we join the dim for the
    inner-join semantics and apply the window on pos as the chr=None
    behavior implies pass-all; score stays the raw STRING; props carry no
    provenance (reference builds its own dict)."""
    d = quoted_csv_cols(lines, 29, ABC_COLS, ",")
    d = d.filter(F.col("rsid") != "rsid")
    d = _join_rsid(d, rsid_dim)
    if chr is not None:
        # reference would TypeError on int(dict) with a window configured;
        # the usable semantics are pos-window filtering
        d = d.filter(genomic_window(F.col("chromosome"), F.col("__pos"),
                                    F.col("__pos"), chr, start, end))
    d = lookup_join(d, hgnc2ensembl, F.trim(F.col("target_gene")), out_col="tgt")
    d = lookup_join(d, tissue_map, F.col("cell_type"), out_col="_ctx")
    typed = d.select(F.col("rsid").alias("src"), F.col("tgt"),
                     F.lit("regulatory_region_gene").alias("label"),
                     F.col("abc_score").alias("score"),
                     F.col("_ctx").alias("biological_context"))
    props = [
        Prop("score", F.col("abc_score"), "str"),
        Prop("biological_context", F.col("_ctx"), "str"),
    ]
    atoms = atoms_df(d, edge_def_out("regulatory_region_gene", registry,
                                     F.col("rsid"), F.col("tgt")), props)
    return typed, atoms


# --------------------------------------------------------------------------
# CADD
# --------------------------------------------------------------------------

CADD_COLS = {"rsid": 0, "chromosome": 1, "position": 2, "ref": 3, "alt": 4,
             "raw": 5, "phred": 6}


def cadd_nodes(lines: DataFrame, rsid_dim: DataFrame,
               chr: str | None = None, start: int | None = None,
               end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """sequence_variant nodes (cadd_adapter.py:35-65): pos from the dbsnp
    dim (not the file), float CADD scores."""
    d = quoted_csv_cols(lines, 7, CADD_COLS, ",")
    d = d.filter(F.col("rsid") != "rsid")
    d = _join_rsid(d, rsid_dim)
    d = d.filter(genomic_window(F.col("chromosome"), F.col("__pos"), F.col("__pos"),
                                chr, start, end))
    raw = F.col("raw").cast("double")
    phred = F.col("phred").cast("double")
    typed = d.select(F.col("rsid").alias("id"),
                     F.lit("sequence_variant").alias("label"),
                     F.col("chromosome").alias("chr"),
                     F.col("__pos").alias("start"), F.col("__pos").alias("end"),
                     "ref", "alt", raw.alias("raw_cadd_score"),
                     phred.alias("phred_score"))
    props = [
        Prop("chr", F.col("chromosome"), "str"),
        Prop("start", F.col("__pos"), "int"),
        Prop("end", F.col("__pos"), "int"),
        Prop("rsid", F.col("rsid"), "str"),
        Prop("ref", F.col("ref"), "str"),
        Prop("alt", F.col("alt"), "str"),
        Prop("raw_cadd_score", raw, "float"),
        Prop("phred_score", phred, "float"),
    ] + provenance_props(*CADD_SOURCE)
    atoms = atoms_df(d, node_def_out("sequence_variant", F.col("rsid")), props)
    return typed, atoms


# --------------------------------------------------------------------------
# RefSeq closest gene
# --------------------------------------------------------------------------

REFSEQ_COLS = {"rsid": 0, "chromosome": 1, "gene_start": 5, "gene_symbol": 7}


def refseq_closest_gene_edges(lines: DataFrame, hgnc2ensembl: DataFrame,
                              rsid_dim: DataFrame, registry,
                              chr: str | None = None, start: int | None = None,
                              end: int | None = None,
                              ) -> tuple[DataFrame, DataFrame]:
    """closest_gene edges (refseq_closest_gene_adapter.py:36-66):
    distance = gene_start + 1 - pos (pos from the dbsnp dim)."""
    d = quoted_csv_cols(lines, 8, REFSEQ_COLS, ",")
    d = d.filter(F.col("rsid") != "rsid")
    d = _join_rsid(d, rsid_dim)
    d = d.filter(genomic_window(F.col("chromosome"), F.col("__pos"), F.col("__pos"),
                                chr, start, end))
    d = lookup_join(d, hgnc2ensembl, F.trim(F.col("gene_symbol")), out_col="tgt")
    dist = (F.col("gene_start").cast("long") + 1 - F.col("__pos"))
    typed = d.select(F.col("rsid").alias("src"), F.col("tgt"),
                     F.lit("closest_gene").alias("label"),
                     F.col("chromosome").alias("chr"),
                     F.col("__pos").alias("pos"), dist.alias("distance"))
    props = [
        Prop("chr", F.col("chromosome"), "str"),
        Prop("pos", F.col("__pos"), "int"),
        Prop("distance", dist, "int"),
    ] + provenance_props(*REFSEQ_SOURCE)
    atoms = atoms_df(d, edge_def_out("closest_gene", registry,
                                     F.col("rsid"), F.col("tgt")), props)
    return typed, atoms


# --------------------------------------------------------------------------
# TopLD (J6: position -> rsid, both endpoints)
# --------------------------------------------------------------------------

TOPLD_COLS = {"snp1": 0, "snp2": 1, "r2": 4, "dprime": 5, "corr": 6}


def topld_edges(lines: DataFrame, pos_rsid_dim: DataFrame, chr: str,
                ancestry: str, registry,
                start: int | None = None, end: int | None = None,
                cutoff: float = 0.5) -> tuple[DataFrame, DataFrame]:
    """in_ld_with edges (topld_adapter.py:35-70): both SNP positions must
    resolve to rsids via the '{chr}_{pos}' dimension (J6 double join);
    signed r2 from the corr column; |r2| < cutoff dropped.

    pos_rsid_dim: (key='{chr}_{pos}', value=rsid).
    """
    d = quoted_csv_cols(lines, 7, TOPLD_COLS, ",")
    d = d.filter(F.col("snp1") != "SNP1")
    p1 = F.col("snp1").try_cast("long")
    p2 = F.col("snp2").try_cast("long")
    d = (d.withColumn("_p1", p1).withColumn("_p2", p2)
         .filter(F.col("_p1").isNotNull() & F.col("_p2").isNotNull()))
    d = d.filter(genomic_window(F.lit(chr), F.col("_p1"), F.col("_p1"), chr, start, end)
                 & genomic_window(F.lit(chr), F.col("_p2"), F.col("_p2"), chr, start, end))
    k1 = F.concat_ws("_", F.lit(chr), F.col("_p1").cast("string"))
    k2 = F.concat_ws("_", F.lit(chr), F.col("_p2").cast("string"))
    d = lookup_join(d, pos_rsid_dim, k1, out_col="src")
    d = lookup_join(d, pos_rsid_dim, k2, out_col="tgt")
    r2 = to_float_col(F.concat(F.col("corr"), F.col("r2")))
    d = d.withColumn("_r2", r2).filter(F.abs(F.col("_r2")) >= cutoff)
    dprime = F.col("dprime").cast("double")
    typed = d.select("src", "tgt", F.lit("in_ld_with").alias("label"),
                     F.col("_r2").alias("r2"), dprime.alias("d_prime"),
                     F.lit(ancestry).alias("ancestry"))
    props = [
        Prop("r2", F.col("_r2"), "float"),
        Prop("d_prime", dprime, "float"),
        Prop("ancestry", F.lit(ancestry), "str"),
    ] + provenance_props(*TOPLD_SOURCE)
    atoms = atoms_df(d, edge_def_out("in_ld_with", registry,
                                     F.col("src"), F.col("tgt")), props)
    return typed, atoms


# --------------------------------------------------------------------------
# GTEx eQTL (directory fan-in S9: tissue from filename)
# --------------------------------------------------------------------------


def gtex_eqtl_edges(lines: DataFrame, tissue_map: DataFrame, registry,
                    chr: str | None = None, start: int | None = None,
                    end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """gtex_variant_gene edges (gtex_eqtl_adapter.py:57-95): variant_id
    'chr_pos_ref_alt_b38' parsed for the window; rs_id column is the
    source; maf/slope/p/q as clamped floats; tissue (from filename, S9)
    -> ontology id — the reference KeyErrors on a miss, which its except
    swallows row-wise => inner join."""
    cols = {"gene_id": 0, "variant_id": 11, "rs_id": 18, "maf": 21,
            "slope": 24, "pval_perm": 27, "pval_beta": 28}
    d = split_cols(lines, cols, "\t")
    d = d.filter(F.col("gene_id") != "gene_id")
    v = F.split(F.col("variant_id"), "_")
    d = (d.withColumn("_vchr", F.get(v, 0))
         .withColumn("_vpos", F.get(v, 1).try_cast("long"))
         .withColumn("_asm", F.get(v, 4))
         .filter(F.col("_vpos").isNotNull())
         .filter(F.col("_asm") == "b38"))
    d = d.filter(genomic_window(F.col("_vchr"), F.col("_vpos"), F.col("_vpos"),
                                chr, start, end))
    d = lookup_join(d, tissue_map, F.col("tissue"), out_col="_ctx")
    tgt = F.split(F.col("gene_id"), r"\.").getItem(0)
    # projected once: each rendered float reads its value several times
    d = d.withColumns({"_tgt": tgt,
                       "_maf": to_float_col(F.col("maf")),
                       "_slope": to_float_col(F.col("slope")),
                       "_pv": to_float_col(F.col("pval_perm")),
                       "_qv": to_float_col(F.col("pval_beta"))})
    maf, slope, pv, qv = (F.col(c) for c in ("_maf", "_slope", "_pv", "_qv"))
    typed = d.select(F.col("rs_id").alias("src"), F.col("_tgt").alias("tgt"),
                     F.lit("gtex_variant_gene").alias("label"),
                     maf.alias("maf"), slope.alias("slope"),
                     pv.alias("p_value"), qv.alias("q_value"),
                     F.col("_ctx").alias("biological_context"))
    props = [
        Prop("maf", maf, "float"),
        Prop("slope", slope, "float"),
        Prop("p_value", pv, "float"),
        Prop("q_value", qv, "float"),
        Prop("biological_context", F.col("_ctx"), "str"),
    ] + provenance_props(*GTEX_SOURCE)
    atoms = atoms_df(d, edge_def_out("gtex_variant_gene", registry,
                                     F.col("rs_id"), F.col("_tgt")), props)
    return typed, atoms
