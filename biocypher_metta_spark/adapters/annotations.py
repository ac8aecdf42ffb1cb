"""Annotation adapters: HOCOMOCO motifs (ordered PWM collect), GAF
GO-annotation edges, RNAcentral non-coding RNA, UniProt proteins +
translates_to/translation_of edges.

Reference: hocomoco_motif_adapter.py:39-83, gaf_adapter.py:54-103,
rna_central_adapter.py:38-74, uniprot_protein_adapter.py:26-62,
uniprot_adapter.py:33-74.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark.adapters import provenance_props
from biocypher_metta_spark.dims import lookup_join
from biocypher_metta_spark.functions.genomic import genomic_window
from biocypher_metta_spark.serializer import (
    Prop,
    atoms_df,
    edge_def_out,
    escape_str,
    node_def_out,
)
from biocypher_metta_spark.sources.tabular import split_cols

HOCOMOCO_SOURCE = ("HOCOMOCOv11", "hocomoco11.autosome.org/motif/")
GO_SOURCE_URLS = {
    "human": "http://geneontology.org/gene-associations/goa_human.gaf.gz",
    "human_isoform": "http://geneontology.org/gene-associations/goa_human_isoform.gaf.gz",
    "rna": "http://geneontology.org/gene-associations/goa_human_rna.gaf.gz",
}
RNACENTRAL_SOURCE = ("RNAcentral", "https://rnacentral.org/downloads")
UNIPROT_SOURCE = ("Uniprot", "https://www.uniprot.org/")


# --------------------------------------------------------------------------
# HOCOMOCO motif nodes — A1 ordered PWM collect
# --------------------------------------------------------------------------


def hocomoco_motif_nodes(pwm_lines: DataFrame, model_tf: DataFrame,
                         hgnc2ensembl: DataFrame) -> tuple[DataFrame, DataFrame]:
    """motif nodes (hocomoco_motif_adapter.py:48-83).

    pwm_lines: one row per PWM matrix line with the `model` key and a
    `row_order` column (S9 fan-in: filename carries the model). The 4
    parallel float lists are rebuilt with order-preserving
    sort_array(collect_list(struct(order, vals))) — the A1 aggregation.
    model -> tf (annotation TSV dim) -> ensembl id (hgnc dim), both inner.
    """
    d = split_cols(pwm_lines, {"a": 0, "c": 1, "g": 2, "t": 3}, "\t")
    d = d.filter(~F.col("a").startswith(">"))
    rowstruct = F.struct(F.col("row_order").alias("o"),
                         F.col("a").cast("double").alias("va"),
                         F.col("c").cast("double").alias("vc"),
                         F.col("g").cast("double").alias("vg"),
                         F.col("t").cast("double").alias("vt"))
    agg = (
        d.groupBy("model")
        .agg(F.array_sort(F.collect_list(rowstruct)).alias("rows"))
        .select(
            F.col("model"),
            F.transform("rows", lambda r: r["va"]).alias("pwm_A"),
            F.transform("rows", lambda r: r["vc"]).alias("pwm_C"),
            F.transform("rows", lambda r: r["vg"]).alias("pwm_G"),
            F.transform("rows", lambda r: r["vt"]).alias("pwm_T"),
            F.size("rows").alias("length"),
        )
    )
    agg = lookup_join(agg, model_tf, F.col("model"), out_col="tf_name", how="left")
    agg = lookup_join(agg, hgnc2ensembl, F.col("tf_name"), out_col="_id")
    typed = agg.select(F.col("_id").alias("id"), F.lit("motif").alias("label"),
                       "tf_name", "pwm_A", "pwm_C", "pwm_G", "pwm_T", "length")
    props = [
        Prop("tf_name", F.col("tf_name"), "str"),
        Prop("pwm_A", F.col("pwm_A"), "float_list"),
        Prop("pwm_C", F.col("pwm_C"), "float_list"),
        Prop("pwm_G", F.col("pwm_G"), "float_list"),
        Prop("pwm_T", F.col("pwm_T"), "float_list"),
        Prop("length", F.col("length"), "int"),
    ] + provenance_props(*HOCOMOCO_SOURCE)
    atoms = atoms_df(agg, node_def_out("motif", F.col("_id")), props)
    return typed, atoms


def parse_model_tf(lines: DataFrame) -> DataFrame:
    """annotation TSV -> (model, tf) dimension (skip header row)."""
    d = split_cols(lines, {"key": 0, "value": 1}, "\t")
    return d.filter(F.col("key") != "Model").select(
        F.trim(F.col("key")).alias("key"), F.trim(F.col("value")).alias("value"))


# --------------------------------------------------------------------------
# GAF go_gene_product edges
# --------------------------------------------------------------------------

GAF_COLS = {"db_object_id": 1, "qualifier": 3, "go_id": 4,
            "db_reference": 5, "evidence": 6}


def gaf_edges(lines: DataFrame, registry, gaf_type: str = "human",
              rnacentral_map: DataFrame | None = None,
              ) -> tuple[DataFrame, DataFrame]:
    """GO -> gene-product edges (gaf_adapter.py:76-103). Qualifier and
    DB:Reference are '|'-multivalue fields (Biopython GAF semantics) ->
    list properties. gaf_type='rna' routes DB_Object_ID through the
    RNAcentral '{urs}_{taxid}' -> transcript dimension (inner)."""
    d = split_cols(lines, GAF_COLS, "\t", skip_prefix="!")
    if gaf_type == "rna":
        assert rnacentral_map is not None
        d = lookup_join(d, rnacentral_map, F.col("db_object_id"), out_col="_tgt")
    else:
        d = d.withColumn("_tgt", F.col("db_object_id"))
    qualifier = F.split(F.col("qualifier"), r"\|")
    db_ref = F.split(F.col("db_reference"), r"\|")
    typed = d.select(F.col("go_id").alias("src"), F.col("_tgt").alias("tgt"),
                     F.lit("go_gene_product").alias("label"),
                     qualifier.alias("qualifier"), db_ref.alias("db_reference"),
                     F.col("evidence"))
    props = [
        Prop("qualifier", qualifier, "str_list"),
        Prop("db_reference", db_ref, "str_list"),
        Prop("evidence", F.col("evidence"), "str"),
    ] + provenance_props("GO", GO_SOURCE_URLS.get(gaf_type, GO_SOURCE_URLS["human"]))
    atoms = atoms_df(d, edge_def_out("go_gene_product", registry,
                                     F.col("go_id"), F.col("_tgt")), props)
    return typed, atoms


def parse_rnacentral_gencode_map(lines: DataFrame) -> DataFrame:
    """'{urs}_{taxid}' -> transcript dimension (gaf_adapter.py:68-74).
    Duplicate keys keep the LAST file row (dict-overwrite semantics) —
    max_by on the span offset."""
    d = split_cols(lines, {"urs": 0, "db": 1, "tx": 2, "taxid": 3}, "\t")
    d = d.select(F.concat_ws("_", F.col("urs"), F.col("taxid")).alias("key"),
                 F.col("tx").alias("value"), F.col("offset"))
    return (d.groupBy("key")
            .agg(F.max_by("value", "offset").alias("value")))


# --------------------------------------------------------------------------
# RNAcentral
# --------------------------------------------------------------------------

RNA_BED_COLS = {"chr": 0, "coord_start": 1, "coord_end": 2, "id": 3,
                "rna_type": 13}


def rna_central_nodes(lines: DataFrame, label: str = "non_coding_rna",
                      chr: str | None = None, start: int | None = None,
                      end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """non_coding_rna nodes (rna_central_adapter.py:38-58): URS id minus
    the taxon suffix, 0-based -> +1 coords, rna_type from BED col 13."""
    d = split_cols(lines, RNA_BED_COLS, "\t")
    rid = F.split(F.col("id"), "_").getItem(0)
    s = F.trim(F.col("coord_start")).try_cast("long") + 1
    e = F.trim(F.col("coord_end")).try_cast("long") + 1
    d = (d.withColumn("_id", rid).withColumn("_s", s).withColumn("_e", e)
         .withColumn("_rt", F.trim(F.col("rna_type")))
         .filter(F.col("_s").isNotNull() & F.col("_e").isNotNull()))
    d = d.filter(genomic_window(F.col("chr"), F.col("_s"), F.col("_e"), chr, start, end))
    typed = d.select(F.col("_id").alias("id"), F.lit(label).alias("label"),
                     "chr", F.col("_s").alias("start"), F.col("_e").alias("end"),
                     F.col("_rt").alias("rna_type"))
    props = [
        Prop("chr", F.col("chr"), "str"),
        Prop("start", F.col("_s"), "int"),
        Prop("end", F.col("_e"), "int"),
        Prop("rna_type", F.col("_rt"), "str"),
    ] + provenance_props(*RNACENTRAL_SOURCE)
    atoms = atoms_df(d, node_def_out(label, F.col("_id")), props)
    return typed, atoms


def rna_central_go_edges(rfam_lines: DataFrame, registry,
                         label: str = "go_rna") -> tuple[DataFrame, DataFrame]:
    """ncRNA -> GO term edges from the rfam annotation TSV, human
    (_9606) only (rna_central_adapter.py:60-74)."""
    d = split_cols(rfam_lines, {"urs_taxid": 0, "go_term": 1, "rfam": 2}, "\t")
    d = d.filter(F.col("urs_taxid").endswith("_9606"))
    rid = F.split(F.col("urs_taxid"), "_").getItem(0)
    d = d.withColumn("_id", rid)
    typed = d.select(F.col("_id").alias("src"), F.col("go_term").alias("tgt"),
                     F.lit(label).alias("label"))
    props = provenance_props(*RNACENTRAL_SOURCE)
    atoms = atoms_df(d, edge_def_out(label, registry, F.col("_id"), F.col("go_term")), props)
    return typed, atoms


# --------------------------------------------------------------------------
# UniProt
# --------------------------------------------------------------------------


def _uniprot_dbxrefs(xrefs_col):
    """get_dbxrefs (uniprot_protein_adapter.py:26-44) as expressions:
    EMBL -> items [1:3); RefSeq/Ensembl/MANE-Select -> items [1:] with
    '. '-suffix strip; else 'DB:first'; sorted casefold-distinct."""
    def per_ref(xr):
        db = F.get(xr, 0)
        rest = F.slice(xr, 2, F.greatest(F.size(xr) - 1, F.lit(0)))
        embl = F.transform(
            F.filter(F.slice(xr, 2, 2), lambda i: i != "-"),
            lambda i: F.concat(db, F.lit(":"), i))
        multi = F.transform(
            F.filter(rest, lambda i: i != "-"),
            lambda i: F.concat(db, F.lit(":"), F.split(i, r"\. ").getItem(0)))
        single = F.when(F.size(xr) >= 2,
                        F.array(F.concat(db, F.lit(":"), F.get(xr, 1)))
                        ).otherwise(F.array().cast("array<string>"))
        return (
            F.when(db == "EMBL", embl)
            .when(db.isin("RefSeq", "Ensembl", "MANE-Select"), multi)
            .otherwise(single)
        )

    flat = F.flatten(F.transform(xrefs_col, per_ref))
    # sorted(set(...), key=str.casefold): dedupe exact, sort casefolded
    # with the raw string as tiebreak (Python's sort is stable; for ties
    # original insertion order applies — xref order is deterministic, and
    # exact duplicates are removed, so casefold ties between distinct
    # strings keep first-seen order; approximate with raw-string tiebreak)
    dedup = F.array_distinct(flat)
    keyed = F.transform(dedup, lambda s2: F.struct(F.lower(s2).alias("k"), s2.alias("v")))
    return F.transform(F.array_sort(keyed), lambda st: st["v"])


def uniprot_protein_nodes(records: DataFrame) -> tuple[DataFrame, DataFrame]:
    """protein nodes (uniprot_protein_adapter.py:46-62). Quirk preserved:
    `accessions` is the REST of the list when >1, else the single
    accession as a scalar string."""
    r = records.withColumn("_id", F.get(F.col("accessions"), 0))
    rest = F.slice(F.col("accessions"), 2,
                   F.greatest(F.size("accessions") - 1, F.lit(0)))
    acc_raw = F.when(
        F.size("accessions") > 1,
        F.concat(F.lit("("), F.concat_ws(" ", F.transform(rest, escape_str)), F.lit(")")),
    ).otherwise(escape_str(F.get(F.col("accessions"), 0)))
    name = F.split(F.col("entry_name"), "_").getItem(0)
    dbx = _uniprot_dbxrefs(F.col("cross_references"))
    r = r.withColumn("_dbx", dbx)
    typed = r.select(F.col("_id").alias("id"), F.lit("protein").alias("label"),
                     name.alias("protein_name"), F.col("_dbx").alias("synonyms"))
    props = [
        Prop("accessions", acc_raw, "raw"),
        Prop("protein_name", name, "str"),
        Prop("synonyms", F.col("_dbx"), "str_list"),
    ] + provenance_props(*UNIPROT_SOURCE)
    atoms = atoms_df(r, node_def_out("protein", F.col("_id")), props)
    return typed, atoms


def uniprot_translation_edges(records: DataFrame, registry,
                              direction: str = "translates_to",
                              ) -> tuple[DataFrame, DataFrame]:
    """transcript <-> protein edges from Ensembl ENST dbxrefs
    (uniprot_adapter.py:33-74): one edge per Ensembl xref whose first
    value contains 'ENST', ENST version-stripped."""
    r = records.withColumn("_id", F.get(F.col("accessions"), 0))
    dbxrefs = F.transform(
        F.filter(F.col("cross_references"), lambda xr: F.size(xr) >= 2),
        lambda xr: F.concat(F.get(xr, 0), F.lit(":"), F.get(xr, 1)),
    )
    enst = F.filter(dbxrefs,
                    lambda x: x.startswith("Ensembl") & x.contains("ENST"))
    r = r.select("_id", F.explode(enst).alias("_x"))
    ensg = F.split(F.element_at(F.split(F.col("_x"), ":"), -1), r"\.").getItem(0)
    r = r.withColumn("_enst", ensg)
    if direction == "translates_to":
        src, tgt, label = F.col("_enst"), F.col("_id"), "translates_to"
    else:
        src, tgt, label = F.col("_id"), F.col("_enst"), "translation_of"
    typed = r.select(src.alias("src"), tgt.alias("tgt"), F.lit(label).alias("label"))
    props = provenance_props(*UNIPROT_SOURCE)
    atoms = atoms_df(r, edge_def_out(label, registry, src, tgt), props)
    return typed, atoms
