"""Interaction adapters: STRING PPI, TFLink TF->gene, CoXPresdb
coexpression — the J2/J3 double-broadcast-join family.

Reference: string_ppi_adapter.py:37-58, tflink_adapter.py:36-67,
coxpresdb_adapter.py:27-57.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark.adapters import provenance_props
from biocypher_metta_spark.dims import lookup_join
from biocypher_metta_spark.serializer import Prop, atoms_df, edge_def_out
from biocypher_metta_spark.sources.tabular import split_cols

STRING_SOURCE = ("STRING", "https://string-db.org/")
TFLINK_SOURCE = ("TFLink", "tflink.net")
COXPRESDB_SOURCE = ("CoXPresdb", "https://coxpresdb.jp/")


def _both_ends(d: DataFrame, id_map: DataFrame, src_key, tgt_key) -> DataFrame:
    """Both endpoints through one id map (J2/J3 double broadcast inner)."""
    d = lookup_join(d, id_map, src_key, out_col="src")
    return lookup_join(d, id_map, tgt_key, out_col="tgt")


def string_ppi_edges(lines: DataFrame, ens2uniprot: DataFrame, registry,
                     ) -> tuple[DataFrame, DataFrame]:
    """protein-protein interacts_with: skip the header, strip the '9606.'
    taxon prefix, require BOTH endpoints in the ensembl->uniprot
    dimension, score = combined/1000 (float)."""
    d = split_cols(lines, {"p1": 0, "p2": 1, "score": 2}, " ")
    d = d.filter(F.col("p1") != "protein1")
    d = d.select(F.split(F.col("p1"), r"\.").getItem(1).alias("e1"),
                 F.split(F.col("p2"), r"\.").getItem(1).alias("e2"),
                 (F.col("score").cast("double") / 1000).alias("score"))
    d = _both_ends(d, ens2uniprot, F.col("e1"), F.col("e2"))
    typed = d.select("src", "tgt", F.lit("interacts_with").alias("label"), "score")
    props = [Prop("score", F.col("score"), "float")] + provenance_props(*STRING_SOURCE)
    atoms = atoms_df(d, edge_def_out("interacts_with", registry,
                                     F.col("src"), F.col("tgt")), props)
    return typed, atoms


TFLINK_COLS = {"tf_entrez": 2, "target_entrez": 3, "detection_method": 6,
               "pubmed": 7, "databases": 9, "small_scale": 10}


def tflink_edges(lines: DataFrame, entrez2ensembl: DataFrame, registry,
                 ) -> tuple[DataFrame, DataFrame]:
    """tf_gene edges (J2 double inner): entrez->ensembl on both ends;
    the header row drops out naturally because its 'NCBI.GeneID.TF' key
    misses the dimension (the reference never skips it either,
    tflink_adapter.py:38-42)."""
    d = split_cols(lines, TFLINK_COLS, "\t")
    d = _both_ends(d, entrez2ensembl, F.col("tf_entrez"), F.col("target_entrez"))
    evidence = F.transform(F.split(F.col("pubmed"), ";"),
                           lambda p: F.concat(F.lit("pubmed:"), p))
    databases = F.split(F.col("databases"), ";")
    ev_type = F.when(F.col("small_scale") == "Yes",
                     F.lit("small_scale_evidence")).otherwise(
        F.lit("large_scale_evidence"))
    typed = d.select("src", "tgt", F.lit("tf_gene").alias("label"),
                     evidence.alias("evidence"), databases.alias("databases"),
                     ev_type.alias("evidence_type"),
                     F.col("detection_method"))
    props = [
        Prop("evidence", evidence, "str_list"),
        Prop("databases", databases, "str_list"),
        Prop("evidence_type", ev_type, "str"),
        Prop("detection_method", F.col("detection_method"), "str"),
    ] + provenance_props(*TFLINK_SOURCE)
    atoms = atoms_df(d, edge_def_out("tf_gene", registry,
                                     F.col("src"), F.col("tgt")), props)
    return typed, atoms


def coxpresdb_edges(lines: DataFrame, entrez2ensembl: DataFrame, registry,
                    ) -> tuple[DataFrame, DataFrame]:
    """coexpressed_with (coxpresdb_adapter.py:38-57): the directory fan-in
    S9 pattern — `lines` carries the per-file entrez id as `file_entrez`
    (the span kind's key); both endpoints resolve via the dimension
    (inner)."""
    d = split_cols(lines, {"co_entrez": 0, "score": 1}, r"\s+")
    d = _both_ends(d, entrez2ensembl, F.col("file_entrez"), F.col("co_entrez"))
    score = F.col("score").cast("double")
    typed = d.select("src", "tgt", F.lit("coexpressed_with").alias("label"),
                     score.alias("score"))
    props = [Prop("score", score, "float")] + provenance_props(*COXPRESDB_SOURCE)
    atoms = atoms_df(d, edge_def_out("coexpressed_with", registry,
                                     F.col("src"), F.col("tgt")), props)
    return typed, atoms
