"""Reactome pathway adapters: pathway nodes, genes_pathways /
parent_pathway_of / child_pathway_of edges.

Reference: reactome_pathway_adapter.py:39-57, reactome_adapter.py:47-76.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark.adapters import provenance_props
from biocypher_metta_spark.serializer import (
    Prop,
    atoms_df,
    edge_def_out,
    node_def_out,
)
from biocypher_metta_spark.sources.tabular import split_cols

SOURCE = ("REACTOME", "https://reactome.org")


def pathway_nodes(lines: DataFrame, pubmed_lines: DataFrame,
                  ) -> tuple[DataFrame, DataFrame]:
    """Homo sapiens pathways. Quirk parity (reference bugs preserved):
    * the pubmed map stores the PATHWAY id as its own value
      (reactome_pathway_adapter.py:36 `row[0], row[0]`), so the evidence
      URL embeds the pathway id;
    * `props['evidence'] = pubmed_url,` has a trailing comma
      (reactome_pathway_adapter.py:51) making it a Python TUPLE, which the
      writer renders via repr: ('https://...',).
    """
    p = split_cols(lines, {"id": 0, "name": 1, "species": 2}, "\t")
    p = p.filter(F.col("species") == "Homo sapiens")
    pm = split_cols(pubmed_lines, {"pm_id": 0}, "\t").select("pm_id").distinct()
    p = p.join(F.broadcast(pm), p["id"] == pm["pm_id"], "left")
    typed = p.select(F.col("id"), F.lit("pathway").alias("label"),
                     F.col("name").alias("pathway_name"),
                     F.col("pm_id").alias("pubmed_id"))
    evidence_raw = F.when(
        F.col("pm_id").isNotNull(),
        F.concat(F.lit("('https://pubmed.ncbi.nlm.nih.gov/"),
                 F.col("pm_id"), F.lit("',)")),
    )
    props = [
        Prop("pathway_name", F.col("name"), "str"),
        Prop("evidence", evidence_raw, "raw"),
    ] + provenance_props(*SOURCE)
    atoms = atoms_df(p, node_def_out("pathway", F.col("id")), props)
    return typed, atoms


def genes_pathways_edges(lines: DataFrame, registry) -> tuple[DataFrame, DataFrame]:
    """gene -> pathway edges, R-HSA only, ENSG version-stripped
    (reactome_adapter.py:54-62)."""
    d = split_cols(lines, {"g": 0, "pathway": 1}, "\t")
    d = d.filter(F.col("pathway").startswith("R-HSA"))
    d = d.select(F.split(F.col("g"), r"\.").getItem(0).alias("src"),
                 F.col("pathway").alias("tgt"))
    return _reactome_edges(d, "genes_pathways", registry)


def pathway_rel_edges(lines: DataFrame, registry, label: str,
                      ) -> tuple[DataFrame, DataFrame]:
    """parent_pathway_of / child_pathway_of from the relation file,
    R-HSA parents only (reactome_adapter.py:63-76)."""
    d = split_cols(lines, {"parent": 0, "child": 1}, "\t")
    d = d.filter(F.col("parent").startswith("R-HSA"))
    if label == "parent_pathway_of":
        d = d.select(F.col("parent").alias("src"), F.col("child").alias("tgt"))
    elif label == "child_pathway_of":
        d = d.select(F.col("child").alias("src"), F.col("parent").alias("tgt"))
    else:
        raise ValueError(label)
    return _reactome_edges(d, label, registry)


def _reactome_edges(d: DataFrame, label: str, registry):
    typed = d.select("src", "tgt", F.lit(label).alias("label"))
    props = provenance_props(*SOURCE)
    atoms = atoms_df(d, edge_def_out(label, registry, F.col("src"), F.col("tgt")), props)
    return typed, atoms
