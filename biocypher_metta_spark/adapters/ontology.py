"""Ontology adapters (GO / UBERON / CLO / generic OWL) over a triples
DataFrame.

Reference: ontologies_adapter.py — an rdflib graph walked driver-side
(S10). The OWL parse itself stays on the driver (ontologies are MB-scale
dimension data; SURVEY §2.1 S10 says do NOT distribute it); everything
after the parse is DataFrame work here so the same code path also serves
arbitrarily large triple dumps (ntriples in spans, etc.).

Input triples schema:
    subject string, predicate string, object string,
    subj_blank boolean, obj_blank boolean, obj_literal boolean
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark.adapters import provenance_props
from biocypher_metta_spark.serializer import Prop, atoms_df, edge_def_out, node_def_out

HAS_PART = "http://purl.obolibrary.org/obo/BFO_0000051"
PART_OF = "http://purl.obolibrary.org/obo/BFO_0000050"
SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
DB_XREF = "http://www.geneontology.org/formats/oboInOwl#hasDbXref"
LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
RESTRICTION = "http://www.w3.org/2002/07/owl#Restriction"
TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
ON_PROPERTY = "http://www.w3.org/2002/07/owl#onProperty"
SOME_VALUES_FROM = "http://www.w3.org/2002/07/owl#someValuesFrom"
ALL_VALUES_FROM = "http://www.w3.org/2002/07/owl#allValuesFrom"
NAMESPACE = "http://www.geneontology.org/formats/oboInOwl#hasOBONamespace"
EXACT_SYNONYM = "http://www.geneontology.org/formats/oboInOwl#hasExactSynonym"
RELATED_SYNONYM = "http://www.geneontology.org/formats/oboInOwl#hasRelatedSynonym"
DESCRIPTION = "http://purl.obolibrary.org/obo/IAO_0000115"

RESTRICTION_PREDICATES = [HAS_PART, PART_OF]

SOURCES = {
    "go": ("Gene Ontology", "http://purl.obolibrary.org/obo/go.owl"),
    "uberon": ("UBERON", "http://purl.obolibrary.org/obo/uberon.owl"),
    "clo": ("Cell Line Ontology", "http://purl.obolibrary.org/obo/clo.owl"),
}


def to_key_col(uri) -> "F.Column":
    """Column twin of OntologyAdapter.to_key (ontologies_adapter.py:164-176):
    URI tail, '#?&=/~ ' rewrites, '_'->':', numeric guard."""
    key = F.element_at(F.split(uri, "/"), -1)
    # positional map: '#'->'.', '?'->'_', '&'->'.', '='->'_', '~'->'.'
    # ('?'/'=' become '_' first and then ':' in the '_'->':' pass below,
    # exactly like the reference's replace chain)
    key = F.translate(key, "#?&=~", "._._.")
    key = F.regexp_replace(key, "_", ":")
    key = F.regexp_replace(key, " ", "")
    return F.when(F.regexp_replace(key, r"\.", "").rlike(r"^[0-9]+$"),
                  F.concat(F.lit("number_"), key)).otherwise(key)


def py_to_key(node_uri: str) -> str:
    """Pure-Python twin for tests / driver-side parity with the reference."""
    key = str(node_uri).split("/")[-1]
    key = key.replace("#", ".").replace("?", "_")
    key = key.replace("&", ".").replace("=", "_")
    key = key.replace("/", "_").replace("~", ".")
    key = key.replace("_", ":")
    key = key.replace(" ", "")
    if key.replace(".", "").isnumeric():
        key = f"number_{key}"
    return key


def _collect_prop(triples: DataFrame, predicate: str, name: str) -> DataFrame:
    """A4 predicate cache: group objects per subject for one predicate."""
    return (
        triples.filter(F.col("predicate") == predicate)
        .groupBy("subject")
        .agg(F.collect_list("object").alias(name))
    )


def ontology_nodes(triples: DataFrame, label: str, ontology: str = "go",
                   dry_run: bool = False) -> tuple[DataFrame, DataFrame]:
    """Ontology term nodes (ontologies_adapter.py:55-86): one node per
    non-blank URI subject; term_name/description joined, synonyms =
    related + exact collections. For GO, the `subontology` property is
    appended from the OBO namespace (gene_ontology_adapter.py:17-41 —
    note the reference appends it AFTER source/source_url)."""
    uris = (
        triples.filter(~F.col("subj_blank"))
        .select(F.col("subject")).distinct()
    )
    names = _collect_prop(triples, LABEL, "term_names")
    descs = _collect_prop(triples, DESCRIPTION, "descriptions")
    rel = _collect_prop(triples, RELATED_SYNONYM, "related")
    exact = _collect_prop(triples, EXACT_SYNONYM, "exact")
    n = (uris.join(names, "subject", "left").join(descs, "subject", "left")
         .join(rel, "subject", "left").join(exact, "subject", "left"))
    if ontology == "go":
        ns = _collect_prop(triples, NAMESPACE, "namespaces")
        n = n.join(ns, "subject", "left")
    empty = F.array().cast("array<string>")
    term_name = F.array_join(F.coalesce(F.col("term_names"), empty), ", ")
    description = F.array_join(F.coalesce(F.col("descriptions"), empty), " ")
    synonyms = F.concat(F.coalesce(F.col("related"), empty),
                        F.coalesce(F.col("exact"), empty))
    n = n.withColumn("_id", to_key_col(F.col("subject")))
    if dry_run:
        n = n.limit(101)
    sub_cols = []
    if ontology == "go":
        subontology = F.element_at(F.col("namespaces"), -1)
        sub_cols = [subontology.alias("subontology")]
    typed = n.select(F.col("_id").alias("id"), F.lit(label).alias("label"),
                     term_name.alias("term_name"),
                     description.alias("description"),
                     synonyms.alias("synonyms"), *sub_cols)
    src, url = SOURCES.get(ontology, ("Ontology", ""))
    props = [
        Prop("term_name", term_name, "str"),
        Prop("description", description, "str"),
        Prop("synonyms", synonyms, "str_list"),
    ] + provenance_props(src, url)
    if ontology == "go":
        props.append(Prop("subontology", subontology, "str"))
    atoms = atoms_df(n, node_def_out(label, F.col("_id")), props)
    return typed, atoms


def ontology_edges(triples: DataFrame, label: str, registry,
                   ontology: str = "go", dry_run: bool = False,
                   ) -> tuple[DataFrame, DataFrame]:
    """subclass/dbxref edges with restriction-block resolution
    (ontologies_adapter.py:88-147, J12): blank-object subClassOf edges are
    rewritten via a self-join to the (onProperty, someValuesFrom/
    allValuesFrom) pair when the blank node is an owl:Restriction."""
    base = triples.filter(F.col("predicate").isin([SUBCLASS, DB_XREF]))
    base = base.filter(~F.col("subj_blank"))

    # restriction lookup table: blank node -> (restriction predicate, target)
    rtypes = triples.filter((F.col("predicate") == TYPE)
                            & (F.col("object") == RESTRICTION)) \
        .select(F.col("subject").alias("_rb")).distinct()
    onprop = triples.filter(F.col("predicate") == ON_PROPERTY) \
        .groupBy("subject").agg(F.first("object").alias("_onprop"))
    somev = triples.filter(F.col("predicate") == SOME_VALUES_FROM) \
        .groupBy("subject").agg(F.first("object").alias("_some"))
    allv = triples.filter(F.col("predicate") == ALL_VALUES_FROM) \
        .groupBy("subject").agg(F.first("object").alias("_all"))
    restr = (rtypes.join(onprop, rtypes["_rb"] == onprop["subject"], "left").drop("subject")
             .join(somev, rtypes["_rb"] == somev["subject"], "left").drop("subject")
             .join(allv, rtypes["_rb"] == allv["subject"], "left").drop("subject"))
    restr = restr.filter(F.col("_onprop").isin(RESTRICTION_PREDICATES))
    restr = restr.withColumn("_rtarget", F.coalesce(F.col("_some"), F.col("_all"))) \
                 .filter(F.col("_rtarget").isNotNull()) \
                 .select("_rb", "_onprop", "_rtarget")

    e = base.join(F.broadcast(restr), base["object"] == restr["_rb"], "left")
    resolved_pred = F.when(F.col("_onprop").isNotNull(), F.col("_onprop")) \
        .otherwise(F.col("predicate"))
    resolved_obj = F.when(F.col("_rtarget").isNotNull(), F.col("_rtarget")) \
        .otherwise(F.col("object"))
    e = e.withColumn("_pred", resolved_pred).withColumn("_obj", resolved_obj)
    # unresolved blank objects are dropped (reference `continue`, :103-106)
    e = e.filter(~F.col("obj_blank") | F.col("_rtarget").isNotNull())

    # dbxref handling (:116-134): literal objects only, '<ont>:<id>' shape,
    # self-xrefs skipped; then predicate_name 'dbxref' edges are dropped
    # entirely (:137-138) — reproduce the net effect: drop all DB_XREF.
    e = e.filter(F.col("_pred") != DB_XREF)

    pred_name = (F.when(F.col("_pred") == HAS_PART, "has_part")
                 .when(F.col("_pred") == PART_OF, "part_of")
                 .when(F.col("_pred") == SUBCLASS, "subclass")
                 .otherwise(""))
    e = e.withColumn("_src", to_key_col(F.col("subject"))) \
         .withColumn("_tgt", to_key_col(F.col("_obj"))) \
         .withColumn("_rel", pred_name)
    if dry_run:
        e = e.limit(101)
    typed = e.select(F.col("_src").alias("src"), F.col("_tgt").alias("tgt"),
                     F.lit(label).alias("label"), F.col("_rel").alias("rel_type"))
    src, url = SOURCES.get(ontology, ("Ontology", ""))
    props = [Prop("rel_type", F.col("_rel"), "str")] + provenance_props(src, url)
    atoms = atoms_df(e, edge_def_out(label, registry, F.col("_src"), F.col("_tgt")), props)
    return typed, atoms
