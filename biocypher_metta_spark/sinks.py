"""Sinks: MeTTa text shards, Prolog facts, Neo4j-style CSV rows,
N-Triples lines and the queryable triple table.

Reference: metta_writer.py:91-126 (append-mode text files),
prolog_writer.py:47-120 (alternate rendering — proves the sink is
pluggable), biocypher_config.yaml:8-12 (neo4j CSV with tab delimiter and
skip_duplicate_nodes).

Spark-first: atoms are rendered upstream as columns; sinks only decide
layout. `.metta` shard content is made deterministic with
sortWithinPartitions before write (SURVEY §3.4: the reference's output
order is incidental; ours is reproducible).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark.schema import SchemaRegistry
from biocypher_metta_spark.serializer import escape_str


def write_metta_text(atoms: DataFrame, path: str) -> None:
    """Deterministic .metta shards from the `atom` column, overwriting
    `path`: sorted within partitions, one atom per line. Repartition count
    inherits from upstream — callers set it via repartition(chr/label) for
    pruning-friendly layout."""
    (atoms.select(F.col("atom").alias("value"))
     .sortWithinPartitions("value")
     .write.mode("overwrite").text(path))


def write_triple_table(nodes: DataFrame | None, edges: DataFrame | None,
                       path: str, mode: str = "overwrite") -> None:
    """Unified queryable triple table, partitioned by kind+label —
    partition pruning serves both probe patterns (subject-centric fetch
    and label+range scans, scripts/metta_space_import.py:73-92)."""
    parts = []
    if nodes is not None:
        parts.append(nodes.select(
            F.lit("node").alias("kind"), F.col("label"),
            F.col("id").alias("subj"), F.lit(None).cast("string").alias("obj")))
    if edges is not None:
        parts.append(edges.select(
            F.lit("edge").alias("kind"), F.col("label"),
            F.col("src").alias("subj"), F.col("tgt").alias("obj")))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    (df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
     .partitionBy("kind", "label").parquet(path))


# ---------------------------------------------------------------------------
# Prolog rendering (prolog_writer.py:82-131): node fact 'label(id).' with
# lowercased label+id; edge fact 'label(src_t(src), tgt_t(tgt)).'; scalar
# property fact 'k(def_out, v).' with the same space/paren escaping as
# MeTTa. (The reference's own edge path crashes on a missing
# 'output_label' key, prolog_writer.py:98 — we implement the evident
# intent: output_label rewriting as in the MeTTa writer.)
# ---------------------------------------------------------------------------


def prolog_node_facts(nodes: DataFrame, prop_cols: list[str] | None = None) -> DataFrame:
    def_out = F.concat(F.lower(F.col("label")), F.lit("("),
                       F.lower(F.col("id")), F.lit(")"))
    facts = [F.concat(def_out, F.lit("."))]
    for c in (prop_cols or []):
        v = escape_str(F.col(c).cast("string"))
        facts.append(F.when(v.isNull() | (v == ""), F.lit(None)).otherwise(
            F.concat(F.lit(f"{c}("), def_out, F.lit(", "), v, F.lit(")."))))
    return nodes.select(F.explode(F.array_compact(F.array(*facts))).alias("fact"))


def prolog_edge_facts(edges: DataFrame, registry: SchemaRegistry,
                      label: str) -> DataFrame:
    final, src_t, tgt_t = registry.edge_out(label.lower())
    def_out = F.concat(F.lit(f"{final}({src_t}("), F.lower(F.col("src")),
                       F.lit(f"), {tgt_t}("), F.lower(F.col("tgt")), F.lit("))"))
    return edges.select(F.concat(def_out, F.lit(".")).alias("fact"))


# ---------------------------------------------------------------------------
# Neo4j-style CSV rows (K7): array_delimiter '|', skip_duplicate_nodes
# via dropDuplicates
# ---------------------------------------------------------------------------


def neo4j_rows(nodes: DataFrame,
               array_cols: list[str] | None = None) -> DataFrame:
    """The rows a Neo4j CSV import takes: skip_duplicate_nodes semantics
    (dropDuplicates on label+id) and '|'-joined array columns."""
    df = nodes.dropDuplicates(["label", "id"])
    for c in (array_cols or []):
        if c in df.columns:
            df = df.withColumn(c, F.array_join(F.col(c), "|"))
    return df


# ---------------------------------------------------------------------------
# N-Triples (RDF) export: the fourth sink next to MeTTa atoms, Prolog
# facts, and Neo4j CSV rows — W3C N-Triples lines so the KG loads into any
# triple store. Node -> rdf:type statement, edge -> predicate
# statement, scalar property -> literal statement. IRIs are
# deterministic (base + label/id with minimal percent-encoding of the
# characters N-Triples forbids inside <>); literals use the W3C ECHAR
# escapes (backslash FIRST, then quote/newline/CR/tab).
# Line construction is pure column concat — map-only, codegen'd,
# no UDFs — and writing is the same text-sink path as the MeTTa
# writer (one file per partition, order-free set semantics).
# ---------------------------------------------------------------------------

NT_BASE = "http://biocypher.example/"
NT_RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


def _nt_iri_safe(col: Column) -> Column:
    """Minimal percent-encoding for IRI position: the chars N-Triples
    forbids between < and > that can occur in KG ids."""
    out = F.regexp_replace(col, r"%", "%25")
    # regex-escaped patterns ('|', '{', '}', '^', '\' are regex
    # metacharacters in Spark's regexp_replace)
    for ch, enc in ((" ", "%20"), ("<", "%3C"), (">", "%3E"),
                    ('"', "%22"), (r"\{", "%7B"), (r"\}", "%7D"),
                    (r"\|", "%7C"), (r"\\", "%5C"), (r"\^", "%5E"),
                    ("`", "%60")):
        out = F.regexp_replace(out, ch, enc)
    return out


def _nt_literal(col: Column) -> Column:
    """W3C ECHAR-escaped, double-quoted literal. Backslash first."""
    out = F.regexp_replace(col, r"\\", r"\\\\")
    out = F.regexp_replace(out, '"', r'\\"')
    out = F.regexp_replace(out, "\n", r"\\n")
    out = F.regexp_replace(out, "\r", r"\\r")
    out = F.regexp_replace(out, "\t", r"\\t")
    return F.concat(F.lit('"'), out, F.lit('"'))


def _nt_entity(label_col: Column, id_col: Column) -> Column:
    return F.concat(F.lit(f"<{NT_BASE}"), _nt_iri_safe(F.lower(label_col)),
                    F.lit("/"), _nt_iri_safe(F.lower(id_col)), F.lit(">"))


def ntriples_node_lines(nodes: DataFrame,
                        prop_cols: list[str] | None = None) -> DataFrame:
    """One rdf:type line per node + one literal line per non-null
    scalar property: (line)."""
    subj = _nt_entity(F.col("label"), F.col("id"))
    cls = F.concat(F.lit(f"<{NT_BASE}class/"),
                   _nt_iri_safe(F.lower(F.col("label"))), F.lit(">"))
    lines = [F.concat(subj, F.lit(" "), F.lit(NT_RDF_TYPE), F.lit(" "),
                      cls, F.lit(" ."))]
    for c in (prop_cols or []):
        v = F.col(c).cast("string")
        lines.append(F.when(v.isNull(), F.lit(None)).otherwise(
            F.concat(subj, F.lit(f" <{NT_BASE}prop/{c}> "),
                     _nt_literal(v), F.lit(" ."))))
    return nodes.select(
        F.explode(F.array_compact(F.array(*lines))).alias("line"))


def ntriples_edge_lines(edges: DataFrame, src_label: str,
                        tgt_label: str) -> DataFrame:
    """One predicate line per edge: (line). Endpoint labels are
    schema-supplied (the SchemaRegistry edge_out contract)."""
    subj = _nt_entity(F.lit(src_label), F.col("src"))
    obj = _nt_entity(F.lit(tgt_label), F.col("tgt"))
    pred = F.concat(F.lit(f"<{NT_BASE}rel/"),
                    _nt_iri_safe(F.lower(F.col("label"))), F.lit(">"))
    return edges.select(F.concat(subj, F.lit(" "), pred, F.lit(" "),
                                 obj, F.lit(" .")).alias("line"))


def write_ntriples(lines: DataFrame, path: str,
                   mode: str = "overwrite") -> None:
    lines.write.mode(mode).text(path)
