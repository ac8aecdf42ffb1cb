"""RDF triple ingestion for the ontology path (S10).

The reference parses OWL with owlready2/rdflib on the driver
(ontologies_adapter.py:47-53). In this engine the ontology adapters
(adapters/ontology.py) consume a generic triples DataFrame, so any
parser that yields (subject, predicate, object, blank/literal flags)
plugs in. This module provides the distributed path for the standard
line-oriented serialization:

* `parse_ntriples(lines)` — N-Triples / N-Quads-ish lines as spans or
  text files: `<s> <p> <o> .` with <uri>, _:blank, and "literal"
  object forms. Pure expressions; scales to arbitrarily large dumps
  (the OWL/XML form stays a driver-side concern, per SURVEY §2.1 S10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# <s> <p> <o> .   |   _:b <p> <o> .   |   <s> <p> "lit" .
_NT_RE = r'^\s*(<[^>]*>|_:\S+)\s+<([^>]*)>\s+(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@[A-Za-z\-]+)?)\s*\.\s*$'


def parse_ntriples(lines: DataFrame) -> DataFrame:
    """`value` lines -> (subject, predicate, object, subj_blank, obj_blank,
    obj_literal) — the adapters/ontology.py input schema. Malformed and
    comment lines drop out (regex no-match => empty capture)."""
    c = F.col("value")
    s_raw = F.regexp_extract(c, _NT_RE, 1)
    p_raw = F.regexp_extract(c, _NT_RE, 2)
    o_raw = F.regexp_extract(c, _NT_RE, 3)
    out = lines.filter((s_raw != "") & (p_raw != "") & (o_raw != ""))

    # substring needs the concrete column; build per-term with withColumn
    out = (out.withColumn("_t_", s_raw)
           .withColumn("subject", _term_value(F.col("_t_")))
           .withColumn("subj_blank", F.col("_t_").startswith("_:"))
           .withColumn("_t_", o_raw)
           .withColumn("object", _term_value(F.col("_t_")))
           .withColumn("obj_blank", F.col("_t_").startswith("_:"))
           .withColumn("obj_literal", F.col("_t_").startswith('"'))
           .withColumn("predicate", p_raw)
           .drop("_t_"))
    return out.select("subject", "predicate", "object",
                      "subj_blank", "obj_blank", "obj_literal")


def _term_value(t):
    uri = t.startswith("<")
    lit = t.startswith('"')
    lit_body = F.regexp_extract(t, r'^"((?:[^"\\]|\\.)*)"', 1)
    lit_val = F.replace(F.replace(lit_body, F.lit('\\"'), F.lit('"')),
                        F.lit("\\\\"), F.lit("\\"))
    uri_val = t.substr(F.lit(2), F.length(t) - 2)
    return F.when(uri, uri_val).when(lit, lit_val).otherwise(t)
