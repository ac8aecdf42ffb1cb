"""Spark adapters: each reference adapter re-expressed as declarative
DataFrame plans producing (typed node/edge DataFrames, rendered MeTTa atom
DataFrames). No ports — scans, filters and dict-lookups become Catalyst
scans, pushed-down predicates and `dims.lookup_join` broadcast joins.

Properties and provenance are always written, as the reference's
job-level flags write them by default (create_knowledge_graph.py:59-60);
an adapter function takes only what a caller sets.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from biocypher_metta_spark.serializer import Prop, py_escape


def provenance_props(source: str, source_url: str | list[str]) -> list[Prop]:
    """The P14 pattern (gencode_gene_adapter.py:120-122 and every adapter):
    constant source/source_url columns. The values are CONSTANTS, so they
    are escaped once here in Python ('raw' kind) instead of per row on the
    executor."""
    if isinstance(source_url, list):
        rendered = "(" + " ".join(py_escape(u) for u in source_url) + ")"
    else:
        rendered = py_escape(source_url)
    return [Prop("source", F.lit(py_escape(source)), "raw"),
            Prop("source_url", F.lit(rendered), "raw")]
