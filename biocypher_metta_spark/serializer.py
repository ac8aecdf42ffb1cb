r"""MeTTa atom rendering as Spark column expressions.

Byte-parity target: the reference writer's rendering rules
(reference: biocypher_metta/metta_writer.py:128-174):

* node head atom   ``(<label> <id>)``                       (:128-133)
* edge head atom   ``(<label> (<src_t> <src>) (<tgt_t> <tgt>))`` (:135-144)
* scalar property  ``(<key> <head> <value>)``               (:162)
* list property    ``(<key> <head> (v1 v2 ...))``           (:151-157)
* dict property    ``(<key> <head>)`` then recurse          (:158-160)
* skip None / ""   (:150)
* value escaping: spaces -> ``_``; backslash-escape ``(``, ``)``, ``\``
  (:165-174); numbers rendered via Python ``str()`` (f-string semantics).

Everything is Catalyst expression work (replace / concat_ws / transform),
float formatting included: Python's repr(float) is rebuilt from Java's
Double.toString where its digits are provably the shortest, and from the
exact BigDecimal expansion where they are not (``fmt_float``). No row
crosses into Python on the render path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark.functions.values import let, py_float_col, py_to_float
from biocypher_metta_spark.schema import SchemaRegistry

# ---------------------------------------------------------------------------
# value escaping (metta_writer.py:165-174)
# ---------------------------------------------------------------------------


def escape_str(col: Column) -> Column:
    """spaces -> '_', then backslash-escape '(' ')' '\\'  (order matters:
    the reference replaces spaces first, then escapes specials).

    Literal F.replace chain, not regexp_replace — ~35% cheaper on the
    render hot path (measured), same semantics: escaping backslashes
    BEFORE parens means the inserted escape characters are never
    re-escaped, exactly like the reference's single char-walk
    (metta_writer.py:170-172)."""
    c = F.replace(col, F.lit(" "), F.lit("_"))
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit("("), F.lit("\\("))
    return F.replace(c, F.lit(")"), F.lit("\\)"))


def py_escape(value: str) -> str:
    """Pure-Python twin of escape_str, used by tests and driver-side code."""
    if " " in value:
        value = value.replace(" ", "_")
    return "".join("\\" + ch if ch in "()\\" else ch for ch in value)


def py_num_or_str(v: str | None) -> str | None:
    """Pure-Python twin of num_or_str: FAVOR convert_freq_value + writer
    rendering in one step (favor_adapter.py:74-83 + metta_writer.py:162-174):
    '.' -> 0, numeric text -> clamped float repr, other text -> escaped
    string, ''/None -> skip (None)."""
    if v is None or v == "":
        return None
    if v == ".":
        return "0"
    try:
        return str(py_to_float(v))
    except (ValueError, TypeError):
        return py_escape(v)


# ---------------------------------------------------------------------------
# Python repr(float) as one Catalyst expression
# ---------------------------------------------------------------------------

# The kernel is SQL text over the name {v}, bound by functions.values.let.

_MIN_NORMAL = "2.2250738585072014e-308D"


def _strip_zeros(digits: str) -> str:
    return f"regexp_replace({digits}, '0+$', '')"


def _decimal_parts(s: str) -> tuple[str, str]:
    """(significant digits, exponent of the first one) of the positive
    decimal string `s`: 'I', 'I.F', 'I.FEn' or 'I.FE-n' (Java's Double
    and BigDecimal toString); the digits may end in zeros. Written for
    strings of up to ~770 characters (an exact expansion): each step is
    one pass or works on a short prefix."""
    mant = f"if(contains({s}, 'E'), substring_index({s}, 'E', 1), {s})"
    exp = f"if(contains({s}, 'E'), int(substring_index({s}, 'E', -1)), 0)"
    point = f"instr({mant}, '.')"
    int_len = f"if({point} > 0, {point} - 1, length({mant}))"
    digits = f"replace({mant}, '.', '')"
    # both toStrings switch to E-notation before a seventh leading zero
    lead = f"length(regexp_extract(substring({digits}, 1, 8), '^0*', 0))"
    return f"substring({digits}, {lead} + 1)", f"{int_len} - 1 - {lead} + {exp}"


def _shortest_slow(a: str) -> str:
    """struct(m, e): the shortest decimal m * 10^(e - len(m) + 1) that
    reads back as the positive finite double `a`, and of those the
    closest: the floor or the ceiling of a's exact expansion truncated
    to p digits, for the least p in 1..17 where one reads back (if both
    do, the one the dropped digits round to, half to even). At a normal
    `a` at most one decimal of 15 digits reads back, so p starts at 15."""
    sig, e = _decimal_parts("__x")
    # 18 digits decide every rounding below; a nonzero rest of the
    # (up to ~750-digit) expansion only matters as a sticky '1'
    split = (f"named_struct('d', concat(substring({sig}, 1, 18),"
             f" if(substring({sig}, 19) RLIKE '[1-9]', '1', '')), 'e', {e},"
             " 'r', CAST(NULL AS STRUCT<m: STRING, e: INT>))")
    q = "(__acc.e - __p + 1)"
    floor = "CAST(rpad(substring(__acc.d, 1, __p), __p, '0') AS BIGINT)"
    # round the dropped digits half to even, as dtoa does on a tie
    dropped = _strip_zeros("substring(__acc.d, __p + 1)")
    up = f"({dropped} > '5' OR ({dropped} = '5' AND {floor} % 2 = 1))"
    near, other = f"if({up}, {floor} + 1, {floor})", f"if({up}, {floor}, {floor} + 1)"

    def reads_back(c: str) -> str:
        return f"CAST(concat(CAST({c} AS STRING), 'e', {q}) AS DOUBLE) = {a}"

    def found(c: str) -> str:
        return (f"named_struct('m', CAST({c} AS STRING),"
                f" 'e', {q} + length(CAST({c} AS STRING)) - 1)")

    step = (f"named_struct('d', __acc.d, 'e', __acc.e, 'r', coalesce(__acc.r,"
            f" CASE WHEN {reads_back(near)} THEN {found(near)}"
            f" WHEN {reads_back(other)} THEN {found(other)} END))")
    exact = f"reflect('scala.math.BigDecimal', 'exact', {a})"
    return (f"aggregate(sequence(if({a} >= {_MIN_NORMAL}, 15, 1), 17),"
            f" transform(array({exact}), __x -> {split})[0],"
            f" (__acc, __p) -> {step}, __acc -> __acc.r)")


def _layout(r: str) -> str:
    """Python's layout of the struct(m, e) `r`: fixed for -4 <= e < 16,
    with '.0' on integral values, else d.ddde+XX."""
    d, e = _strip_zeros(f"{r}.m"), f"{r}.e"
    sci = (f"concat(left({d}, 1), if(length({d}) > 1, concat('.', substring({d}, 2)), ''),"
           f" format_string('e%+03d', {e}))")
    # fixed: left-pad to a units digit, right-pad to one decimal
    z = f"greatest(-{e}, 0)"
    padded = f"concat(repeat('0', {z}), {d})"
    units = f"({e} + {z} + 1)"
    padded = f"rpad({padded}, greatest(length({padded}), {units} + 1), '0')"
    fixed = f"concat(left({padded}, {units}), '.', substring({padded}, {units} + 1))"
    return f"if({e} >= -4 AND {e} < 16, {fixed}, {sci})"


def _repr_sql(s: str) -> str:
    """Python repr of the double whose Java toString is `s`."""
    body = f"regexp_replace({s}, '^-', '')"
    a = f"CAST({body} AS DOUBLE)"
    sig, e = _decimal_parts(body)
    # Java's digits read back; with at most 15 of them at a normal value
    # no other decimal that short does, so they are the shortest
    fast = f"{a} >= {_MIN_NORMAL} AND length({_strip_zeros(sig)}) <= 15"
    short = (f"CASE WHEN {fast} THEN named_struct('m', {sig}, 'e', {e})"
             f" ELSE {_shortest_slow(a)} END")
    sign = f"if(startswith({s}, '-'), '-', '')"
    return (f"CASE WHEN {s} IS NULL THEN NULL WHEN {s} = 'NaN' THEN 'nan'"
            f" WHEN {s} = 'Infinity' THEN 'inf' WHEN {s} = '-Infinity' THEN '-inf'"
            f" WHEN {a} = 0 THEN concat({sign}, '0.0')"
            f" ELSE concat({sign}, transform(array({short}), __r -> {_layout('__r')})[0]) END")


_REPR = _repr_sql("{v}")


def fmt_float(col: Column | str) -> Column:
    """Python repr(float) (str(float)) of a double column, byte for
    byte: the shortest decimal that reads back ('0.173', '1e-05',
    '2.89394e-06', '5e-324'), laid out fixed for exponents -4..15 ('1.0',
    '0.0001') and as d.ddde+XX otherwise, with 'nan', 'inf', '-inf' and
    '-0.0'. Spark's cast gives '1.0E-5' where Python writes '1e-05'.

    Java's Double.toString (JDK 17) reads back but is not always the
    shortest (2.82879384806159008E17), so digits it cannot vouch for are
    found from the exact expansion instead (_shortest_slow)."""
    s = (F.col(col) if isinstance(col, str) else col).cast("double").cast("string")
    # Java writes 1e-3 <= |x| < 1e7 in plain notation as Python does, and
    # with at most 15 digits (16 characters) they are Python's digits too
    plain = s.contains(".") & ~s.contains("E") & (F.length(s) <= 16)
    return F.when(plain, s).otherwise(let(s, _REPR))


def fmt_float_list(col: Column) -> Column:
    """Render array<double> as '(v1 v2 ...)' with Python float repr per
    element (list-property rule, metta_writer.py:151-157); a NULL element
    is written as str(None) is."""
    return F.concat(F.lit("("), F.array_join(F.transform(col, fmt_float), " ", "None"),
                    F.lit(")"))


# ---------------------------------------------------------------------------
# property atom builders
# ---------------------------------------------------------------------------


@dataclass
class Prop:
    """One property column to render.

    kind:
      str        — escaped string scalar
      int        — integer scalar (str(int))
      float      — double scalar via fmt_float (Python float repr)
      str_list   — array<string>, elements escaped
      float_list — array<double> via fmt_float_list
      raw        — pre-rendered value fragment (escaping already applied)
      num_or_str — string column holding either numeric text (render via
                   Python float repr after to_float) or a plain string
                   (escape) — FAVOR annotation semantics
                   (favor_adapter.py:74-83).
    """

    name: str
    col: Column
    kind: str = "str"


def _value_fragment(p: Prop) -> Column:
    # every scalar fragment is NULL-propagating, so prop_atom can use a
    # plain concat (nulls collapse the whole atom) instead of a when-guard
    # that re-evaluates the fragment — 2x on the render hot path.
    if p.kind == "str":
        # '' must be skipped like NULL (metta_writer.py:150) -> nullif
        return escape_str(F.nullif(p.col, F.lit("")))
    if p.kind == "int":
        return p.col.cast("long").cast("string")
    if p.kind == "float":
        return fmt_float(p.col.cast("double"))
    if p.kind == "str_list":
        return F.when(p.col.isNull(), F.lit(None)).otherwise(
            F.concat(F.lit("("),
                     F.concat_ws(" ", F.transform(p.col, escape_str)),
                     F.lit(")"))
        )
    if p.kind == "float_list":
        return fmt_float_list(p.col)
    if p.kind == "raw":
        return p.col
    if p.kind == "num_or_str":
        return num_or_str(p.col)
    raise ValueError(f"unknown prop kind {p.kind}")


def num_or_str(v: Column) -> Column:
    """Column twin of py_num_or_str over a string column."""
    def render(d: Column) -> Column:
        return F.when(d.isNull(), escape_str(v)).otherwise(fmt_float(d))
    return (F.when(v.isNull() | (v == ""), F.lit(None))
            .when(v == ".", F.lit("0"))
            .otherwise(let(py_float_col(v), render)))


def num_or_str_fragments(arr_col: Column) -> Column:
    """num_or_str over every element of an array<string>: FAVOR's ~80
    annotation fields share one kernel in one transform."""
    return F.transform(arr_col, num_or_str)


def prop_atom(def_out: Column, p: Prop) -> Column:
    """'(<key> <def_out> <value>)' or NULL when the value is skipped
    (F.concat null-propagates, so a NULL fragment nulls the atom and
    array_compact drops it)."""
    frag = _value_fragment(p)
    return F.concat(F.lit(f"({p.name} "), def_out, F.lit(" "), frag, F.lit(")"))


def dict_prop_atoms(def_out: Column, name: str, fields: list[Prop]) -> list[Column]:
    """Nested-dict property (metta_writer.py:158-160): emits the dict head
    atom '(<name> <def_out>)' plus one atom per field keyed off that head."""
    head = F.concat(F.lit(f"({name} "), def_out, F.lit(")"))
    atoms = [head]
    for p in fields:
        atoms.append(prop_atom(head, p))
    return atoms


# ---------------------------------------------------------------------------
# node / edge renderers
# ---------------------------------------------------------------------------


def node_def_out(label: str, id_col: Column) -> Column:
    """'(<label> <id>)' — label.split('.')[1] rule applied driver-side
    (metta_writer.py:130-132); ids are NOT escaped (reference behavior)."""
    if "." in label:
        label = label.split(".")[1]
    label = label.replace(" ", "_")
    return F.concat(F.lit(f"({label} "), id_col, F.lit(")"))


def edge_def_out(label: str, registry: SchemaRegistry,
                 src_col: Column, tgt_col: Column) -> Column:
    """'(<out_label> (<src_type> <src>) (<tgt_type> <tgt>))'
    (metta_writer.py:135-143) — endpoint types from the schema registry."""
    final, src_t, tgt_t = registry.edge_out(label.lower())
    return F.concat(
        F.lit(f"({final} ({src_t} "), src_col,
        F.lit(f") ({tgt_t} "), tgt_col, F.lit("))"),
    )


def atoms_df(df: DataFrame, def_out: Column,
             props: list[Prop | list[Prop]],
             extra_atoms: list[Column] | None = None) -> DataFrame:
    """Render each row to its atom list and explode to one atom per row.

    `props` entries are Prop (scalar/list) — nested dict props should be
    pre-expanded with dict_prop_atoms and passed via extra_atoms.
    Output: single-column DataFrame [atom: string].
    """
    cols: list[Column] = [def_out]
    for p in props:
        cols.append(prop_atom(def_out, p))
    if extra_atoms:
        cols.extend(extra_atoms)
    arr = F.array_compact(F.array(*cols))
    return df.select(F.explode(arr).alias("atom"))


# ---------------------------------------------------------------------------
# pure-Python writer twin (tests / golden generation without BioCypher)
# ---------------------------------------------------------------------------


def py_write_property(def_out: str, properties: dict) -> list[str]:
    """Exact reimplementation of metta_writer.py:147-163 for test oracles."""
    out = [def_out]
    for k, v in properties.items():
        if v is None or v == "":
            continue
        if isinstance(v, list):
            prop = "(" + " ".join(str(py_check_property(e)) for e in v) + ")"
            out.append(f"({k} {def_out} {prop})")
        elif isinstance(v, dict):
            head = f"({k} {def_out})"
            out.extend(py_write_property(head, v))
        else:
            out.append(f"({k} {def_out} {py_check_property(v)})")
    return out


def py_check_property(prop):
    if isinstance(prop, str):
        return py_escape(prop)
    return prop


def py_write_node(node: tuple, ) -> list[str]:
    node_id, label, props = node
    if "." in label:
        label = label.split(".")[1]
    return py_write_property(f"({label.replace(' ', '_')} {node_id})", props)


def py_write_edge(edge: tuple, registry: SchemaRegistry) -> list[str]:
    src, tgt, label, props = edge
    final, src_t, tgt_t = registry.edge_out(label.lower())
    return py_write_property(f"({final} ({src_t} {src}) ({tgt_t} {tgt}))", props)
