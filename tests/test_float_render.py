"""Float rendering without the reference checkout.

The Catalyst float kernels (`serializer.fmt_float`, `fmt_float_list`,
`num_or_str` and `functions.values.to_float_col`) against their
pure-Python oracles (`repr`, `py_num_or_str`, `py_to_float`,
`py_write_node`/`py_write_edge`), and a guard that no adapter's atom
plan calls back into Python."""

from __future__ import annotations

import math
import random
import struct
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from biocypher_metta_spark import serializer
import biocypher_metta_spark.adapters.annotations as ann
from biocypher_metta_spark.adapters import forgedb as fg
from biocypher_metta_spark.adapters import interactions as inter
from biocypher_metta_spark.adapters import variants as var
from biocypher_metta_spark.functions import values
from biocypher_metta_spark.functions.values import py_to_float, to_float_col
from biocypher_metta_spark.schema import load_default_registry
from biocypher_metta_spark.serializer import (
    Prop,
    atoms_df,
    dict_prop_atoms,
    edge_def_out,
    fmt_float,
    node_def_out,
    num_or_str,
    py_num_or_str,
    py_write_edge,
    py_write_node,
)

REGISTRY = load_default_registry()


def _near(x: float, ulps: int = 2) -> list[float]:
    """x and the `ulps` doubles on either side of it."""
    out, lo, hi = [x], x, x
    for _ in range(ulps):
        lo, hi = math.nextafter(lo, -math.inf), math.nextafter(hi, math.inf)
        out += [lo, hi]
    return out


def _named_doubles() -> list[float | None]:
    named = [0.0, -0.0, math.inf, -math.inf, math.nan, None, 5e-324,
             2.2250738585072014e-308,
             math.nextafter(2.2250738585072014e-308, 0.0), 1e16,
             9.999999999999999e15, 1e-05, 1e23, 2.0 ** 63, sys.float_info.max,
             # Java's toString is not the shortest for these two
             2.82879384806159e17, 8.41e21,
             # ties: two shortest candidates, dtoa keeps the even one
             1000000000000000.2, 2.9802322387695312e-08]
    for k in range(-323, 309):
        named += _near(float(f"1e{k}"))
    for k in range(-1074, 1024, 7):
        named += _near(2.0 ** k)
    return named + [-x for x in named if x is not None]


def test_fmt_float_named_cases(spark):
    vals = _named_doubles()
    rows = spark.createDataFrame([(v,) for v in vals], "x double") \
        .select("x", fmt_float("x").alias("r")).collect()
    bad = [(r.x, r.r) for r in rows
           if r.r != (None if r.x is None else repr(r.x))]
    assert len(rows) == len(vals)
    assert bad == []


def test_fmt_float_matches_repr_on_a_million_doubles(spark):
    rng = np.random.default_rng(20261019)
    x = np.concatenate([
        # every bit pattern: both signs, inf, subnormals (nan is a named case:
        # a pandas NaN arrives in Spark as NULL)
        rng.integers(0, 2 ** 64, 250_500, dtype=np.uint64).view(np.float64),
        10.0 ** rng.uniform(-300, 300, 250_000) * rng.choice([-1.0, 1.0], 250_000),
        rng.integers(-10 ** 9, 10 ** 9, 250_000) / 10.0 ** rng.integers(0, 10, 250_000),
        rng.integers(2 ** 53, 2 ** 63, 200_000, dtype=np.int64).astype(np.float64)
        * 2.0 ** rng.integers(0, 900, 200_000),
        rng.integers(1, 2 ** 52, 50_000, dtype=np.int64).view(np.float64),
    ])
    # shuffled, so the partitions share the slow-path values evenly
    x = rng.permutation(x[~np.isnan(x)])
    assert len(x) >= 1_000_000
    # repartitioned, or the optimizer folds the projection of this local
    # relation itself, in one thread, before any task runs
    got = spark.createDataFrame(pd.DataFrame({"x": x})).repartition(8) \
        .select("x", fmt_float("x").alias("r")).toPandas()
    assert len(got) == len(x)
    bad = [(v, r) for v, r in zip(got["x"].tolist(), got["r"].tolist())
           if repr(v) != r]
    assert len(bad) == 0, bad[:20]


def test_fmt_float_accepts_a_column_name_or_a_column(spark):
    df = spark.createDataFrame([(1e-05, "0.25")], "x double, s string")
    row = df.select(fmt_float("x").alias("a"), fmt_float(F.col("s")).alias("b")).first()
    assert (row.a, row.b) == ("1e-05", "0.25")


# ---------------------------------------------------------------------------
# float() strings: num_or_str and to_float_col
# ---------------------------------------------------------------------------

_SPACES = [" ", "\t", "\n", "\x0b", "\x0c", "\r", "\x85", "\xa0", "\u2000",
           "\u2009", "\u202f", "\u3000",
           "\x1c", "\u200b"]  # float() strips neither of the last two
_SPECIALS = ["inf", "infinity", "nan", "infinit", "nanx", "in_f"]
_JUNK = [".", "", "..", "e5", ".e1", "1e", "1e+", "+", "-", "+-1", "1.2.3",
         "0x10", "1d", "PASS", "xx yy", "(a)", "a\\b", "1,5", "--1", "\u0661\u0662\u0663",
         "\u0663.\u0665e\u0662", "\U0001d7d9\U0001d7da", "1_000", "1__000", "_1", "1_", "1_.5", "1._5", "1e_5",
         "1_e5", "1e5_0", "1.5_5e1_0", "\u2177", "1\x00"]


def _number(rng: random.Random) -> str:
    kind = rng.randrange(6)
    if kind == 0:
        return repr(struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0])
    if kind == 1:
        e = rng.choice([-326, -325, -324, -323, -310, -309, -308, -307, -306,
                        306, 307, 308, 309])
        return f"{rng.uniform(1, 10):.{rng.randrange(1, 18)}f}e{e}"
    if kind == 2:
        return str(rng.randrange(-10 ** 20, 10 ** 20))
    if kind == 3:
        return f"{rng.uniform(-1e4, 1e4):.{rng.randrange(0, 9)}f}"
    if kind == 4:
        digits = "".join(rng.choice("0123456789") for _ in range(rng.randrange(1, 30)))
        cut = rng.randrange(len(digits) + 1)
        return digits[:cut] + "." + digits[cut:] + rng.choice(["", "e-3", "E+12", "e0"])
    return rng.choice(["1", "0", "0.0", "-0", "1e-400", "-1e-400", "1e400", "-1e400"])


def _favor_string(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.15:
        return rng.choice(_JUNK)
    if r < 0.25:
        s = rng.choice(["", "+", "-"]) + "".join(
            c.upper() if rng.random() < 0.5 else c for c in rng.choice(_SPECIALS))
    else:
        s = rng.choice(["", "", "+", "-"]) + _number(rng)
    if rng.random() < 0.2:  # an underscore, valid only between two digits
        i = rng.randrange(len(s) + 1)
        s = s[:i] + "_" + s[i:]
    if rng.random() < 0.2:
        s = rng.choice(_SPACES) + s
    if rng.random() < 0.2:
        s = s + rng.choice(_SPACES)
    if rng.random() < 0.02:
        s = s.replace("1", "\u0661")
    return s


def _clamp_edges() -> list[str]:
    """Doubles on either side of each point where py_to_float's
    floor(log10(|x|)) changes, as strings."""
    edges = [values._least_with_floor_log10(k) for k in [308, *range(-307, -324, -1)]]
    return [repr(sign * x) for t in edges for x in _near(t, 1) for sign in (1, -1)]


def _favor_strings(n: int) -> list[str]:
    rng = random.Random(20261019)
    return [_favor_string(rng) for _ in range(n)] + _JUNK + _clamp_edges() + [
        s + suffix for s in _SPECIALS for suffix in ["", " "]]


def _floats_accepted(strings: list[str]) -> list[str]:
    out = []
    for s in strings:
        try:
            float(s)
        except ValueError:
            continue
        out.append(s)
    return out


def test_num_or_str_matches_py_num_or_str(spark):
    strings = _favor_strings(60_000) + [None]
    rows = spark.createDataFrame([(s,) for s in strings], "s string") \
        .select("s", num_or_str(F.col("s")).alias("r")).collect()
    assert len(rows) == len(strings)
    bad = [(r.s, r.r, py_num_or_str(r.s)) for r in rows if r.r != py_num_or_str(r.s)]
    assert bad == []


def test_num_or_str_array_form_matches(spark):
    strings = _favor_strings(2_000)
    arrays = [strings[i:i + 80] for i in range(0, len(strings), 80)]
    rows = spark.createDataFrame([(a,) for a in arrays], "a array<string>") \
        .select("a", serializer.num_or_str_fragments(F.col("a")).alias("r")).collect()
    for row in rows:
        assert row.r == [py_num_or_str(s) for s in row.a]


def _py_to_float_or_none(s: str) -> float | None:
    try:
        return py_to_float(s)
    except ValueError:
        return None


def _bits(v: float | None):
    return None if v is None else struct.pack("<d", v)


def test_to_float_col_matches_py_to_float(spark):
    strings = _floats_accepted(_favor_strings(60_000)) + [None]
    rows = spark.createDataFrame([(s,) for s in strings], "s string") \
        .select("s", to_float_col(F.col("s")).alias("v")).collect()
    assert len(rows) == len(strings)
    bad = [(r.s, r.v) for r in rows
           if _bits(r.v) != _bits(None if r.s is None else _py_to_float_or_none(r.s))]
    assert bad == []


@pytest.mark.parametrize("s, expected", [
    ("3e307", 3e307), ("-3e307", -3e307), ("1e-310", 9.99999999999997e-308),
    ("1_000", 1000.0), ("nan", None), (" -Infinity\u3000", 1e-307),
    # strings float() rejects keep the plain cast and its clamp
    ("1d", 1.0), ("2.5F", 2.5),
])
def test_to_float_col_table(spark, s, expected):
    got = spark.createDataFrame([(s,)], "s string").select(to_float_col(F.col("s"))).first()[0]
    assert _bits(got) == _bits(expected)


# ---------------------------------------------------------------------------
# atoms against the pure-Python writer
# ---------------------------------------------------------------------------

_NODES = [
    ("N1", "gene", "a b(c)", 7, 0.173, ["x y", "(z)"], [0.1, -2.5, 1e-07],
     "GO:0001", "0.0341", ".", "xx yy", {"inner": "1e-400", "word": "PASS"}),
    ("N2", "gene", None, -3, -0.0, [], [], "R2", "", "-3e307", " 1_0 ",
     {"inner": None, "word": "inf"}),
    ("N3", "gene", "", 0, 5e-324, None, None, "R3", None, "nan", "1e23",
     {"inner": ".", "word": ""}),
    ("N4", "gene", "s", 2 ** 40, 1e16, ["q"], [2.0 ** 63, None], "R4", "1e-05",
     "\u3000-Infinity", "(x)", {"inner": "2.9802322387695312e-08", "word": "a\\b"}),
]
_NODE_SCHEMA = ("id string, label string, s string, i long, f double, sl array<string>,"
                " fl array<double>, raw string, n1 string, n2 string, n3 string,"
                " ann struct<inner:string, word:string>")


def _converted(v: str | None):
    """FAVOR's convert_freq_value, which runs before the writer."""
    if v is None or v == ".":
        return None if v is None else 0
    try:
        return py_to_float(v)
    except ValueError:
        return v


def _props(row) -> dict:
    _, _, s, i, f, sl, fl, raw, n1, n2, n3, ann_ = row
    return {"s": s, "i": i, "f": f, "sl": sl, "fl": fl, "raw": raw,
            "n1": _converted(n1), "n2": _converted(n2), "n3": _converted(n3),
            "ann": {k: _converted(v) for k, v in ann_.items()}}


def _spark_props() -> list[Prop]:
    return [Prop("s", F.col("s"), "str"), Prop("i", F.col("i"), "int"),
            Prop("f", F.col("f"), "float"), Prop("sl", F.col("sl"), "str_list"),
            Prop("fl", F.col("fl"), "float_list"), Prop("raw", F.col("raw"), "raw"),
            Prop("n1", F.col("n1"), "num_or_str"), Prop("n2", F.col("n2"), "num_or_str"),
            Prop("n3", F.col("n3"), "num_or_str")]


def _ann_atoms(def_out):
    return dict_prop_atoms(def_out, "ann", [
        Prop("inner", F.col("ann.inner"), "num_or_str"),
        Prop("word", F.col("ann.word"), "num_or_str")])


def test_node_atoms_match_py_write_node(spark):
    df = spark.createDataFrame(_NODES, _NODE_SCHEMA)
    def_out = node_def_out("gene", F.col("id"))
    ours = sorted(r.atom for r in atoms_df(df, def_out, _spark_props(),
                                           extra_atoms=_ann_atoms(def_out)).collect())
    golden = sorted(a for row in _NODES
                    for a in py_write_node((row[0], row[1], _props(row))))
    assert ours == golden


def test_edge_atoms_match_py_write_edge(spark):
    df = spark.createDataFrame(_NODES, _NODE_SCHEMA).withColumn("tgt", F.lit("ENSG1"))
    def_out = edge_def_out("gtex_variant_gene", REGISTRY, F.col("id"), F.col("tgt"))
    ours = sorted(r.atom for r in atoms_df(df, def_out, _spark_props(),
                                           extra_atoms=_ann_atoms(def_out)).collect())
    golden = sorted(a for row in _NODES for a in py_write_edge(
        (row[0], "ENSG1", "gtex_variant_gene", _props(row)), REGISTRY))
    assert ours == golden


# ---------------------------------------------------------------------------
# plan guard
# ---------------------------------------------------------------------------


def _lines(spark, rows: list[str], **keys):
    cols = ", ".join(f"{k} string" for k in keys)
    schema = "doc_id string, offset long, value string" + (", " + cols if cols else "")
    return spark.createDataFrame(
        [("d", i, v, *keys.values()) for i, v in enumerate(rows)], schema)


def _dim(spark, pairs: dict[str, str]):
    return spark.createDataFrame(list(pairs.items()), "key string, value string")


def _favor_line() -> str:
    fields = [""] * 190
    values = ["0.0341", ".", "PASS", "xx yy", "", "1e-400", "-3e307", "nan"]
    for i, k in enumerate(var.FAVOR_FIELDS):
        fields[var.FAVOR_FIELDS[k]] = values[i % len(values)]
    for k, v in [("chromosome", "16"), ("start_position", "53000100"),
                 ("ref_vcf", "A"), ("alt_vcf", "G")]:
        fields[var.FAVOR_FIELDS[k]] = v
    return ",".join(f'"{v}"' for v in fields)


def _gtex_line() -> str:
    cols = [""] * 29
    for i, v in {0: "ENSG1.5", 11: "chr1_12345_A_G_b38", 18: "rs1", 21: "0.05",
                 24: "-0.3", 27: "1.2e-10", 28: "3e-9"}.items():
        cols[i] = v
    return "\t".join(cols)


def _atom_frames(spark) -> dict:
    e2u = _dim(spark, {"ENSP1": "P1", "ENSP2": "P2"})
    e2e = _dim(spark, {"1": "ENSG1", "2": "ENSG2"})
    pwm = _lines(spark, ["0.1\t0.2\t0.3\t0.4", "0.25\t0.25\t0.25\t0.25"], model="M1") \
        .withColumn("row_order", F.col("offset"))
    model_tf = ann.parse_model_tf(_lines(spark, ["Model\tTF", "M1\tTF1"]))
    return {
        "string": inter.string_ppi_edges(
            _lines(spark, ["9606.ENSP1 9606.ENSP2 900"]), e2u, REGISTRY)[1],
        "coexpression": inter.coxpresdb_edges(
            _lines(spark, ["2 0.5"], file_entrez="1"), e2e, REGISTRY)[1],
        "hocomoco": ann.hocomoco_motif_nodes(pwm, model_tf, _dim(spark, {"TF1": "ENSG1"}))[1],
        "favor": var.favor_nodes(_lines(spark, [_favor_line()]))[1],
        "gtex_eqtl": fg.gtex_eqtl_edges(
            _lines(spark, [_gtex_line()], tissue="Adipose"),
            _dim(spark, {"Adipose": "UBERON_1"}), REGISTRY)[1],
    }


def test_atom_plans_run_no_python(spark):
    for name, atoms in _atom_frames(spark).items():
        plan = atoms._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name
