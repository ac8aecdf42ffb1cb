"""Serializer byte-parity: our pure-Python twin and Spark expression
renderer vs the REFERENCE writer (metta_writer.py:147-174) on synthetic
property dicts — scalars, lists, nested dicts, escaping edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biocypher_metta_spark.serializer import (
    Prop,
    atoms_df,
    dict_prop_atoms,
    node_def_out,
    py_write_node,
    py_write_property,
)
from tests.conftest import requires_reference
from tests.golden import make_ref_writer

# every test renders its golden through the reference writer
pytestmark = requires_reference("biocypher_metta")

CASES = [
    {"chr": "chr16", "start": 53000000, "end": 53001000},
    {"name": "has spaces here", "paren": "a(b)c", "backslash": "a\\b"},
    {"skip_none": None, "skip_empty": "", "keep": "x"},
    {"floats": 0.173, "tiny": 1.01661e-08, "neg": -0.612097, "exp": 2.89394e-06},
    {"ints": 42, "zero": 0, "negint": -7},
    {"lst": ["a", "b c", "(d)"], "flist": [0.1, -2.5, 1e-07]},
    {"nested": {"inner_str": "v", "inner_num": 0.5, "skip": None}},
    {"deep": {"l1": {"l2": "x"}}},
]


@pytest.mark.parametrize("props", CASES)
def test_py_twin_matches_reference(props):
    w = make_ref_writer()
    ref = w.write_property("(gene ENSG1)", props)
    ours = py_write_property("(gene ENSG1)", props)
    assert ours == ref


def test_py_write_node_matches_reference():
    w = make_ref_writer()
    node = ("ENSG1", "gene", {"chr": "chr1", "start": 5, "score": 0.25,
                              "synonyms": ["a", "b"]})
    assert py_write_node(node) == w.write_node(node)
    dotted = ("X1", "prefix.gene", {"k": "v"})
    assert py_write_node(dotted) == w.write_node(dotted)


def test_spark_render_matches_reference(spark):
    rows = [
        ("ENSG1", "protein_coding", "chr16", 53000100, 53001000, "PA K5(x)",
         ["PAK7", "KIAA 1264"], 0.173),
        ("ENSG2", None, "chr1", 7, 9, "N2", None, 1.01661e-08),
        ("ENSG3", "", "chrX", 1, 2, "N3", [], -0.5),
    ]
    df = spark.createDataFrame(
        rows,
        "id string, gene_type string, chr string, start long, end long,"
        " gene_name string, synonyms array<string>, score double",
    )
    props = [
        Prop("gene_type", F.col("gene_type"), "str"),
        Prop("chr", F.col("chr"), "str"),
        Prop("start", F.col("start"), "int"),
        Prop("end", F.col("end"), "int"),
        Prop("gene_name", F.col("gene_name"), "str"),
        Prop("synonyms", F.col("synonyms"), "str_list"),
        Prop("score", F.col("score"), "float"),
    ]
    ours = {
        r.atom
        for r in atoms_df(df, node_def_out("gene", F.col("id")), props).collect()
    }
    w = make_ref_writer()
    golden = set()
    for (gid, gt, ch, s, e, name, syn, score) in rows:
        node = (gid, "gene", {"gene_type": gt, "chr": ch, "start": s, "end": e,
                              "gene_name": name, "synonyms": syn, "score": score})
        golden.update(w.write_node(node))
    assert ours == golden


def test_spark_nested_dict_matches_reference(spark):
    df = spark.createDataFrame(
        [("v1", "PASS", "0.0341", "."), ("v2", None, "55504.0", "xx yy")],
        "id string, filter_status string, bravo_an string, tg_all string",
    )
    def_out = node_def_out("sequence_variant", F.col("id"))
    fields = [
        Prop("filter_status", F.col("filter_status"), "num_or_str"),
        Prop("bravo_an", F.col("bravo_an"), "num_or_str"),
        Prop("tg_all", F.col("tg_all"), "num_or_str"),
    ]
    extra = dict_prop_atoms(def_out, "annotation", fields)
    ours = {r.atom for r in atoms_df(df, def_out, [], extra_atoms=extra).collect()}

    # reference path: convert_freq_value then writer (favor_adapter.py:74-94)
    from biocypher_metta_spark.functions.values import py_to_float

    def conv(v):
        if v == ".":
            return 0
        try:
            return py_to_float(v)
        except (ValueError, TypeError):
            return v

    w = make_ref_writer()
    golden = set()
    for (vid, fs, ba, tg) in [("v1", "PASS", "0.0341", "."),
                              ("v2", None, "55504.0", "xx yy")]:
        ann = {k: conv(v) for k, v in
               [("filter_status", fs), ("bravo_an", ba), ("tg_all", tg)]
               if v is not None}
        golden.update(w.write_node((vid, "sequence_variant", {"annotation": ann})))
    assert ours == golden
