"""Driver-registry contract: the driver adjudicates only the first 50
entries of __spark_entry__.queries(), so the registry must (a) stay at
<= 50 entries, (b) put never-driver-adjudicated names first, and (c)
keep the checksum composites' static SQL column lists in lockstep with
the live Spark schemas they wrap (the SQL wrapper is generated from
CK_COLUMNS, the Spark wrapper from df.columns — drift = hash mismatch
the driver would misattribute to the operator)."""

import re
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from biocypher_metta_spark import entry_queries as eq

SF = "/root/testdata/sf0.001"


def test_driver_registry_cap_and_membership():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    assert len(qs) <= 50
    # every driver entry has an oracle (no weaker rows-only checks)
    assert set(entrymod.oracle_sql()) == set(qs)
    # driver registry is a subset of the full one
    assert set(qs) <= set(dict(eq.QUERIES))


def test_composite_subops_exist_with_columns():
    for cname, subs in eq.CK_COMPOSITES.items():
        assert cname in eq.DRIVER_QUERIES
        for s in subs:
            assert s in eq.QUERIES, (cname, s)
            assert s in eq.CK_COLUMNS, (cname, s)
            assert eq.CK_COLUMNS[s] == sorted(eq.CK_COLUMNS[s])


def test_coverage_fold_table_names_registered_gates():
    """Every name in COVERAGE.md's "fine gate(s) | driver gate" table is
    a gate in entry_queries.QUERIES, so the doc cannot outlive a gate."""
    text = (Path(__file__).resolve().parent.parent / "COVERAGE.md").read_text()
    table = text.split("| fine gate(s) | driver gate |", 1)[1]
    names = []
    for line in table.split("\n")[2:]:
        if not line.startswith("| "):
            break
        fine, driver = line[2:].split(" | ")[:2]
        names += [n.strip() for n in fine.split(",")]
        names += re.findall(r"`([a-z0-9_]+)`", driver)
    assert len(names) > 20
    assert [n for n in names if n not in eq.QUERIES] == []


@pytest.mark.parametrize("subname", sorted(eq.CK_COLUMNS))
def test_ck_columns_match_live_schema(spark, subname):
    fn, _sql = eq.QUERIES[subname]
    df = fn(spark, SF)
    assert sorted(df.columns) == eq.CK_COLUMNS[subname], subname


def test_checksum_detects_single_value_change(spark):
    """The wrapper must be sensitive to one wrong value in one row."""
    base = spark.range(100).select(
        F.col("id"), (F.col("id") * 3).alias("v"))
    tweaked = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") == 57, F.lit(999)).otherwise(F.col("id") * 3)
        .alias("v"))
    a = eq._ck_spark("t", base).collect()[0]
    b = eq._ck_spark("t", tweaked).collect()[0]
    assert a["n_rows"] == b["n_rows"] == 100
    assert a["checksum"] != b["checksum"]


def test_checksum_empty_input_yields_row(spark):
    """Zero-row sub-ops must still emit their (op, 0, 0) row — the SQL
    twin's global aggregate always returns one row, so the Spark side
    must too."""
    empty = spark.range(0).select(F.col("id"), F.lit("x").alias("s"))
    rows = eq._ck_spark("none", empty).collect()
    assert [tuple(r) for r in rows] == [("none", 0, 0)]


def test_checksum_null_vs_empty_string_distinct(spark):
    """NULL and '' must hash differently (concat_ws silently drops
    nulls without the coalesce sentinel)."""
    a = spark.createDataFrame([(1, None)], "id long, s string")
    b = spark.createDataFrame([(1, "")], "id long, s string")
    ca = eq._ck_spark("t", a).collect()[0]["checksum"]
    cb = eq._ck_spark("t", b).collect()[0]["checksum"]
    assert ca != cb
