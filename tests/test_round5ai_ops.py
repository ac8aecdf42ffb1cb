"""Round-5ai operator: Hilbert-curve keys (operators/zorder) — the
vectorized Arrow kernel against a scalar xy2d re-implementation, the
curve's defining properties, and the generated DuckDB CTE twin."""

import duckdb
import pytest
from pyspark.sql import functions as F

from biocypher_metta_spark.operators.zorder import (
    hilbert_key_sql,
    hilbert_key_udf,
    hilbert_layout,
)


def xy2d(bits, x, y):
    """Independent scalar re-implementation of the canonical walk."""
    n = 1 << bits
    d = 0
    for lvl in range(bits - 1, -1, -1):
        s = 1 << lvl
        rx = (x >> lvl) & 1
        ry = (y >> lvl) & 1
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
    return d


def _keys(spark, bits, pts):
    df = spark.createDataFrame(pts, "x long, y long")
    h = hilbert_key_udf(bits)
    return [r["k"] for r in
            df.select(h(F.col("x"), F.col("y")).alias("k")).collect()]


def test_kernel_matches_scalar_and_properties(spark):
    bits = 4
    n = 1 << bits
    pts = [(x, y) for x in range(n) for y in range(n)]
    got = _keys(spark, bits, pts)
    assert got == [xy2d(bits, x, y) for x, y in pts]
    # bijection over the full grid + unit-step adjacency (the Hilbert
    # property Morton lacks — this is what kills wrong rotations)
    bykey = {k: p for k, p in zip(got, pts)}
    assert len(bykey) == n * n
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = bykey[d], bykey[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_larger_bits_spot_and_range_guard(spark):
    got = _keys(spark, 16, [(0, 0), (65535, 0), (12345, 54321)])
    assert got == [xy2d(16, 0, 0), xy2d(16, 65535, 0),
                   xy2d(16, 12345, 54321)]
    with pytest.raises(Exception, match="out of"):
        _keys(spark, 4, [(16, 0)])
    with pytest.raises(ValueError):
        hilbert_key_udf(0)


def test_duckdb_twin_matches(spark):
    bits = 5
    n = 1 << bits
    pts = [(x, y) for x in range(n) for y in range(n)]
    got = dict(zip(pts, _keys(spark, bits, pts)))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pts)
    duck = {(x, y): k for x, y, k in con.execute(
        hilbert_key_sql("SELECT x, y FROM t", "x", "y", bits=bits,
                        out_cols="x, y")).fetchall()}
    assert duck == got


def test_duckdb_twin_default_out_cols():
    """With the default out_cols='*' every input column comes through
    once and no level's state column shadows the next one's."""
    bits = 3
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x BIGINT, y BIGINT)")
    pts = [(x, y) for x in range(1 << bits) for y in range(1 << bits)]
    con.executemany("INSERT INTO t VALUES (?, ?)", pts)
    cur = con.execute(hilbert_key_sql("SELECT x, y FROM t", "x", "y", bits=bits))
    assert [d[0] for d in cur.description] == ["x", "y", "hkey"]
    got = {(x, y): k for x, y, k in cur.fetchall()}
    assert got[(1, 2)] == 13
    assert got == {(x, y): xy2d(bits, x, y) for x, y in pts}


def test_hilbert_layout_orders_rows(spark):
    bits = 6
    n = 1 << bits
    pts = [((i * 37) % n, (i * 53) % n) for i in range(500)]
    df = spark.createDataFrame(pts, "x long, y long")
    out = hilbert_layout(df, "x", "y", bits=bits, n_chunks=4)
    rows = [(r["x"], r["y"]) for r in out.collect()]
    keys = [xy2d(bits, x, y) for x, y in rows]
    assert keys == sorted(keys)
    assert sorted(rows) == sorted(pts)
