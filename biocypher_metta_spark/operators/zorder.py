"""Z-order (Morton) interleave keys — multi-dimensional data skipping.

The layout half of the scan-pruning story: bucketing.write_bucketed
co-locates JOINS on one key; this co-locates RANGE FILTERS on several.
Sorting a table by the bit-interleaved key of d quantized columns puts
rows close in EVERY dimension into the same file/row-group, so parquet
min/max stats prune a d-dimensional predicate to ~N^(1-1/d) of the
files instead of all of them — the Delta/Iceberg `OPTIMIZE ZORDER`
economics, expressed on the sandbox's plain-parquet catalog (the same
stand-in argument as bucketing.py; reference BASELINE.md names Iceberg,
whose z-ordering is this exact transform).

The key is pure integer bit arithmetic — `(x >> b) & 1` shifted to
position `b * d + i` and summed — identical in Spark and DuckDB, so a
cross-engine gate can hash-match the keys bit-for-bit.  Quantization
is the CALLER's contract (values must already sit in [0, 2^bits); ids,
bucketed timestamps, and permille scores already do) — out-of-range
values raise mid-scan via a distributed raise_error guard rather than
silently corrupting the curve (the gapfill_locf guard pattern).

Scale shape: zorder_key is MAP-ONLY (an unrolled sum of <= 63 shift
terms, all whole-stage codegen).  zorder_layout adds the one exchange
any layout rewrite pays — a repartitionByRange on the key (sampled
range boundaries, the standard Spark range-partitioner) — followed by
sortWithinPartitions, which spills safely and never funnels through a
single task.  Write the result with partition-sized files and every
later multi-dim range scan prunes at the row-group level for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _validate(n_cols: int, bits: int) -> None:
    if n_cols < 1:
        raise ValueError("cols must be non-empty")
    if bits < 1:
        raise ValueError(f"bits must be >= 1, got {bits}")
    if n_cols * bits > 63:
        raise ValueError(
            f"{n_cols} cols x {bits} bits = {n_cols * bits} interleaved "
            f"bits; must fit a signed int64 (<= 63)")


def zorder_key(cols: list, bits: int = 16,
               check_range: bool = True) -> Column:
    """Morton key column interleaving `cols` at `bits` bits each.

    Bit b of column i lands at position b * len(cols) + i, so equal
    prefixes of the key bound EVERY input dimension — the locality
    property the layout sort exploits.  With check_range (default), a
    value outside [0, 2^bits) raises mid-scan with the offending
    column named; passing False skips the branch when the caller has
    already proven the domain (e.g. `x % 2**bits`)."""
    n = len(cols)
    _validate(n, bits)
    cs = [F.col(c).cast("long") if isinstance(c, str) else c.cast("long")
          for c in cols]
    key = F.lit(0).cast("long")
    for i, c in enumerate(cs):
        if check_range:
            label = cols[i] if isinstance(cols[i], str) else f"col{i}"
            c = F.when(
                (c >= 0) & (c < F.lit(1 << bits)), c
            ).otherwise(F.raise_error(F.concat(
                F.lit(f"zorder_key: {label} value out of "
                      f"[0, 2^{bits}): "), c.cast("string"))))
        for b in range(bits):
            key = key + F.shiftleft(
                F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i)
    return key


def zorder_key_sql(col_names: list, bits: int = 16) -> str:
    """The identical interleave as a DuckDB SQL expression (no range
    guard — the twin runs on the same already-validated domain)."""
    n = len(col_names)
    _validate(n, bits)
    terms = []
    for i, c in enumerate(col_names):
        for b in range(bits):
            terms.append(f"(((CAST({c} AS BIGINT) >> {b}) & 1) "
                         f"<< {b * n + i})")
    return "(" + " + ".join(terms) + ")"


def zorder_layout(df: DataFrame, cols: list, bits: int = 16,
                  n_chunks: int = 200) -> DataFrame:
    """Rows range-partitioned and sorted by the Morton key of `cols` —
    write this to parquet and multi-dimensional range filters prune at
    the file/row-group level.  One exchange (range partitioner), one
    in-partition sort; the key column is dropped from the output."""
    if n_chunks < 1:
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    key = zorder_key(cols, bits=bits)
    return (df.withColumn("_zkey", key)
            .repartitionByRange(n_chunks, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey"))


def hilbert_key_udf(bits: int = 16):
    """Hilbert-curve key for TWO quantized columns — the
    stronger-locality sibling of zorder_key: consecutive Hilbert keys
    are always GRID NEIGHBORS (no Morton 'seams' where the curve
    jumps across the space), which tightens parquet min/max pruning
    for 2D range scans at the same cost model as z-ordering.

    The xy2d bit walk carries (x, y, d) state across bit levels with
    a conditional reflect+swap per level — as a single Catalyst
    expression that nesting re-inlines into ~3^bits nodes (the
    CollapseProject hazard the doc_pipeline regression documented),
    so the kernel is a VECTORIZED Arrow pandas UDF instead: numpy
    integer ops, 5 array ops per level, one batch at a time
    (ArrowEvalPython — the allowed lane; never row-at-a-time).
    Algorithm: the canonical xy2d from the public Hilbert-curve
    literature (reflect within the full 2^bits grid, then swap, when
    the y bit is 0).  Returns a UDF usable as h(x, y) -> long; both
    inputs must already sit in [0, 2^bits) (the zorder quantization
    contract)."""
    import numpy as np
    import pandas as pd  # noqa: F401 (annotations below resolve here)
    from pyspark.sql.functions import pandas_udf

    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    n = np.int64(1) << bits

    @pandas_udf("long")
    def h(xs, ys):
        # no type hints: they would need module-global pandas for
        # PySpark's hint inspection; the explicit returnType plus
        # 2-arg signature selects the scalar Arrow path regardless
        x = xs.to_numpy(np.int64, copy=True)
        y = ys.to_numpy(np.int64, copy=True)
        if len(x) and (x.min() < 0 or x.max() >= n or y.min() < 0
                       or y.max() >= n):
            raise ValueError(
                f"hilbert_key: value out of [0, 2^{bits})")
        d = np.zeros(len(x), np.int64)
        for lvl in range(bits - 1, -1, -1):
            s = np.int64(1) << lvl
            rx = (x >> lvl) & 1
            ry = (y >> lvl) & 1
            d += (s * s) * ((3 * rx) ^ ry)
            flip = (ry == 0) & (rx == 1)
            xf = np.where(flip, n - 1 - x, x)
            yf = np.where(flip, n - 1 - y, y)
            swap = ry == 0
            x = np.where(swap, yf, xf)
            y = np.where(swap, xf, yf)
        return pd.Series(d)

    return h


def hilbert_key_sql(input_sql: str, x_col: str, y_col: str,
                    bits: int = 16, out_cols: str = "*") -> str:
    """DuckDB twin of hilbert_key_udf: the same xy2d walk as a chain
    of per-level MATERIALIZED CTEs (state threading without the
    expression-inlining blowup), generated from the same constants.
    Emits `out_cols` plus hkey. Level k's state columns are named
    hx{k}/hy{k}/hd{k} and each level drops its predecessor's, so a
    `*` in `out_cols` never binds a stale level's state."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    n = 1 << bits
    parts = [f"""WITH hk0 AS MATERIALIZED (
  SELECT {out_cols}, CAST({x_col} AS BIGINT) AS hx0,
         CAST({y_col} AS BIGINT) AS hy0, CAST(0 AS BIGINT) AS hd0
  FROM (
{input_sql.strip()}
  )
)"""]
    for p, lvl in enumerate(range(bits - 1, -1, -1)):
        s, c = 1 << lvl, p + 1
        hx, hy, hd = f"hx{p}", f"hy{p}", f"hd{p}"
        parts.append(f""", hk{c} AS MATERIALIZED (
  SELECT * EXCLUDE ({hx}, {hy}, {hd}),
         CASE WHEN (({hy} >> {lvl}) & 1) = 0 THEN
           CASE WHEN (({hx} >> {lvl}) & 1) = 1
                THEN {n - 1} - {hy} ELSE {hy} END
         ELSE {hx} END AS hx{c},
         CASE WHEN (({hy} >> {lvl}) & 1) = 0 THEN
           CASE WHEN (({hx} >> {lvl}) & 1) = 1
                THEN {n - 1} - {hx} ELSE {hx} END
         ELSE {hy} END AS hy{c},
         {hd} + {s} * {s}
            * xor(3 * (({hx} >> {lvl}) & 1), ({hy} >> {lvl}) & 1) AS hd{c}
  FROM hk{p}
)""")
    parts.append(f"\nSELECT * EXCLUDE (hx{bits}, hy{bits}, hd{bits}), hd{bits} AS hkey "
                 f"FROM hk{bits}")
    return "".join(parts)


def hilbert_layout(df: DataFrame, x_col: str, y_col: str,
                   bits: int = 16, n_chunks: int = 200) -> DataFrame:
    """Rows range-partitioned and sorted by the Hilbert key — the
    zorder_layout mechanics with the tighter curve."""
    if n_chunks < 1:
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    h = hilbert_key_udf(bits)
    return (df.withColumn("_hkey", h(F.col(x_col), F.col(y_col)))
            .repartitionByRange(n_chunks, "_hkey")
            .sortWithinPartitions("_hkey")
            .drop("_hkey"))
