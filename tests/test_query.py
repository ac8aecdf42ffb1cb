"""Query-layer tests: the reference's two probe queries + generic
conjunctive pattern matching over the materialized KG."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biocypher_metta_spark import query
from biocypher_metta_spark.adapters import gencode
from biocypher_metta_spark.sources.documents import span_lines
from biocypher_metta_spark.sources.gtf import GENE_KEYS, parse_gtf
from biocypher_metta_spark.sources.synth import spans_from_files
from tests.conftest import requires_reference

GTF = "/root/reference/samples/gencode_sample.gtf.gz"
# the gene_nodes fixture parses the reference's sample GTF
needs_gtf = requires_reference("samples/gencode_sample.gtf.gz")


@pytest.fixture(scope="module")
def gene_nodes(spark):
    docs = spans_from_files(spark, {"gtf": GTF})
    typed, _ = gencode.gene_nodes(parse_gtf(span_lines(docs, "gtf"),
                                            keys=GENE_KEYS))
    t = typed.drop("synonyms").cache()
    t.count()
    return t


@needs_gtf
def test_probe1_node_property_fetch(gene_nodes):
    """metta_space_import.py:73-77 — all property atoms of one gene."""
    props = query.fetch_node_properties(gene_nodes, "gene", "ENSG00000101349")
    got = {(r.pred, r.obj) for r in props.collect()}
    assert ("chr", "chr20") in got
    assert ("start", "9537370") in got
    assert ("end", "9839076") in got
    assert ("gene_name", "PAK5") in got
    assert all(r[0] == "(gene ENSG00000101349)" for r in
               props.select("subj").collect())


@needs_gtf
def test_probe2_gene_window(gene_nodes):
    """metta_space_import.py:82-90 — strict-inequality window scan."""
    rows = query.genes_in_window(gene_nodes, "chr20", 9_000_000, 10_000_000)
    ids = {r.id for r in rows.collect()}
    assert "ENSG00000101349" in ids
    assert len(ids) == 4


@needs_gtf
def test_match_pattern_conjunction(gene_nodes, spark):
    """The probe-2 conjunction expressed as a generic pattern match over
    property triples: (, (chr $g chr20) (gene_type $g protein_coding))."""
    triples = query.node_prop_triples(gene_nodes)
    out = query.match_pattern(triples, [
        ("$g", "chr", "chr20"),
        ("$g", "gene_type", "protein_coding"),
    ])
    got = {r.g for r in out.collect()}
    direct = {f"(gene {r.id})" for r in gene_nodes.filter(
        "chr = 'chr20' AND gene_type = 'protein_coding'").collect()}
    assert got == direct and got


@needs_gtf
def test_match_pattern_with_object_var(gene_nodes):
    """(, (gene_name $g $n)) binds both variables."""
    triples = query.node_prop_triples(gene_nodes)
    out = query.match_pattern(triples, [("$g", "gene_name", "$n")])
    m = {r.g: r.n for r in out.collect()}
    assert m["(gene ENSG00000101349)"] == "PAK5"


@needs_gtf
def test_match_pattern_refuses_disjoint_cartesian(gene_nodes):
    """Conjuncts sharing no variable are a corpus x corpus cross
    product; refused by default, allowed only with allow_cartesian."""
    import pytest

    triples = query.node_prop_triples(gene_nodes)
    disjoint = [("$g", "chr", "chr20"), ("$h", "gene_type", "protein_coding")]
    with pytest.raises(ValueError, match="cross product"):
        query.match_pattern(triples, disjoint)
    out = query.match_pattern(triples, disjoint, allow_cartesian=True)
    a = triples.filter("pred='chr' AND obj='chr20'").count()
    b = triples.filter("pred='gene_type' AND obj='protein_coding'").count()
    assert out.count() == a * b


def test_transitive_closure_paths_and_convergence(spark):
    """Path doubling on a linear chain (worst diameter) and a diamond
    DAG: exact reachability sets, no self-pairs, duplicate-edge inputs
    collapse, and convergence inside ceil(log2(D)) + 1 rounds."""
    from biocypher_metta_spark.canonicalize import transitive_closure

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(8)] + [("n0", "n1")],
        "src string, dst string")
    got = {(r.src, r.dst) for r in transitive_closure(chain).collect()}
    want = {(f"n{i}", f"n{j}") for i in range(9) for j in range(i + 1, 9)}
    assert got == want
    diamond = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")],
        "src string, dst string")
    got = {(r.src, r.dst) for r in transitive_closure(diamond).collect()}
    assert got == {("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"),
                   ("b", "d"), ("b", "e"), ("c", "d"), ("c", "e"),
                   ("d", "e")}
    # max_iter=1 covers paths of length <= 2: enough for the diamond,
    # not for the 8-chain — exhaustion without a fixed point must raise
    # (a silent partial closure is incomplete reachability), and the
    # raise itself proves the doubling schedule is real
    import pytest
    with pytest.raises(RuntimeError, match="fixed point"):
        transitive_closure(chain, max_iter=1)


def test_asof_join_semantics(spark):
    """Backward-inclusive as-of: exact-timestamp snapshot counts, rows
    before any snapshot stay null, multi-column payloads stay atomic
    (both columns from the SAME snapshot even when one is null)."""
    from datetime import datetime

    from biocypher_metta_spark.operators.temporal import asof_join

    ts = lambda s: datetime.fromisoformat(s)
    snaps = spark.createDataFrame(
        [("u1", ts("2024-01-01T01:00:00"), 10, "a"),
         ("u1", ts("2024-01-01T03:00:00"), None, "b"),
         ("u2", ts("2024-01-01T02:00:00"), 30, None)],
        "user string, snap_ts timestamp, x int, y string")
    events = spark.createDataFrame(
        [(1, "u1", ts("2024-01-01T00:30:00")),   # before any snapshot
         (2, "u1", ts("2024-01-01T01:00:00")),   # tie -> inclusive
         (3, "u1", ts("2024-01-01T02:59:59")),   # still snapshot 1
         (4, "u1", ts("2024-01-01T04:00:00")),   # snapshot 2 (x null!)
         (5, "u2", ts("2024-01-01T05:00:00")),
         (6, "u3", ts("2024-01-01T05:00:00"))],  # key with no snapshots
        "event_id long, user string, ts timestamp")
    out = {r.event_id: (r.x_asof, r.y_asof)
           for r in asof_join(events, snaps, key="user",
                              left_ts="ts", right_ts="snap_ts").collect()}
    assert out[1] == (None, None)
    assert out[2] == (10, "a")
    assert out[3] == (10, "a")
    # atomic carry: event 4 must see (None, 'b') — NOT (10, 'b'), which
    # per-column last(ignorenulls) would produce
    assert out[4] == (None, "b")
    assert out[5] == (30, None)
    assert out[6] == (None, None)
    import pytest
    with pytest.raises(ValueError, match="reserved"):
        asof_join(events.withColumnRenamed("event_id", "_ts"), snaps,
                  key="user", left_ts="ts", right_ts="snap_ts")
    # a left column named like a suffixed right payload column would be
    # silently overwritten by the carry projection -> explicit refusal
    with pytest.raises(ValueError, match="suffix"):
        asof_join(events.withColumn("x_asof", F.lit(0)), snaps,
                  key="user", left_ts="ts", right_ts="snap_ts")


def test_asof_join_bucketed_matches_plain(spark):
    """The bucket= hot-key path must be semantics-identical to the
    plain per-key window on randomized numeric-ts data — including
    empty buckets between snapshots, events before any snapshot, and
    ties exactly on bucket boundaries."""
    from biocypher_metta_spark.operators.temporal import asof_join

    # deterministic pseudo-random: 3 keys, ts 0..9999, snapshots sparse
    events = spark.range(2000).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("k"), F.pmod("id", F.lit(3)).cast("string"))
        .alias("key"),
        F.pmod(F.col("id") * 7919, F.lit(10_000)).alias("ts"))
    snaps = spark.range(60).select(
        F.concat(F.lit("k"), F.pmod("id", F.lit(3)).cast("string"))
        .alias("key"),
        # multiples of 100 -> some land exactly on a 1000-wide boundary
        (F.pmod(F.col("id") * 37, F.lit(100)) * 100).alias("ts"),
        (F.col("id") * 11).cast("long").alias("state"))
    plain = asof_join(events, snaps, key="key").orderBy("event_id")
    bucketed = asof_join(events, snaps, key="key",
                         bucket=lambda c: F.floor(c / F.lit(1000))) \
        .orderBy("event_id")
    prows = [tuple(r) for r in plain.select(
        "event_id", "key", "ts", "state_asof").collect()]
    brows = [tuple(r) for r in bucketed.select(
        "event_id", "key", "ts", "state_asof").collect()]
    assert prows == brows
    # sanity: the bucketed plan's big window partitions on (key, bucket)
    plan = bucketed._jdf.queryExecution().optimizedPlan().toString()
    assert "_bucket" in plan


def test_range_joins_vs_bruteforce(spark):
    """Bucketed range joins == brute-force nested-loop results on a
    randomized interval/point set including bucket-boundary and
    multi-bucket-spanning intervals; the canonical-bucket trick must
    emit each overlapping pair exactly once (count equality catches
    duplicates)."""
    import random

    from biocypher_metta_spark.functions.genomic import (
        interval_overlap_join, interval_point_join)

    rng = random.Random(17)
    # negative starts included: trunc-vs-floor bucketing diverges there
    ivs = [(i, f"chr{rng.randrange(2)}", rng.randrange(-3000, 5000))
           for i in range(120)]
    ivs = [(i, c, s, s + rng.choice([1, 10, 999, 1000, 1001, 3500]))
           for i, c, s in ivs]
    pts = [(j, f"chr{rng.randrange(2)}", rng.randrange(-3000, 9000))
           for j in range(150)]
    iv = spark.createDataFrame(
        ivs, "iid long, chrom string, start long, end long")
    pt = spark.createDataFrame(pts, "pid long, chrom string, pos long")
    got = [(r.iid, r.pid) for r in
           interval_point_join(iv, pt, bucket=1000).collect()]
    want = [(i, j) for i, c, s, e in ivs for j, c2, p in pts
            if c == c2 and s <= p < e]
    assert sorted(got) == sorted(want)      # sorted, not set: dup check

    lhs = spark.createDataFrame(
        [(i, c, s, e) for i, c, s, e in ivs],
        "lid long, chrom string, l_start long, l_end long")
    rhs = spark.createDataFrame(
        [(200 + j, c, p, p + rng.choice([5, 500, 2000]))
         for j, c, p in pts],
        "rid long, chrom string, r_start long, r_end long")
    rrows = [(r.rid, r.chrom, r.r_start, r.r_end) for r in rhs.collect()]
    got = [(r.lid, r.rid) for r in
           interval_overlap_join(lhs, rhs, bucket=1000).collect()]
    want = [(i, rid) for i, c, s, e in ivs
            for rid, c2, rs, re_ in rrows
            if c == c2 and s < re_ and rs < e]
    assert sorted(got) == sorted(want)


def test_kmv_sketch_accuracy_and_exact_mode(spark):
    """KMV: exact below k; within the sketch's expected relative error
    (~1/sqrt(k) stddev; 4-sigma bound) above k; orderBy+limit plans as
    TakeOrdered, not a global sort."""
    from biocypher_metta_spark.operators.sketch import kmv_distinct

    small = spark.range(40).select(F.concat(F.lit("v"), "id").alias("x"))
    r = kmv_distinct(small, "x", k=64).collect()[0]
    assert (r.n_sketch, r.estimate) == (40, 40)
    # NULLs hash to NULL and must not occupy k-minima slots (Spark sorts
    # NULLs first ascending): sketch counts distinct VALUES only
    with_null = small.unionByName(
        spark.range(3).select(F.lit(None).cast("string").alias("x")))
    r = kmv_distinct(with_null, "x", k=64).collect()[0]
    assert (r.n_sketch, r.estimate) == (40, 40)

    n = 20_000
    big = spark.range(n).select(F.concat(F.lit("tok"), "id").alias("x"))
    # duplicates must not shift the estimate (distinct-hash semantics)
    big = big.unionAll(big.limit(5000))
    r = kmv_distinct(big, "x", k=64).collect()[0]
    assert abs(r.estimate - n) / n < 0.5, r.estimate
    plan = kmv_distinct(big, "x", k=64)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrdered" in plan
    import pytest
    with pytest.raises(ValueError):
        kmv_distinct(big, "x", k=1)


def test_kmv_per_group_matches_global_per_partition(spark):
    """kmv_distinct_by must produce, per group, exactly what the global
    sketch produces when run on that group alone — and the estimates
    stay accurate (exact below k, ~1/sqrt(k) error above)."""
    from biocypher_metta_spark.operators.sketch import (kmv_distinct,
                                                        kmv_distinct_by)

    df = spark.range(30_000).select(
        F.concat(F.lit("g"), F.pmod("id", F.lit(3)).cast("string"))
        .alias("g"),
        # group g0 gets 10k distinct, g1 5k (shared-mod collisions), g2 30
        F.when(F.pmod("id", F.lit(3)) == 2,
               F.concat(F.lit("v"), F.pmod("id", F.lit(90)).cast("string")))
        .when(F.pmod("id", F.lit(3)) == 1,
              F.concat(F.lit("v"), F.pmod("id", F.lit(15000)).cast("string")))
        .otherwise(F.concat(F.lit("v"), F.col("id").cast("string")))
        .alias("x"))
    per = {r.g: r for r in
           kmv_distinct_by(df, ["g"], "x", k=64, salt_buckets=4).collect()}
    assert set(per) == {"g0", "g1", "g2"}
    for g, row in per.items():
        solo = kmv_distinct(df.filter(F.col("g") == g), "x",
                            k=64).collect()[0]
        assert (row.n_sketch, row.h_k, row.estimate) == \
            (solo.n_sketch, solo.h_k, solo.estimate), g
    assert (per["g2"].n_sketch, per["g2"].estimate) == (30, 30)  # exact
    assert abs(per["g0"].estimate - 10_000) / 10_000 < 0.5


def test_kmv_minima_merge_equals_resketch(spark):
    """Mergeability (the rollup composition sketch.py claims): union
    two halves' sketch-state rows, keep the k smallest per group, and
    the estimate equals resketching the concatenated data."""
    from biocypher_metta_spark.operators.sketch import (
        _estimate_from_minima, kmv_merge_minima, kmv_minima_by)

    k = 32
    a = spark.range(0, 8_000).select(
        F.lit("g").alias("g"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("x"))
    b = spark.range(4_000, 12_000).select(  # overlapping halves
        F.lit("g").alias("g"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("x"))
    ma = kmv_minima_by(a, ["g"], "x", k=k)
    mb = kmv_minima_by(b, ["g"], "x", k=k)
    merged = kmv_merge_minima(ma.unionByName(mb), ["g"], k=k)
    est_merged = _estimate_from_minima(merged, ["g"], k).collect()[0]
    est_whole = _estimate_from_minima(
        kmv_minima_by(a.unionByName(b), ["g"], "x", k=k), ["g"],
        k).collect()[0]
    assert (est_merged.n_sketch, est_merged.h_k, est_merged.estimate) == \
        (est_whole.n_sketch, est_whole.h_k, est_whole.estimate)


def test_hypertable_rollup_reaggregation(spark):
    """Coarse levels derived from fine rollups must equal direct
    aggregation from raw at every level (mergeability proof)."""
    from datetime import datetime, timedelta

    from biocypher_metta_spark.operators.temporal import hypertable_rollup

    base = datetime(2024, 3, 1)
    rows = [(base + timedelta(minutes=7 * i, hours=i % 50),
             (i * 37 % 1000) / 10.0) for i in range(400)]
    e = spark.createDataFrame(rows, "ts timestamp, value double")
    rolled = hypertable_rollup(e)
    for lv in ("minute", "hour", "day"):
        direct = {r.bucket: (r.n, r.total, r.vmin, r.vmax) for r in
                  e.groupBy(F.date_trunc(lv, "ts").alias("bucket"))
                  .agg(F.count("*").alias("n"),
                       F.sum(F.floor(F.col("value") * 100).cast("long"))
                       .alias("total"),
                       F.min(F.floor(F.col("value") * 100).cast("long"))
                       .alias("vmin"),
                       F.max(F.floor(F.col("value") * 100).cast("long"))
                       .alias("vmax")).collect()}
        got = {r.bucket: (r.n, r.total, r.vmin, r.vmax)
               for r in rolled[lv].collect()}
        assert got == direct, lv
    # day buckets really do collapse hours (not a no-op chain)
    assert len({r.bucket for r in rolled["day"].collect()}) \
        < len({r.bucket for r in rolled["hour"].collect()})
