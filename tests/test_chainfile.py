"""UCSC chain-file liftover kernel (P11) — format-level unit tests plus
a brute-force cross-check and the dbsuper adapter running the REAL
kernel end-to-end (reference behavior: helpers.py:145-175,
dbsuper_adapter.py:48-52)."""

import pytest

from biocypher_metta_spark.functions.chainfile import (
    ChainLifter, compose_chain, parse_chain_blocks)
from biocypher_metta_spark.dims import local_frame
from biocypher_metta_spark.functions.liftover import chain_blocks, lift
from tests.conftest import requires_reference

# A fixture exercising every format feature: multi-block chains with
# both-side gaps, a negative-strand destination, two overlapping chains
# with different scores, and chr-prefixed names.
FIX = (
    compose_chain(1000, "chr1", 10_000, 100, "chr1", 20_000, "+", 500,
                  [(50, 10, 5), (40, 7, 12), (30,)], chain_id=1)
    + compose_chain(800, "chr2", 10_000, 200, "chr9", 30_000, "-", 1_000,
                    [(60, 5, 5), (25,)], chain_id=2)
    + compose_chain(900, "chr3", 10_000, 300, "chr4", 40_000, "+", 3_300,
                    [(120,)], chain_id=3)
    + compose_chain(500, "chr3", 10_000, 350, "chr5", 40_000, "+", 7_350,
                    [(200,)], chain_id=4)
)


@pytest.fixture(scope="module")
def lifter():
    return ChainLifter.from_text(FIX)


def test_plus_strand_blocks_and_gaps(lifter):
    # chain 1: block A src [100,150) -> dst [500,550)
    assert lifter.query("chr1", 100) == [("1", 500, "+")]
    assert lifter.query("1", 149) == [("1", 549, "+")]
    # target gap [150,160) unmapped
    assert lifter.query("1", 150) == []
    assert lifter.query("1", 159) == []
    # block B src [160,200) -> dst [555,595)  (q advanced 50+5)
    assert lifter.query("1", 160) == [("1", 555, "+")]
    assert lifter.query("1", 199) == [("1", 594, "+")]
    # gap dt=7, then block C src [207,237) -> dst [607,637) (q +40+12)
    assert lifter.query("1", 207) == [("1", 607, "+")]
    assert lifter.query("1", 236) == [("1", 636, "+")]
    assert lifter.query("1", 237) == []
    assert lifter.query("1", 99) == []


def test_minus_strand_forward_coordinates(lifter):
    # chain 2: qStrand '-', qSize 30000, qStart 1000 (reverse coords).
    # Block A src [200,260): offset k -> forward dst 30000-1-(1000+k).
    assert lifter.query("chr2", 200) == [("9", 28_999, "-")]
    assert lifter.query("2", 259) == [("9", 28_940, "-")]
    # gap, then block B src [265,290), q_rev starts at 1065
    assert lifter.query("2", 265) == [("9", 28_934, "-")]
    assert lifter.query("2", 289) == [("9", 28_910, "-")]


def test_overlapping_chains_score_order(lifter):
    # chr3: chains 3 (score 900, +3000) and 4 (score 500, +7000) overlap
    # on [350, 420).
    hits = lifter.query("chr3", 400)
    assert hits == [("4", 3_400, "+"), ("5", 7_400, "+")]
    # non-overlap regions hit exactly one chain
    assert lifter.query("3", 320) == [("4", 3_320, "+")]
    assert lifter.query("3", 500) == [("5", 7_500, "+")]


def test_unknown_chrom_and_malformed():
    lf = ChainLifter.from_text(FIX)
    assert lf.query("chrMT", 5) == []
    with pytest.raises(ValueError):
        ChainLifter.from_text("chain 1 chr1 100 - 0 10 chr1 100 + 0 10 1\n10\n")
    with pytest.raises(ValueError):  # blocks don't sum to header span
        ChainLifter.from_text("chain 1 chr1 100 + 0 10 chr1 100 + 0 10 1\n5\n")
    with pytest.raises(ValueError):  # truncated
        ChainLifter.from_text("chain 1 chr1 100 + 0 10 chr1 100 + 0 10 1\n5 1 1\n")


def brute_force_map(text):
    """Independent per-position expansion: walk every chain's cursor
    pair position by position (no interval math) -> {(chrom,pos): [...]}"""
    out = {}
    chain = None
    for line in text.splitlines():
        f = line.split()
        if not f:
            continue
        if f[0] == "chain":
            chain = dict(score=int(f[1]), t=f[2].replace("chr", ""),
                         tc=int(f[5]), q=f[7].replace("chr", ""),
                         qsize=int(f[8]), qstrand=f[9], qc=int(f[10]),
                         n=len(out))
            continue
        size = int(f[0])
        for _ in range(size):
            if chain["qstrand"] == "+":
                dst = chain["qc"]
            else:
                dst = chain["qsize"] - 1 - chain["qc"]
            out.setdefault((chain["t"], chain["tc"]), []).append(
                (chain["score"], chain["q"], dst, chain["qstrand"]))
            chain["tc"] += 1
            chain["qc"] += 1
        if len(f) == 3:
            chain["tc"] += int(f[1])
            chain["qc"] += int(f[2])
    return out


def test_brute_force_cross_check(lifter):
    expect = brute_force_map(FIX)
    for chrom in ("1", "2", "3"):
        for pos in range(0, 700):
            want = sorted(expect.get((chrom, pos), []),
                          key=lambda t: -t[0])
            want = [(q, d, s) for _sc, q, d, s in want]
            assert lifter.query(chrom, pos) == want, (chrom, pos)


def test_blocks_table_roundtrip(lifter):
    rows = lifter.blocks_table()
    # 3 + 2 + 1 + 1 aligned blocks
    assert len(rows) == 7
    rebuilt = ChainLifter(iter(rows))
    assert rebuilt.query("1", 170) == lifter.query("1", 170)
    assert rebuilt.query("2", 270) == lifter.query("2", 270)


def test_parse_rejects_header_inside_chain():
    bad = ("chain 1 chr1 100 + 0 20 chr1 100 + 0 20 1\n"
           "5 5 5\n"
           "chain 2 chr2 100 + 0 10 chr2 100 + 0 10 2\n10\n")
    with pytest.raises(ValueError):
        list(parse_chain_blocks(bad))


# --------------------------------------------------------------------------
# the Spark lift: a binned join against the chain's block frame, checked
# position by position against query()[0]
# --------------------------------------------------------------------------


def lift_positions(spark, lf, chroms, poss):
    """lift() over (chrom, pos) rows -> the lifted position per row."""
    df = local_frame(spark, {"i": list(range(len(poss))), "c": chroms, "p": poss},
                     "i long, c string, p long").repartition(3)
    out = lift(df, "c", {"lifted": "p"}, chain_blocks(spark, lf)).collect()
    assert len(out) == len(poss)
    got = {r.i: r.lifted for r in out}
    return [got[i] for i in range(len(poss))]


def assert_lift_matches_query(spark, lf, chroms, poss):
    got = lift_positions(spark, lf, chroms, poss)
    for c, p, g in zip(chroms, poss, got):
        rows = lf.query(c, p) if c is not None and p is not None else []
        assert g == (rows[0][1] if rows else None), (c, p)


def test_lift_matches_query_row_loop(spark, lifter):
    """The join agrees with query()[0] at every position on all
    chromosomes, including unmapped positions, unknown chroms, Nones,
    and 'chr'/'ch' prefixed names."""
    chroms, poss = [], []
    for chrom in ("1", "2", "chr3", "ch2", "nope", None):
        for pos in range(0, 700, 7):
            chroms.append(chrom)
            poss.append(pos)
    chroms.append("1")
    poss.append(None)
    assert_lift_matches_query(spark, lifter, chroms, poss)


def random_chains(rng, n=25):
    parts = []
    for cid in range(n):
        t_start = rng.randrange(0, 400)
        blocks = [(rng.randrange(5, 60),
                   rng.randrange(1, 30), rng.randrange(1, 30))
                  for _ in range(rng.randrange(0, 3))]
        blocks.append((rng.randrange(5, 60),))  # final block: size only
        strand = rng.choice("+-")
        parts.append(compose_chain(
            rng.randrange(100, 5000), f"chr{rng.randrange(1, 4)}", 10_000,
            t_start, f"chr{rng.randrange(1, 6)}", 20_000, strand,
            rng.randrange(0, 1000), blocks, chain_id=cid + 1))
    return ChainLifter.from_text("".join(parts))


def test_lift_random_chains_fuzz(spark):
    """Parity on randomized overlapping chain sets (seeded): deep overlap
    stacks exercise the best-(score, order) pick; Nones, unknown chroms
    and 'chr'/'ch' prefixes ride along."""
    import random

    rng = random.Random(7)
    lf = random_chains(rng)
    chroms, poss = [], []
    for _ in range(2000):
        if rng.random() < 0.05:
            chroms.append(rng.choice([None, "nope", "", "chr"]))
        else:
            chroms.append(rng.choice(["", "chr", "ch"]) + str(rng.randrange(1, 5)))
        poss.append(None if rng.random() < 0.03 else rng.randrange(0, 800))
    assert_lift_matches_query(spark, lf, chroms, poss)


def test_lift_nulls_and_prefixes_match_query(spark, lifter):
    """Null inputs and unknown chroms lift to NULL; prefixed names lift
    like their bare names; positions across bin edges map exactly."""
    chroms = ["1", "chr1", "2", "ch3", "nope", None, "1", "chr7"]
    poss = [100, 120, 230, 310, 5, 10, None, (1 << 16) + 3]
    wide = ChainLifter.from_text(compose_chain(
        10, "chr7", 1 << 20, (1 << 16) - 5, "chr8", 1 << 20, "+", 7,
        [(20,)], chain_id=1) + FIX)
    got = lift_positions(spark, wide, chroms, poss)
    assert got == [500, 520, 28_969, 3_310, None, None, None, 15]
    assert_lift_matches_query(spark, wide, chroms, poss)


def test_chain_blocks_frame_is_blocks_table(spark, lifter):
    rows = [tuple(r) for r in chain_blocks(spark, lifter).collect()]
    assert rows == lifter.blocks_table()


# --------------------------------------------------------------------------
# dbSUPER through the lift join, without the reference: a chain with a
# gap, so rows whose start or end falls in it are dropped
# --------------------------------------------------------------------------

# chr1: [1000, 1100) -> +5000, gap [1100, 1150), [1150, 1300) -> +5000-40
GAP_CHAIN = compose_chain(100, "chr1", 10_000, 1_000, "chr1", 20_000, "+", 6_000,
                          [(100, 50, 10), (150,)], chain_id=1)


def test_dbsuper_drops_rows_lifting_into_a_gap(spark):
    from biocypher_metta_spark.adapters import regulatory as reg

    lf = ChainLifter.from_text(GAP_CHAIN)
    rows = [("chrom", "start", "stop", "se_id", "gene", "cell"),  # header
            ("chr1", 1000, 1050, "SE_keep1", "G1", "c1"),
            ("chr1", 1120, 1200, "SE_start_in_gap", "G1", "c1"),
            ("chr1", 1050, 1130, "SE_end_in_gap", "G1", "c1"),
            ("chr1", 1149, 1250, "SE_keep2", "G1", "c1"),
            ("chr2", 1000, 1050, "SE_unknown_chrom", "G1", "c1"),
            ("chr1", 1200, 1400, "SE_end_past_chain", "G1", "c1")]
    lines = local_frame(spark, {"value": ["\t".join(map(str, r)) for r in rows]},
                        "value string")
    typed, _atoms = reg.dbsuper_nodes(reg.dbsuper_lifted(lines, chain_blocks(spark, lf)))
    got = {r.se_id: (r.chr, r.start, r.end) for r in typed.collect()}

    def lifted(pos):
        return lf.query("chr1", pos + 1)[0][1]
    assert got == {"SE_keep1": ("chr1", lifted(1000), lifted(1050)),
                   "SE_keep2": ("chr1", lifted(1149), lifted(1250))}


# --------------------------------------------------------------------------
# real kernel through the real adapter: dbsuper with a chain-backed lifter
# --------------------------------------------------------------------------


@requires_reference("biocypher_metta")
def test_dbsuper_nodes_real_chain_kernel(spark):
    """Same dbsuper parity path as test_adapters_batch2, with the
    reference's lifter cache holding the chain kernel itself: both sides
    lift through one chain, the reference via ChainLifter.query and the
    engine via the block join."""
    from biocypher_metta_spark.adapters import regulatory as reg
    from tests.golden import golden_node_atoms, spark_atoms, assert_pr
    from tests.reference_shim import lift_chain, load_ref
    from tests.test_adapters_batch2 import AUX, S, lines_of

    lf = lift_chain()

    mod = load_ref("biocypher_metta.adapters.dbsuper_adapter")
    import biocypher_metta.adapters.helpers as ref_helpers
    ref = mod.DBSuperAdapter(
        filepath=f"{S}/dbSUPER_SuperEnhancers_hg19.tsv.gz",
        hgnc_to_ensembl_map=f"{AUX}/hgnc_to_ensembl.pkl",
        dbsuper_tissues_map=f"{AUX}/dbsuper_tissues_map.pkl",
        write_properties=True, add_provenance=True)
    ref_helpers._lifters["hg19_hg38"] = lf
    try:
        golden = golden_node_atoms(ref.get_nodes())
    finally:
        ref_helpers._lifters.pop("hg19_hg38", None)

    _, atoms = reg.dbsuper_nodes(reg.dbsuper_lifted(
        lines_of(spark, f"{S}/dbSUPER_SuperEnhancers_hg19.tsv.gz"),
        chain_blocks(spark, lf)))
    assert_pr(spark_atoms(atoms), golden, 1.0, "dbsuper nodes (chain kernel)")


def test_dbsuper_lifted_scans_the_documents_twice(spark, tmp_path):
    """Start and end lift from one points frame, so the executed plan of
    `dbsuper_lifted` over a parquet documents table reads it twice (the
    points and the rows they join back to), not once more per lifted
    column; the rows are those of one lift per column."""
    from biocypher_metta_spark.adapters import regulatory as reg
    from biocypher_metta_spark.sources.documents import (
        DOCUMENTS_SCHEMA, read_documents, span_lines)

    lf = ChainLifter.from_text(GAP_CHAIN)
    lines = ["chrom\tstart\tstop\tse_id\tgene\tcell",
             "chr1\t1000\t1050\tSE_keep1\tG1\tc1",
             "chr1\t1149\t1250\tSE_keep2\tG1\tc1",
             "chr1\t1120\t1200\tSE_start_in_gap\tG1\tc1"]
    path = str(tmp_path / "docs")
    spark.createDataFrame([("d0", [("dbsuper", line, None, i) for i, line in enumerate(lines)])],
                          DOCUMENTS_SCHEMA).write.parquet(path)
    lifted = reg.dbsuper_lifted(span_lines(read_documents(spark, path), "dbsuper"),
                                chain_blocks(spark, lf))
    got = {r.se_id: (r._s, r._e) for r in lifted.collect()}
    assert got == {se: (lf.query("chr1", s + 1)[0][1], lf.query("chr1", e + 1)[0][1])
                   for se, s, e in (("SE_keep1", 1000, 1050), ("SE_keep2", 1149, 1250))}
    plan = lifted._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") <= 2, final
