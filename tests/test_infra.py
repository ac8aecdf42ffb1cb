"""Tests: ontology adapter parity (fake rdflib graph), canonicalization,
lineage/resume, linking, sinks, dedup/similarity operators."""

from __future__ import annotations

import random
import re

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from biocypher_metta_spark import canonicalize as canon
from biocypher_metta_spark import dims, lineage, linking, sinks
from biocypher_metta_spark.adapters import ontology as onto
from biocypher_metta_spark.operators import dedup as dd
from biocypher_metta_spark.operators import similarity as sim
from biocypher_metta_spark.schema import load_default_registry
from tests.conftest import requires_reference
from tests.golden import assert_pr, golden_edge_atoms, golden_node_atoms, spark_atoms
from tests.reference_shim import install_stubs, load_ref

REGISTRY = load_default_registry()
needs_ref_code = requires_reference("biocypher_metta")

OBO = "http://purl.obolibrary.org/obo"


def _fixture_triples():
    install_stubs()
    import rdflib

    U, B, L = rdflib.term.URIRef, rdflib.term.BNode, rdflib.term.Literal
    go1, go2, go3 = (U(f"{OBO}/GO_000000{i}") for i in (1, 2, 3))
    blank = B("b1")
    t = [
        (go1, U(onto.LABEL), L("term one")),
        (go1, U(onto.DESCRIPTION), L("first (term)")),
        (go1, U(onto.EXACT_SYNONYM), L("syn exact")),
        (go1, U(onto.RELATED_SYNONYM), L("syn related")),
        (go1, U(onto.NAMESPACE), L("biological_process")),
        (go2, U(onto.LABEL), L("term two")),
        (go2, U(onto.NAMESPACE), L("molecular_function")),
        (go3, U(onto.LABEL), L("term three")),
        # plain subclass edge
        (go2, U(onto.SUBCLASS), go1),
        # subclass via a restriction block (part_of)
        (go3, U(onto.SUBCLASS), blank),
        (blank, U(onto.TYPE), U(onto.RESTRICTION)),
        (blank, U(onto.ON_PROPERTY), U(onto.PART_OF)),
        (blank, U(onto.SOME_VALUES_FROM), go1),
        # dbxrefs: valid, self, malformed — all must be absent from output
        (go1, U(onto.DB_XREF), L("XX:123")),
        (go2, U(onto.DB_XREF), L(str(go2))),
        (go3, U(onto.DB_XREF), L("not-an-xref")),
    ]
    return t


class _FakeGraph:
    def __init__(self, triples):
        self.t = triples

    def all_nodes(self):
        return {s for s, _, _ in self.t} | {o for _, _, o in self.t}

    def subject_objects(self, predicate=None, unique=True):
        return [(s, o) for s, p, o in self.t if str(p) == str(predicate)]


def _go_mod():
    return load_ref("biocypher_metta.adapters.ontologies_adapter")


def _ref_ontology_adapter(triples, type_, label):
    mod = load_ref("biocypher_metta.adapters.gene_ontology_adapter")

    ad = mod.GeneOntologyAdapter(write_properties=True, add_provenance=True,
                                 ontology="go", type=type_, label=label)
    ad.update_graph = lambda: None
    ad.graph = _FakeGraph(triples)
    return ad


def _triples_df(spark, triples):
    install_stubs()
    import rdflib

    rows = [(str(s), str(p), str(o),
             isinstance(s, rdflib.term.BNode), isinstance(o, rdflib.term.BNode),
             isinstance(o, rdflib.term.Literal))
            for s, p, o in triples]
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string,"
              " subj_blank boolean, obj_blank boolean, obj_literal boolean")


@needs_ref_code
def test_to_key_parity():
    mod = load_ref("biocypher_metta.adapters.ontologies_adapter")
    cases = [
        f"{OBO}/GO_0000001",
        f"{OBO}/CLO_0027762#subclass?id=123",
        "12345",
        f"{OBO}/UBERON_0002048",
        "http://x/y/with space",
        "9606.123",
    ]
    for c in cases:
        assert onto.py_to_key(c) == mod.OntologyAdapter.to_key(c), c


def test_to_key_column_matches_python(spark):
    cases = [f"{OBO}/GO_0000001", f"{OBO}/CLO_0027762#subclass?id=123",
             "12345", "http://x/y/with space", "9606.123"]
    df = spark.createDataFrame([(c,) for c in cases], "uri string")
    got = [r.k for r in df.select(onto.to_key_col(F.col("uri")).alias("k")).collect()]
    assert got == [onto.py_to_key(c) for c in cases]


@needs_ref_code
def test_ontology_nodes_parity(spark):
    t = _fixture_triples()
    ref = _ref_ontology_adapter(t, "node", "go")
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = onto.ontology_nodes(_triples_df(spark, t), "go", "go")
    ours = spark_atoms(atoms)
    # the reference emits nodes for predicate URIs and literal objects too
    # (graph.all_nodes()); our subject-driven variant skips pure-object
    # URIs — compare on the GO term subset, which is the content that
    # matters downstream
    golden_go = {a for a in golden if "GO:" in a}
    ours_go = {a for a in ours if "GO:" in a}
    assert_pr(ours_go, golden_go, 1.0, "ontology nodes (GO terms)")


@needs_ref_code
def test_ontology_edges_parity(spark):
    t = _fixture_triples()
    ref = _ref_ontology_adapter(t, "edge", "go_subtype_of")
    # NOTE reference bug: get_edges only populates the SUBCLASS/DB_XREF
    # cache (ontologies_adapter.py:90,223-225), so is_a_restriction_block
    # never sees node_types and restriction blocks leak through as raw
    # BNode ids. Pre-populating the node cache activates the documented
    # intent (:178-186), which is what our engine implements.
    ref.cache_node_properties()
    ref.cache_predicate(predicate=_go_mod().OntologyAdapter.ALL_VALUES_FROM,
                        collection="all_values_from")
    golden = golden_edge_atoms(ref.get_edges())
    _, atoms = onto.ontology_edges(_triples_df(spark, t), "go_subtype_of",
                                   REGISTRY, "go")
    assert_pr(spark_atoms(atoms), golden, 1.0, "ontology edges")


# --------------------------------------------------------------------------
# dimensions
# --------------------------------------------------------------------------


def test_dim_from_map_schema_and_rows(spark):
    """Arrow-built dimensions keep the row-inferred schema and rows: keys
    and values nullable strings, and an int `pos` with a None stays
    long (a pandas route would make it double)."""
    flat = {"ENSP2": "P2", "ENSP1": "P1", "ENSP3": 3}
    nested = {"rs2": {"chr": "chr1", "pos": 5}, "rs1": {"chr": "chr2", "pos": None},
              "rs3": {"chr": None, "pos": 2**40}}
    for mapping, rows, names in [
        (flat, [("ENSP1", "P1"), ("ENSP2", "P2"), ("ENSP3", "3")], ["key", "value"]),
        (nested, [("rs1", "chr2", None), ("rs2", "chr1", 5), ("rs3", None, 2**40)],
         ["key", "chr", "pos"]),
    ]:
        got = dims.dim_from_map(spark, mapping)
        want = spark.createDataFrame(rows, names)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    assert got.schema["pos"].dataType.typeName() == "long"


# --------------------------------------------------------------------------
# canonicalization
# --------------------------------------------------------------------------


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        "src string, dst string")
    m = {r.id: r.component
         for r in canon.connected_components(edges).collect()}
    assert m["a"] == m["b"] == m["c"] == "a"
    assert m["d"] == m["e"] == "d"


def test_connected_components_raises_when_unconverged(spark):
    """A chain n0-...-n6 needs 6 label-propagation rounds plus one that
    changes nothing: `max_iter` counts every round, the first one folded
    into the labels' initialization included, so 7 converges and 6 (or
    3) must raise, not return split components."""
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(6)], "src string, dst string")
    for short in (3, 6):
        with pytest.raises(RuntimeError, match="did not converge"):
            canon.connected_components(edges, max_iter=short)
    comps = {r.component
             for r in canon.connected_components(edges, max_iter=7).collect()}
    assert comps == {"n0"}


def _union_find(pairs):
    """id -> lexicographic-min member of its component, for every id on a
    pair of two distinct ids (a self-loop alone puts no id in the map)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a == b:
            continue
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_canonical_id_map_matches_union_find(spark):
    rng = random.Random(9)
    pairs = []
    for c in range(40):                    # 4-id alias chains, shuffled order
        ids = [f"C{c:02d}_{k}" for k in range(4)]
        rng.shuffle(ids)
        pairs += zip(ids, ids[1:])
    pairs += [("HUB", f"S{k}") for k in range(6)]        # a star
    pairs += [("C03_2", "C03_1"), ("C03_1", "C03_2"),    # reversed and
              ("S2", "HUB"), ("S2", "HUB")]              # duplicate pairs
    pairs += [("LOOP", "LOOP")]                          # self-loop only
    rng.shuffle(pairs)
    edges = spark.createDataFrame(pairs, "src string, dst string")
    got = {r.id: r.canonical_id
           for r in canon.canonical_id_map(edges).collect()}
    assert got == _union_find(pairs)
    assert "LOOP" not in got and got["S5"] == "HUB"


def test_canonical_id_map_of_no_edges_is_empty(spark):
    alias = spark.createDataFrame([], "src string, dst string")
    id_map = canon.canonical_id_map(alias)
    assert id_map.collect() == []
    nodes = spark.createDataFrame([("ENSG1", "gene"), ("HGNC:5", "gene")],
                                  "id string, label string")
    out = canon.canonicalize_nodes(nodes, id_map)
    assert sorted(r.id for r in out.collect()) == ["ENSG1", "HGNC:5"]


def test_connected_components_job_count(spark):
    """One warm call on 50 shuffled 4-id chains runs 19 Spark jobs here
    (one aggregate and one observed checkpoint per round, the first round
    fused into initialization); the previous loop, with a separate id
    list, a left join plus aggregate and a convergence-count job per
    round, ran 34 on the same graph."""
    rng = random.Random(3)
    pairs = []
    for c in range(50):
        ids = [f"J{c:02d}_{k}" for k in range(4)]
        rng.shuffle(ids)
        pairs += zip(ids, ids[1:])
    edges = spark.createDataFrame(pairs, "src string, dst string")
    canon.connected_components(edges)
    sc = spark.sparkContext
    sc.setJobGroup("cc-job-count", "connected_components job count")
    try:
        canon.connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc-job-count"))
    assert 0 < n_jobs <= 24


def test_canonicalize_nodes(spark):
    alias = spark.createDataFrame(
        [("ENSG2", "HGNC:9"), ("HGNC:9", "ENSG2"), ("ENSG1", "HGNC:5")],
        "src string, dst string")
    id_map = canon.canonical_id_map(alias)
    nodes = spark.createDataFrame(
        [("ENSG1", "gene"), ("HGNC:5", "gene"), ("ENSG2", "gene"),
         ("ENSG3", "gene"), ("ENSG3", "gene")],
        "id string, label string")
    out = canon.canonicalize_nodes(nodes, id_map)
    got = sorted(r.id for r in out.collect())
    assert got == ["ENSG1", "ENSG2", "ENSG3"]


# --------------------------------------------------------------------------
# lineage / resume
# --------------------------------------------------------------------------


def test_partition_overwrite_resume(spark, tmp_path):
    path = str(tmp_path / "triples")
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    # the writer asks for dynamic overwrite itself: a static session
    # setting must neither wipe untouched partitions nor be changed
    spark.conf.set(key, "static")
    try:
        df1 = spark.createDataFrame(
            [("chr1", "a", 1), ("chr1", "b", 2), ("chr2", "c", 3)],
            "chr string, id string, v long")
        lineage.write_partitioned(df1, path, ["chr"])
        m1 = lineage.partition_manifest(df1, ["chr"])
        # re-derive ONLY chr1 (simulated failed-partition rerun) — chr2 intact
        df_fix = spark.createDataFrame([("chr1", "a", 1), ("chr1", "b", 2)],
                                       "chr string, id string, v long")
        lineage.write_partitioned(df_fix, path, ["chr"])
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)
    back = spark.read.parquet(path)
    assert back.filter("chr = 'chr2'").select("id", "v").collect() == [("c", 3)]
    assert back.count() == 3
    m2 = lineage.partition_manifest(back.select("chr", "id", "v"), ["chr"])
    exp = {"partitions": m1}
    act = {"partitions": m2}
    assert lineage.failed_partitions(exp, act) == []
    # corrupt one partition -> exactly that partition flagged
    bad = {"partitions": [dict(r, content_hash=r["content_hash"] + 1)
                          if r["chr"] == "chr2" else r for r in m2]}
    flagged = lineage.failed_partitions(exp, bad)
    assert [r["chr"] for r in flagged] == ["chr2"]


def test_manifest_roundtrip(tmp_path, spark):
    df = spark.createDataFrame([("chr1", "x")], "chr string, id string")
    rows = lineage.partition_manifest(df, ["chr"])
    p = tmp_path / "m.json"
    lineage.write_manifest(rows, str(p), run_id="r1")
    back = lineage.read_manifest(str(p))
    assert back["run_id"] == "r1"
    assert lineage.failed_partitions(back, {"partitions": rows}) == []


def test_manifest_hash_sees_duplicate_rows(spark):
    """Equal rows must not cancel: {A,A} and {B,B} (equal counts) once
    both hashed to 0 under a xor of row hashes."""
    df = spark.createDataFrame(
        [("p1", "A"), ("p1", "A"), ("p2", "B"), ("p2", "B"), ("p3", "A")],
        "part string, id string")
    h = {r["part"]: r for r in lineage.partition_manifest(df, ["part"])}
    assert h["p1"]["n_rows"] == h["p2"]["n_rows"] == 2
    assert h["p1"]["content_hash"] != h["p2"]["content_hash"]
    assert h["p1"]["content_hash"] != 0
    # the hash is the sum of row hashes mod 2^64: {A,A} is twice {A}
    assert h["p1"]["content_hash"] == 2 * h["p3"]["content_hash"] % 2**64


# --------------------------------------------------------------------------
# linking
# --------------------------------------------------------------------------


_TOKEN_RE = re.compile(r"[A-Za-z0-9:_.\-]+")


def _oracle_mentions(dictionary: dict[str, str], text: str, maxn: int):
    """The pure-Python linker the JVM path must reproduce, one text at a
    time: n-grams longest first, exact then casefold lookup, one hit per
    distinct mention, length-weighted score."""
    ex = dict(dictionary)
    fo: dict[str, str] = {}
    for k, v in dictionary.items():
        fo.setdefault(k.casefold(), v)
    if not text:
        return []
    toks = _TOKEN_RE.findall(text)
    seen = set()
    out = []
    for n in range(maxn, 0, -1):
        for i in range(len(toks) - n + 1):
            mention = " ".join(toks[i:i + n])
            if mention in seen:
                continue
            ent = ex.get(mention)
            score = 1.0
            if ent is None:
                ent = fo.get(mention.casefold())
                score = 0.8
            if ent is None:
                continue
            seen.add(mention)
            # longer mentions are less ambiguous
            score = score * min(1.0, 0.5 + 0.25 * n)
            out.append((mention, ent, round(score, 4)))
    out.sort()
    return out


def _oracle_link(dictionary, docs: dict[str, str], maxn: int, min_score: float):
    """sorted (doc_id, mention, entity, score) rows with score >= min_score."""
    return sorted((d, m, e, sc) for d, text in docs.items()
                  for m, e, sc in _oracle_mentions(dictionary, text, maxn)
                  if sc >= min_score)


def test_mention_linking(spark):
    dictionary = {"PAK5": "ENSG00000101349", "p21 activated kinase 5":
                  "ENSG00000101349", "SNAP25": "ENSG00000132639"}
    texts = {"d1": "the PAK5 kinase aka p21 activated kinase 5",
             "d2": "snap25 lowercase mention",
             "d3": "nothing here"}
    docs = spark.createDataFrame(list(texts.items()), "doc_id string, value string")
    link = linking.build_mention_join(spark, dictionary, max_ngram=5)
    out = link(docs).collect()
    assert sorted((r.doc_id, r.mention, r.entity, r.score) for r in out) == \
        _oracle_link(dictionary, texts, 5, 0.5)
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, set()).add((r.mention, r.entity))
    assert ("PAK5", "ENSG00000101349") in by_doc["d1"]
    assert ("p21 activated kinase 5", "ENSG00000101349") in by_doc["d1"]
    assert ("snap25", "ENSG00000132639") in by_doc["d2"]
    assert "d3" not in by_doc
    counts = {r.entity: r.n_mentions for r in
              linking.entity_mention_counts(link(docs)).collect()}
    assert counts["ENSG00000101349"] == 2


def test_mention_join_path_parity(spark):
    """The fully-JVM join path must emit exactly the pure-Python oracle's
    (doc_id, mention, entity, score) rows — same dictionary, texts with
    multi-word mentions, casefold hits, repeats, and empty strings."""
    dictionary = {"PAK5": "ENSG1", "p21 activated kinase 5": "ENSG1",
                  "SNAP25": "ENSG2", "kinase": "FAM1"}
    texts = {"d1": "the PAK5 kinase aka p21 activated kinase 5",
             "d2": "snap25 lowercase mention snap25 repeated",
             "d3": "nothing here", "d4": "", "d5": "Kinase KINASE kinase"}
    docs = spark.createDataFrame(pa.table({
        "doc_id": list(texts), "value": list(texts.values())}))
    oracle_rows = _oracle_link(dictionary, texts, 5, 0.0)
    linked = linking.build_mention_join(spark, dictionary, max_ngram=5)(docs)
    join_rows = sorted((r.doc_id, r.mention, r.entity, r.score)
                       for r in linked.collect())
    assert join_rows == oracle_rows
    assert any(m == "p21 activated kinase 5" for _, m, _, _ in join_rows)
    # the dictionaries are local relations: no Python-row scan in the plan
    # (docs is built through Arrow too, so any such scan is a dictionary's)
    plan = linked._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert not [ln for ln in plan.splitlines()
                if "Scan ExistingRDD" in ln and "arrow" not in ln], plan


# --------------------------------------------------------------------------
# sinks
# --------------------------------------------------------------------------


def test_metta_text_sink(spark, tmp_path):
    atoms = spark.createDataFrame([("(gene g1)",), ("(chr (gene g1) chr1)",)],
                                  "atom string").coalesce(1)
    out = str(tmp_path / "metta")
    sinks.write_metta_text(atoms, out)
    back = spark.read.text(out)
    assert {r.value for r in back.collect()} == {
        "(gene g1)", "(chr (gene g1) chr1)"}


def test_prolog_facts(spark):
    nodes = spark.createDataFrame([("ENSG1", "gene", "chr1")],
                                  "id string, label string, chr string")
    facts = {r.fact for r in sinks.prolog_node_facts(nodes, ["chr"]).collect()}
    assert facts == {"gene(ensg1).", "chr(gene(ensg1), chr1)."}
    edges = spark.createDataFrame([("ENSG1", "ENST1", "transcribed_to")],
                                  "src string, tgt string, label string")
    efacts = {r.fact for r in
              sinks.prolog_edge_facts(edges, REGISTRY, "transcribed_to").collect()}
    assert efacts == {"transcribed_to(gene(ensg1), transcript(enst1))."}


def test_triple_table_probe_queries(spark, tmp_path):
    nodes = spark.createDataFrame(
        [("ENSG1", "gene"), ("ENST1", "transcript")], "id string, label string")
    edges = spark.createDataFrame(
        [("ENSG1", "ENST1", "transcribed_to")],
        "src string, tgt string, label string")
    path = str(tmp_path / "tt")
    sinks.write_triple_table(nodes, edges, path)
    tt = spark.read.parquet(path)
    # probe 1: subject-centric fetch
    assert tt.filter("subj = 'ENSG1'").count() == 2
    # partition pruning on label
    plan = tt.filter("kind = 'node' AND label = 'gene'")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan or tt.filter(
        "kind = 'node' AND label = 'gene'").count() == 1


# --------------------------------------------------------------------------
# dedup / similarity operators
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = ("spark shuffles data across the cluster when wide "
            "dependencies require repartitioning of rows by key " * 3)
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("cluster", "fleet")),  # near dup
        (4, "completely different tiny text about nothing relevant at all "
            "with many unrelated words appearing exactly once only here"),
        (5, "yet another unrelated document mentioning gradients descent "
            "and training data pipelines in some different words entirely"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(near_dup_docs):
    out = {r.keep_id: r.n_copies for r in dd.exact_dedup(near_dup_docs).collect()}
    assert out[1] == 2  # docs 1 and 2 collapse
    assert sum(out.values()) == 5


def test_minhash_lsh_near_dup(near_dup_docs):
    sigs = dd.minhash_signatures(near_dup_docs, num_perm=8)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) in got or (2, 3) in got
    verified = dd.ngram_jaccard_pairs(near_dup_docs, pairs)
    jac = {(r.id_a, r.id_b): r.jaccard_permille for r in verified.collect()}
    assert jac[(1, 2)] == 1000
    for (a, b), v in jac.items():
        if (a, b) != (1, 2):
            assert v < 1000


def test_simhash_hamming(near_dup_docs):
    sims = dd.simhash(near_dup_docs)
    vals = {r.doc_id: r.simhash for r in sims.collect()}
    assert vals[1] == vals[2]
    assert all(0 <= v < (1 << 60) for v in vals.values())
    pairs = dd.hamming_near_pairs(sims, max_dist=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got


def test_hamming_near_pairs_recall(spark):
    """Multi-block banding must find EVERY pair at hamming <= max_dist,
    including pairs whose differing bits straddle block boundaries (the
    failure mode of single-prefix blocking)."""
    base = 0x0123456789ABCDE  # 60-bit value
    rows = [(0, base)]
    # plant a <=3-bit flip in every block combination, incl. boundaries
    flips = [
        (1, [0]), (2, [59]), (3, [14, 15]),          # boundary 0|1
        (4, [29, 30]), (5, [44, 45]),                # boundaries 1|2, 2|3
        (6, [0, 29, 59]), (7, [14, 15, 16]),         # spread + straddle
        (8, [13, 14, 15]), (9, [15, 30, 45]),        # one flip per block
    ]
    expected = set()
    for i, bits in flips:
        v = base
        for b in bits:
            v ^= (1 << b)
        rows.append((i, v))
        expected.add((0, i))
    # a far-away doc that must NOT pair with doc 0
    rows.append((99, base ^ ((1 << 50) - 1)))
    sims = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r.id_a, r.id_b) for r in dd.hamming_near_pairs(sims, max_dist=3).collect()}
    assert expected <= got, f"missed pairs: {expected - got}"
    assert (0, 99) not in got


def test_similarity_topk(spark):
    import math

    rows = []
    for i in range(50):
        angle = i / 50 * math.pi
        rows.append((i, [math.cos(angle), math.sin(angle), 0.1 * (i % 3), 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.0, 0.0, 0.0]
    brute = [r.vec_id for r in sim.cosine_topk(emb, q, k=5).collect()]
    assert brute[0] == 0  # identical direction wins
    qd = [r.vec_id for r in sim.quantized_dot_topk(emb, q, k=5).collect()]
    assert qd[0] == 0
    ann = [r.vec_id for r in sim.lsh_bucketed_topk(emb, q, k=5).collect()]
    # ANN must recover most of the brute-force top-5
    assert len(set(ann[:5]) & set(brute[:5])) >= 3


def test_ntriples_to_ontology_pipeline(spark):
    """N-Triples spans -> triples DF -> ontology nodes/edges (the
    distributed ingestion path for large RDF dumps)."""
    from biocypher_metta_spark.sources.rdf import parse_ntriples

    nt = [
        f'<{OBO}/GO_0000001> <{onto.LABEL}> "term one" .',
        f'<{OBO}/GO_0000002> <{onto.LABEL}> "term \\"two\\"" .',
        f'<{OBO}/GO_0000002> <{onto.SUBCLASS}> <{OBO}/GO_0000001> .',
        f'_:b1 <{onto.TYPE}> <{onto.RESTRICTION}> .',
        f'_:b1 <{onto.ON_PROPERTY}> <{onto.PART_OF}> .',
        f'_:b1 <{onto.SOME_VALUES_FROM}> <{OBO}/GO_0000001> .',
        f'<{OBO}/GO_0000003> <{onto.SUBCLASS}> _:b1 .',
        "# comment line",
        "malformed junk",
        f'<{OBO}/GO_0000001> <{onto.DESCRIPTION}> "has lang"@en .',
    ]
    lines = spark.createDataFrame([(l,) for l in nt], "value string")
    triples = parse_ntriples(lines)
    rows = {(r.subject, r.predicate, r.object) for r in triples.collect()}
    assert (f"{OBO}/GO_0000002", onto.SUBCLASS, f"{OBO}/GO_0000001") in rows
    assert (f"{OBO}/GO_0000001", onto.DESCRIPTION, "has lang") in rows
    assert (f"{OBO}/GO_0000002", onto.LABEL, 'term "two"') in rows
    assert len(rows) == 8  # comment + malformed dropped
    _, atoms = onto.ontology_edges(triples, "go_subtype_of", REGISTRY, "go")
    got = spark_atoms(atoms)
    assert "(subtype_of (go GO:0000002) (go GO:0000001))" in got
    # restriction block resolved: GO:3 part_of GO:1
    assert any("GO:0000003" in a and "part_of" in a for a in got)


def test_embedding_near_dup_pairs(spark):
    """Planted near-identical vectors must pair (blocking + verify); far
    vectors must not, even when bucket-mates."""
    base = [10.0, -20.0, 15.0, -5.0, 30.0, -12.0, 8.0, -25.0]
    rows = [(0, base),
            (1, [x + (0.5 if j == 2 else 0.0) for j, x in enumerate(base)]),
            (2, [x + (0.4 if j == 5 else 0.0) for j, x in enumerate(base)]),
            (3, [-x for x in base]),                     # anti-parallel
            (4, [1.0, 2.0, -3.0, 4.0, -5.0, 6.0, -7.0, 8.0])]  # unrelated
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b): r.cos_millis
           for r in dd.embedding_near_dup_pairs(emb, dim=8,
                                                threshold_millis=990).collect()}
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert all(v >= 990 for v in got.values())
    assert not any(3 in p or 4 in p for p in got)


def test_ivf_topk_recall(spark):
    """IVF with deterministic centroids: probing 2 of the cells must
    recover most of the brute-force top-10 on clustered data."""
    import math

    rows = []
    for i in range(300):
        c = i % 3  # three well-separated clusters
        base = [5.0 * (c == 0), 5.0 * (c == 1), 5.0 * (c == 2), 1.0]
        rows.append((i, [x + 0.05 * ((i * 7 + j * 13) % 11 - 5)
                         for j, x in enumerate(base)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [5.0, 0.2, 0.0, 1.0]
    cents = sim.build_ivf_centroids(emb, dim=4, n_planes=3, lloyd_iters=2)
    assert 1 < len(cents) <= 8
    # deterministic: same corpus -> identical centroids
    assert cents == sim.build_ivf_centroids(emb, dim=4, n_planes=3, lloyd_iters=2)
    brute = [r.vec_id for r in sim.cosine_topk(emb, q, k=10).collect()]
    got = [r.vec_id for r in sim.ivf_topk(emb, cents, q, k=10, n_probe=2).collect()]
    recall = len(set(brute) & set(got)) / 10
    assert recall >= 0.8, f"recall {recall} (brute={brute}, ivf={got})"


def test_lang_id_eight_languages(spark):
    from biocypher_metta_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(1, "the cat and the dog of the house is here"),
         (2, "der hund und die katze mit dem ball nicht da ist"),
         (3, "le chat et la maison des gens dans une rue est la"),
         (4, "el perro y los gatos con las casas que hay por aqui para ti"),
         (5, "ele gosta muito disso sem mais nada como os outros e isso"),
         (6, "il gatto che corre per la strada con una palla sono io di qua"),
         (7, "het huis is niet van een hond voor ook zijn naar hier"),
         (8, "och det som att den inte har jag sett"),
         (9, "zzz qqq xxx")],
        "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in tx.lang_id(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "pt",
                   6: "it", 7: "nl", 8: "sv", 9: "unk"}


def test_gene_corr_topk(spark):
    from biocypher_metta_spark.operators.expression import gene_corr_topk

    base = [3, 7, 1, 9, 4, 8, 2, 6, 5, 10]
    rows = [("target", base),
            ("twin", [2 * v + 1 for v in base]),        # corr exactly 1
            ("anti", [-v for v in base]),               # corr exactly -1
            ("flat", [5] * 10),                         # zero variance -> dropped
            ("noise", [4, 4, 9, 1, 8, 2, 7, 3, 6, 5])]
    expr = spark.createDataFrame(rows, "gene_id string, values array<long>")
    got = {r.gene_id: r.corr_milli
           for r in gene_corr_topk(expr, "target", k=5).collect()}
    assert got["target"] == 1000 and got["twin"] == 1000
    assert got["anti"] == -1000
    assert "flat" not in got
    assert -1000 <= got["noise"] < 1000


def test_gwas_lead_snps(spark):
    from biocypher_metta_spark.operators.gwas import lead_snps

    rows = [
        ("rs1", 1, 100_000, 9000),    # peak in bucket 0
        ("rs2", 1, 150_000, 8000),    # same bucket, weaker -> not a candidate
        ("rs3", 1, 550_000, 8500),    # adjacent bucket, within 500kb of rs1,
                                      # weaker -> suppressed
        ("rs4", 1, 2_000_000, 7500),  # far away -> independent lead
        ("rs5", 2, 100_000, 9000),    # other chromosome -> independent lead
        ("rs6", 1, 300_000, 5000),    # not significant
    ]
    assoc = spark.createDataFrame(
        rows, "snp_id string, chr long, pos long, nlp_milli long")
    got = {r.snp_id for r in lead_snps(assoc).collect()}
    assert got == {"rs1", "rs4", "rs5"}
