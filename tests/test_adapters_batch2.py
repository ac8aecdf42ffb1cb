"""Parity tests: forgedb family (roadmap/abc/cadd/refseq/topld/gtex),
dbSUPER (liftover), PEREGRINE, FAVOR."""

from __future__ import annotations

import csv
import gzip
import shutil

import pytest
from pyspark.sql import functions as F

from biocypher_metta_spark import dims
from biocypher_metta_spark.adapters import forgedb as fg
from biocypher_metta_spark.adapters import regulatory as reg
from biocypher_metta_spark.adapters import variants as var
from biocypher_metta_spark.functions.liftover import chain_blocks
from biocypher_metta_spark.schema import load_default_registry
from biocypher_metta_spark.sources.documents import span_lines
from biocypher_metta_spark.sources.synth import spans_from_files
from tests.conftest import requires_reference
from tests.golden import (
    assert_pr,
    golden_edge_atoms,
    golden_node_atoms,
    spark_atoms,
)
from tests.reference_shim import lift_chain, load_ref

S = "/root/reference/samples"
AUX = "/root/reference/aux_files"
REGISTRY = load_default_registry()

# every test runs a reference adapter as its golden oracle
pytestmark = requires_reference("biocypher_metta")


def lines_of(spark, path, kind="x"):
    return span_lines(spans_from_files(spark, {kind: path}), kind)


def _rsids_from_csv(path, col=0, gz=True):
    opener = gzip.open if gz else open
    out = []
    with opener(path, "rt") as f:
        next(f)
        for row in csv.reader(f):
            if row:
                out.append(row[col])
    return out


def make_rsid_map(paths, chr_col=None):
    """Deterministic fake dbsnp rsid -> {chr,pos} map covering the rsids
    in the given sample files; every 5th rsid is left unmapped to
    exercise the skip path."""
    rsids = []
    for p in paths:
        rsids.extend(_rsids_from_csv(p))
    rsids = sorted(set(rsids))
    m = {}
    for i, r in enumerate(rsids):
        if i % 5 == 4:
            continue
        m[r] = {"chr": f"chr{1 + i % 22}", "pos": 10_000 + 7 * i}
    return m


def rsid_dim_df(spark, m):
    rows = [(k, v["chr"], v["pos"]) for k, v in sorted(m.items())]
    return spark.createDataFrame(rows, "rsid string, chr string, pos long")


# --------------------------------------------------------------------------
# Roadmap
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def roadmap_golden_inputs():
    import os

    files = []
    for sub in ["chromatin_state", "dhs", "h3_marks"]:
        d = f"{S}/roadmap/{sub}"
        files.extend(f"{d}/{fn}" for fn in sorted(os.listdir(d)))
    return files


def test_roadmap_parity(spark, roadmap_golden_inputs):
    mod = load_ref("biocypher_metta.adapters.roadmap_adapter")
    rsid_map = make_rsid_map(roadmap_golden_inputs)
    golden = set()
    ours = set()
    tissue_dim = dims.dim_from_pickle(spark, f"{AUX}/roadmap_tissues_to_ontology_map.pkl")
    rdim = rsid_dim_df(spark, rsid_map)
    for sub in ["chromatin_state", "dhs", "h3_marks"]:
        ref = mod.RoadMapAdapter(
            filepath=f"{S}/roadmap/{sub}",
            tissue_to_ontology_id_map=f"{AUX}/roadmap_tissues_to_ontology_map.pkl",
            dbsnp_rsid_map=rsid_map,
            write_properties=True, add_provenance=True)
        golden |= golden_node_atoms(ref.get_nodes())
        import os

        parts = []
        for fn in sorted(os.listdir(f"{S}/roadmap/{sub}")):
            parts.append(lines_of(spark, f"{S}/roadmap/{sub}/{fn}", kind="rm"))
        lines = parts[0]
        for p in parts[1:]:
            lines = lines.unionByName(p)
        _, atoms = fg.roadmap_nodes(lines, tissue_dim, rdim)
        ours |= spark_atoms(atoms)
    assert_pr(ours, golden, 1.0, "roadmap nodes")


# --------------------------------------------------------------------------
# ABC
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def abc_rsid_map():
    return make_rsid_map([f"{S}/abc.forgedb_sample.csv.gz"])


def test_abc_nodes_parity(spark, abc_rsid_map):
    mod = load_ref("biocypher_metta.adapters.abc_adapter")
    ref = mod.ABCAdapter(filepath=f"{S}/abc.forgedb_sample.csv.gz", type="node",
                         hgnc_to_ensembl_map=f"{AUX}/hgnc_to_ensembl.pkl",
                         tissue_to_ontology_id_map=f"{AUX}/abc_tissues_to_ontology_map.pkl",
                         dbsnp_rsid_map=abc_rsid_map,
                         write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    tissue = dims.dim_from_pickle(spark, f"{AUX}/abc_tissues_to_ontology_map.pkl")
    rdim = rsid_dim_df(spark, abc_rsid_map)
    _, atoms = fg.abc_nodes(lines_of(spark, f"{S}/abc.forgedb_sample.csv.gz"),
                            tissue, rdim)
    assert_pr(spark_atoms(atoms), golden, 1.0, "abc nodes")


def test_abc_edges_parity(spark, abc_rsid_map):
    mod = load_ref("biocypher_metta.adapters.abc_adapter")
    ref = mod.ABCAdapter(filepath=f"{S}/abc.forgedb_sample.csv.gz", type="edge",
                         hgnc_to_ensembl_map=f"{AUX}/hgnc_to_ensembl.pkl",
                         tissue_to_ontology_id_map=f"{AUX}/abc_tissues_to_ontology_map.pkl",
                         dbsnp_rsid_map=abc_rsid_map,
                         write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    hgnc = dims.dim_from_pickle(spark, f"{AUX}/hgnc_to_ensembl.pkl")
    tissue = dims.dim_from_pickle(spark, f"{AUX}/abc_tissues_to_ontology_map.pkl")
    rdim = rsid_dim_df(spark, abc_rsid_map)
    _, atoms = fg.abc_edges(lines_of(spark, f"{S}/abc.forgedb_sample.csv.gz"),
                            hgnc, tissue, rdim, REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "abc edges")


# --------------------------------------------------------------------------
# CADD / RefSeq
# --------------------------------------------------------------------------


def test_cadd_parity(spark):
    mod = load_ref("biocypher_metta.adapters.cadd_adapter")
    m = make_rsid_map([f"{S}/cadd.forgedb_sample.csv.gz"])
    ref = mod.CADDAdapter(filepath=f"{S}/cadd.forgedb_sample.csv.gz",
                          dbsnp_rsid_map=m,
                          write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = fg.cadd_nodes(lines_of(spark, f"{S}/cadd.forgedb_sample.csv.gz"),
                             rsid_dim_df(spark, m))
    assert_pr(spark_atoms(atoms), golden, 1.0, "cadd nodes")


def test_refseq_parity(spark):
    mod = load_ref("biocypher_metta.adapters.refseq_closest_gene_adapter")
    m = make_rsid_map([f"{S}/closest_gene.forgedb_sample.csv.gz"])
    ref = mod.RefSeqClosestGeneAdapter(
        filepath=f"{S}/closest_gene.forgedb_sample.csv.gz",
        hgnc_to_ensembl_map=f"{AUX}/hgnc_to_ensembl.pkl",
        dbsnp_rsid_map=m, write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    hgnc = dims.dim_from_pickle(spark, f"{AUX}/hgnc_to_ensembl.pkl")
    _, atoms = fg.refseq_closest_gene_edges(
        lines_of(spark, f"{S}/closest_gene.forgedb_sample.csv.gz"),
        hgnc, rsid_dim_df(spark, m), REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "refseq closest gene")


# --------------------------------------------------------------------------
# TopLD
# --------------------------------------------------------------------------


def test_topld_parity(spark):
    mod = load_ref("biocypher_metta.adapters.topld_adapter")
    path = f"{S}/topld/EUR/topld_eur_chr16_sample.csv.gz"
    positions = set()
    with gzip.open(path, "rt") as f:
        next(f)
        for row in csv.reader(f):
            positions.add(int(row[0]))
            positions.add(int(row[1]))
    pos_map = {}
    for i, p in enumerate(sorted(positions)):
        if i % 7 == 6:
            continue  # unmapped positions exercise the skip path
        pos_map[f"chr16_{p}"] = f"rs9{p}"
    ref = mod.TopLDAdapter(filepath=path, dbsnp_pos_map=pos_map, chr="chr16",
                           ancestry="EUR", write_properties=True,
                           add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    dim = dims.dim_from_map(spark, pos_map)
    _, atoms = fg.topld_edges(lines_of(spark, path), dim, "chr16", "EUR",
                              REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "topld edges")


# --------------------------------------------------------------------------
# GTEx
# --------------------------------------------------------------------------


def test_gtex_parity(spark, fixtures_dir):
    mod = load_ref("biocypher_metta.adapters.gtex_eqtl_adapter")
    # isolate the .gz (the reference would crash on the plain-text twin
    # sitting in the same sample dir)
    gdir = fixtures_dir / "gtex"
    gdir.mkdir(exist_ok=True)
    shutil.copy(f"{S}/gtex/Adipose_Subcutaneous.v8.egenes.txt.gz", gdir)
    ref = mod.GTExEQTLAdapter(
        filepath=str(gdir),
        gtex_tissue_ontology_map=f"{AUX}/gtex_tissues_to_ontology_map.pkl",
        write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    tissue = dims.dim_from_pickle(spark, f"{AUX}/gtex_tissues_to_ontology_map.pkl")
    lines = lines_of(spark, f"{S}/gtex/Adipose_Subcutaneous.v8.egenes.txt.gz") \
        .withColumn("tissue", F.lit("Adipose_Subcutaneous"))
    _, atoms = fg.gtex_eqtl_edges(lines, tissue, REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "gtex eqtl edges")


# --------------------------------------------------------------------------
# dbSUPER (liftover) / PEREGRINE / FAVOR
# --------------------------------------------------------------------------


def test_dbsuper_nodes_parity(spark):
    mod = load_ref("biocypher_metta.adapters.dbsuper_adapter")
    ref = mod.DBSuperAdapter(filepath=f"{S}/dbSUPER_SuperEnhancers_hg19.tsv.gz",
                             hgnc_to_ensembl_map=f"{AUX}/hgnc_to_ensembl.pkl",
                             dbsuper_tissues_map=f"{AUX}/dbsuper_tissues_map.pkl",
                             write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    lifted = reg.dbsuper_lifted(
        lines_of(spark, f"{S}/dbSUPER_SuperEnhancers_hg19.tsv.gz"),
        chain_blocks(spark, lift_chain()))
    _, atoms = reg.dbsuper_nodes(lifted)
    assert_pr(spark_atoms(atoms), golden, 1.0, "dbsuper nodes")


def test_dbsuper_edges_parity(spark):
    mod = load_ref("biocypher_metta.adapters.dbsuper_adapter")
    ref = mod.DBSuperAdapter(filepath=f"{S}/dbSUPER_SuperEnhancers_hg19.tsv.gz",
                             hgnc_to_ensembl_map=f"{AUX}/hgnc_to_ensembl.pkl",
                             dbsuper_tissues_map=f"{AUX}/dbsuper_tissues_map.pkl",
                             type="super enhancer to gene association",
                             label="super_enhancer_gene",
                             write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    lifted = reg.dbsuper_lifted(
        lines_of(spark, f"{S}/dbSUPER_SuperEnhancers_hg19.tsv.gz"),
        chain_blocks(spark, lift_chain()))
    hgnc = dims.dim_from_pickle(spark, f"{AUX}/hgnc_to_ensembl.pkl")
    tissue = dims.dim_from_pickle(spark, f"{AUX}/dbsuper_tissues_map.pkl")
    _, atoms = reg.dbsuper_edges(lifted, hgnc, tissue, REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "dbsuper edges")


def test_peregrine_nodes_parity(spark):
    mod = load_ref("biocypher_metta.adapters.peregrine_adapter")
    ref = mod.PEREGRINEAdapter(
        enhancers_file=f"{S}/peregrine/PEREGRINEenhancershg38.gz",
        enhancer_gene_link=f"{S}/peregrine/sample_enhancer_gene_link_18.tsv.gz",
        source_file=f"{S}/peregrine/PEREGRINEenhancersources.gz",
        hgnc_ensembl_map=f"{AUX}/hgnc_ensembl_map.pkl",
        tissue_ontology_map=f"{AUX}/peregrine_tissues_to_ontology_map.pkl",
        write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = reg.peregrine_nodes(
        lines_of(spark, f"{S}/peregrine/PEREGRINEenhancershg38.gz"),
        lines_of(spark, f"{S}/peregrine/PEREGRINEenhancersources.gz"))
    assert_pr(spark_atoms(atoms), golden, 1.0, "peregrine nodes")


def test_peregrine_edges_parity(spark):
    mod = load_ref("biocypher_metta.adapters.peregrine_adapter")
    ref = mod.PEREGRINEAdapter(
        enhancers_file=f"{S}/peregrine/PEREGRINEenhancershg38.gz",
        enhancer_gene_link=f"{S}/peregrine/sample_enhancer_gene_link_18.tsv.gz",
        source_file=f"{S}/peregrine/PEREGRINEenhancersources.gz",
        hgnc_ensembl_map=f"{AUX}/hgnc_ensembl_map.pkl",
        tissue_ontology_map=f"{AUX}/peregrine_tissues_to_ontology_map.pkl",
        type="enhancer to gene association", label="enhancer_gene",
        write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    hgnc = dims.dim_from_pickle(spark, f"{AUX}/hgnc_ensembl_map.pkl")
    tmap = dims.load_pickle_map(f"{AUX}/peregrine_tissues_to_ontology_map.pkl")
    tissue = dims.dim_from_map(spark, {k: v[0] for k, v in tmap.items()})
    _, atoms = reg.peregrine_edges(
        lines_of(spark, f"{S}/peregrine/PEREGRINEenhancershg38.gz"),
        lines_of(spark, f"{S}/peregrine/sample_enhancer_gene_link_18.tsv.gz"),
        hgnc, tissue, REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "peregrine edges")


def test_favor_parity(spark):
    mod = load_ref("biocypher_metta.adapters.favor_adapter")
    ref = mod.FavorAdapter(filepath=f"{S}/favor_chr16_sample.csv",
                           write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = var.favor_nodes(lines_of(spark, f"{S}/favor_chr16_sample.csv"))
    assert_pr(spark_atoms(atoms), golden, 1.0, "favor nodes")
