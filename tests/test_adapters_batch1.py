"""Parity tests: variants / pathways / interactions / regulatory /
annotation adapters vs the reference run on its own samples, through the
span-table input shape."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from biocypher_metta_spark import dims
import biocypher_metta_spark.adapters.annotations as ann
from biocypher_metta_spark.adapters import interactions as inter
from biocypher_metta_spark.adapters import pathways as pw
from biocypher_metta_spark.adapters import regulatory as reg
from biocypher_metta_spark.adapters import variants as var
from biocypher_metta_spark.schema import load_default_registry
from biocypher_metta_spark.sources.documents import span_lines
from biocypher_metta_spark.sources.swiss import read_swiss_file
from biocypher_metta_spark.sources.synth import spans_from_files
from tests.conftest import requires_reference
from tests.golden import (
    assert_pr,
    golden_edge_atoms,
    golden_node_atoms,
    spark_atoms,
)
from tests.reference_shim import load_ref

S = "/root/reference/samples"
AUX = "/root/reference/aux_files"
REGISTRY = load_default_registry()

# every test runs a reference adapter as its golden oracle
pytestmark = requires_reference("biocypher_metta")


def lines_of(spark, path, kind="x"):
    docs = spans_from_files(spark, {kind: path})
    return span_lines(docs, kind)


# --------------------------------------------------------------------------
# dbSNP (synthesized fixture — no sample blob in the reference checkout)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dbsnp_vcf(fixtures_dir):
    path = fixtures_dir / "dbsnp_sample.vcf.gz"
    lines = [
        "##fileformat=VCFv4.0",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
        "1\t10177\trs367896724\tA\tAC\t.\t.\tRS=367896724;dbSNPBuildID=138;VC=DIV;R5;CAF=0.5747,0.4253;COMMON=1",
        "1\t10352\trs555500075\tT\tTA\t.\t.\tRS=555500075;VC=DIV;CAF=0.5625,0.4375;COMMON=1",
        "16\t53000100\trs1000\tG\tC\t.\t.\tRS=1000;VC=SNV",
        "16\t55999000\trs1001\tC\tT\t.\t.\tRS=1001;VC=SNV;CAF=0.99,0.01",
        "X\t1234\trs2000\tA\tG\t.\t.\tRS=2000;VC=SNV;CAF=0.7,0.3",
    ]
    with gzip.open(path, "wt") as f:
        f.write("\n".join(lines) + "\n")
    return path


def test_dbsnp_nodes_parity(spark, dbsnp_vcf):
    mod = load_ref("biocypher_metta.adapters.dbsnp_adapter")
    ref = mod.DBSNPAdapter(filepath=str(dbsnp_vcf), write_properties=True,
                           add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = var.dbsnp_nodes(lines_of(spark, dbsnp_vcf))
    assert_pr(spark_atoms(atoms), golden, 1.0, "dbsnp nodes")


def test_dbsnp_nodes_windowed_parity(spark, dbsnp_vcf):
    mod = load_ref("biocypher_metta.adapters.dbsnp_adapter")
    kw = dict(chr="16", start=53_000_000, end=56_000_000)
    ref = mod.DBSNPAdapter(filepath=str(dbsnp_vcf), write_properties=True,
                           add_provenance=True, **kw)
    golden = golden_node_atoms(ref.get_nodes())
    assert golden
    _, atoms = var.dbsnp_nodes(lines_of(spark, dbsnp_vcf), **kw)
    assert_pr(spark_atoms(atoms), golden, 1.0, "dbsnp nodes windowed")


def test_dbvar_nodes_parity(spark):
    mod = load_ref("biocypher_metta.adapters.dbvar_adapter")
    ref = mod.DBVarVariantAdapter(filepath=f"{S}/dbvar_sample.vcf.gz",
                                  write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = var.dbvar_nodes(lines_of(spark, f"{S}/dbvar_sample.vcf.gz"))
    assert_pr(spark_atoms(atoms), golden, 1.0, "dbvar nodes")


def test_dgv_nodes_parity(spark):
    mod = load_ref("biocypher_metta.adapters.dgv_variant_adapter")
    ref = mod.DGVVariantAdapter(filepath=f"{S}/dgv_GRCh38_hg38_variants.txt.gz",
                                write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = var.dgv_nodes(lines_of(spark, f"{S}/dgv_GRCh38_hg38_variants.txt.gz"))
    assert_pr(spark_atoms(atoms), golden, 1.0, "dgv nodes")


# --------------------------------------------------------------------------
# Reactome
# --------------------------------------------------------------------------


def test_pathway_nodes_parity(spark):
    mod = load_ref("biocypher_metta.adapters.reactome_pathway_adapter")
    ref = mod.ReactomePathwayAdapter(
        filepath=f"{S}/reactome/ReactomePathways.txt",
        pubmed_map_path=f"{S}/reactome/ReactionPMIDS.txt",
        write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = pw.pathway_nodes(
        lines_of(spark, f"{S}/reactome/ReactomePathways.txt"),
        lines_of(spark, f"{S}/reactome/ReactionPMIDS.txt"))
    assert_pr(spark_atoms(atoms), golden, 1.0, "pathway nodes")


@pytest.mark.parametrize("label,fname", [
    ("genes_pathways", "Ensembl2Reactome_All_Levels_sample.txt"),
    ("parent_pathway_of", "ReactomePathwaysRelation.txt"),
    ("child_pathway_of", "ReactomePathwaysRelation.txt"),
])
def test_reactome_edges_parity(spark, label, fname):
    mod = load_ref("biocypher_metta.adapters.reactome_adapter")
    ref = mod.ReactomeAdapter(filepath=f"{S}/reactome/{fname}", label=label,
                              write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    lines = lines_of(spark, f"{S}/reactome/{fname}")
    if label == "genes_pathways":
        _, atoms = pw.genes_pathways_edges(lines, REGISTRY)
    else:
        _, atoms = pw.pathway_rel_edges(lines, REGISTRY, label)
    assert_pr(spark_atoms(atoms), golden, 1.0, f"reactome {label}")


# --------------------------------------------------------------------------
# STRING / TFLink / CoXPresdb
# --------------------------------------------------------------------------


def test_string_ppi_parity(spark):
    mod = load_ref("biocypher_metta.adapters.string_ppi_adapter")
    ref = mod.StringPPIAdapter(
        filepath=f"{S}/string_human_ppi_v12.0.txt.gz",
        ensembl_to_uniprot_map=f"{AUX}/string_ensembl_uniprot_map.pkl",
        write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    dim = dims.dim_from_pickle(spark, f"{AUX}/string_ensembl_uniprot_map.pkl")
    _, atoms = inter.string_ppi_edges(
        lines_of(spark, f"{S}/string_human_ppi_v12.0.txt.gz"), dim, REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "string ppi")


def test_tflink_parity(spark):
    mod = load_ref("biocypher_metta.adapters.tflink_adapter")
    ref = mod.TFLinkAdapter(
        filepath=f"{S}/tflink_homo_sapiens_interactions.tsv.gz",
        entrez_to_ensemble_map=f"{AUX}/entrez_to_ensembl.pkl",
        write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    dim = dims.dim_from_pickle(spark, f"{AUX}/entrez_to_ensembl.pkl")
    _, atoms = inter.tflink_edges(
        lines_of(spark, f"{S}/tflink_homo_sapiens_interactions.tsv.gz"),
        dim, REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "tflink")


def test_coxpresdb_parity(spark):
    mod = load_ref("biocypher_metta.adapters.coxpresdb_adapter")
    ref = mod.CoxpresdbAdapter(
        filepath=f"{S}/coxpressdb",
        ensemble_to_entrez_path=f"{AUX}/entrez_to_ensembl.pkl",
        write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    dim = dims.dim_from_pickle(spark, f"{AUX}/entrez_to_ensembl.pkl")
    per_file = []
    for entrez in ["1", "2"]:
        l = lines_of(spark, f"{S}/coxpressdb/{entrez}", kind="cx")
        per_file.append(l.withColumn("file_entrez", F.lit(entrez)))
    lines = per_file[0].unionByName(per_file[1])
    _, atoms = inter.coxpresdb_edges(lines, dim, REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "coxpresdb")


# --------------------------------------------------------------------------
# EPD / EnhancerAtlas / TADMap
# --------------------------------------------------------------------------


def test_epd_nodes_parity(spark):
    mod = load_ref("biocypher_metta.adapters.epd_adapter")
    ref = mod.EPDAdapter(filepath=f"{S}/Hs_EPDnew.bed.gz",
                         hgnc_to_ensembl_map=f"{AUX}/hgnc_to_ensembl.pkl",
                         write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = reg.epd_promoter_nodes(lines_of(spark, f"{S}/Hs_EPDnew.bed.gz"))
    assert_pr(spark_atoms(atoms), golden, 1.0, "epd promoter nodes")


def test_epd_edges_parity(spark):
    mod = load_ref("biocypher_metta.adapters.epd_adapter")
    ref = mod.EPDAdapter(filepath=f"{S}/Hs_EPDnew.bed.gz",
                         hgnc_to_ensembl_map=f"{AUX}/hgnc_to_ensembl.pkl",
                         type="promoter to gene association",
                         label="promoter_gene",
                         write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    dim = dims.dim_from_pickle(spark, f"{AUX}/hgnc_to_ensembl.pkl")
    _, atoms = reg.epd_promoter_gene_edges(
        lines_of(spark, f"{S}/Hs_EPDnew.bed.gz"), dim, REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "epd promoter edges")


def test_enhancer_atlas_nodes_parity(spark):
    mod = load_ref("biocypher_metta.adapters.enhancer_atlas_adapter")
    ref = mod.EnhancerAtlasAdapter(
        enhancer_filepath=f"{S}/enhancer_atlas/enhancer.bed.gz",
        enhancer_gene_filepath=f"{S}/enhancer_atlas/enhancer_gene",
        tissue_to_ontology_filepath=f"{AUX}/enhancer_atlas_tissues_to_ontology.pkl",
        write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = reg.enhancer_atlas_nodes(
        lines_of(spark, f"{S}/enhancer_atlas/enhancer.bed.gz"))
    assert_pr(spark_atoms(atoms), golden, 1.0, "enhancer atlas nodes")


def test_enhancer_atlas_edges_parity(spark):
    import os

    mod = load_ref("biocypher_metta.adapters.enhancer_atlas_adapter")
    ref = mod.EnhancerAtlasAdapter(
        enhancer_filepath=f"{S}/enhancer_atlas/enhancer.bed.gz",
        enhancer_gene_filepath=f"{S}/enhancer_atlas/enhancer_gene",
        tissue_to_ontology_filepath=f"{AUX}/enhancer_atlas_tissues_to_ontology.pkl",
        type="enhancer to gene association", input_label="enhancer_gene",
        write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    dim = dims.dim_from_pickle(spark, f"{AUX}/enhancer_atlas_tissues_to_ontology.pkl")
    parts = []
    d = f"{S}/enhancer_atlas/enhancer_gene"
    for fn in sorted(os.listdir(d)):
        tissue = fn.replace("_EP.txt", "")
        parts.append(lines_of(spark, f"{d}/{fn}", kind="ea")
                     .withColumn("tissue", F.lit(tissue)))
    lines = parts[0]
    for p in parts[1:]:
        lines = lines.unionByName(p)
    _, atoms = reg.enhancer_atlas_edges(lines, dim, REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "enhancer atlas edges")


def test_tadmap_parity(spark):
    mod = load_ref("biocypher_metta.adapters.tadmap_adapter")
    ref = mod.TADMapAdapter(filepath=f"{S}/tad_sample.csv",
                            write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = reg.tadmap_nodes(lines_of(spark, f"{S}/tad_sample.csv"))
    assert_pr(spark_atoms(atoms), golden, 1.0, "tadmap nodes")


# --------------------------------------------------------------------------
# HOCOMOCO / GAF / RNAcentral / UniProt
# --------------------------------------------------------------------------


def test_hocomoco_parity(spark):
    import os

    mod = load_ref("biocypher_metta.adapters.hocomoco_motif_adapter")
    ref = mod.HoCoMoCoMotifAdapter(
        filepath=f"{S}/motifs",
        annotation_file=f"{S}/motifs/HOCOMOCOv11_core_annotation_HUMAN_mono.tsv",
        hgnc_to_ensembl_map=f"{AUX}/hgnc_to_ensembl.pkl",
        write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    parts = []
    for fn in sorted(os.listdir(f"{S}/motifs")):
        if not fn.endswith(".pwm"):
            continue
        model = fn.replace(".pwm", "")
        l = lines_of(spark, f"{S}/motifs/{fn}", kind="pwm")
        parts.append(l.withColumn("model", F.lit(model))
                     .withColumn("row_order", F.col("offset")))
    lines = parts[0]
    for p in parts[1:]:
        lines = lines.unionByName(p)
    model_tf = ann.parse_model_tf(
        lines_of(spark, f"{S}/motifs/HOCOMOCOv11_core_annotation_HUMAN_mono.tsv"))
    hgnc = dims.dim_from_pickle(spark, f"{AUX}/hgnc_to_ensembl.pkl")
    _, atoms = ann.hocomoco_motif_nodes(lines, model_tf, hgnc)
    assert_pr(spark_atoms(atoms), golden, 1.0, "hocomoco motifs")


def test_gaf_parity(spark):
    mod = load_ref("biocypher_metta.adapters.gaf_adapter")
    ref = mod.GAFAdapter(filepath=f"{S}/goa_human_sample.gaf.gz",
                         write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    _, atoms = ann.gaf_edges(lines_of(spark, f"{S}/goa_human_sample.gaf.gz"),
                             REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "gaf edges")


def test_rna_central_nodes_parity(spark):
    mod = load_ref("biocypher_metta.adapters.rna_central_adapter")
    ref = mod.RNACentralAdapter(
        filepath=f"{S}/rna_central/sample_homo_sapiens.GRCh38.bed.gz",
        rfam_filepath=f"{S}/rna_central/sample_rnacentral_rfam_annotations.tsv.gz",
        write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = ann.rna_central_nodes(
        lines_of(spark, f"{S}/rna_central/sample_homo_sapiens.GRCh38.bed.gz"))
    assert_pr(spark_atoms(atoms), golden, 1.0, "rna central nodes")


def test_rna_central_edges_parity(spark):
    mod = load_ref("biocypher_metta.adapters.rna_central_adapter")
    ref = mod.RNACentralAdapter(
        filepath=f"{S}/rna_central/sample_homo_sapiens.GRCh38.bed.gz",
        rfam_filepath=f"{S}/rna_central/sample_rnacentral_rfam_annotations.tsv.gz",
        type="go rna", label="go_rna",
        write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    _, atoms = ann.rna_central_go_edges(
        lines_of(spark, f"{S}/rna_central/sample_rnacentral_rfam_annotations.tsv.gz"),
        REGISTRY)
    assert_pr(spark_atoms(atoms), golden, 1.0, "rna central go edges")


def test_uniprot_protein_parity(spark):
    mod = load_ref("biocypher_metta.adapters.uniprot_protein_adapter")
    ref = mod.UniprotProteinAdapter(
        filepath=f"{S}/uniprot_sprot_human_sample.dat.gz",
        write_properties=True, add_provenance=True)
    golden = golden_node_atoms(ref.get_nodes())
    recs = read_swiss_file(spark, f"{S}/uniprot_sprot_human_sample.dat.gz")
    _, atoms = ann.uniprot_protein_nodes(recs)
    assert_pr(spark_atoms(atoms), golden, 1.0, "uniprot protein nodes")


@pytest.mark.parametrize("reftype,label", [
    ("translates to", "translates_to"),
    ("translation of", "translation_of"),
])
def test_uniprot_edges_parity(spark, reftype, label):
    mod = load_ref("biocypher_metta.adapters.uniprot_adapter")
    ref = mod.UniprotAdapter(filepath=f"{S}/uniprot_sprot_human_sample.dat.gz",
                             type=reftype, label=label,
                             write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    recs = read_swiss_file(spark, f"{S}/uniprot_sprot_human_sample.dat.gz")
    _, atoms = ann.uniprot_translation_edges(recs, REGISTRY, label)
    assert_pr(spark_atoms(atoms), golden, 1.0, f"uniprot {label}")


def test_gaf_rna_parity(spark):
    """gaf_type='rna': DB_Object_ID routed through the RNAcentral
    '{urs}_{taxid}' -> transcript map (J9, gaf_adapter.py:68-91)."""
    mod = load_ref("biocypher_metta.adapters.gaf_adapter")
    mod.GAFAdapter.RNACENTRAL_ID_MAPPING_PATH = \
        f"{S}/rnacentral_ensembl_gencode.tsv.gz"
    ref = mod.GAFAdapter(filepath=f"{S}/goa_human_rna.gaf.gz",
                         gaf_type="rna",
                         write_properties=True, add_provenance=True)
    golden = golden_edge_atoms(ref.get_edges())
    rmap = ann.parse_rnacentral_gencode_map(
        lines_of(spark, f"{S}/rnacentral_ensembl_gencode.tsv.gz"))
    _, atoms = ann.gaf_edges(lines_of(spark, f"{S}/goa_human_rna.gaf.gz"),
                             REGISTRY, gaf_type="rna", rnacentral_map=rmap)
    assert_pr(spark_atoms(atoms), golden, 1.0, "gaf rna edges")
