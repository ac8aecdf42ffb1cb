"""Full-config integration: EVERY registry adapter in one pipeline run
over one interleaved documents table built from the reference samples,
with all dimensions wired — the create_knowledge_graph.py equivalent."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from biocypher_metta_spark import dims, pipeline
from biocypher_metta_spark.functions.liftover import chain_blocks
from biocypher_metta_spark.schema import load_default_registry
from biocypher_metta_spark.sources.synth import spans_from_files
from tests.conftest import requires_reference
from tests.reference_shim import lift_chain
from tests.test_adapters_batch2 import make_rsid_map, rsid_dim_df

S = "/root/reference/samples"
AUX = "/root/reference/aux_files"
REGISTRY = load_default_registry()

# the fixture reads ~30 sample files (listing whole sample dirs) and
# nine aux pickles
pytestmark = requires_reference("samples", "aux_files")


@pytest.fixture(scope="module")
def full_ctx(spark, gene_info_path, fixtures_dir):
    import gzip

    # dbsnp fixture VCF (shared shape with test_adapters_batch1)
    vcf = fixtures_dir / "dbsnp_full.vcf.gz"
    with gzip.open(vcf, "wt") as f:
        f.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
        f.write("16\t53000100\trs1000\tG\tC\t.\t.\tRS=1000;CAF=0.9,0.1\n")
        f.write("1\t10177\trs367896724\tA\tAC\t.\t.\tRS=367896724\n")

    files = {
        "gtf": f"{S}/gencode_sample.gtf.gz",
        "vcf": str(vcf),
        "dgv": f"{S}/dgv_GRCh38_hg38_variants.txt.gz",
        "favor": f"{S}/favor_chr16_sample.csv",
        "reactome_pathways": f"{S}/reactome/ReactomePathways.txt",
        "reactome_pmids": f"{S}/reactome/ReactionPMIDS.txt",
        "reactome_gene_map": f"{S}/reactome/Ensembl2Reactome_All_Levels_sample.txt",
        "reactome_relations": f"{S}/reactome/ReactomePathwaysRelation.txt",
        "string": f"{S}/string_human_ppi_v12.0.txt.gz",
        "tflink": f"{S}/tflink_homo_sapiens_interactions.tsv.gz",
        "epd": f"{S}/Hs_EPDnew.bed.gz",
        "ea_bed": f"{S}/enhancer_atlas/enhancer.bed.gz",
        "tadmap": f"{S}/tad_sample.csv",
        "dbsuper": f"{S}/dbSUPER_SuperEnhancers_hg19.tsv.gz",
        "peregrine_enhancers": f"{S}/peregrine/PEREGRINEenhancershg38.gz",
        "peregrine_sources": f"{S}/peregrine/PEREGRINEenhancersources.gz",
        "peregrine_links": f"{S}/peregrine/sample_enhancer_gene_link_18.tsv.gz",
        "rna_bed": f"{S}/rna_central/sample_homo_sapiens.GRCh38.bed.gz",
        "rna_rfam": f"{S}/rna_central/sample_rnacentral_rfam_annotations.tsv.gz",
        "hocomoco_annotation": f"{S}/motifs/HOCOMOCOv11_core_annotation_HUMAN_mono.tsv",
        "gaf": f"{S}/goa_human_sample.gaf.gz",
        "swiss_record": None,  # handled below (record-per-span)
        "abc": f"{S}/abc.forgedb_sample.csv.gz",
        "cadd": f"{S}/cadd.forgedb_sample.csv.gz",
        "closest_gene": f"{S}/closest_gene.forgedb_sample.csv.gz",
        "topld": f"{S}/topld/EUR/topld_eur_chr16_sample.csv.gz",
        "gtex:Adipose_Subcutaneous": f"{S}/gtex/Adipose_Subcutaneous.v8.egenes.txt.gz",
        "coxpresdb:1": f"{S}/coxpressdb/1",
        "coxpresdb:2": f"{S}/coxpressdb/2",
    }
    files.pop("swiss_record")
    for sub in ["chromatin_state", "dhs", "h3_marks"]:
        for fn in sorted(os.listdir(f"{S}/roadmap/{sub}")):
            files[f"roadmap"] = f"{S}/roadmap/{sub}/{fn}"  # last wins; add below
    # roadmap / ea_gene / pwm need multiple files per kind — build those
    # docs separately and union
    base_docs = spans_from_files(spark, files)
    extra = {}
    for sub in ["chromatin_state", "dhs", "h3_marks"]:
        for i, fn in enumerate(sorted(os.listdir(f"{S}/roadmap/{sub}"))):
            extra[f"roadmap#{sub}#{i}"] = f"{S}/roadmap/{sub}/{fn}"
    ea_dir = f"{S}/enhancer_atlas/enhancer_gene"
    for fn in sorted(os.listdir(ea_dir)):
        extra[f"ea_gene:{fn.replace('_EP.txt', '')}"] = f"{ea_dir}/{fn}"
    for fn in sorted(os.listdir(f"{S}/motifs")):
        if fn.endswith(".pwm"):
            extra[f"pwm:{fn.replace('.pwm', '')}"] = f"{S}/motifs/{fn}"
    extra_docs = spans_from_files(spark, extra)
    # normalize roadmap#... kinds back to plain 'roadmap'
    extra_docs = extra_docs.withColumn(
        "spans",
        F.expr("transform(spans, s -> named_struct('kind',"
               " CASE WHEN s.kind LIKE 'roadmap#%' THEN 'roadmap' ELSE s.kind END,"
               " 'text', s.text, 'media_ref', s.media_ref, 'offset', s.offset))"))
    # swiss records: one record per span
    import gzip as _gz

    with _gz.open(f"{S}/uniprot_sprot_human_sample.dat.gz", "rt") as f:
        records = [r for r in f.read().split("\n//\n") if r.strip()]
    swiss_docs = spark.createDataFrame(
        [(f"swiss-{i}", [("swiss_record", r, None, 0)])
         for i, r in enumerate(records)],
        "doc_id string, spans array<struct<kind string, text string,"
        " media_ref string, offset int>>")
    docs = base_docs.unionByName(extra_docs).unionByName(swiss_docs)

    from biocypher_metta_spark.adapters import gencode

    rsid_map = make_rsid_map([
        f"{S}/abc.forgedb_sample.csv.gz", f"{S}/cadd.forgedb_sample.csv.gz",
        f"{S}/closest_gene.forgedb_sample.csv.gz",
    ] + [f"{S}/roadmap/{sub}/{fn}" for sub in ["chromatin_state", "dhs", "h3_marks"]
         for fn in sorted(os.listdir(f"{S}/roadmap/{sub}"))])
    import csv as _csv

    positions = set()
    with _gz.open(f"{S}/topld/EUR/topld_eur_chr16_sample.csv.gz", "rt") as f:
        next(f)
        for row in _csv.reader(f):
            positions.update([int(row[0]), int(row[1])])
    pos_map = {f"chr16_{p}": f"rs9{p}" for p in sorted(positions)}
    tmap = dims.load_pickle_map(f"{AUX}/peregrine_tissues_to_ontology_map.pkl")

    d = {
        "gene_alias": gencode.parse_gene_alias(spark, str(gene_info_path)),
        "ensembl_to_uniprot": dims.dim_from_pickle(spark, f"{AUX}/string_ensembl_uniprot_map.pkl"),
        "entrez_to_ensembl": dims.dim_from_pickle(spark, f"{AUX}/entrez_to_ensembl.pkl"),
        "hgnc_to_ensembl": dims.dim_from_pickle(spark, f"{AUX}/hgnc_to_ensembl.pkl"),
        "hgnc_ensembl_map": dims.dim_from_pickle(spark, f"{AUX}/hgnc_ensembl_map.pkl"),
        "ea_tissues": dims.dim_from_pickle(spark, f"{AUX}/enhancer_atlas_tissues_to_ontology.pkl"),
        "roadmap_tissues": dims.dim_from_pickle(spark, f"{AUX}/roadmap_tissues_to_ontology_map.pkl"),
        "abc_tissues": dims.dim_from_pickle(spark, f"{AUX}/abc_tissues_to_ontology_map.pkl"),
        "gtex_tissues": dims.dim_from_pickle(spark, f"{AUX}/gtex_tissues_to_ontology_map.pkl"),
        "dbsuper_tissues": dims.dim_from_pickle(spark, f"{AUX}/dbsuper_tissues_map.pkl"),
        "peregrine_tissues": dims.dim_from_map(spark, {k: v[0] for k, v in tmap.items()}),
        "dbsnp_rsid": rsid_dim_df(spark, rsid_map),
        "dbsnp_pos": dims.dim_from_map(spark, pos_map),
        "liftover": chain_blocks(spark, lift_chain()),
    }
    return pipeline.PipelineContext(spark, docs, REGISTRY, d)


FULL_CONFIG = [
    {"adapter": "gencode_gene"},
    {"adapter": "gencode_transcript"},
    {"adapter": "gencode_exon"},
    {"adapter": "transcribed_to"},
    {"adapter": "transcribed_from"},
    {"adapter": "dbsnp"},
    {"adapter": "dbvar"},  # vcf kind carries dbsnp lines; dbvar filters ALT types
    {"adapter": "dgv"},
    {"adapter": "favor"},
    {"adapter": "pathway"},
    {"adapter": "genes_pathways"},
    {"adapter": "parent_pathway_of", "args": {"label": "parent_pathway_of"}},
    {"adapter": "child_pathway_of", "args": {"label": "child_pathway_of"}},
    {"adapter": "string"},
    {"adapter": "tflink"},
    {"adapter": "coexpression"},
    {"adapter": "epd_promoter"},
    {"adapter": "epd_promoter_gene"},
    {"adapter": "enhancer_atlas"},
    {"adapter": "enhancer_atlas_gene"},
    {"adapter": "tadmap"},
    {"adapter": "dbsuper"},
    {"adapter": "dbsuper_gene"},
    {"adapter": "peregrine"},
    {"adapter": "peregrine_gene"},
    {"adapter": "rna_central"},
    {"adapter": "rna_central_go"},
    {"adapter": "hocomoco"},
    {"adapter": "gaf"},
    {"adapter": "uniprot_protein"},
    {"adapter": "uniprot_translates", "args": {"direction": "translates_to"}},
    {"adapter": "roadmap"},
    {"adapter": "abc"},
    {"adapter": "abc_gene"},
    {"adapter": "cadd"},
    {"adapter": "refseq_closest_gene"},
    {"adapter": "topld", "args": {"chr": "chr16", "ancestry": "EUR"}},
    {"adapter": "gtex_eqtl"},
]

EXPECTED_NODE_LABELS = {
    "gene", "transcript", "exon", "snp", "structural_variant",
    "sequence_variant", "pathway", "promoter", "enhancer", "tad",
    "super_enhancer", "non_coding_rna", "motif", "protein",
    "regulatory_region",
}
EXPECTED_EDGE_LABELS = {
    "transcribed_to", "transcribed_from", "genes_pathways",
    "parent_pathway_of", "child_pathway_of", "interacts_with", "tf_gene",
    "coexpressed_with", "promoter_gene", "enhancer_gene",
    "super_enhancer_gene", "go_rna", "go_gene_product", "translates_to",
    "regulatory_region_gene", "closest_gene", "in_ld_with",
    "gtex_variant_gene",
}


def test_full_pipeline_all_adapters(full_ctx, tmp_path):
    result = pipeline.build(full_ctx, FULL_CONFIG)
    # materialize FIRST, assert on the written store: each adapter-union
    # evaluation costs the whole 40-adapter plan, so every assertion reads
    # the cheap parquet/text back instead of re-deriving the union
    manifests = pipeline.materialize(result, str(tmp_path / "kg"), REGISTRY)
    assert manifests["nodes"] and manifests["edges"]
    nodes = full_ctx.spark.read.parquet(str(tmp_path / "kg/nodes"))
    edges = full_ctx.spark.read.parquet(str(tmp_path / "kg/edges"))
    node_counts = {r["label"]: r["count"] for r in
                   nodes.groupBy("label").count().collect()}
    edge_counts = {r["label"]: r["count"] for r in
                   edges.groupBy("label").count().collect()}
    missing_nodes = {l for l in EXPECTED_NODE_LABELS if not node_counts.get(l)}
    missing_edges = {l for l in EXPECTED_EDGE_LABELS if not edge_counts.get(l)}
    assert not missing_nodes, f"empty node labels: {missing_nodes} ({node_counts})"
    assert not missing_edges, f"empty edge labels: {missing_edges} ({edge_counts})"
    atoms = full_ctx.spark.read.text(str(tmp_path / "kg/metta"))
    assert atoms.count() > sum(node_counts.values()) + sum(edge_counts.values())
