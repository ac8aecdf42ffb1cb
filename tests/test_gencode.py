"""Gencode adapters parity vs the reference on the real sample GTF,
routed through the interleaved documents span table (the graft's input
shape), including the span-sequence invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biocypher_metta_spark.adapters import gencode
from biocypher_metta_spark.schema import load_default_registry
from biocypher_metta_spark.sources.documents import assert_span_invariant, span_lines
from biocypher_metta_spark.sources.gtf import GENE_KEYS, parse_gtf
from biocypher_metta_spark.sources.synth import spans_from_files
from tests.conftest import requires_reference
from tests.golden import (
    assert_pr,
    golden_edge_atoms,
    golden_node_atoms,
    spark_atoms,
)
from tests.reference_shim import load_ref

GTF = "/root/reference/samples/gencode_sample.gtf.gz"
REGISTRY = load_default_registry()

pytestmark = requires_reference("samples/gencode_sample.gtf.gz")
needs_ref_code = requires_reference("biocypher_metta")


@pytest.fixture(scope="module")
def docs(spark):
    d = spans_from_files(spark, {"gtf": GTF})
    d.cache().count()
    return d


@pytest.fixture(scope="module")
def gtf_df(spark, docs):
    lines = span_lines(docs, "gtf")
    g = parse_gtf(lines, keys=GENE_KEYS + ["exon_number", "exon_id"]).cache()
    g.count()
    return g


def test_span_invariant(docs):
    # identity pipeline stage must preserve span sequences; a mutated copy must not
    assert assert_span_invariant(docs, docs) == 0
    mutated = docs.withColumn(
        "spans",
        F.expr("transform(spans, s -> named_struct('kind', s.kind, 'text',"
               " upper(s.text), 'media_ref', s.media_ref, 'offset', s.offset))"),
    )
    assert assert_span_invariant(docs, mutated) > 0


def _ref_gene_adapter(gene_info_path, **kw):
    mod = load_ref("biocypher_metta.adapters.gencode_gene_adapter")
    return mod.GencodeGeneAdapter(
        write_properties=kw.get("write_properties", True),
        add_provenance=kw.get("add_provenance", True),
        filepath=GTF, gene_alias_file_path=str(gene_info_path),
        chr=kw.get("chr"), start=kw.get("start"), end=kw.get("end"),
    )


@needs_ref_code
def test_gene_nodes_parity(spark, gtf_df, gene_info_path):
    golden = golden_node_atoms(_ref_gene_adapter(gene_info_path).get_nodes())
    alias = gencode.parse_gene_alias(spark, str(gene_info_path))
    _, atoms = gencode.gene_nodes(gtf_df, alias)
    assert_pr(spark_atoms(atoms), golden, 1.0, "gencode gene nodes")


@needs_ref_code
def test_gene_nodes_window_parity(spark, gtf_df, gene_info_path):
    kw = dict(chr="chr20", start=9_500_000, end=10_000_000)
    golden = golden_node_atoms(_ref_gene_adapter(gene_info_path, **kw).get_nodes())
    assert golden, "window should keep at least one sample gene"
    alias = gencode.parse_gene_alias(spark, str(gene_info_path))
    _, atoms = gencode.gene_nodes(gtf_df, alias, **kw)
    assert_pr(spark_atoms(atoms), golden, 1.0, "gencode gene nodes windowed")


@needs_ref_code
def test_transcript_nodes_parity(spark, gtf_df):
    mod = load_ref("biocypher_metta.adapters.gencode_adapter")
    ref = mod.GencodeAdapter(write_properties=True, add_provenance=True,
                             filepath=GTF, type="transcript", label="transcript")
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = gencode.transcript_nodes(gtf_df)
    assert_pr(spark_atoms(atoms), golden, 1.0, "gencode transcript nodes")


@pytest.mark.parametrize("direction,reftype,label", [
    ("to", "transcribed to", "transcribed_to"),
    ("from", "transcribed from", "transcribed_from"),
])
@needs_ref_code
def test_transcribed_edges_parity(spark, gtf_df, direction, reftype, label):
    mod = load_ref("biocypher_metta.adapters.gencode_adapter")
    ref = mod.GencodeAdapter(write_properties=True, add_provenance=True,
                             filepath=GTF, type=reftype, label=label)
    golden = golden_edge_atoms(ref.get_edges())
    _, atoms = gencode.transcribed_edges(gtf_df, REGISTRY, direction)
    assert_pr(spark_atoms(atoms), golden, 1.0, f"gencode {label}")


@needs_ref_code
def test_exon_nodes_parity(spark, gtf_df):
    mod = load_ref("biocypher_metta.adapters.gencode_exon_adapter")
    ref = mod.GencodeExonAdapter(write_properties=True, add_provenance=True,
                                 filepath=GTF)
    golden = golden_node_atoms(ref.get_nodes())
    _, atoms = gencode.exon_nodes(gtf_df)
    assert_pr(spark_atoms(atoms), golden, 1.0, "gencode exon nodes")
