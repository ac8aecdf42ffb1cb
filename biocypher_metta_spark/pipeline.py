"""Config-driven KG construction pipeline — the Spark twin of
create_knowledge_graph.py:15-72.

The reference reflects adapter classes out of a YAML config and pulls
their generators through the writer one at a time, re-reading shared
files per entry (e.g. the GENCODE GTF 3-5x). Here each config entry
contributes a DataFrame fragment to ONE logical plan:

    documents spans ──┬─ span_lines(kind) ─ parse (cached) ─ extract ─┐
    dimensions ───────┴────── broadcast joins ────────────────────────┤
                                   union of nodes (deduped), edges, atoms

Each `PIPELINE_REGISTRY` entry is one direct adapter call that names the
span kinds (`ctx.lines`, `ctx.lines_keyed`, the cached `ctx.gtf` and
`ctx.swiss` parses), the dimensions (`ctx.dims[...]`) and the schema
registry it reads; only dbSUPER (a cached lifted scan shared by its two
entries), HOCOMOCO and GAF need a few lines more.

`materialize` then writes three independent branches as concurrent Spark
jobs, each from its own thread:

    nodes ─ partitioned write ─ manifest read-back ─┐
    edges ─ partitioned write ─ manifest read-back ─┼─ all succeeded ─ type_defs.metta
    atoms ─ .metta shards ──────────────────────────┘                  + _lineage/*.json

The GTF and UniProt parses are cached once and shared. Every other
`ctx.lines`/`ctx.lines_keyed` read is uncached: it scans the documents
table once for the entry that makes it, in each output (nodes, edges,
atoms) that entry feeds; Catalyst does not share those scans. Outputs
are written with dynamic partition overwrite + lineage manifests
(resume).
"""

from __future__ import annotations

import uuid
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

import biocypher_metta_spark.adapters.annotations as ann
from biocypher_metta_spark import lineage, sinks
from biocypher_metta_spark.adapters import (
    forgedb,
    gencode,
    interactions,
    ontology,
    pathways,
    variants,
)
from biocypher_metta_spark.adapters import regulatory as reg
from biocypher_metta_spark.canonicalize import dedup_nodes
from biocypher_metta_spark.schema import SchemaRegistry, load_default_registry
from biocypher_metta_spark.sources.documents import keyed_span_lines, span_lines
from biocypher_metta_spark.sources.gtf import GENE_KEYS, parse_gtf
from biocypher_metta_spark.sources.swiss import parse_swiss_spans

# the attribute keys every cached GTF parse extracts: the gene/transcript
# adapters' keys plus the exon adapter's
GTF_KEYS = GENE_KEYS + ["exon_number", "exon_id"]


@dataclass
class PipelineContext:
    spark: SparkSession
    docs: DataFrame
    registry: SchemaRegistry = field(default_factory=load_default_registry)
    dims: dict[str, DataFrame] = field(default_factory=dict)
    _cache: dict = field(default_factory=dict)

    def gtf(self, keys=None) -> DataFrame:
        """Parsed 'gtf' span lines — cached so gene/transcript/exon/edge
        outputs share ONE scan and ONE parse (the reference re-reads the
        file per config entry; SURVEY §4). The parse extracts GTF_KEYS;
        `keys` names the attribute columns the caller needs, and one
        outside that set is a KeyError."""
        missing = [k for k in keys or () if k not in GTF_KEYS]
        if missing:
            raise KeyError(f"GTF keys {missing} are not parsed; parsed: {GTF_KEYS}")
        return self.cached("gtf", lambda: parse_gtf(
            span_lines(self.docs, "gtf"), keys=GTF_KEYS))

    def lines(self, kind: str) -> DataFrame:
        return span_lines(self.docs, kind)

    def lines_keyed(self, prefix: str, key_col: str) -> DataFrame:
        """S9 fan-in via span kinds: spans tagged '<prefix>:<key>' become
        lines carrying the key as column `key_col`."""
        return keyed_span_lines(self.docs, prefix, key_col)

    def swiss(self) -> DataFrame:
        """Parsed UniProt records, cached so the protein nodes and the
        translation edges share one parse."""
        return self.cached("swiss_records",
                           lambda: parse_swiss_spans(self.lines("swiss_record")))

    def cached(self, key, builder):
        if key not in self._cache:
            df = builder().cache()
            self._cache[key] = df
        return self._cache[key]


def _dbsuper_lifted(ctx: PipelineContext, chr=None, start=None, end=None):
    """The lifted dbSUPER scan, cached per window: the node and edge
    entries share one liftover join against the chain blocks."""
    window = (chr, start, end)
    return ctx.cached(("dbsuper_lifted", window), lambda: reg.dbsuper_lifted(
        ctx.lines("dbsuper"), ctx.dims["liftover"], *window))


def _hocomoco(ctx: PipelineContext, **args):
    pwm = ctx.lines_keyed("pwm", "model").withColumn("row_order", F.col("offset"))
    model_tf = ann.parse_model_tf(ctx.lines("hocomoco_annotation"))
    return ann.hocomoco_motif_nodes(pwm, model_tf, ctx.dims["hgnc_to_ensembl"], **args)


def _gaf(ctx: PipelineContext, gaf_type="human", **args):
    rmap = None
    if gaf_type == "rna":
        rmap = ann.parse_rnacentral_gencode_map(ctx.lines("rnacentral_map"))
    return ann.gaf_edges(ctx.lines("gaf"), ctx.registry, gaf_type=gaf_type,
                         rnacentral_map=rmap, **args)


# entry name -> fn(ctx, **args) -> (typed, atoms): one direct adapter call,
# which names the span kinds, dimensions and schema registry it reads
_CALLS = {
    # gencode family (one cached GTF parse)
    "gencode_gene": lambda ctx, **a: gencode.gene_nodes(
        ctx.gtf(), alias_df=ctx.dims.get("gene_alias"), **a),
    "gencode_transcript": lambda ctx, **a: gencode.transcript_nodes(ctx.gtf(), **a),
    "gencode_exon": lambda ctx, **a: gencode.exon_nodes(ctx.gtf(keys=GTF_KEYS), **a),
    "transcribed_to": lambda ctx, **a: gencode.transcribed_edges(
        ctx.gtf(), ctx.registry, "to", **a),
    "transcribed_from": lambda ctx, **a: gencode.transcribed_edges(
        ctx.gtf(), ctx.registry, "from", **a),
    # variants
    "dbsnp": lambda ctx, **a: variants.dbsnp_nodes(ctx.lines("vcf"), **a),
    "dbvar": lambda ctx, **a: variants.dbvar_nodes(ctx.lines("vcf"), **a),
    "dgv": lambda ctx, **a: variants.dgv_nodes(ctx.lines("dgv"), **a),
    "favor": lambda ctx, **a: variants.favor_nodes(ctx.lines("favor"), **a),
    # reactome
    "pathway": lambda ctx, **a: pathways.pathway_nodes(
        ctx.lines("reactome_pathways"), ctx.lines("reactome_pmids"), **a),
    "genes_pathways": lambda ctx, **a: pathways.genes_pathways_edges(
        ctx.lines("reactome_gene_map"), ctx.registry, **a),
    "parent_pathway_of": lambda ctx, **a: pathways.pathway_rel_edges(
        ctx.lines("reactome_relations"), ctx.registry, **a),
    "child_pathway_of": lambda ctx, **a: pathways.pathway_rel_edges(
        ctx.lines("reactome_relations"), ctx.registry, **a),
    # interactions
    "string": lambda ctx, **a: interactions.string_ppi_edges(
        ctx.lines("string"), ctx.dims["ensembl_to_uniprot"], ctx.registry, **a),
    "tflink": lambda ctx, **a: interactions.tflink_edges(
        ctx.lines("tflink"), ctx.dims["entrez_to_ensembl"], ctx.registry, **a),
    "coexpression": lambda ctx, **a: interactions.coxpresdb_edges(
        ctx.lines_keyed("coxpresdb", "file_entrez"), ctx.dims["entrez_to_ensembl"],
        ctx.registry, **a),
    # regulatory
    "epd_promoter": lambda ctx, **a: reg.epd_promoter_nodes(ctx.lines("epd"), **a),
    "epd_promoter_gene": lambda ctx, **a: reg.epd_promoter_gene_edges(
        ctx.lines("epd"), ctx.dims["hgnc_to_ensembl"], ctx.registry, **a),
    "enhancer_atlas": lambda ctx, **a: reg.enhancer_atlas_nodes(ctx.lines("ea_bed"), **a),
    "enhancer_atlas_gene": lambda ctx, **a: reg.enhancer_atlas_edges(
        ctx.lines_keyed("ea_gene", "tissue"), ctx.dims["ea_tissues"], ctx.registry, **a),
    "tadmap": lambda ctx, **a: reg.tadmap_nodes(ctx.lines("tadmap"), **a),
    "dbsuper": lambda ctx, chr=None, start=None, end=None, **a: reg.dbsuper_nodes(
        _dbsuper_lifted(ctx, chr, start, end), **a),
    "dbsuper_gene": lambda ctx, chr=None, start=None, end=None, **a: reg.dbsuper_edges(
        _dbsuper_lifted(ctx, chr, start, end), ctx.dims["hgnc_to_ensembl"],
        ctx.dims["dbsuper_tissues"], ctx.registry, **a),
    "peregrine": lambda ctx, **a: reg.peregrine_nodes(
        ctx.lines("peregrine_enhancers"), ctx.lines("peregrine_sources"), **a),
    "peregrine_gene": lambda ctx, **a: reg.peregrine_edges(
        ctx.lines("peregrine_enhancers"), ctx.lines("peregrine_links"),
        ctx.dims["hgnc_ensembl_map"], ctx.dims["peregrine_tissues"], ctx.registry, **a),
    # annotations
    "rna_central": lambda ctx, **a: ann.rna_central_nodes(ctx.lines("rna_bed"), **a),
    "rna_central_go": lambda ctx, **a: ann.rna_central_go_edges(
        ctx.lines("rna_rfam"), ctx.registry, **a),
    "hocomoco": _hocomoco,
    "gaf": _gaf,
    "uniprot_protein": lambda ctx, **a: ann.uniprot_protein_nodes(ctx.swiss(), **a),
    "uniprot_translates": lambda ctx, **a: ann.uniprot_translation_edges(
        ctx.swiss(), ctx.registry, **a),
    # forgedb family (dbsnp rsid dimension)
    "roadmap": lambda ctx, **a: forgedb.roadmap_nodes(
        ctx.lines("roadmap"), ctx.dims["roadmap_tissues"], ctx.dims["dbsnp_rsid"], **a),
    "abc": lambda ctx, **a: forgedb.abc_nodes(
        ctx.lines("abc"), ctx.dims["abc_tissues"], ctx.dims["dbsnp_rsid"], **a),
    "abc_gene": lambda ctx, **a: forgedb.abc_edges(
        ctx.lines("abc"), ctx.dims["hgnc_to_ensembl"], ctx.dims["abc_tissues"],
        ctx.dims["dbsnp_rsid"], ctx.registry, **a),
    "cadd": lambda ctx, **a: forgedb.cadd_nodes(
        ctx.lines("cadd"), ctx.dims["dbsnp_rsid"], **a),
    "refseq_closest_gene": lambda ctx, **a: forgedb.refseq_closest_gene_edges(
        ctx.lines("closest_gene"), ctx.dims["hgnc_to_ensembl"], ctx.dims["dbsnp_rsid"],
        ctx.registry, **a),
    "topld": lambda ctx, **a: forgedb.topld_edges(
        ctx.lines("topld"), ctx.dims["dbsnp_pos"], registry=ctx.registry, **a),
    "gtex_eqtl": lambda ctx, **a: forgedb.gtex_eqtl_edges(
        ctx.lines_keyed("gtex", "tissue"), ctx.dims["gtex_tissues"], ctx.registry, **a),
    # ontology
    "ontology_nodes": lambda ctx, label, **a: ontology.ontology_nodes(
        ctx.dims["ontology_triples"], label, **a),
    "ontology_edges": lambda ctx, label, **a: ontology.ontology_edges(
        ctx.dims["ontology_triples"], label, ctx.registry, **a),
}


def _entry(call):
    """Registry entry: the call's (typed, atoms) plus is_edge, read off
    the typed frame (edge frames carry `src`)."""
    def run(ctx: PipelineContext, **args):
        typed, atoms = call(ctx, **args)
        return typed, atoms, "src" in typed.columns
    return run


# entry name -> callable(ctx, **args) -> (typed_df, atoms_df, is_edge)
PIPELINE_REGISTRY = {name: _entry(call) for name, call in _CALLS.items()}


@dataclass
class PipelineResult:
    nodes: DataFrame | None
    edges: DataFrame | None
    atoms: DataFrame


def build(ctx: PipelineContext, config: list[dict]) -> PipelineResult:
    """config entries: {adapter: <registry name>, args: {...}}, ordered
    like adapters_config.yaml. The outputs are sets, so the order does
    not change them (the reference appends to files in config order)."""
    node_parts: list[DataFrame] = []
    edge_parts: list[DataFrame] = []
    atom_parts: list[DataFrame] = []
    for entry in config:
        fn = PIPELINE_REGISTRY[entry["adapter"]]
        typed, atoms, is_edge = fn(ctx, **entry.get("args", {}))
        atom_parts.append(atoms)
        if is_edge:
            edge_parts.append(typed.select("src", "tgt", "label"))
        else:
            cols = ["id", "label"]
            opt = [c for c in ("chr", "start", "end") if c in typed.columns]
            node_parts.append(typed.select(*cols, *opt))
    nodes = None
    if node_parts:
        nodes = node_parts[0]
        for p in node_parts[1:]:
            nodes = nodes.unionByName(p, allowMissingColumns=True)
        nodes = dedup_nodes(nodes)
    edges = None
    if edge_parts:
        edges = edge_parts[0]
        for p in edge_parts[1:]:
            edges = edges.unionByName(p, allowMissingColumns=True)
    atoms = atom_parts[0]
    for p in atom_parts[1:]:
        atoms = atoms.unionByName(p)
    return PipelineResult(nodes, edges, atoms)


def _written_manifest(spark, path: str, partition_by: list[str]) -> list[dict]:
    """Fingerprint what actually LANDED, not the logical plan: verifies
    the write itself and avoids re-deriving the full adapter union a
    second time (the manifest scan is a cheap columnar read-back).
    Partition columns are re-cast to string — read-back partition-value
    inference would otherwise retype purely-numeric values (and corrupt
    zero-padded ones) relative to the pre-write frame. An empty result
    writes only _SUCCESS, where read.parquet cannot infer a schema —
    that's an empty manifest, not an error."""
    try:
        df = spark.read.parquet(path)
    except Exception:
        return []
    for p in partition_by:
        df = df.withColumn(p, F.col(p).cast("string"))
    return lineage.partition_manifest(df, partition_by)


def _write_table(df: DataFrame, path: str, partition_by: list[str]) -> list[dict]:
    """One table branch: the partitioned write, then the manifest of what
    landed. Both are looked up on their modules at call time, where a
    caller (the benchmark's tracer) may have wrapped them."""
    lineage.write_partitioned(df, path, partition_by)
    return _written_manifest(df.sparkSession, path, partition_by)


def _run_branches(spark: SparkSession, branches: dict) -> dict:
    """Run each branch (name -> no-argument callable) in its own thread,
    so their Spark jobs run concurrently; returns name -> result once all
    have finished. Each thread inherits the caller's local properties
    (job description, group, scheduler pool) and tags its jobs with a tag
    unique to this call: when a branch fails, the other branches' running
    jobs are cancelled by that tag, which leaves the caller's job group
    alone, and the first error is raised after every branch has ended."""
    sc = spark.sparkContext
    tag = f"materialize-{uuid.uuid4().hex}"

    def tagged(fn):
        def run():
            sc.addJobTag(tag)
            try:
                return fn()
            finally:
                sc.removeJobTag(tag)
        return inheritable_thread_target(spark)(run)

    with ThreadPoolExecutor(max_workers=len(branches)) as pool:
        futures = {pool.submit(tagged(fn)): name for name, fn in branches.items()}
        first = None
        for f in as_completed(futures):
            if f.exception() is not None and first is None:
                first = f.exception()
                sc.cancelJobsWithTag(tag)
    if first is not None:
        raise first
    return {name: f.result() for f, name in futures.items()}


def materialize(result: PipelineResult, out_dir: str, registry: SchemaRegistry,
                run_id: str = "run") -> dict:
    """Write all outputs + lineage manifests; returns the manifest dict.

    The three outputs are independent branches whose Spark jobs run
    concurrently: nodes (partitioned write, then its manifest read-back),
    edges (the same) and the `.metta` shards. They share the context's
    cached parse, which Spark's block locks compute once. `type_defs.metta`
    and the `_lineage/*.json` manifests are written only after every
    branch has succeeded; if one fails, the others' jobs are cancelled and
    its error is raised with neither written."""
    out = Path(out_dir)
    branches = {}
    if result.nodes is not None:
        ndf = result.nodes.withColumn(
            "chr_part", F.coalesce(F.col("chr"), F.lit("none"))) \
            if "chr" in result.nodes.columns else \
            result.nodes.withColumn("chr_part", F.lit("none"))
        branches["nodes"] = lambda: _write_table(
            ndf, str(out / "nodes"), ["label", "chr_part"])
    if result.edges is not None:
        edf = result.edges.withColumn("label_part", F.col("label"))
        branches["edges"] = lambda: _write_table(edf, str(out / "edges"), ["label_part"])
    branches["metta"] = lambda: sinks.write_metta_text(result.atoms, str(out / "metta"))
    manifests = _run_branches(result.atoms.sparkSession, branches)
    del manifests["metta"]
    (out / "type_defs.metta").parent.mkdir(parents=True, exist_ok=True)
    (out / "type_defs.metta").write_text(registry.type_defs_text())
    for name, rows in manifests.items():
        lineage.write_manifest(rows, str(out / f"_lineage/{name}.json"), run_id)
    return manifests


# ---------------------------------------------------------------------------
# reference adapters_config.yaml translation
# ---------------------------------------------------------------------------

# reference module.cls (+ discriminating args) -> registry adapter name
_REF_CLS_MAP = {
    ("gencode_gene_adapter", "GencodeGeneAdapter"): "gencode_gene",
    ("gencode_adapter", "GencodeAdapter", "transcript"): "gencode_transcript",
    ("gencode_adapter", "GencodeAdapter", "transcribed to"): "transcribed_to",
    ("gencode_adapter", "GencodeAdapter", "transcribed from"): "transcribed_from",
    ("gencode_exon_adapter", "GencodeExonAdapter"): "gencode_exon",
    ("dbsnp_adapter", "DBSNPAdapter"): "dbsnp",
    ("dbvar_adapter", "DBVarVariantAdapter"): "dbvar",
    ("dgv_variant_adapter", "DGVVariantAdapter"): "dgv",
    ("favor_adapter", "FavorAdapter"): "favor",
    ("reactome_pathway_adapter", "ReactomePathwayAdapter"): "pathway",
    ("reactome_adapter", "ReactomeAdapter", "genes_pathways"): "genes_pathways",
    ("reactome_adapter", "ReactomeAdapter", "parent_pathway_of"): "parent_pathway_of",
    ("reactome_adapter", "ReactomeAdapter", "child_pathway_of"): "child_pathway_of",
    ("string_ppi_adapter", "StringPPIAdapter"): "string",
    ("tflink_adapter", "TFLinkAdapter"): "tflink",
    ("coxpresdb_adapter", "CoxpresdbAdapter"): "coexpression",
    ("epd_adapter", "EPDAdapter", "promoter"): "epd_promoter",
    ("epd_adapter", "EPDAdapter", "promoter to gene association"): "epd_promoter_gene",
    ("enhancer_atlas_adapter", "EnhancerAtlasAdapter", "enhancer"): "enhancer_atlas",
    ("enhancer_atlas_adapter", "EnhancerAtlasAdapter",
     "enhancer to gene association"): "enhancer_atlas_gene",
    ("tadmap_adapter", "TADMapAdapter"): "tadmap",
    ("dbsuper_adapter", "DBSuperAdapter", "super enhancer"): "dbsuper",
    ("dbsuper_adapter", "DBSuperAdapter",
     "super enhancer to gene association"): "dbsuper_gene",
    ("peregrine_adapter", "PEREGRINEAdapter", "enhancer"): "peregrine",
    ("peregrine_adapter", "PEREGRINEAdapter",
     "enhancer to gene association"): "peregrine_gene",
    ("rna_central_adapter", "RNACentralAdapter", "non coding rna"): "rna_central",
    ("rna_central_adapter", "RNACentralAdapter", "go rna"): "rna_central_go",
    ("hocomoco_motif_adapter", "HoCoMoCoMotifAdapter"): "hocomoco",
    ("gaf_adapter", "GAFAdapter"): "gaf",
    ("uniprot_protein_adapter", "UniprotProteinAdapter"): "uniprot_protein",
    ("uniprot_adapter", "UniprotAdapter", "translates to"): "uniprot_translates",
    ("uniprot_adapter", "UniprotAdapter", "translation of"): "uniprot_translates",
    ("roadmap_adapter", "RoadMapAdapter"): "roadmap",
    ("abc_adapter", "ABCAdapter", "node"): "abc",
    ("abc_adapter", "ABCAdapter", "edge"): "abc_gene",
    ("cadd_adapter", "CADDAdapter"): "cadd",
    ("refseq_closest_gene_adapter", "RefSeqClosestGeneAdapter"): "refseq_closest_gene",
    ("topld_adapter", "TopLDAdapter"): "topld",
    ("gtex_eqtl_adapter", "GTExEQTLAdapter"): "gtex_eqtl",
    ("gene_ontology_adapter", "GeneOntologyAdapter", "node"): "ontology_nodes",
    ("gene_ontology_adapter", "GeneOntologyAdapter", "edge"): "ontology_edges",
    ("uberon_adapter", "UberonAdapter", "node"): "ontology_nodes",
    ("uberon_adapter", "UberonAdapter", "edge"): "ontology_edges",
    ("cell_line_ontology_adapter", "CellLineOntologyAdapter", "node"): "ontology_nodes",
    ("cell_line_ontology_adapter", "CellLineOntologyAdapter", "edge"): "ontology_edges",
    # defaults when the config omits the discriminating type/label arg
    ("rna_central_adapter", "RNACentralAdapter"): "rna_central",
    ("epd_adapter", "EPDAdapter"): "epd_promoter",
    ("enhancer_atlas_adapter", "EnhancerAtlasAdapter"): "enhancer_atlas",
    ("dbsuper_adapter", "DBSuperAdapter"): "dbsuper",
    ("peregrine_adapter", "PEREGRINEAdapter"): "peregrine",
}

# args carried over from the reference config into our adapter kwargs
_PASSTHROUGH_ARGS = {"chr", "start", "end", "label", "ancestry", "cutoff",
                     "gaf_type", "ontology", "dry_run"}


def translate_reference_config(path: str | Path) -> list[dict]:
    """Parse a reference adapters_config YAML into this engine's config.

    File paths are intentionally DROPPED: in the span model the data
    arrives via the documents table keyed by span kind, and dimension
    pickles via PipelineContext.dims. What survives translation is the
    adapter identity and its semantic args (window, labels, ancestry,
    cutoffs). create_knowledge_graph.py:42-72 twin.
    """
    import yaml

    with open(path) as f:
        cfg = yaml.safe_load(f)
    out: list[dict] = []
    for entry in cfg.values():
        ad = entry.get("adapter", {})
        module = ad.get("module", "").rsplit(".", 1)[-1]
        cls = ad.get("cls", "")
        args = ad.get("args") or {}
        disc = args.get("type") or args.get("label")
        name = _REF_CLS_MAP.get((module, cls, disc)) if disc else None
        if name is None:
            name = _REF_CLS_MAP.get((module, cls))
        if name is None:
            raise KeyError(f"no registry mapping for {module}.{cls} ({disc})")
        kwargs = {k: v for k, v in args.items()
                  if k in _PASSTHROUGH_ARGS and v is not None}
        if name in ("uniprot_translates",) and args.get("type"):
            kwargs["direction"] = args["type"].replace(" ", "_")
            kwargs.pop("label", None)
        if name in ("parent_pathway_of", "child_pathway_of"):
            kwargs["label"] = name
        if name in ("gencode_transcript", "gencode_gene", "gencode_exon",
                    "transcribed_to", "transcribed_from", "dbsnp", "cadd",
                    "roadmap", "abc", "abc_gene", "refseq_closest_gene",
                    "gtex_eqtl"):
            kwargs.pop("label", None)
        if name == "gaf":
            kwargs.pop("label", None)
        out.append({"adapter": name, "args": kwargs})
    return out
