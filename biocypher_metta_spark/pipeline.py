"""Config-driven KG construction pipeline — the Spark twin of
create_knowledge_graph.py:15-72.

The reference reflects adapter classes out of a YAML config and pulls
their generators through the writer one at a time, re-reading shared
files per entry (e.g. the GENCODE GTF 3-5x). Here each config entry
contributes a DataFrame fragment to ONE logical plan:

    documents spans ──┬─ span_lines(kind) ─ parse (cached) ─ extract ─┐
    dimensions ───────┴────── broadcast joins ────────────────────────┤
                                   union of nodes (deduped), edges, atoms

`materialize` then writes three independent branches as concurrent Spark
jobs, each from its own thread:

    nodes ─ partitioned write ─ manifest read-back ─┐
    edges ─ partitioned write ─ manifest read-back ─┼─ all succeeded ─ type_defs.metta
    atoms ─ .metta shards ──────────────────────────┘                  + _lineage/*.json

Shared scans are cached once; Catalyst dedups the rest. Outputs are
written with dynamic partition overwrite + lineage manifests (resume).
"""

from __future__ import annotations

import uuid
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from biocypher_metta_spark import lineage, sinks
from biocypher_metta_spark.canonicalize import dedup_nodes
from biocypher_metta_spark.schema import SchemaRegistry, load_default_registry
from biocypher_metta_spark.sources.documents import span_lines
from biocypher_metta_spark.sources.gtf import GENE_KEYS, parse_gtf

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

    def gtf(self, kind: str = "gtf", keys=None) -> DataFrame:
        """Parsed GTF lines for a span kind — cached so gene/transcript/
        exon/edge outputs share ONE scan and ONE parse (the reference
        re-reads the file per config entry; SURVEY §4). Every kind is
        parsed with GTF_KEYS; `keys` names the attribute columns the
        caller needs, and one outside that set is a KeyError."""
        missing = [k for k in keys or () if k not in GTF_KEYS]
        if missing:
            raise KeyError(f"GTF keys {missing} are not parsed; parsed: {GTF_KEYS}")
        return self.cached(("gtf", kind), lambda: parse_gtf(
            span_lines(self.docs, kind), keys=GTF_KEYS))

    def lines(self, kind: str) -> DataFrame:
        return span_lines(self.docs, kind)

    def lines_keyed(self, prefix: str, key_col: str) -> DataFrame:
        """S9 fan-in via span kinds: spans tagged '<prefix>:<key>' (e.g.
        'pwm:ATF1_HUMAN.H11MO.0.B', 'gtex:Adipose_Subcutaneous') become
        lines carrying the key as a column — the Spark twin of
        filename-carries-the-key directory scans."""
        from biocypher_metta_spark.sources.documents import explode_spans

        sp = explode_spans(self.docs).filter(
            F.col("kind").startswith(prefix + ":"))
        return sp.select(
            "doc_id", "offset", F.col("text").alias("value"),
            F.expr(f"substring(kind, {len(prefix) + 2})").alias(key_col))

    def cached(self, key, builder):
        if key not in self._cache:
            df = builder().cache()
            self._cache[key] = df
        return self._cache[key]


# entry name -> callable(ctx, **args) -> (typed_df, atoms_df, is_edge)


def _gencode_gene(ctx: PipelineContext, **args):
    from biocypher_metta_spark.adapters import gencode

    typed, atoms = gencode.gene_nodes(
        ctx.gtf(), alias_df=ctx.dims.get("gene_alias"), **args)
    return typed, atoms, False


def _gencode_transcript(ctx: PipelineContext, **args):
    from biocypher_metta_spark.adapters import gencode

    typed, atoms = gencode.transcript_nodes(ctx.gtf(), **args)
    return typed, atoms, False


def _gencode_exon(ctx: PipelineContext, **args):
    from biocypher_metta_spark.adapters import gencode

    typed, atoms = gencode.exon_nodes(ctx.gtf(keys=GTF_KEYS), **args)
    return typed, atoms, False


def _transcribed(direction):
    def run(ctx: PipelineContext, **args):
        from biocypher_metta_spark.adapters import gencode

        typed, atoms = gencode.transcribed_edges(
            ctx.gtf(), ctx.registry, direction, **args)
        return typed, atoms, True

    return run


def _dbsnp(ctx: PipelineContext, **args):
    from biocypher_metta_spark.adapters import variants

    typed, atoms = variants.dbsnp_nodes(ctx.lines("vcf"), **args)
    return typed, atoms, False


def _node_adapter(fn_path, kind, dim_args=(), is_edge=False, needs_registry=False,
                  keyed=None):
    """Generic registry entry: adapters.<module>.<fn>(lines, *dims[,registry])."""

    def run(ctx: PipelineContext, **args):
        import importlib

        mod_name, fn_name = fn_path.rsplit(".", 1)
        mod = importlib.import_module(f"biocypher_metta_spark.adapters.{mod_name}")
        fn = getattr(mod, fn_name)
        lines = ctx.lines_keyed(kind, keyed) if keyed else ctx.lines(kind)
        dims = [ctx.dims[d] for d in dim_args]
        if needs_registry:
            typed, atoms = fn(lines, *dims, ctx.registry, **args)
        else:
            typed, atoms = fn(lines, *dims, **args)
        return typed, atoms, is_edge

    return run


def _swiss(fn_name, is_edge, needs_registry=False):
    def run(ctx: PipelineContext, **args):
        import biocypher_metta_spark.adapters.annotations as ann
        from biocypher_metta_spark.sources.swiss import parse_swiss_spans

        recs = ctx.cached("swiss_records",
                          lambda: parse_swiss_spans(ctx.lines("swiss_record")))
        fn = getattr(ann, fn_name)
        if needs_registry:
            typed, atoms = fn(recs, ctx.registry, **args)
        else:
            typed, atoms = fn(recs, **args)
        return typed, atoms, is_edge

    return run


def _two_file(fn_path, kinds, dim_args=(), is_edge=False, needs_registry=False):
    def run(ctx: PipelineContext, **args):
        import importlib

        mod_name, fn_name = fn_path.rsplit(".", 1)
        mod = importlib.import_module(f"biocypher_metta_spark.adapters.{mod_name}")
        fn = getattr(mod, fn_name)
        lines = [ctx.lines(k) for k in kinds]
        dims = [ctx.dims[d] for d in dim_args]
        if needs_registry:
            typed, atoms = fn(*lines, *dims, ctx.registry, **args)
        else:
            typed, atoms = fn(*lines, *dims, **args)
        return typed, atoms, is_edge

    return run


def _dbsuper(fn_name, is_edge):
    def run(ctx: PipelineContext, **args):
        from biocypher_metta_spark.adapters import regulatory as reg

        lift = ctx.dims["liftover"]  # a liftover(chr,pos) callable
        window = (args.get("chr"), args.get("start"), args.get("end"))
        # the lifted base scan is shared between the node and edge outputs
        # (one Arrow liftover pass instead of two)
        base = ctx.cached(("dbsuper_base", window), lambda: reg._dbsuper_base(
            ctx.lines("dbsuper"), lift, *window))
        if fn_name == "dbsuper_nodes":
            typed, atoms = reg.dbsuper_nodes(None, lift, base=base, **args)
        else:
            typed, atoms = reg.dbsuper_edges(
                None, lift, ctx.dims["hgnc_to_ensembl"],
                ctx.dims["dbsuper_tissues"], ctx.registry, base=base, **args)
        return typed, atoms, is_edge

    return run


def _hocomoco(ctx: PipelineContext, **args):
    import biocypher_metta_spark.adapters.annotations as ann

    lines = ctx.lines_keyed("pwm", "model").withColumn(
        "row_order", F.col("offset"))
    model_tf = ann.parse_model_tf(ctx.lines("hocomoco_annotation"))
    typed, atoms = ann.hocomoco_motif_nodes(
        lines, model_tf, ctx.dims["hgnc_to_ensembl"], **args)
    return typed, atoms, False


def _gaf(ctx: PipelineContext, gaf_type="human", **args):
    import biocypher_metta_spark.adapters.annotations as ann

    rmap = None
    if gaf_type == "rna":
        rmap = ann.parse_rnacentral_gencode_map(ctx.lines("rnacentral_map"))
    typed, atoms = ann.gaf_edges(ctx.lines("gaf"), ctx.registry,
                                 gaf_type=gaf_type, rnacentral_map=rmap, **args)
    return typed, atoms, True


def _topld(ctx: PipelineContext, **args):
    from biocypher_metta_spark.adapters import forgedb

    typed, atoms = forgedb.topld_edges(ctx.lines("topld"),
                                       ctx.dims["dbsnp_pos"],
                                       registry=ctx.registry, **args)
    return typed, atoms, True


def _ontology(fn_name, is_edge):
    def run(ctx: PipelineContext, **args):
        from biocypher_metta_spark.adapters import ontology as onto

        triples = ctx.dims["ontology_triples"]
        fn = getattr(onto, fn_name)
        if is_edge:
            typed, atoms = fn(triples, args.pop("label"), ctx.registry, **args)
        else:
            typed, atoms = fn(triples, args.pop("label"), **args)
        return typed, atoms, is_edge

    return run


PIPELINE_REGISTRY = {
    # gencode family (shared cached GTF scan)
    "gencode_gene": _gencode_gene,
    "gencode_transcript": _gencode_transcript,
    "gencode_exon": _gencode_exon,
    "transcribed_to": _transcribed("to"),
    "transcribed_from": _transcribed("from"),
    # variants
    "dbsnp": _dbsnp,
    "dbvar": _node_adapter("variants.dbvar_nodes", "vcf"),
    "dgv": _node_adapter("variants.dgv_nodes", "dgv"),
    "favor": _node_adapter("variants.favor_nodes", "favor"),
    # reactome
    "pathway": _two_file("pathways.pathway_nodes",
                         ["reactome_pathways", "reactome_pmids"]),
    "genes_pathways": _node_adapter("pathways.genes_pathways_edges",
                                    "reactome_gene_map", is_edge=True,
                                    needs_registry=True),
    "parent_pathway_of": _node_adapter("pathways.pathway_rel_edges",
                                       "reactome_relations", is_edge=True,
                                       needs_registry=True),
    "child_pathway_of": _node_adapter("pathways.pathway_rel_edges",
                                      "reactome_relations", is_edge=True,
                                      needs_registry=True),
    # interactions
    "string": _node_adapter("interactions.string_ppi_edges", "string",
                            ("ensembl_to_uniprot",), is_edge=True,
                            needs_registry=True),
    "tflink": _node_adapter("interactions.tflink_edges", "tflink",
                            ("entrez_to_ensembl",), is_edge=True,
                            needs_registry=True),
    "coexpression": _node_adapter("interactions.coxpresdb_edges", "coxpresdb",
                                  ("entrez_to_ensembl",), is_edge=True,
                                  needs_registry=True, keyed="file_entrez"),
    # regulatory
    "epd_promoter": _node_adapter("regulatory.epd_promoter_nodes", "epd"),
    "epd_promoter_gene": _node_adapter("regulatory.epd_promoter_gene_edges",
                                       "epd", ("hgnc_to_ensembl",),
                                       is_edge=True, needs_registry=True),
    "enhancer_atlas": _node_adapter("regulatory.enhancer_atlas_nodes", "ea_bed"),
    "enhancer_atlas_gene": _node_adapter("regulatory.enhancer_atlas_edges",
                                         "ea_gene", ("ea_tissues",),
                                         is_edge=True, needs_registry=True,
                                         keyed="tissue"),
    "tadmap": _node_adapter("regulatory.tadmap_nodes", "tadmap"),
    "dbsuper": _dbsuper("dbsuper_nodes", False),
    "dbsuper_gene": _dbsuper("dbsuper_edges", True),
    "peregrine": _two_file("regulatory.peregrine_nodes",
                           ["peregrine_enhancers", "peregrine_sources"]),
    "peregrine_gene": _two_file("regulatory.peregrine_edges",
                                ["peregrine_enhancers", "peregrine_links"],
                                ("hgnc_ensembl_map", "peregrine_tissues"),
                                is_edge=True, needs_registry=True),
    # annotations
    "rna_central": _node_adapter("annotations.rna_central_nodes", "rna_bed"),
    "rna_central_go": _node_adapter("annotations.rna_central_go_edges",
                                    "rna_rfam", is_edge=True,
                                    needs_registry=True),
    "hocomoco": _hocomoco,
    "gaf": _gaf,
    "uniprot_protein": _swiss("uniprot_protein_nodes", False),
    "uniprot_translates": _swiss("uniprot_translation_edges", True,
                                 needs_registry=True),
    # forgedb family (dbsnp rsid dimension)
    "roadmap": _node_adapter("forgedb.roadmap_nodes", "roadmap",
                             ("roadmap_tissues", "dbsnp_rsid")),
    "abc": _node_adapter("forgedb.abc_nodes", "abc",
                         ("abc_tissues", "dbsnp_rsid")),
    "abc_gene": _node_adapter("forgedb.abc_edges", "abc",
                              ("hgnc_to_ensembl", "abc_tissues", "dbsnp_rsid"),
                              is_edge=True),
    "cadd": _node_adapter("forgedb.cadd_nodes", "cadd", ("dbsnp_rsid",)),
    "refseq_closest_gene": _node_adapter("forgedb.refseq_closest_gene_edges",
                                         "closest_gene",
                                         ("hgnc_to_ensembl", "dbsnp_rsid"),
                                         is_edge=True),
    "topld": _topld,
    "gtex_eqtl": _node_adapter("forgedb.gtex_eqtl_edges", "gtex",
                               ("gtex_tissues",), is_edge=True,
                               needs_registry=True, keyed="tissue"),
    # ontology
    "ontology_nodes": _ontology("ontology_nodes", False),
    "ontology_edges": _ontology("ontology_edges", True),
}


@dataclass
class PipelineResult:
    nodes: DataFrame | None
    edges: DataFrame | None
    atoms: DataFrame


def build(ctx: PipelineContext, config: list[dict]) -> PipelineResult:
    """config entries: {adapter: <registry name>, args: {...}} — ordered
    like adapters_config.yaml; order only affects nothing (set-semantics
    outputs), unlike the reference's append files."""
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
            kwargs["direction"] = args["type"].replace(" ", "_").replace(
                "translation_of", "translation_of").replace(
                "translates_to", "translates_to")
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
