"""End-to-end pipeline + streaming incremental tests."""

from __future__ import annotations

import ast
import inspect
import json
import subprocess
import sys
import time
from dataclasses import replace
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from biocypher_metta_spark import dims, lineage, pipeline, sinks
from biocypher_metta_spark.canonicalize import dedup_nodes
from biocypher_metta_spark.functions.chainfile import ChainLifter, compose_chain
from biocypher_metta_spark.functions.liftover import chain_blocks
from biocypher_metta_spark.schema import SchemaRegistry, load_default_registry
from biocypher_metta_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    read_documents,
    span_lines,
)
from biocypher_metta_spark.sources.gtf import GENE_KEYS, parse_gtf
from biocypher_metta_spark.sources.rdf import parse_ntriples
from biocypher_metta_spark.sources.synth import spans_from_files, synth_gtf_documents
from biocypher_metta_spark.streaming.incremental import (
    read_documents_stream,
    run_incremental,
)
from tests.conftest import requires_reference

GTF = "/root/reference/samples/gencode_sample.gtf.gz"
REGISTRY = load_default_registry()

CONFIG = [
    {"adapter": "gencode_gene"},
    {"adapter": "gencode_transcript"},
    {"adapter": "gencode_exon"},
    {"adapter": "transcribed_to"},
    {"adapter": "transcribed_from"},
]


@requires_reference("samples/gencode_sample.gtf.gz")
def test_pipeline_end_to_end(spark, tmp_path):
    docs = spans_from_files(spark, {"gtf": GTF})
    ctx = pipeline.PipelineContext(spark, docs, REGISTRY)
    result = pipeline.build(ctx, CONFIG)
    manifests = pipeline.materialize(result, str(tmp_path / "out"), REGISTRY)

    nodes = spark.read.parquet(str(tmp_path / "out/nodes"))
    edges = spark.read.parquet(str(tmp_path / "out/edges"))
    assert nodes.filter("label = 'gene'").count() == 52
    assert edges.count() > 0
    # node dedup happened: (label, id) unique
    assert nodes.count() == nodes.select("label", "id").distinct().count()
    # probe query 2 over the materialized table (partition-pruned scan)
    win = nodes.filter("label = 'gene' AND chr_part = 'chr20' "
                       "AND start > 9000000 AND end < 10000000")
    assert win.count() == 4
    # .metta shards exist and type_defs was compiled
    metta = spark.read.text(str(tmp_path / "out/metta"))
    assert metta.count() > nodes.count()
    tdefs = (tmp_path / "out/type_defs.metta").read_text()
    assert "(: gene (-> $x GENE))" in tdefs
    assert "(: transcribed_to (-> GENE TRANSCRIPT TRANSCRIBED_TO))" in tdefs
    assert manifests["nodes"]


def test_streaming_incremental(spark, tmp_path):
    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")

    synth_gtf_documents(spark, 100).write.mode("append").parquet(inp)

    def transform(docs):
        gtf = parse_gtf(span_lines(docs, "gtf"), keys=GENE_KEYS)
        from biocypher_metta_spark.adapters import gencode

        typed, _ = gencode.gene_nodes(gtf)
        return typed.drop("synonyms")

    run_incremental(read_documents_stream(spark, inp), transform, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == 100

    # new batch of docs arrives -> only the delta is processed
    synth_gtf_documents(spark, 50).select(
        F.concat(F.lit("late-"), F.col("doc_id")).alias("doc_id"), "spans"
    ).write.mode("append").parquet(inp)
    run_incremental(read_documents_stream(spark, inp), transform, out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n2 == 150


@requires_reference("config/adapters_config_sample.yaml")
def test_reference_config_translation():
    """The reference's own adapters_config_sample.yaml translates fully
    into this engine's registry (config-compat for switching users)."""
    cfg = pipeline.translate_reference_config(
        "/root/reference/config/adapters_config_sample.yaml")
    assert len(cfg) == 46
    names = {c["adapter"] for c in cfg}
    assert names <= set(pipeline.PIPELINE_REGISTRY)
    topld = [c for c in cfg if c["adapter"] == "topld"][0]
    assert topld["args"]["chr"] == "chr16" and topld["args"]["ancestry"] == "EUR"


WINDOW = {"chr": "chr1", "start": 1, "end": 2}


def test_reference_config_with_a_window_builds(spark, tmp_path):
    """A reference config that sets a window on every entry translates
    into entries that all build: the window reaches each adapter that
    takes one and is dropped for `_WINDOWLESS`, which are exactly the
    entries whose adapter refuses it."""
    import yaml

    cfg = {}
    for i, ((module, cls, *disc), name) in enumerate(pipeline._REF_CLS_MAP.items()):
        args = {**REQUIRED_ARGS.get(name, {}), **WINDOW}
        if disc:
            args["type"] = disc[0]
        cfg[f"entry_{i}"] = {"adapter": {"module": f"biocypher_metta.adapters.{module}",
                                         "cls": cls, "args": args}}
    path = tmp_path / "adapters_config.yaml"
    path.write_text(yaml.safe_dump(cfg, sort_keys=False))
    translated = pipeline.translate_reference_config(path)
    assert [c["adapter"] for c in translated] == list(pipeline._REF_CLS_MAP.values())
    ctx = _empty_context(spark)
    for entry in translated:
        typed, atoms, _ = pipeline.PIPELINE_REGISTRY[entry["adapter"]](ctx, **entry["args"])
        assert atoms.columns == ["atom"], entry
    refused = set()
    for name, run in pipeline.PIPELINE_REGISTRY.items():
        try:
            run(ctx, **{**REQUIRED_ARGS.get(name, {}), **WINDOW})
        except TypeError as err:
            assert "unexpected keyword argument" in str(err), (name, err)
            refused.add(name)
    assert refused == pipeline._WINDOWLESS


def test_streaming_stateful_dedup(spark, tmp_path):
    """Stateful streaming: dropDuplicatesWithinWatermark removes
    cross-microbatch duplicate doc_ids arriving within the watermark
    (the streaming arm of the exact-dedup operator)."""
    inp = str(tmp_path / "dup_in")
    out = str(tmp_path / "dup_out")
    ckpt = str(tmp_path / "dup_ckpt")

    base = synth_gtf_documents(spark, 40).withColumn(
        "event_time", F.timestamp_seconds(F.lit(1_700_000_000)))
    dup = base.limit(15)  # duplicates of the first 15 docs
    base.unionByName(dup).write.mode("append").parquet(inp)

    from biocypher_metta_spark.sources.documents import DOCUMENTS_SCHEMA
    from pyspark.sql.types import StructType, StructField, TimestampType

    schema = StructType(list(DOCUMENTS_SCHEMA.fields)
                        + [StructField("event_time", TimestampType())])
    stream = spark.readStream.schema(schema).parquet(inp)

    def transform(docs):
        return (docs.withWatermark("event_time", "1 hour")
                .dropDuplicatesWithinWatermark(["doc_id"])
                .select("doc_id"))

    run_incremental(stream, transform, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 40
    assert got.select("doc_id").distinct().count() == 40


def test_streaming_stateful_entity_counts(spark, tmp_path):
    """applyInPandasWithState custom operator: per-entity totals must
    accumulate ACROSS micro-batches through the state store (two input
    files x maxFilesPerTrigger=1 = two micro-batches)."""
    from biocypher_metta_spark.streaming import stateful

    inp = str(tmp_path / "linked_in")
    rows1 = [("d1", "spark", "TOOL:spark", 1.0),
             ("d2", "spark", "TOOL:spark", 0.8),
             ("d2", "join", "OP:join", 1.0)]
    rows2 = [("d3", "spark", "TOOL:spark", 1.0),
             ("d4", "table", "OBJ:table", 0.6)]
    schema = "doc_id string, mention string, entity string, score double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(inp)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(inp)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(inp))
    out = stateful.running_entity_counts(stream)
    q = (out.writeStream.format("memory").queryName("ent_totals")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    # the LAST update per entity carries the cross-batch running total
    import pyspark.sql.functions as SF
    rows = (spark.table("ent_totals")
            .groupBy("entity").agg(SF.max("n_mentions").alias("n"),
                                   SF.max("score_sum").alias("s"))
            .collect())
    got = {r.entity: (r.n, round(r.s, 3)) for r in rows}
    assert got["TOOL:spark"] == (3, 2.8)
    assert got["OP:join"] == (1, 1.0)
    assert got["OBJ:table"] == (1, 0.6)


def test_materialize_empty_result(spark, tmp_path):
    """A window matching nothing must materialize cleanly with empty
    manifests, not crash on schema inference over a _SUCCESS-only dir."""
    from biocypher_metta_spark import pipeline
    from biocypher_metta_spark.schema import load_default_registry
    from biocypher_metta_spark.sources.synth import synth_gtf_documents

    docs = synth_gtf_documents(spark, 50)
    ctx = pipeline.PipelineContext(spark, docs)
    res = pipeline.build(ctx, [{"adapter": "gencode_gene",
                                "args": {"chr": "chrNOPE"}}])
    m = pipeline.materialize(res, str(tmp_path / "kg"), load_default_registry())
    assert m["nodes"] == []


def test_gtf_parsed_once_per_kind(spark):
    """The gene, transcript, exon and edge adapters share ONE cached
    parse of the gtf spans; a key outside the parsed set is an error."""
    ctx = pipeline.PipelineContext(spark, synth_gtf_documents(spark, 20), REGISTRY)
    pipeline.build(ctx, CONFIG)
    assert len(ctx._cache) == 1
    assert ctx.gtf(keys=["gene_id", "exon_id"]) is ctx.gtf()
    with pytest.raises(KeyError):
        ctx.gtf(keys=["protein_id"])


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_materialize_matches_sequential_writers(spark, tmp_path):
    """The concurrent branches write what the three writers and the
    manifest read-back write when called one after another."""
    ctx = pipeline.PipelineContext(
        spark, synth_gtf_documents(spark, 300, partitions=3), REGISTRY)
    result = pipeline.build(ctx, CONFIG)
    got_dir, want_dir = tmp_path / "concurrent", tmp_path / "sequential"
    got = pipeline.materialize(result, str(got_dir), REGISTRY)

    nodes = result.nodes.withColumn("chr_part", F.coalesce("chr", F.lit("none")))
    lineage.write_partitioned(nodes, str(want_dir / "nodes"), ["label", "chr_part"])
    want = {"nodes": pipeline._written_manifest(spark, str(want_dir / "nodes"),
                                                ["label", "chr_part"])}
    edges = result.edges.withColumn("label_part", F.col("label"))
    lineage.write_partitioned(edges, str(want_dir / "edges"), ["label_part"])
    want["edges"] = pipeline._written_manifest(spark, str(want_dir / "edges"),
                                               ["label_part"])
    sinks.write_metta_text(result.atoms, str(want_dir / "metta"))

    def key(r):
        return json.dumps(r, sort_keys=True, default=str)

    assert sorted(got) == ["edges", "nodes"]
    for name in ("nodes", "edges"):
        assert want[name]
        assert sorted(got[name], key=key) == sorted(want[name], key=key)
        written = lineage.read_manifest(str(got_dir / f"_lineage/{name}.json"))
        assert written["partitions"] == sorted(want[name], key=key)
        assert (_sorted_rows(spark.read.parquet(str(got_dir / name)))
                == _sorted_rows(spark.read.parquet(str(want_dir / name))))
    got_atoms = _sorted_rows(spark.read.text(str(got_dir / "metta")))
    assert got_atoms and got_atoms == _sorted_rows(spark.read.text(str(want_dir / "metta")))
    assert (got_dir / "type_defs.metta").read_text() == REGISTRY.type_defs_text()


def test_materialize_branch_failure_cancels_siblings(spark, tmp_path):
    """An atom frame that fails to evaluate: its error propagates, the
    node branch's long job is cancelled rather than awaited, no manifest
    or type_defs is written and no job is left running."""
    ctx = pipeline.PipelineContext(spark, synth_gtf_documents(spark, 20), REGISTRY)
    result = pipeline.build(ctx, CONFIG)
    atoms = result.atoms.withColumn("atom", F.when(
        F.col("atom").isNotNull(), F.raise_error(F.lit("atom render failed")))
        .otherwise(F.col("atom")))
    # a node scan that runs for minutes unless cancelled, and writes nothing
    slow = (spark.range(0, 1 << 40, 1, 4).filter(F.col("id") < 0)
            .select(F.col("id").cast("string").alias("id"),
                    F.lit("gene").alias("label"), F.lit("chr1").alias("chr")))
    out = tmp_path / "kg"
    t0 = time.perf_counter()
    with pytest.raises(Exception, match="atom render failed"):
        pipeline.materialize(pipeline.PipelineResult(slow, result.edges, atoms),
                             str(out), REGISTRY)
    assert time.perf_counter() - t0 < 120
    assert not (out / "_lineage").exists()
    assert not (out / "type_defs.metta").exists()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []



# args an entry cannot run without
REQUIRED_ARGS = {
    "parent_pathway_of": {"label": "parent_pathway_of"},
    "child_pathway_of": {"label": "child_pathway_of"},
    "topld": {"chr": "chr16", "ancestry": "EUR"},
    "ontology_nodes": {"label": "go"},
    "ontology_edges": {"label": "go_subtype_of"},
}
EDGE_ENTRIES = {
    "transcribed_to", "transcribed_from", "genes_pathways", "parent_pathway_of",
    "child_pathway_of", "string", "tflink", "coexpression", "epd_promoter_gene",
    "enhancer_atlas_gene", "dbsuper_gene", "peregrine_gene", "rna_central_go",
    "gaf", "uniprot_translates", "abc_gene", "refseq_closest_gene", "topld",
    "gtex_eqtl", "ontology_edges",
}
KEY_VALUE_DIMS = (
    "abc_tissues", "dbsnp_pos", "dbsuper_tissues", "ea_tissues",
    "ensembl_to_uniprot", "entrez_to_ensembl", "gtex_tissues", "hgnc_ensembl_map",
    "hgnc_to_ensembl", "peregrine_tissues", "roadmap_tissues",
)


def _documents(spark, lines_by_kind: dict[str, list[str]]):
    """One document per span kind, in one partition."""
    rows = [(f"{kind}-0", [(kind, line, None, i) for i, line in enumerate(lines)])
            for kind, lines in lines_by_kind.items()]
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), DOCUMENTS_SCHEMA)


def _key_value(spark, mapping: dict[str, str]):
    return dims.local_frame(spark, {"key": list(mapping), "value": list(mapping.values())},
                            "key string, value string")


def _rsid_dim(spark, rows: list[tuple]):
    return dims.local_frame(spark, {"rsid": [r[0] for r in rows],
                                    "chr": [r[1] for r in rows],
                                    "pos": [r[2] for r in rows]},
                            "rsid string, chr string, pos long")


def _empty_context(spark) -> pipeline.PipelineContext:
    """Empty documents, and every dimension an entry reads, empty."""
    docs = _documents(spark, {})
    dim_frames = {name: _key_value(spark, {}) for name in KEY_VALUE_DIMS}
    dim_frames["dbsnp_rsid"] = _rsid_dim(spark, [])
    dim_frames["ontology_triples"] = parse_ntriples(span_lines(docs, "ontology"))
    dim_frames["liftover"] = chain_blocks(spark, ChainLifter([]))
    return pipeline.PipelineContext(spark, docs, REGISTRY, dims=dim_frames)


def test_every_registry_entry_builds_on_empty_input(spark, monkeypatch):
    """All 40 entries build over empty documents and dimensions: each
    returns the frame shape `build` selects from, and their union renders
    no atom. Entries are recorded as `build` calls them, so each plan is
    built once."""
    ctx = _empty_context(spark)
    assert len(pipeline.PIPELINE_REGISTRY) == 40
    built = {}

    def recorded(name, entry):
        def run(ctx, **args):
            built[name] = entry(ctx, **args)
            return built[name]
        return run

    for name, entry in list(pipeline.PIPELINE_REGISTRY.items()):
        monkeypatch.setitem(pipeline.PIPELINE_REGISTRY, name, recorded(name, entry))
    config = [{"adapter": name, "args": REQUIRED_ARGS.get(name, {})}
              for name in pipeline.PIPELINE_REGISTRY]
    result = pipeline.build(ctx, config)
    assert sorted(built) == sorted(pipeline.PIPELINE_REGISTRY)
    for name, (typed, atoms, is_edge) in built.items():
        assert is_edge == ("src" in typed.columns) == (name in EDGE_ENTRIES), name
        need = {"src", "tgt", "label"} if is_edge else {"id", "label"}
        assert need <= set(typed.columns), name
        assert atoms.columns == ["atom"], name
    assert result.atoms.count() == 0


# physical operators that run Python workers
PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "FlatMapGroupsInPandas")


def test_no_entry_plan_runs_python(spark):
    """No entry's typed or atom plan evaluates Python. The documents are
    an RDD scan and every dimension holds a row, so the optimizer cannot
    fold any entry's plan away to an empty relation."""
    docs = _documents(spark, {"none": ["x"]})
    dim_frames = {name: _key_value(spark, {"k": "v"}) for name in KEY_VALUE_DIMS}
    dim_frames["dbsnp_rsid"] = _rsid_dim(spark, [("rs1", "chr1", 50)])
    dim_frames["ontology_triples"] = parse_ntriples(span_lines(docs, "ontology"))
    dim_frames["liftover"] = chain_blocks(spark, ChainLifter.from_text(compose_chain(
        1, "chr1", 1_000, 0, "chr1", 1_000, "+", 0, [(1_000,)])))
    ctx = pipeline.PipelineContext(spark, docs, REGISTRY, dims=dim_frames)
    assert len(pipeline.PIPELINE_REGISTRY) == 40
    found = {}
    for name, entry in pipeline.PIPELINE_REGISTRY.items():
        typed, atoms, _ = entry(ctx, **REQUIRED_ARGS.get(name, {}))
        for df in (typed, atoms):
            plan = df._jdf.queryExecution().executedPlan().toString()
            hits = [n for n in PYTHON_EVAL_NODES if n in plan]
            if hits:
                found[name] = hits
    assert found == {}


# defaulted parameters the `_CALLS` entries set themselves
CALL_SET_ARGS = {"direction", "alias_df", "rnacentral_map"}


def _calls(tree: ast.AST):
    """(qualifier, name, call) for every call `name(...)` or
    `qualifier.name(...)` in `tree`; qualifier is the plain name before
    the dot, else None."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        func = node.func
        if isinstance(func, ast.Name):
            yield None, func.id, node
        elif isinstance(func, ast.Attribute):
            qualifier = func.value.id if isinstance(func.value, ast.Name) else None
            yield qualifier, func.attr, node


def test_adapter_options_are_set_by_a_caller():
    """Every defaulted parameter of an adapter function that `pipeline`
    calls is one a config can set (`_PASSTHROUGH_ARGS`) or one the
    entries set themselves: an option no caller sets is dead code."""
    tree = ast.parse(inspect.getsource(pipeline))
    called = {(qualifier, name) for qualifier, name, _ in _calls(tree) if qualifier}
    allowed = pipeline._PASSTHROUGH_ARGS | CALL_SET_ARGS
    unset, checked = {}, 0
    for mod_name, attr in sorted(called):
        mod = getattr(pipeline, mod_name, None)
        if not inspect.ismodule(mod) or not mod.__name__.startswith(
                "biocypher_metta_spark.adapters"):
            continue
        checked += 1
        params = inspect.signature(getattr(mod, attr)).parameters.values()
        extra = [p.name for p in params
                 if p.default is not p.empty and p.name not in allowed]
        if extra:
            unset[f"{mod.__name__}.{attr}"] = extra
    assert checked >= 38  # the adapter functions and their dimension parsers
    assert unset == {}


def test_dedup_nodes_keeps_one_row_in_either_order(spark):
    """Two rows for one (label, id) keep the same row whichever partition
    holds which; the columns keep their order."""
    schema = "id string, label string, chr string, start long, end long"
    a = ("ENSG1", "gene", "chr2", 5, 9)
    b = ("ENSG1", "gene", "chr1", 7, 3)
    other = ("ENSG2", "gene", None, None, None)
    for rows in ([a, b, other], [b, a, other]):
        nodes = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
        out = dedup_nodes(nodes)
        assert out.columns == nodes.columns
        assert sorted(tuple(r) for r in out.collect()) == [b, other]


def test_forgedb_edges_render_with_context_registry(spark):
    """abc_gene and refseq_closest_gene render their edge atoms with the
    context's schema registry, so its output labels reach the atoms."""
    abc = ["rs1", "chr1"] + [""] * 27
    abc[10], abc[24], abc[27] = "GENE1", "0.5", "tissueA"
    closest = ["rs1", "chr1", "", "", "", "100", "", "GENE1"]
    docs = _documents(spark, {"abc": [",".join(abc)],
                              "closest_gene": [",".join(closest)]})
    registry = SchemaRegistry(edge_node_types=dict(REGISTRY.edge_node_types))
    for label in ("regulatory_region_gene", "closest_gene"):
        registry.edge_node_types[label] = replace(
            registry.edge_node_types[label], output_label=f"renamed_{label}")
    ctx = pipeline.PipelineContext(spark, docs, registry, dims={
        "hgnc_to_ensembl": _key_value(spark, {"GENE1": "ENSG1"}),
        "abc_tissues": _key_value(spark, {"tissueA": "UBERON_1"}),
        "dbsnp_rsid": _rsid_dim(spark, [("rs1", "chr1", 50)]),
    })
    for name, label, src_type in (("abc_gene", "regulatory_region_gene",
                                   "regulatory_region"),
                                  ("refseq_closest_gene", "closest_gene", "snp")):
        typed, atoms, is_edge = pipeline.PIPELINE_REGISTRY[name](ctx)
        assert is_edge
        got = {r.atom for r in atoms.collect()}
        assert f"(renamed_{label} ({src_type} rs1) (gene ENSG1))" in got, got


# Imports everything the KG build path uses, in a fresh interpreter so no
# other test's imports leak in, then prints every loaded module.
_KG_PATH_IMPORTS = """
import importlib, importlib.util, pkgutil, sys
sys.path.insert(0, sys.argv[1])
spec = importlib.util.spec_from_file_location(
    "build_kg", sys.argv[1] + "/jobs/build_kg.py")
spec.loader.exec_module(importlib.util.module_from_spec(spec))
for sub in ("adapters", "sources", "functions"):
    mod = importlib.import_module("biocypher_metta_spark." + sub)
    for info in pkgutil.iter_modules(mod.__path__):
        importlib.import_module(mod.__name__ + "." + info.name)
for name in ("pipeline", "sinks", "serializer", "lineage", "canonicalize",
             "linking", "dims", "query"):
    importlib.import_module("biocypher_metta_spark." + name)
print("\\n".join(sorted(sys.modules)))
"""


REPO = Path(__file__).resolve().parent.parent


def _kg_path_modules() -> list[str]:
    out = subprocess.run(
        [sys.executable, "-c", _KG_PATH_IMPORTS, str(REPO)],
        capture_output=True, text=True, check=True, timeout=300)
    return out.stdout.split()


def test_kg_path_loads_no_operator_or_gate_module():
    """Nothing outside the KG path loads with it: not the operator
    library, the driver gate registry or pandas (the KG path runs no
    Python worker)."""
    assert [m for m in _kg_path_modules()
            if m.startswith("biocypher_metta_spark.operators")
            or "entry_queries" in m or m == "pandas"] == []


def _positional(fn) -> list[str]:
    """Parameter names of a `def` a call can pass by position, without
    a method's self/cls."""
    names = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    return names[1:] if names[:1] in (["self"], ["cls"]) else names


def _call_sites(paths) -> dict:
    """callee name -> its call sites in `paths`, each (number of
    positional arguments, keywords, forwards). A call with `*args` or
    `**kwargs` counts as passing every parameter. `forwards` maps the
    position or keyword of an argument that is the calling function's
    own defaulted parameter to (calling function, parameter, position):
    such an argument sets the callee's option only where a caller sets
    the calling function's."""
    sites = {}
    for path in paths:
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            pos = _positional(fn)
            params = fn.args.posonlyargs + fn.args.args
            defaulted = {a.arg for a in params[len(params) - len(fn.args.defaults):]} | {
                a.arg for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d}
            for _, name, call in _calls(fn):
                forwards = {}
                for key, arg in [*enumerate(call.args), *((k.arg, k.value) for k in call.keywords)]:
                    if isinstance(arg, ast.Name) and arg.id in defaulted:
                        forwards[key] = (fn.name, arg.id, pos.index(arg.id) if arg.id in pos else None)
                sites.setdefault(id(call), (name, call, forwards))
        for _, name, call in _calls(tree):
            sites.setdefault(id(call), (name, call, {}))
    by_name = {}
    for name, call, forwards in sites.values():
        star = any(isinstance(a, ast.Starred) for a in call.args)
        kws = {k.arg for k in call.keywords}
        n_pos = float("inf") if star else len(call.args)
        if None in kws:
            n_pos, kws = float("inf"), kws | {"*"}
        by_name.setdefault(name, []).append((n_pos, kws, forwards))
    return by_name


def _is_set(sites: dict, name: str, param: str, index, seen=frozenset()) -> bool:
    """Whether some call of `name` passes `param` (at `index` when it
    can go by position), following forwarded arguments to their callers."""
    if (name, param) in seen:
        return False
    for n_pos, kws, forwards in sites.get(name, []):
        if param in kws or "*" in kws:
            key = param
        elif index is not None and index < n_pos:
            key = index
        else:
            continue
        if key not in forwards or _is_set(sites, *forwards[key], seen | {(name, param)}):
            return True
    return False


def test_kg_path_options_are_set_by_a_caller():
    """Every defaulted parameter of a public function or method of the
    modules the KG path loads (the adapters aside, which the test above
    covers) is passed, by keyword or by position, by some call in the
    repository's Python files: an option no caller sets is dead code.
    An argument that only forwards the calling function's own option
    counts where that option is set."""
    import importlib

    modules = [importlib.import_module(m) for m in _kg_path_modules()
               if m.startswith("biocypher_metta_spark")
               and not m.startswith("biocypher_metta_spark.adapters")]
    sites = _call_sites(p for p in REPO.rglob("*.py")
                        if not any(part.startswith(".") for part in p.relative_to(REPO).parts))
    unset, checked = [], 0
    for mod in modules:
        for name, obj in vars(mod).items():
            if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            funcs = [(name, obj)] if inspect.isfunction(obj) else [
                (m, inspect.unwrap(getattr(obj, m))) for m in vars(obj)
                if not m.startswith("_") and inspect.isroutine(getattr(obj, m))
            ] if inspect.isclass(obj) else []
            for fname, fn in funcs:
                checked += 1
                params = [p for p in inspect.signature(fn).parameters.values()
                          if p.name not in ("self", "cls")]
                pos = [p.name for p in params
                       if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)]
                for p in params:
                    if p.default is not p.empty and not _is_set(
                            sites, fname, p.name, pos.index(p.name) if p.name in pos else None):
                        unset.append(f"{mod.__name__}.{fname}({p.name})")
    assert checked >= 100
    assert unset == [], "\n".join(unset)


def test_lines_keyed_reads_spans_without_media_ref(spark, tmp_path):
    """Keyed span lines keep their rows and read the span struct without
    media_ref, as span_lines does."""
    rows = [("d0", [("pwm:M1", "A 1", None, 0), ("media", None, "img/0.png", 1),
                    ("pwm:M2", "C 3", None, 2), ("gtf", "x", None, 3),
                    ("pwm:M3", None, "img/1.png", 4)]),
            ("d1", [("pwm:M1", "G 2", None, 5), ("pwmx:M9", "T", None, 6)])]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, DOCUMENTS_SCHEMA).write.parquet(path)
    docs = read_documents(spark, path)
    got = pipeline.PipelineContext(spark, docs, REGISTRY).lines_keyed("pwm", "model")
    assert got.columns == ["doc_id", "offset", "value", "model"]
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        [("d0", 0, "A 1", "M1"), ("d0", 2, "C 3", "M2"), ("d0", 4, None, "M3"),
         ("d1", 5, "G 2", "M1")], key=repr)
    plan = got._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "offset" in read_schema and "media_ref" not in read_schema, read_schema


def test_bench_scaling_measure_matches_one_materialize(spark, tmp_path):
    """The scaling runner's timed op is the KG job: its atoms and manifest
    rows agree with one `pipeline.materialize` of the job's config."""
    import bench_scaling
    from jobs.build_kg import CONFIG as JOB_CONFIG

    path = str(tmp_path / "docs")
    synth_gtf_documents(spark, 40).write.parquet(path)
    got = bench_scaling.measure(spark, path, str(tmp_path / "bench"))
    ctx = pipeline.PipelineContext(spark, read_documents(spark, path), REGISTRY)
    want = pipeline.materialize(pipeline.build(ctx, JOB_CONFIG),
                                str(tmp_path / "want"), REGISTRY)
    want_atoms = spark.read.text(str(tmp_path / "want" / "metta"))
    assert got["atoms"] == want_atoms.count() > 0
    assert got["rows"] == {name: sum(r["n_rows"] for r in rows)
                           for name, rows in want.items()}
    assert set(got["rows"]) == {"nodes", "edges"} and all(got["rows"].values())
    got_atoms = spark.read.text(str(tmp_path / "bench" / "metta"))
    assert got_atoms.exceptAll(want_atoms).count() == 0
