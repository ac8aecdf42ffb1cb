"""The benchmark workloads, driven through the engine's public API.

A workload is a list of stages over ONE documents table. Each stage
generates its spans from the seed (`gen.py`); the workload writes them
as a parquet documents table and reads it back with
`sources.documents.read_documents`, as `jobs/build_kg.py --input` does.
One operation runs every stage in turn into one output directory:

* `gencode`      - the `jobs/build_kg.py` config (five gencode adapters)
  through `pipeline.build` + `pipeline.materialize`: shards, tables and
  manifests. JVM-only: no Python crossing, no linking, no CC.
* `scored_edges` - the `string` and `coexpression` adapters the same way:
  edge-only, every atom carries a float rendered by `serializer.fmt_float`.
* `link_canon`   - mention linking, entity counts, alias-chain
  canonicalization, the canonical nodes and counts written partitioned.

In the traced run a closed-loop client probes what the traced operation
wrote, through the `query` layer (the `probe_reads` stage of
the design: on `gencode_job` these are the reference's two probes and a
2-pattern match over the layout `pipeline.materialize` writes).

`layers` runs the traced run's forced calls: each layer's public function
on the workload's inputs, into a `noop` sink unless the layer writes.
"""

from __future__ import annotations

from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark import dims, lineage, linking, pipeline, query, sinks
from biocypher_metta_spark.canonicalize import (
    canonical_id_map,
    canonicalize_nodes,
    dedup_nodes,
)
from biocypher_metta_spark.schema import load_default_registry
from biocypher_metta_spark.serializer import fmt_float
from biocypher_metta_spark.sources.documents import (
    explode_spans,
    read_documents,
    span_lines,
)
from biocypher_metta_spark.sources.gtf import GENE_KEYS, parse_gtf
from biocypher_metta_spark.sources.tabular import split_cols

from perfbench import gen

GENCODE_CONFIG = [{"adapter": a} for a in (
    "gencode_gene", "gencode_transcript", "gencode_exon",
    "transcribed_to", "transcribed_from")]
SCORED_CONFIG = [{"adapter": "string"}, {"adapter": "coexpression"}]
ADAPTERS = [c["adapter"] for c in GENCODE_CONFIG + SCORED_CONFIG]
EXON_KEYS = GENE_KEYS + ["exon_number", "exon_id"]

# Input sizes. A warm operation costs about 6-7 s (gencode) and 10-14 s
# (scored_link) on local[4] whatever the size between a quarter of these
# and all of them: per-job planning, scheduling and write overhead
# dominates. Only the cold warm-up operation grows with the data (gencode:
# 15 s at 2k docs, 21 s at 8k), so sizes are kept small enough that a
# whole run (cold session, warm-up op, two timed ops) stays under 75 s.
SIZES = {
    "gencode": {"docs": 2_000, "duplicate_ratio": 0.1},
    "scored_edges": {"string_lines": 24_000, "cox_files": 100,
                     "cox_lines_per_file": 160, "ids": 3_000,
                     "unmapped_fraction": 0.1},
    "link_canon": {"docs": 6_000, "tokens": 30, "mentions": 3,
                   "entities": 1_200, "chain_depth": 4},
}
PROBE_ROUNDS = 12


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def digest(df: DataFrame, cols: list) -> dict:
    """Spark twin of gen.Digest over the rows of `df`."""
    text = F.concat_ws("\t", *[F.coalesce(F.col(c).cast("string") if isinstance(c, str)
                                          else c, F.lit(gen.NULL)) for c in cols])
    h = F.conv(F.substring(F.md5(text), 1, 16), 16, 10).cast("decimal(20,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return {"n": r["n"], "hash": int(r["h"] or 0) & gen.MASK}


def check_atoms(spark, metta_dir: Path, want: dict) -> list[str]:
    """Compare the written `.metta` lines with the generator's digest."""
    return compare("atoms", digest(spark.read.text(str(metta_dir)), ["value"]), want)


def compare(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, want {want}"]


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def part_files(path: Path) -> int:
    return sum(1 for p in path.rglob("part-*") if p.is_file())


def force(tracer, name: str, df: DataFrame) -> None:
    """Run `df` in full into the noop sink: nothing is pruned away."""
    with tracer.span(name):
        df.write.format("noop").mode("overwrite").save()


def union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@contextmanager
def traced_materialize(tracer):
    """While tracing, wrap the writers `pipeline.materialize` calls in
    spans, so its writes, manifest read-backs and shard write are timed
    (and their Spark tasks charged) one by one."""
    if not tracer.enabled:
        yield
        return
    write, manifest, metta = (lineage.write_partitioned, pipeline._written_manifest,
                              sinks.write_metta_text)

    def write_t(df, path, *a, **k):
        with tracer.span(f"lineage.write_{Path(path).name}"):
            return write(df, path, *a, **k)

    def manifest_t(*a, **k):
        with tracer.span("lineage.manifest"):
            return manifest(*a, **k)

    def metta_t(*a, **k):
        with tracer.span("sinks.write_metta"):
            return metta(*a, **k)

    lineage.write_partitioned, pipeline._written_manifest = write_t, manifest_t
    sinks.write_metta_text = metta_t
    try:
        yield
    finally:
        lineage.write_partitioned, pipeline._written_manifest = write, manifest
        sinks.write_metta_text = metta


# ---------------------------------------------------------------------------
# stages
# ---------------------------------------------------------------------------


class Stage:
    """One part of a workload. `generate` is pure Python (part of set-up)
    and returns the stage's documents rows; `expected` is the oracle;
    `open` builds this session's frames; `op` writes into `out` and
    returns (KG rows, atoms) written; `check` compares `out` with
    `self.exp`; `layers` forces each layer's calls and returns per-layer
    counts plus checked answers; `probes` yields closed-loop read probes
    over `out`. `required` names the per-layer metrics the stage must
    produce in a traced run."""

    name = ""
    required: tuple[str, ...] = ()

    def __init__(self, seed: int, registry) -> None:
        self.seed = seed
        self.sizes = SIZES[self.name]
        self.registry = registry
        self.exp: dict = {}

    def generate(self) -> dict:
        raise NotImplementedError

    def expected(self, inp: dict) -> dict:
        raise NotImplementedError

    def open(self, spark, docs: DataFrame, inp: dict) -> None:
        self.docs = docs

    def op(self, spark, out: Path, tracer) -> tuple[int, int]:
        raise NotImplementedError

    def check(self, spark, out: Path) -> list[str]:
        raise NotImplementedError

    def layers(self, spark, tracer, inp: dict, out: Path) -> tuple[dict, list[str]]:
        raise NotImplementedError

    def probes(self, spark, out: Path):
        """Yield one round of probes at a time: a list of (span name,
        run query -> rows, check rows -> errors)."""
        return iter(())


def _span_lines(tracer, m: dict, lines: DataFrame) -> None:
    """Force the stage's span selection and count the lines it selects."""
    force(tracer, "sources.documents.span_lines", lines)
    m["sources.documents.spans_selected"] = lines.count()


class BuildStage(Stage):
    """A `pipeline.build` + `pipeline.materialize` job over a config."""

    config: list[dict] = []

    def open(self, spark, docs, inp) -> None:
        super().open(spark, docs, inp)
        self.meta = inp["meta"]
        self.dim_frames = {k: dims.dim_from_map(spark, v)
                           for k, v in inp.get("dims", {}).items()}

    def op(self, spark, out, tracer):
        ctx = pipeline.PipelineContext(spark, self.docs, self.registry,
                                       dims=self.dim_frames)
        with tracer.span("pipeline.build"):
            result = pipeline.build(ctx, self.config)
        with tracer.span("pipeline.materialize"), traced_materialize(tracer):
            self.manifests = pipeline.materialize(result, str(out), self.registry,
                                                  run_id=f"seed-{self.seed}")
        spark.catalog.clearCache()
        rows = self.exp["edges"]["n"] + self.exp.get("nodes", {"n": 0})["n"]
        return rows, self.exp["atoms"]["n"]

    def check(self, spark, out) -> list[str]:
        exp = self.exp
        errs = check_atoms(spark, out / "metta", exp["atoms"])
        total = exp["edges"]["n"]
        if "nodes" in exp:
            errs += compare("nodes", digest(spark.read.parquet(str(out / "nodes")),
                                            ["id", "label", "chr", "start", "end"]),
                            exp["nodes"])
            total += exp["nodes"]["n"]
        errs += compare("edges", digest(spark.read.parquet(str(out / "edges")),
                                        ["src", "tgt", "label"]), exp["edges"])
        written = sum(r["n_rows"] for rows in self.manifests.values() for r in rows)
        return errs + compare("manifest rows", written, total)

    def prefill(self, ctx) -> None:
        """Fill the context's shared caches before adapters are timed."""

    def adapter_layers(self, spark, tracer, m: dict) -> tuple[list, list[str]]:
        """Force each adapter's typed and atom frames separately, then
        their atom union into the noop sink; returns the node frames."""
        ctx = pipeline.PipelineContext(spark, self.docs, self.registry,
                                       dims=self.dim_frames)
        self.prefill(ctx)
        nodes, atoms = [], []
        for entry in self.config:
            name = entry["adapter"]
            typed, atom_df, is_edge = pipeline.PIPELINE_REGISTRY[name](ctx)
            force(tracer, f"adapters.{name}.typed", typed)
            force(tracer, f"adapters.{name}.render", atom_df)
            m[f"adapters.{name}.atoms"] = atom_df.count()
            atoms.append(atom_df)
            if not is_edge:
                nodes.append(typed.select("id", "label", "chr", "start", "end"))
        force(tracer, "sinks.metta_noop", union_all(atoms))
        n_atoms = sum(m[f"adapters.{e['adapter']}.atoms"] for e in self.config)
        return nodes, compare(f"{self.name} adapter atoms", n_atoms, self.exp["atoms"]["n"])

    def output_layers(self, out: Path, m: dict) -> None:
        """Sizes of what the last traced op wrote."""
        m["sinks.metta_bytes"] = dir_bytes(out / "metta")
        m["sinks.files"] = part_files(out / "metta")
        m["lineage.partitions"] = sum(len(v) for v in self.manifests.values())
        m["lineage.files"] = sum(part_files(out / d) for d in ("nodes", "edges")
                                 if (out / d).exists())


BUILD_REQUIRED = ("pipeline.build_s", "pipeline.materialize_s", "lineage.write_edges_s",
                  "lineage.manifest_s", "lineage.partitions", "lineage.files",
                  "sinks.write_metta_s", "sinks.metta_noop_s", "sinks.metta_bytes",
                  "sinks.files", "sources.documents.span_lines_s",
                  "query.probe_p50_ms", "query.probe_p90_ms",
                  "sources.documents.spans_in", "sources.documents.spans_selected")


def _adapter_metrics(config) -> tuple[str, ...]:
    return tuple(f"adapters.{c['adapter']}.{k}" for c in config
                 for k in ("typed_s", "render_s", "atoms"))


class GencodeStage(BuildStage):
    name = "gencode"
    config = GENCODE_CONFIG
    required = BUILD_REQUIRED + _adapter_metrics(GENCODE_CONFIG) + (
        "sources.gtf.parse_s", "sources.gtf.lines_in", "sources.gtf.lines_parsed",
        "canonicalize.dedup_nodes_s", "canonicalize.duplicates_collapsed",
        "lineage.write_nodes_s", "query.genes_in_window_ms",
        "query.fetch_node_properties_ms", "query.match_pattern_ms", "query.rows_returned")

    def generate(self):
        s = self.sizes
        return gen.gencode_inputs(self.seed, s["docs"], s["duplicate_ratio"])

    def expected(self, inp):
        self.nums = inp["nums"]
        return gen.gencode_expected(inp["nums"], self.registry.edge_out)

    def prefill(self, ctx):
        ctx.gtf().count()
        ctx.gtf(keys=EXON_KEYS).count()

    def layers(self, spark, tracer, inp, out):
        m = {}
        lines = span_lines(self.docs, "gtf")
        _span_lines(tracer, m, lines)
        m["sources.gtf.lines_in"] = m["sources.documents.spans_selected"]
        parsed = parse_gtf(lines, keys=EXON_KEYS)
        force(tracer, "sources.gtf.parse", parsed)
        m["sources.gtf.lines_parsed"] = parsed.filter(
            F.col("type").isNotNull() & F.col("start").isNotNull()
            & F.col("end").isNotNull()).count()
        n_lines = self.meta["docs"] * (2 + gen.EXONS_PER_TRANSCRIPT)
        errs = compare("gtf lines_parsed", m["sources.gtf.lines_parsed"], n_lines)
        nodes, e = self.adapter_layers(spark, tracer, m)
        errs += e
        union = union_all(nodes)
        force(tracer, "canonicalize.dedup_nodes", dedup_nodes(union))
        m["canonicalize.duplicates_collapsed"] = union.count() - dedup_nodes(union).count()
        per_gene = 2 + gen.EXONS_PER_TRANSCRIPT
        errs += compare("duplicates_collapsed", m["canonicalize.duplicates_collapsed"],
                        (self.meta["docs"] - self.meta["genes"]) * per_gene)
        spark.catalog.clearCache()
        self.output_layers(out, m)
        return m, errs

    def probes(self, spark, out):
        """The reference's two probes and a 2-pattern match over the
        written node table, arguments and answers from the generator."""
        nodes = spark.read.parquet(str(out / "nodes"))
        triples = query.node_prop_triples(nodes)
        for p in gen.probe_plan(self.seed, self.nums, PROBE_ROUNDS):
            chr_, start = p["match"]
            yield [
                ("query.genes_in_window",
                 lambda p=p: query.genes_in_window(nodes, *p["window"]).collect(),
                 lambda rows, p=p: compare("window", sorted(r["id"] for r in rows),
                                           p["window_ids"])),
                ("query.fetch_node_properties",
                 lambda p=p: query.fetch_node_properties(nodes, "gene",
                                                         p["fetch"]).collect(),
                 lambda rows, p=p: compare("props", sorted((r["pred"], r["obj"])
                                                           for r in rows),
                                           p["fetch_props"])),
                ("query.match_pattern",
                 lambda c=chr_, s=start: query.match_pattern(
                     triples, [("$n", "chr", c), ("$n", "start", s)]).collect(),
                 lambda rows, p=p: compare("match", sorted(r["n"] for r in rows),
                                           p["match_subjects"]))]


class ScoredStage(BuildStage):
    name = "scored_edges"
    config = SCORED_CONFIG
    required = BUILD_REQUIRED + _adapter_metrics(SCORED_CONFIG) + (
        "sources.tabular.split_s", "dims.join_s", "dims.mapped_ratio",
        "serializer.fmt_float_s", "serializer.float_values",
        "query.match_pattern_ms", "query.rows_returned")

    def generate(self):
        s = self.sizes
        return gen.scored_inputs(self.seed, s["string_lines"], s["cox_files"],
                                 s["cox_lines_per_file"], s["ids"],
                                 s["unmapped_fraction"])

    def expected(self, inp):
        self.inp = inp
        return gen.scored_expected(inp, self.registry.edge_out)

    def layers(self, spark, tracer, inp, out):
        m = {}
        ctx = pipeline.PipelineContext(spark, self.docs, self.registry)
        string_lines = ctx.lines("string")
        cox_lines = ctx.lines_keyed("coxpresdb", "file_entrez")
        force(tracer, "sources.documents.span_lines", cox_lines)
        _span_lines(tracer, m, string_lines)
        n_lines = m["sources.documents.spans_selected"] + cox_lines.count()
        m["sources.documents.spans_selected"] = n_lines
        s = split_cols(string_lines, {"p1": 0, "p2": 1, "score": 2}, " ")
        c = split_cols(cox_lines, {"co_entrez": 0, "score": 1}, r"\s+")
        with tracer.span("sources.tabular.split"):
            for df in (s, c):
                df.write.format("noop").mode("overwrite").save()
        s = s.select(F.get(F.split("p1", r"\."), 1).alias("e1"),
                     F.get(F.split("p2", r"\."), 1).alias("e2"), "score")
        e2u = self.dim_frames["ensembl_to_uniprot"]
        e2e = self.dim_frames["entrez_to_ensembl"]
        joined = [
            dims.lookup_join(dims.lookup_join(s, e2u, F.col("e1"), out_col="src"),
                             e2u, F.col("e2"), out_col="tgt"),
            dims.lookup_join(dims.lookup_join(c, e2e, F.col("file_entrez"),
                                              out_col="src"),
                             e2e, F.col("co_entrez"), out_col="tgt")]
        with tracer.span("dims.join"):
            for df in joined:
                df.write.format("noop").mode("overwrite").save()
        edges_out = sum(df.count() for df in joined)
        m["dims.mapped_ratio"] = edges_out / n_lines
        errs = compare("dims edges out", edges_out, self.exp["edges"]["n"])
        _, e = self.adapter_layers(spark, tracer, m)
        errs += e
        scores = joined[0].select((F.col("score").cast("double") / 1000).alias("v")) \
            .unionByName(joined[1].select(F.col("score").cast("double").alias("v")))
        force(tracer, "serializer.fmt_float", scores.select(fmt_float("v")))
        m["serializer.float_values"] = scores.count()
        errs += compare("float_values", m["serializer.float_values"],
                        self.exp["float_values"])
        self.output_layers(out, m)
        return m, errs

    def probes(self, spark, out):
        """2-pattern matches over the written edges read as triples."""
        edges = spark.read.parquet(str(out / "edges")).select(
            F.col("src").alias("subj"), F.col("label").alias("pred"),
            F.col("tgt").alias("obj"))
        for p in gen.two_hop_plan(self.seed, self.inp, PROBE_ROUNDS):
            yield [("query.match_pattern",
                    lambda s=p["source"]: query.match_pattern(
                        edges, [(s, "interacts_with", "$b"),
                                ("$b", "interacts_with", "$c")]).collect(),
                    lambda rows, p=p: compare("two-hop", sorted((r["b"], r["c"])
                                                                for r in rows),
                                              p["pairs"]))]


class LinkStage(Stage):
    name = "link_canon"
    required = (
        "sources.documents.span_lines_s", "sources.documents.spans_in",
        "sources.documents.spans_selected", "linking.link_s", "linking.candidates",
        "linking.links", "linking.hit_ratio", "linking.entity_counts_s",
        "canonicalize.cc_s", "canonicalize.components", "canonicalize.ids_remapped",
        "canonicalize.dedup_nodes_s", "canonicalize.duplicates_collapsed",
        "lineage.write_nodes_s", "query.fetch_node_properties_ms", "query.rows_returned")

    def generate(self):
        s = self.sizes
        return gen.link_inputs(self.seed, s["docs"], s["tokens"], s["mentions"],
                               s["entities"], s["chain_depth"])

    def expected(self, inp):
        return gen.link_expected(inp)

    def open(self, spark, docs, inp):
        super().open(spark, docs, inp)
        self.meta = inp["meta"]
        self.dictionary = inp["dictionary"]
        self.alias = spark.createDataFrame(inp["alias_edges"], "src string, dst string")

    def _linked(self, spark):
        link = linking.build_mention_join(spark, self.dictionary)
        return link(span_lines(self.docs, gen.TEXT_KIND))

    @staticmethod
    def _nodes(linked):
        return linked.select(F.col("entity").alias("id"), F.lit("gene").alias("label"))

    def op(self, spark, out, tracer):
        linked = self._linked(spark)
        counts = linking.entity_mention_counts(linked).withColumn("label", F.lit("gene"))
        with tracer.span("canonicalize.cc"):
            id_map = canonical_id_map(self.alias)
        canon = canonicalize_nodes(self._nodes(linked), id_map)
        with tracer.span("lineage.write_nodes"):
            lineage.write_partitioned(canon, str(out / "canonical_nodes"), ["label"])
            lineage.write_partitioned(counts, str(out / "entity_counts"), ["label"])
        return self.exp["nodes"]["n"] + self.exp["entity_counts"]["n"], 0

    def check(self, spark, out):
        exp = self.exp
        counts = spark.read.parquet(str(out / "entity_counts"))
        nodes = spark.read.parquet(str(out / "canonical_nodes"))
        return (compare("canonical nodes", digest(nodes, ["id", "label"]), exp["nodes"])
                + compare("entity counts", digest(counts, [
                    "entity", "n_mentions", F.format_string("%.4f", "score_sum"),
                    "label"]), exp["entity_counts"])
                + compare("links", counts.agg(F.sum("n_mentions")).collect()[0][0],
                          exp["links"]))

    def layers(self, spark, tracer, inp, out):
        m = {}
        _span_lines(tracer, m, span_lines(self.docs, gen.TEXT_KIND))
        linked = self._linked(spark)
        force(tracer, "linking.link", linked)
        # later layers read the links and the id map from memory, so each
        # span times its own layer, not a recomputation of the one before
        linked = linked.cache()
        m["linking.candidates"] = self.meta["candidates"]
        m["linking.links"] = linked.count()
        m["linking.hit_ratio"] = m["linking.links"] / m["linking.candidates"]
        errs = compare("links", m["linking.links"], self.exp["links"])
        force(tracer, "linking.entity_counts", linking.entity_mention_counts(linked))
        id_map = canonical_id_map(self.alias).cache()
        m["canonicalize.components"] = id_map.select("canonical_id").distinct().count()
        m["canonicalize.ids_remapped"] = id_map.filter(
            F.col("id") != F.col("canonical_id")).count()
        errs += compare("components", m["canonicalize.components"],
                        self.exp["components"])
        errs += compare("ids_remapped", m["canonicalize.ids_remapped"],
                        self.exp["ids_remapped"])
        canon = canonicalize_nodes(self._nodes(linked), id_map)
        force(tracer, "canonicalize.dedup_nodes", canon)
        m["canonicalize.duplicates_collapsed"] = m["linking.links"] - canon.count()
        errs += compare("duplicates_collapsed", m["canonicalize.duplicates_collapsed"],
                        self.exp["links"] - self.exp["nodes"]["n"])
        linked.unpersist()
        id_map.unpersist()
        return m, errs

    def probes(self, spark, out):
        """Property fetch of one linked entity over the written counts."""
        counts = spark.read.parquet(str(out / "entity_counts")).select(
            F.col("entity").alias("id"), "label", "n_mentions")
        for p in gen.entity_probe_plan(self.seed, self.exp["mentions"], PROBE_ROUNDS):
            yield [("query.fetch_node_properties",
                    lambda e=p["entity"]: query.fetch_node_properties(
                        counts, "gene", e).collect(),
                    lambda rows, p=p: compare("entity props", sorted(
                        (r["pred"], r["obj"]) for r in rows), p["props"]))]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """Stages over one documents table, run one after another per op."""

    def __init__(self, name: str, stages: list[type[Stage]], seed: int) -> None:
        self.name = name
        self.seed = seed
        registry = load_default_registry()
        self.stages = [s(seed, registry) for s in stages]
        self.input_bytes = 0

    @property
    def sizes(self) -> dict:
        return {s.name: s.sizes for s in self.stages}

    @property
    def required(self) -> list[str]:
        return sorted({m for s in self.stages for m in s.required})

    def generate(self) -> list[dict]:
        return [s.generate() for s in self.stages]

    def set_expected(self, inps: list[dict]) -> None:
        for s, inp in zip(self.stages, inps):
            s.exp = s.expected(inp)

    def write_inputs(self, inps: list[dict], in_dir: Path) -> None:
        rows = [r for inp in inps for r in inp["rows"]]
        self.input_bytes = gen.write_documents(rows, str(in_dir))
        self.in_dir = in_dir

    def open(self, spark, inps: list[dict]) -> None:
        docs = read_documents(spark, str(self.in_dir))
        for s, inp in zip(self.stages, inps):
            s.open(spark, docs, inp)

    def op(self, spark, out: Path, tracer) -> tuple[int, int]:
        rows = atoms = 0
        for s in self.stages:
            r, a = s.op(spark, out, tracer)
            rows, atoms = rows + r, atoms + a
        return rows, atoms

    def check(self, spark, out: Path) -> list[str]:
        return [e for s in self.stages for e in s.check(spark, out)]

    def layers(self, spark, tracer, inps: list[dict], out: Path) -> tuple[dict, list]:
        docs = self.stages[0].docs
        m = {"sources.documents.spans_in": explode_spans(docs).count()}
        errs = compare("spans_in", m["sources.documents.spans_in"],
                       sum(inp["meta"]["spans"] for inp in inps))
        for s, inp in zip(self.stages, inps):
            sm, e = s.layers(spark, tracer, inp, out)
            selected = m.get("sources.documents.spans_selected", 0)
            m.update(sm)
            m["sources.documents.spans_selected"] += selected
            errs += e
        return m, errs

    def probes(self, spark, out: Path):
        """Rounds of probes: round k holds every stage's k-th round."""
        for parts in zip(*(s.probes(spark, out) for s in self.stages)):
            yield [p for part in parts for p in part]


WORKLOADS = {
    "gencode_job": [GencodeStage],
    "scored_link": [ScoredStage, LinkStage],
}
