"""BioCypher-style schema compiler (driver-side, tiny).

Re-implements the schema walk the reference performs through the BioCypher
library (reference: biocypher_metta/metta_writer.py:47-88
``create_data_constructors``) directly over the schema YAML:

* ``edge_node_types``: input_label -> {source, target, output_label} —
  consulted for every emitted edge (metta_writer.py:137-141).
* type hierarchy from ``is_a`` chains MERGED with the public Biolink
  ancestor edges (BIOLINK_PARENTS) -> ``type_defs.metta`` text matching
  the reference's emitted shape per node, including its
  grandparent-not-parent dfs quirk (metta_writer.py:28-45,185-189).
  Remaining documented divergence: the reference also dumps one line for
  every OTHER class of the full Biolink model (nodes its constructors
  never reference), and iterates in graph insertion order vs sorted here.
* per-label property type map (str/int/float/str[]/float[]/obj) driving
  Spark column types.

Without the schema YAML, ``load_default_registry`` falls back to what is
embedded here: the compiled edge registry (FALLBACK_EDGE_TYPES), the
Biolink chain (BIOLINK_PARENTS) and the three is_a edges the project's
documents settle (FALLBACK_PARENTS). That fallback has no node data
constructors, no other is_a edge, and no edge-type parents: every edge
type is written as a root, ``(: TRANSCRIBED_TO Type)``, where the YAML
gives ``(<: TRANSCRIBED_TO RELATED_TO_AT_INSTANCE_LEVEL)``.

Everything here runs once on the driver at job start and is broadcast; no
distributed work (the schema is ~80 entries).
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field
from pathlib import Path

import yaml

# Property type names in the YAML -> Spark type names (informational).
PROP_SPARK_TYPES = {
    "str": "string",
    "int": "long",
    "float": "double",
    "str[]": "array<string>",
    "float[]": "array<double>",
    "int[]": "array<long>",
    "obj": "map<string,string>",
}


def _norm(label: str) -> str:
    """convert_input_labels: spaces -> underscores (metta_writer.py:176-183)."""
    return label.replace(" ", "_")


# Biolink-model class chains ABOVE the classes the schema YAML roots at —
# public knowledge from the biolink-model releases bundled with BioCypher
# 0.5.x (the reference's pin). The reference gets these by walking
# BioCypher's Biolink-merged ontology graph (metta_writer.py:22,28-45);
# this container has no biocypher/biolink package, so the (small, stable)
# parent edges for the five Biolink classes the YAML references are
# embedded statically. Keys normalized like every other type key.
# Roots (no entry here): entity, ontology_class, related_to.
BIOLINK_PARENTS: dict[str, str] = {
    "biological_entity": "named_thing",
    "named_thing": "entity",
    "biological_process": "biological_process_or_activity",
    "biological_process_or_activity": "biological_entity",
    "related_to_at_instance_level": "related_to",
    "related_to_at_concept_level": "related_to",
}

# The schema YAML's is_a edges that the project's documents settle, for
# the fallback registry. gene -> coding_element is PAPER.md §1.1's
# `(<: GENE CODING_ELEMENT)`, read as the is_a edge itself: read as a
# grandparent line it would contradict the reference line
# `(<: GENE POSITION_ENTITY)`, and as the edge it agrees with it. The two
# edges above follow from that line and `(<: CODING_ELEMENT
# BIOLOGICAL_ENTITY)` (tests/golden_type_defs_subset.metta) under
# ref_ancestor's grandparent rule. For every other schema type those
# lines record only the grandparent, so its parent is left out rather
# than guessed.
FALLBACK_PARENTS: dict[str, str] = {
    "gene": "coding_element",
    "coding_element": "position_entity",
    "position_entity": "biological_entity",
}


@dataclass
class EdgeTypeInfo:
    source: str
    target: str
    output_label: str | None
    edge_type: str  # normalized schema key (the MeTTa edge Type name)


@dataclass
class SchemaRegistry:
    """Compiled schema: edge endpoint registry + hierarchy + property types."""

    edge_node_types: dict[str, EdgeTypeInfo] = field(default_factory=dict)
    node_labels: dict[str, str] = field(default_factory=dict)  # input_label -> type key
    parents: dict[str, str] = field(default_factory=dict)  # type key -> is_a parent
    properties: dict[str, dict[str, str]] = field(default_factory=dict)

    @classmethod
    def from_yaml(cls, schema_path: str | Path) -> "SchemaRegistry":
        with open(schema_path) as f:
            schema = yaml.safe_load(f)
        reg = cls()
        for key, v in schema.items():
            if not isinstance(v, dict) or "represented_as" not in v:
                continue
            type_key = _norm(key)
            is_a = v.get("is_a")
            if isinstance(is_a, list):
                is_a = is_a[0]
            if is_a:
                reg.parents[type_key] = _norm(str(is_a))
            props = v.get("properties") or {}
            if v["represented_as"] == "edge":
                src = v.get("source")
                tgt = v.get("target")
                if src is None or tgt is None:
                    continue
                in_label = v["input_label"]
                if isinstance(in_label, list):
                    in_label, src, tgt = in_label[0], src[0], tgt[0]
                label = _norm(in_label).lower()
                out_label = v.get("output_label")
                reg.edge_node_types[label] = EdgeTypeInfo(
                    source=_norm(src).lower(),
                    target=_norm(tgt).lower(),
                    output_label=out_label.lower() if out_label is not None else None,
                    edge_type=type_key,
                )
                reg.properties[label] = {k: str(t) for k, t in props.items()}
            else:
                labels = v["input_label"]
                if not isinstance(labels, list):
                    labels = [labels]
                for l in labels:
                    reg.node_labels[_norm(l)] = type_key
                    reg.properties[_norm(l)] = {k: str(t) for k, t in props.items()}
        reg.graft_biolink()
        return reg

    def graft_biolink(self) -> None:
        """Graft the public Biolink ancestor edges above the schema's
        roots; parents the schema declares win on conflict."""
        for child, parent in BIOLINK_PARENTS.items():
            self.parents.setdefault(child, parent)

    # ------------------------------------------------------------------
    # edge serialization lookups (metta_writer.py:137-143)
    # ------------------------------------------------------------------
    def edge_out(self, label: str) -> tuple[str, str, str]:
        """(final_label, source_type, target_type) for an edge input label."""
        info = self.edge_node_types[label.lower()]
        final = info.output_label if info.output_label is not None else label.lower()
        return final, info.source, info.target

    # ------------------------------------------------------------------
    # type_defs.metta (metta_writer.py:28-88)
    # ------------------------------------------------------------------
    def root_of(self, type_key: str) -> str:
        seen = set()
        cur = type_key
        while cur in self.parents and cur not in seen:
            seen.add(cur)
            cur = self.parents[cur]
        return cur

    def ref_ancestor(self, type_key: str) -> str:
        """The ancestor the reference emits per type: metta_writer.py:34
        takes ``list(nx.dfs_preorder_nodes(G, node, depth_limit=2))[-1]``
        over the child->parent ontology graph — i.e. the GRANDPARENT when
        the is_a chain is >= 2 deep, else the parent, else the node itself
        (the docstring there says "immediate parent"; the code walks two
        levels — reproduced faithfully)."""
        p = self.parents.get(type_key)
        if p is None or p == type_key:
            return type_key
        gp = self.parents.get(p)
        return gp if gp is not None and gp != p else p

    def type_defs_text(self) -> str:
        lines: list[str] = []

        # hierarchy walk (metta_writer.py:28-45): one line per ontology
        # node, '(: N Type)' for roots else '(<: N <ref_ancestor>)'.
        # Scope divergence (documented): the reference iterates EVERY node
        # of the Biolink-merged graph (the full Biolink model dump, in
        # graph insertion order); here the walk covers the subgraph
        # reachable from the schema's own classes — the set every emitted
        # constructor/type actually references — in sorted order. Nodes
        # with 'mixin' in the name are skipped like the reference (none
        # occur in this subgraph).
        universe = (set(self.node_labels.values())
                    | {i.edge_type for i in self.edge_node_types.values()}
                    | set(self.parents) | set(self.parents.values()))
        for tk in sorted(universe):
            if "mixin" in tk:
                continue
            anc = self.ref_ancestor(tk)
            if anc == tk:
                lines.append(f"(: {tk.upper()} Type)")
            else:
                lines.append(f"(<: {tk.upper()} {anc.upper()})")

        # data constructors (metta_writer.py:50-88)
        for in_label, type_key in sorted(self.node_labels.items()):
            lines.append(f"(: {in_label.lower()} (-> $x {type_key.upper()}))")
        for label, info in sorted(self.edge_node_types.items()):
            lines.append(
                f"(: {label} (-> {info.source.upper()} {info.target.upper()} "
                f"{info.edge_type.upper()}))"
            )
        return "\n".join(lines) + "\n"


DEFAULT_SCHEMA_PATH = Path("/root/reference/config/schema_config.yaml")


def load_default_registry() -> SchemaRegistry:
    """Registry from the reference's schema YAML when present, else the
    embedded fallback so the engine is standalone.

    The fallback carries the compiled edge registry (FALLBACK_EDGE_TYPES),
    the Biolink chain (BIOLINK_PARENTS) and the three documented is_a
    edges (FALLBACK_PARENTS). Until the YAML is in the repository it
    lacks the node data constructors, every other is_a edge, and the
    edge types' parents; falling back warns, naming that gap."""
    if DEFAULT_SCHEMA_PATH.exists():
        return SchemaRegistry.from_yaml(DEFAULT_SCHEMA_PATH)
    warnings.warn(
        f"{DEFAULT_SCHEMA_PATH} is absent: using the embedded schema "
        "fallback, whose type_defs.metta lacks the node data constructors, "
        "every is_a edge beyond the Biolink chain and "
        + ", ".join(f"{c} -> {p}" for c, p in FALLBACK_PARENTS.items())
        + ", and the edge types' parents",
        stacklevel=2)
    reg = SchemaRegistry(parents=dict(FALLBACK_PARENTS))
    for label, (src, tgt, out) in FALLBACK_EDGE_TYPES.items():
        reg.edge_node_types[label] = EdgeTypeInfo(src, tgt, out, label)
    reg.graft_biolink()
    return reg


# Compiled form of the schema's edge registry (input_label -> (source type,
# target type, output_label)) — the data the engine actually consults at
# serialization time, embedded so deployments don't need the YAML.
FALLBACK_EDGE_TYPES: dict[str, tuple[str, str, str | None]] = {
    "transcribed_to": ("gene", "transcript", None),
    "transcribed_from": ("transcript", "gene", None),
    "translates_to": ("transcript", "protein", None),
    "translation_of": ("protein", "transcript", None),
    "coexpressed_with": ("gene", "gene", None),
    "interacts_with": ("protein", "protein", None),
    "genes_pathways": ("gene", "pathway", None),
    "parent_pathway_of": ("pathway", "pathway", None),
    "child_pathway_of": ("pathway", "pathway", None),
    "subtype_of": ("ontology_term", "ontology_term", None),
    "uberon_subtype_of": ("uberon", "uberon", "subtype_of"),
    "clo_subtype_of": ("clo", "clo", "subtype_of"),
    "go_subtype_of": ("go", "go", "subtype_of"),
    "go_gene_product": ("gene_ontology", "protein", None),
    "go_gene": ("gene", "go", "belongs_to"),
    "go_rna": ("non_coding_rna", "go", "belongs_to"),
    "ontology_has_part": ("ontology_term", "ontology_term", "has_part"),
    "ontology_part_of": ("ontology_term", "ontology_term", "part_of"),
    "ontology_subclass_of": ("ontology_term", "ontology_term", "subclass_of"),
    "enhancer_gene": ("enhancer", "gene", "regulates"),
    "promoter_gene": ("promoter", "gene", "regulates"),
    "super_enhancer_gene": ("super_enhancer", "gene", "regulates"),
    "tf_gene": ("gene", "gene", "regulates"),
    "regulatory_region_gene": ("regulatory_region", "gene", "regulates"),
    "gtex_variant_gene": ("snp", "gene", "correlates_with"),
    "closest_gene": ("snp", "gene", None),
    "upstream_gene": ("snp", "gene", None),
    "downstream_gene": ("snp", "gene", None),
    "in_gene": ("snp", "gene", None),
    "in_ld_with": ("snp", "snp", None),
    "lower_resolution": ("chromosome_chain", "chromosome_chain", None),
    "located_on_chain": ("position_entity", "chromosome_chain", None),
}
