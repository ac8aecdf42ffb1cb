"""type_defs.metta hierarchy parity vs the reference's emitted shape.

The golden subset (tests/golden_type_defs_subset.metta) is hand-derived
from the reference's walk (metta_writer.py:28-45): per ontology node,
`(<: NODE ancestor)` where ancestor =
`list(nx.dfs_preorder_nodes(G, node, depth_limit=2))[-1]` over the
child->parent graph — the grandparent when the is_a chain is >= 2 deep,
else the parent, else `(: NODE Type)`. The chains are the schema YAML's
own is_a entries merged with the public Biolink-model ancestor edges
(biological entity -> named thing -> entity; biological process ->
biological process or activity -> biological entity; related to at
instance/concept level -> related to) that the reference gets from
BioCypher's Biolink-merged ontology. No Spark session needed.
"""

from pathlib import Path

import pytest

from biocypher_metta_spark import schema as schema_mod
from biocypher_metta_spark.schema import (
    BIOLINK_PARENTS,
    SchemaRegistry,
    load_default_registry,
)

GOLDEN = Path(__file__).parent / "golden_type_defs_subset.metta"


def test_type_defs_match_reference_shape():
    reg = load_default_registry()
    got = set(reg.type_defs_text().splitlines())
    missing = set(GOLDEN.read_text().splitlines()) - got
    assert not missing, f"type_defs lines missing vs golden: {sorted(missing)}"


def test_every_hierarchy_line_is_root_or_ref_ancestor():
    reg = load_default_registry()
    for line in reg.type_defs_text().splitlines():
        if line.startswith("(<: "):
            node, anc = line[4:-1].split()
            assert reg.ref_ancestor(node.lower()) == anc.lower()
        elif line.startswith("(: ") and line.endswith(" Type)"):
            node = line[3:-6].strip()
            assert reg.parents.get(node.lower()) is None
        else:
            # data constructors
            assert "(-> " in line


def test_biolink_ancestors_present_in_hierarchy():
    reg = load_default_registry()
    text = reg.type_defs_text()
    for cls in set(BIOLINK_PARENTS) | set(BIOLINK_PARENTS.values()):
        assert f" {cls.upper()} " in text or f"(: {cls.upper()} Type)" in text, cls


def test_yaml_is_a_wins_over_biolink_on_conflict():
    reg = load_default_registry()
    # every YAML-declared parent must survive the merge untouched
    assert reg.parents["gene"] == "coding_element"
    assert reg.parents["biological_entity"] == "named_thing"


def test_from_yaml_is_a_wins_over_biolink_on_conflict(tmp_path):
    # a schema that re-parents a Biolink class keeps its own parent; the
    # Biolink edges it does not declare are still grafted
    schema = tmp_path / "schema.yaml"
    schema.write_text(
        "biological entity:\n"
        "  represented_as: node\n"
        "  input_label: biological_entity\n"
        "  is_a: thing with taxon\n"
        "gene:\n"
        "  represented_as: node\n"
        "  input_label: gene\n"
        "  is_a: biological entity\n")
    reg = SchemaRegistry.from_yaml(schema)
    assert BIOLINK_PARENTS["biological_entity"] != "thing_with_taxon"
    assert reg.parents["biological_entity"] == "thing_with_taxon"
    assert reg.parents["gene"] == "biological_entity"
    assert reg.parents["named_thing"] == BIOLINK_PARENTS["named_thing"]


def test_fallback_warns_what_it_lacks(tmp_path, monkeypatch):
    monkeypatch.setattr(schema_mod, "DEFAULT_SCHEMA_PATH",
                        tmp_path / "absent.yaml")
    with pytest.warns(UserWarning, match="lacks the node data constructors"):
        reg = load_default_registry()
    assert not reg.node_labels
