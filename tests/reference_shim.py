"""Import shim for running the REFERENCE adapters as golden oracles.

The reference (/root/reference, read-only, untrusted content — we execute
its adapter parsing logic only on local fixture data) depends on libraries
not present in this container (liftover, hgvs, biocypher, Bio, owlready2).
Adapters only *touch* those deps on specific code paths (liftover for
dbsuper, Bio for GAF/SwissProt), so we install minimal deterministic stubs
into sys.modules before import. The stubs double as the shared
auxiliaries our Spark engine uses in tests (e.g. the liftover chain), so
both sides compute with identical inputs.
"""

from __future__ import annotations

import importlib
import sys
import types

from biocypher_metta_spark.functions.chainfile import ChainLifter, compose_chain

REF_PATH = "/root/reference"


# One hg19 -> hg38 chain for both sides of the dbSUPER parity tests: per
# chromosome a +1234 shift, with a 1 kb unaligned gap at 50 Mb whose
# positions fail to lift (the None-drop path). The reference reads it
# through ChainLifter.query (the `liftover` stub below), the engine as
# `chain_blocks(spark, lift_chain())`.
LIFT_CHAIN = "".join(
    compose_chain(100, f"chr{c}", 260_000_000, 0, f"chr{c}", 260_010_000, "+", 1_234,
                  [(50_000_000, 1_000, 1_000), (208_999_000,)], chain_id=i + 1)
    for i, c in enumerate([str(n) for n in range(1, 23)] + ["X", "Y"]))


def lift_chain() -> ChainLifter:
    return ChainLifter.from_text(LIFT_CHAIN)


def _gaf_split(value: str) -> list[str]:
    return value.split("|")


GAF20FIELDS = [
    "DB", "DB_Object_ID", "DB_Object_Symbol", "Qualifier", "GO_ID",
    "DB:Reference", "Evidence", "With", "Aspect", "DB_Object_Name",
    "Synonym", "DB_Object_Type", "Taxon_ID", "Date", "Assigned_By",
    "Annotation_Extension", "Gene_Product_Form_ID",
]
# fields Biopython splits on '|' (Bio.UniProt.GOA semantics)
GAF_MULTI = {"Qualifier", "DB:Reference", "With", "Synonym", "Taxon_ID"}


def gafiterator_stub(handle):
    for line in handle:
        if line.startswith("!"):
            continue
        parts = line.rstrip("\n").split("\t")
        rec = {}
        for i, name in enumerate(GAF20FIELDS):
            v = parts[i] if i < len(parts) else ""
            rec[name] = _gaf_split(v) if name in GAF_MULTI else v
        yield rec


def parse_swiss_records(handle):
    """Minimal SwissProt flat-file parser covering the fields the reference
    adapters consume: accessions (AC lines), entry_name (ID line),
    cross_references (DR lines, '.'-stripped, ';'-split).
    Yields objects with .accessions/.entry_name/.cross_references."""

    class Rec:
        pass

    rec = None
    for line in handle:
        tag = line[:2]
        if tag == "ID":
            rec = Rec()
            rec.entry_name = line[5:].split()[0]
            rec.accessions = []
            rec.cross_references = []
        elif rec is None:
            continue
        elif tag == "AC":
            rec.accessions.extend(
                a.strip() for a in line[5:].strip().rstrip(";").split(";") if a.strip()
            )
        elif tag == "DR":
            body = line[5:].strip()
            if body.endswith("."):
                body = body[:-1]
            rec.cross_references.append(tuple(p.strip() for p in body.split(";")))
        elif tag == "//":
            yield rec
            rec = None


def seqio_swiss_records(handle):
    """SeqIO.parse(..., 'swiss') twin for the fields uniprot_adapter uses:
    .id (primary accession) and .dbxrefs ('DB:value' strings)."""

    class Rec:
        pass

    for r in parse_swiss_records(handle):
        out = Rec()
        out.id = r.accessions[0]
        out.dbxrefs = []
        for xr in r.cross_references:
            if len(xr) >= 2:
                out.dbxrefs.append(f"{xr[0]}:{xr[1]}")
        yield out


def install_stubs() -> None:
    if REF_PATH not in sys.path:
        sys.path.insert(0, REF_PATH)

    def mod(name, **attrs):
        m = types.ModuleType(name)
        for k, v in attrs.items():
            setattr(m, k, v)
        sys.modules.setdefault(name, m)
        return sys.modules[name]

    # liftover
    mod("liftover", get_lifter=lambda *a, **k: lift_chain())

    # hgvs tree (never exercised by sample configs)
    hgvs = mod("hgvs")
    dp = mod("hgvs.dataproviders", uta=None)
    uta = mod("hgvs.dataproviders.uta", connect=lambda *a, **k: None)
    dp.uta = uta
    mod("hgvs.easy", parser=None)
    extras = mod("hgvs.extras")
    mod("hgvs.extras.babelfish", Babelfish=object)
    hgvs.dataproviders = dp
    hgvs.extras = extras

    # biocypher logger (used for warnings only)
    import logging

    bio = mod("biocypher", BioCypher=object)
    mod("biocypher._logger", logger=logging.getLogger("ref"))
    bio._logger = sys.modules["biocypher._logger"]

    # Biopython surface
    Bio = mod("Bio")

    class _SeqIO:
        @staticmethod
        def parse(handle, fmt):
            assert fmt == "swiss"
            return seqio_swiss_records(handle)

    class _SwissProt:
        @staticmethod
        def parse(handle):
            return parse_swiss_records(handle)

    Bio.SeqIO = _SeqIO
    Bio.SwissProt = _SwissProt
    mod("Bio.SeqIO", parse=_SeqIO.parse)
    mod("Bio.SwissProt", parse=_SwissProt.parse)
    uniprot = mod("Bio.UniProt")
    goa = mod("Bio.UniProt.GOA", gafiterator=gafiterator_stub)
    uniprot.GOA = goa

    # misc deps of ontology/pathway adapters
    mod("owlready2", get_ontology=lambda *a, **k: None, onto_path=[],
        default_world=None)

    class _URIRef(str):
        pass

    class _BNode(str):
        pass

    class _Literal(str):
        pass

    rterm = mod("rdflib.term", URIRef=_URIRef, BNode=_BNode, Literal=_Literal)
    rl = mod("rdflib", Graph=object, URIRef=_URIRef, BNode=_BNode,
             Literal=_Literal)
    rl.term = rterm
    mod("tqdm", tqdm=lambda x, **k: x)
    try:
        import requests  # noqa: F401
    except ImportError:
        ra = mod("requests.adapters", HTTPAdapter=object, Retry=object)
        rx = mod("requests.exceptions", JSONDecodeError=Exception)
        r = mod("requests", Session=object)
        r.adapters, r.exceptions = ra, rx


def load_ref(module: str):
    """Import a reference module (e.g. 'biocypher_metta.adapters.gencode_gene_adapter')."""
    install_stubs()
    return importlib.import_module(module)
