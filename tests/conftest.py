from __future__ import annotations

import gzip
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from tests.reference_shim import REF_PATH  # noqa: E402

REFERENCE = Path(REF_PATH)


def requires_reference(*relpaths: str):
    """Skip unless every path named (relative to the reference checkout)
    exists. Reference parity tests run the reference's own code or read
    its samples, aux pickles and config; without the checkout there is
    no oracle, so they report as skipped with the first missing path."""
    missing = [REFERENCE / p for p in relpaths if not (REFERENCE / p).exists()]
    return pytest.mark.skipif(
        bool(missing),
        reason=f"needs the reference checkout: {missing[0]} is absent"
        if missing else "")


@pytest.fixture(scope="session")
def spark():
    from biocypher_metta_spark.session import get_spark

    s = get_spark("bcm-spark-tests", master="local[8]",
                  extra_confs={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def fixtures_dir(tmp_path_factory) -> Path:
    return tmp_path_factory.mktemp("fixtures")


@pytest.fixture(scope="session")
def gene_info_path(fixtures_dir) -> Path:
    """Synthetic Homo_sapiens.gene_info.gz covering ids in the sample GTF
    (the real aux blob is absent from the reference checkout)."""
    header = "\t".join([
        "#tax_id", "GeneID", "Symbol", "LocusTag", "Synonyms", "dbXrefs",
        "chromosome", "map_location", "description", "type_of_gene",
        "Symbol_from_nomenclature_authority",
        "Full_name_from_nomenclature_authority", "Nomenclature_status",
        "Other_designations", "Modification_date", "Feature_type",
    ])
    rows = [
        # symbol, synonyms, dbxrefs, other_designations, nom_symbol, full_name
        ("PAK5", "PAK7|KIAA1264", "MIM:608038|HGNC:HGNC:15916|Ensembl:ENSG00000101349",
         "p21 activated kinase 5|PAK-5", "PAK5", "p21 (RAC1) activated kinase 5"),
        ("SNAP25", "RIC4|SEC9", "MIM:600322|HGNC:HGNC:11132|Ensembl:ENSG00000132639",
         "synaptosome associated protein 25", "SNAP25",
         "synaptosomal-associated protein 25"),
        # hgnc-only entry (no Ensembl xref) to exercise the fallback join
        ("MCM8", "C20orf154", "HGNC:HGNC:16147", "minichromosome maintenance 8",
         "MCM8", "MCM8 homologous recombination repair factor"),
        # entry with '-' synonyms to exercise the '-' removal
        ("PLCB1", "-", "HGNC:HGNC:15917|Ensembl:ENSG00000182621", "-", "PLCB1", "-"),
    ]
    path = fixtures_dir / "gene_info.gz"
    with gzip.open(path, "wt") as f:
        f.write(header + "\n")
        for symbol, syn, xref, other, nom, full in rows:
            f.write("\t".join([
                "9606", "1", symbol, "-", syn, xref, "20", "20p12", "desc",
                "protein-coding", nom, full, "O", other, "20230101", "-",
            ]) + "\n")
    return path
