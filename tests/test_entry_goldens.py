"""Per-entry goldens: the atoms of every `PIPELINE_REGISTRY` entry and the
node and edge rows of one `pipeline.build` over all of them, rendered
from a small hand-written corpus and compared byte for byte with the
files under tests/golden/.

The corpus holds a few lines per span kind (with a header, comment or
malformed line where the format has one) and one-row dimensions; in
every entry at least one row carries every property the format allows.
The schema registry is the embedded one, so the goldens do not depend
on a reference checkout.

Rewrite the golden files (only when a change to the KG bytes is meant):

    python -m tests.test_entry_goldens
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from biocypher_metta_spark import dims, pipeline
from biocypher_metta_spark.functions.chainfile import ChainLifter, compose_chain
from biocypher_metta_spark.functions.liftover import chain_blocks
from biocypher_metta_spark.schema import (
    FALLBACK_EDGE_TYPES,
    EdgeTypeInfo,
    SchemaRegistry,
)
from biocypher_metta_spark.sources.documents import span_lines
from biocypher_metta_spark.sources.rdf import parse_ntriples
from tests.test_pipeline import REQUIRED_ARGS, _documents, _key_value, _rsid_dim

GOLDEN = Path(__file__).resolve().parent / "golden"
ATOMS_FILE = GOLDEN / "entry_atoms.tsv"
NODES_FILE = GOLDEN / "build_nodes.tsv"
EDGES_FILE = GOLDEN / "build_edges.tsv"

_GO = "http://purl.obolibrary.org/obo/"
_OIO = "http://www.geneontology.org/formats/oboInOwl#"
_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
_OWL = "http://www.w3.org/2002/07/owl#"
_RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


def _tab(*fields) -> str:
    return "\t".join(str(f) for f in fields)


def _csv_row(n: int, fields: dict[int, str]) -> str:
    return ",".join(fields.get(i, "") for i in range(n))


def _favor_lines() -> list[str]:
    """A header and one 190-column row: numbers, '.', text and a quoted
    field holding the delimiter."""
    from biocypher_metta_spark.adapters.variants import FAVOR_FIELDS

    header = {i: name for name, i in FAVOR_FIELDS.items()}
    row = {i: f"0.{i}" for i in FAVOR_FIELDS.values()}
    row.update({3: "1", 4: "10019", 9: "TA", 10: "T", 12: "Tolerant",
                34: "PASS", 38: '"Benign,Likely_benign"', 40: "not_provided",
                46: "DDX11L1:100287102", 47: ".", 60: "1e-05", 76: "12",
                96: "deleterious", 174: "."})
    return [_csv_row(190, header), _csv_row(190, row),
            _csv_row(190, {3: "1", 4: "not_a_position", 9: "A", 10: "G"})]


def _pwm(rows):
    return [">ATF1_HUMAN.H11MO.0.B"] + [_tab(*r) for r in rows]


_SWISS = [
    "ID   1433B_HUMAN             Reviewed;         246 AA.\n"
    "AC   P31946; A8K9K2;\n"
    "AC   E1P616;\n"
    "DR   EMBL; X57346; CAA40621.1; -; mRNA.\n"
    "DR   RefSeq; NP_003395.1; NM_003404.4.\n"
    "DR   Ensembl; ENST00000353703.9; ENSP00000300161.4; ENSG00000166913.13.\n"
    "DR   MANE-Select; ENST00000353703.9; ENSP00000300161.4; NM_003404.5.\n"
    "DR   GO; GO:0005737; C:cytoplasm; IDA:UniProtKB.\n",
    "ID   SNG1_HUMAN              Reviewed;         123 AA.\n"
    "AC   Q00001;\n"
    "DR   Ensembl; ENST00000000001.2; ENSP00000000001.1; ENSG00000000001.3.\n",
    # no AC line: dropped
    "ID   NOAC_HUMAN              Reviewed;         10 AA.\n"
    "DR   GO; GO:0005737; C:cytoplasm; IDA:UniProtKB.\n",
]

_ONTOLOGY = [
    "# comment line",
    f'<{_GO}GO_0000001> <{_RDFS}label> "mitochondrion inheritance" .',
    f'<{_GO}GO_0000001> <{_GO}IAO_0000115> "The distribution of \\"mitochondria\\"." .',
    f'<{_GO}GO_0000001> <{_OIO}hasExactSynonym> "mitochondrial inheritance" .',
    f'<{_GO}GO_0000001> <{_OIO}hasRelatedSynonym> "mito inheritance" .',
    f'<{_GO}GO_0000001> <{_OIO}hasOBONamespace> "biological_process" .',
    f'<{_GO}GO_0000001> <{_OIO}hasDbXref> "Wikipedia:Mitochondrion" .',
    f"<{_GO}GO_0000001> <{_RDFS}subClassOf> <{_GO}GO_0048308> .",
    f"<{_GO}GO_0000001> <{_RDFS}subClassOf> _:r1 .",
    f"_:r1 {_RDF_TYPE} <{_OWL}Restriction> .",
    f"_:r1 <{_OWL}onProperty> <{_GO}BFO_0000050> .",
    f"_:r1 <{_OWL}someValuesFrom> <{_GO}GO_0007005> .",
    f"<{_GO}GO_0048308> <{_RDFS}label> \"organelle inheritance\" .",
    "not a triple",
]

CORPUS: dict[str, list[str]] = {
    "gtf": [
        "##description: evidence-based annotation",
        _tab("chr1", "HAVANA", "gene", 11869, 14409, ".", "+", ".",
             'gene_id "ENSG00000223972.5"; gene_type "transcribed_unprocessed_pseudogene";'
             ' gene_name "DDX11L1"; hgnc_id "HGNC:37102";'),
        _tab("chr1", "HAVANA", "transcript", 11869, 14409, ".", "+", ".",
             'gene_id "ENSG00000223972.5"; transcript_id "ENST00000456328.2";'
             ' gene_type "transcribed_unprocessed_pseudogene"; gene_name "DDX11L1";'
             ' transcript_type "lncRNA"; transcript_name "DDX11L1-202"; hgnc_id "HGNC:37102";'),
        _tab("chr1", "HAVANA", "exon", 11869, 12227, ".", "+", ".",
             'gene_id "ENSG00000223972.5"; transcript_id "ENST00000456328.2";'
             ' gene_type "transcribed_unprocessed_pseudogene"; gene_name "DDX11L1";'
             ' transcript_type "lncRNA"; transcript_name "DDX11L1-202"; exon_number 1;'
             ' exon_id "ENSE00002234944.1";'),
        _tab("chrY", "HAVANA", "gene", 2781480, 2781900, ".", "+", ".",
             'gene_id "ENSG00000290001.1_PAR_Y"; gene_type "protein_coding";'
             ' gene_name "PARG1"; hgnc_id "HGNC:999";'),
        _tab("chrY", "HAVANA", "transcript", 2781480, 2781900, ".", "+", ".",
             'gene_id "ENSG00000290001.1_PAR_Y"; transcript_id "ENST00000290002.1_PAR_Y";'
             ' gene_name "PARG1"; transcript_type "protein_coding";'
             ' transcript_name "PARG1-201";'),
        _tab("chr2", "HAVANA", "gene", "x", 500, ".", "+", ".", 'gene_id "ENSG00000000009.1";'),
        "chr2 malformed",
    ],
    "vcf": [
        "##fileformat=VCFv4.0",
        _tab("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO"),
        _tab(1, 10019, "rs775809821", "TA", "T", ".", ".",
             "RS=775809821;CAF=0.9988,0.001198;VC=INDEL"),
        _tab(1, 10039, "rs978760828", "A", "C", ".", ".", "RS=978760828;VC=SNV"),
        _tab(1, 20000, "nssv1001", "N", "<DEL>", ".", ".", "END=25000;SVTYPE=DEL"),
        _tab(1, 30000, "nssv1002", "N", "<INV>", ".", ".", "SVTYPE=INV"),
        _tab(1, "bad", "rs1", "A", "C", ".", ".", "RS=1"),
    ],
    "dgv": [
        _tab("variantaccession", "chr", "start", "end", "varianttype", "variantsubtype",
             "reference", "pubmedid"),
        _tab("dgv1n82", 1, 10000, 20000, "CNV", "deletion", "Sudmant_et_al_2013", 23825009),
        _tab("dgv2n82", 1, "x", 20000, "CNV", "deletion", "Sudmant_et_al_2013", 23825009),
    ],
    "favor": _favor_lines(),
    "reactome_pathways": [_tab("R-HSA-109581", "Apoptosis", "Homo sapiens"),
                          _tab("R-HSA-109606", "Intrinsic Pathway", "Homo sapiens"),
                          _tab("R-MMU-109581", "Apoptosis", "Mus musculus")],
    "reactome_pmids": [_tab("R-HSA-109581", "R-HSA-109581", "Apoptosis")],
    "reactome_gene_map": [_tab("ENSG00000223972.5", "R-HSA-109581", "url", "Apoptosis"),
                          _tab("ENSMUSG00000000001.4", "R-MMU-109581", "url", "Apoptosis")],
    "reactome_relations": [_tab("R-HSA-109581", "R-HSA-109606"),
                           _tab("R-MMU-109581", "R-MMU-109606")],
    "string": ["protein1 protein2 combined_score",
               "9606.ENSP00000000233 9606.ENSP00000272298 490",
               "9606.ENSP00000000233 9606.ENSP00009999999 321"],
    "tflink": [
        _tab("UniprotID.TF", "UniprotID.Target", "NCBI.GeneID.TF", "NCBI.GeneID.Target",
             "Name.TF", "Name.Target", "Detection.method", "PubmedID", "Organism",
             "Source.database", "Small-scale.evidence"),
        _tab("Q9H9S0", "O94907", 7020, 22943, "TFAP2A", "DKK1",
             "chromatin immunoprecipitation assay", "17785470;23541111", "Homo sapiens",
             "GTRD;ReMap", "Yes"),
        _tab("Q9H9S0", "P00001", 7020, 1, "TFAP2A", "X", "chip-seq", "1", "Homo sapiens",
             "GTRD", "No"),
    ],
    "coxpresdb:7020": ["22943\t0.83", "99999\t0.5"],
    "epd": ["chr1 959245 959305 NOC2L_1 900 - 959245 959256",
            "chr1 10000 10060 UNMAPPED_1 900 + 10000 10011",
            "chr1 bad 10060 NOC2L_2 900 + 10000 10011"],
    "ea_bed": [_tab("chr1", 10000, 10500, 1.5), _tab("chr1", "x", 10500, 1.5)],
    "ea_gene:A549": ["chr1:874840-876520_ENSG00000187634$SAMD11$chr1$923928$+\t1.366",
                     "chr1:bad_ENSG00000187634$SAMD11$chr1$923928$+\t1.0"],
    "tadmap": ["tad,genelist",
               "1|chr1|10000|50000,DDX11L1|ensg:ENSG00000223972;WASH7P|ensg:ENSG00000227232;bad"],
    "dbsuper": [_tab("chrom", "start", "stop", "se_id", "gene_symbol", "cell_name"),
                _tab("chr1", 1000, 2000, "SE_00001", "NOC2L", "Adipose Nuclei"),
                _tab("chr1", "x", 2000, "SE_00002", "NOC2L", "Adipose Nuclei")],
    "peregrine_enhancers": [_tab("chr1", 10000, 10500, "PEREGRINEENH000001"),
                            _tab("chr1", 20000, 20500, "PEREGRINEENH000002"),
                            _tab("chr1", 10000, 10600, "PEREGRINEENH000001")],
    "peregrine_sources": [_tab("PEREGRINEENH000001", "ENCODE"),
                          _tab("PEREGRINEENH000002", "FANTOM5")],
    "peregrine_links": [
        _tab("enhancer", "gene", "linkid", "assay", "tissue", "pvalue", "eqtl", "score"),
        _tab("PEREGRINEENH000001", "HUMAN|HGNC=37102|UniProtKB=Q9", "L1", "HiC",
             "0000001", "0.01", "NA", "0.9"),
        _tab("PEREGRINEENH000002", "HUMAN|HGNC=37102|UniProtKB=Q9", "L2", "eQTL",
             "0000001", "0.02", "NA", ""),
    ],
    "rna_bed": [_tab("chr1", 14361, 29370, "URS0000000001_9606", 0, "-", 14361, 29370,
                     "63,125,151", 2, "10,20", "0,100", ".", "lncRNA", "."),
                _tab("chr1", "x", 29370, "URS0000000002_9606", 0, "-", 0, 0, "0", 1,
                     "1", "0", ".", "rRNA", ".")],
    "rna_rfam": [_tab("URS0000000001_9606", "GO:0005615", "RF00001"),
                 _tab("URS0000000001_10090", "GO:0005615", "RF00001")],
    "pwm:ATF1_HUMAN.H11MO.0.B": _pwm([(0.1, 0.2, 0.3, 0.4), (0.7, 0.1, 0.1, 0.1),
                                      (0.25, 0.25, 0.25, 0.25)]),
    "hocomoco_annotation": [_tab("Model", "Transcription factor", "Model length"),
                            _tab("ATF1_HUMAN.H11MO.0.B", "ATF1", 3)],
    "gaf": ["!gaf-version: 2.2",
            _tab("UniProtKB", "A0A024RBG1", "NUDT4B", "enables|contributes_to",
                 "GO:0003723", "GO_REF:0000043|PMID:21873635", "IEA", "UniProtKB-KW:KW-0694",
                 "F", "NUDT4B", "", "protein", "taxon:9606", "20230306", "UniProt"),
            _tab("RNAcentral", "URS0000000001_9606", "URS0000000001_9606", "involved_in",
                 "GO:0035195", "GO_REF:0000115", "IEA", "Rfam:RF00001", "P", "", "",
                 "miRNA", "taxon:9606", "20230306", "RNAcentral")],
    # the same key twice: the later row wins
    "rnacentral_map": [_tab("URS0000000001", "ENSEMBL_GENCODE", "ENST00000456327", 9606),
                       _tab("URS0000000001", "ENSEMBL_GENCODE", "ENST00000456328", 9606)],
    "swiss_record": _SWISS,
    "roadmap": ["rsid,dataset,cell,tissue,datatype",
                "rs775809821,erc2-DHS,\"CD4+ CD25- T, primary\",'Blood',DNase",
                "rs000,erc2-DHS,cell,Blood,DNase"],
    "abc": [_csv_row(29, {0: "rsid", 1: "chromosome"}),
            _csv_row(29, {0: "rs775809821", 1: "chr1", 10: " NOC2L ", 24: "0.0312",
                          27: "tissueA"})],
    "cadd": ["rsid,chromosome,position,ref,alt,raw,phred",
             "rs775809821,chr1,10019,TA,T,0.123456,3.5"],
    "closest_gene": [_csv_row(8, {0: "rsid"}),
                     _csv_row(8, {0: "rs775809821", 1: "chr1", 5: "11868", 7: " NOC2L "})],
    "topld": ["SNP1,SNP2,Uniq_ID_1,Uniq_ID_2,R2,Dprime,+/-corr",
              "10019,10039,a,b,0.8,0.95,+",
              "10019,10039,a,b,0.9,0.5,-",
              "10019,10039,a,b,0.1,0.5,+"],
    "gtex:Adipose_Subcutaneous": [
        _tab("gene_id", *["c"] * 28),
        _tab("ENSG00000223972.5", *["."] * 10, "chr1_10019_TA_T_b38", *["."] * 6,
             "rs775809821", ".", ".", "0.0123", ".", ".", "-0.25", ".", ".", "1e-320",
             "2.5e-08"),
        _tab("ENSG00000223972.5", *["."] * 10, "chr1_10019_TA_T_b37", *["."] * 6,
             "rs775809821", ".", ".", "0.1", ".", ".", "0.3", ".", ".", "0.1", "0.1"),
    ],
    "ontology": _ONTOLOGY,
}


def corpus_dims(spark, docs) -> dict:
    """One-row dimensions matching the corpus ids (a second row where an
    entry joins both sides of one map)."""
    kv = {
        "abc_tissues": {"tissueA": "UBERON_0002048"},
        "dbsnp_pos": {"chr16_10019": "rs775809821", "chr16_10039": "rs978760828"},
        "dbsuper_tissues": {"Adipose Nuclei": "UBERON_0001013"},
        "ea_tissues": {"A549": "CLO_0001601"},
        "ensembl_to_uniprot": {"ENSP00000000233": "P84085", "ENSP00000272298": "O15259"},
        "entrez_to_ensembl": {"7020": "ENSG00000137203", "22943": "ENSG00000107984"},
        "gtex_tissues": {"Adipose_Subcutaneous": "UBERON_0002190"},
        "hgnc_ensembl_map": {"HGNC:37102": "ENSG00000223972"},
        "hgnc_to_ensembl": {"NOC2L": "ENSG00000188976", "ATF1": "ENSG00000123268"},
        "peregrine_tissues": {"0000001": "CL_0000001"},
        "roadmap_tissues": {"Blood": "UBERON_0000178"},
    }
    out = {name: _key_value(spark, m) for name, m in kv.items()}
    out["dbsnp_rsid"] = _rsid_dim(spark, [("rs775809821", "chr1", 10019)])
    out["gene_alias"] = dims.local_frame(
        spark, {"alias_key": ["ENSG00000223972", "HGNC:999"],
                "synonyms": [["DDX11L1", "DDX11P1"], ["PARG1", "PARG-1"]]},
        "alias_key string, synonyms array<string>")
    out["ontology_triples"] = parse_ntriples(span_lines(docs, "ontology"))
    out["liftover"] = chain_blocks(spark, ChainLifter.from_text(compose_chain(
        1, "chr1", 100_000, 0, "chr1", 200_000, "+", 500, [(100_000,)])))
    return out


def _registry() -> SchemaRegistry:
    reg = SchemaRegistry()
    for label, (src, tgt, out) in FALLBACK_EDGE_TYPES.items():
        reg.edge_node_types[label] = EdgeTypeInfo(src, tgt, out, label)
    return reg


def _context(spark) -> pipeline.PipelineContext:
    docs = _documents(spark, CORPUS)
    return pipeline.PipelineContext(spark, docs, _registry(), dims=corpus_dims(spark, docs))


# tag -> config entry: every registry entry, plus GAF's RNAcentral mode
ENTRIES = {name: {"adapter": name, "args": REQUIRED_ARGS.get(name, {})}
           for name in pipeline.PIPELINE_REGISTRY}
ENTRIES["gaf:rna"] = {"adapter": "gaf", "args": {"gaf_type": "rna"}}


def _row_line(row) -> str:
    return "\t".join("\\N" if v is None else str(v) for v in row)


def entry_atom_lines(spark) -> list[str]:
    """Sorted 'tag<TAB>atom' lines of every entry, from one collect over
    the entries' tagged union."""
    ctx = _context(spark)
    tagged = None
    for tag, entry in ENTRIES.items():
        _, atoms, _ = pipeline.PIPELINE_REGISTRY[entry["adapter"]](ctx, **entry["args"])
        part = atoms.select(F.lit(tag).alias("entry"), "atom")
        tagged = part if tagged is None else tagged.unionByName(part)
    return sorted(f"{r.entry}\t{r.atom}" for r in tagged.collect())


def build_row_lines(spark) -> tuple[list[str], list[str]]:
    """Sorted node rows and edge rows of one build over every entry."""
    result = pipeline.build(_context(spark), list(ENTRIES.values()))
    nodes = result.nodes.select("id", "label", "chr", "start", "end")
    edges = result.edges.select("src", "tgt", "label")
    return (sorted(_row_line(r) for r in nodes.collect()),
            sorted(_row_line(r) for r in edges.collect()))


def _read(path: Path) -> list[str]:
    return path.read_text().splitlines()


def test_entry_atoms_match_golden(spark):
    got = entry_atom_lines(spark)
    assert got == _read(ATOMS_FILE)
    assert {line.split("\t", 1)[0] for line in got} == set(ENTRIES)


def test_build_rows_match_golden(spark):
    nodes, edges = build_row_lines(spark)
    assert nodes == _read(NODES_FILE)
    assert edges == _read(EDGES_FILE)


def _write_goldens():
    from biocypher_metta_spark.session import get_spark

    spark = get_spark("entry-goldens", master="local[2]")
    GOLDEN.mkdir(exist_ok=True)
    nodes, edges = build_row_lines(spark)
    for path, lines in ((ATOMS_FILE, entry_atom_lines(spark)),
                        (NODES_FILE, nodes), (EDGES_FILE, edges)):
        path.write_text("".join(line + "\n" for line in lines))
        print(f"{path}: {len(lines)} lines")
    spark.stop()


if __name__ == "__main__":
    _write_goldens()
