"""Variant-family adapters: dbSNP snp nodes, dbVar + DGV structural
variants, FAVOR annotated sequence variants.

Reference semantics: dbsnp_adapter.py:38-67, dbvar_adapter.py:30-64,
dgv_variant_adapter.py:29-58, favor_adapter.py:96-131.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biocypher_metta_spark.adapters import provenance_props
from biocypher_metta_spark.functions.genomic import genomic_window
from biocypher_metta_spark.functions.ids import (
    build_regulatory_region_id,
    build_variant_id,
)
from biocypher_metta_spark.serializer import (
    Prop,
    atoms_df,
    node_def_out,
    num_or_str_fragments,
    prop_atom,
)
from biocypher_metta_spark.sources.tabular import quoted_csv_cols, split_cols
from biocypher_metta_spark.sources.vcf import info_multi, info_value, parse_vcf

DBSNP_SOURCE = ("dbSNP", "https://ftp.ncbi.nih.gov/snp/organisms/human_9606_b151_GRCh38p7/VCF/")
DBVAR_SOURCE = ("dbVar", "https://www.ncbi.nlm.nih.gov/dbvar/content/ftp_manifest/")
DGV_SOURCE = ("dgv", "http://dgv.tcag.ca/dgv/app/downloads")
FAVOR_SOURCE = ("FAVOR", "http://favor.genohub.org/")


def dbsnp_nodes(lines: DataFrame, chr: str | None = None,
                start: int | None = None, end: int | None = None,
                ) -> tuple[DataFrame, DataFrame]:
    """snp nodes (dbsnp_adapter.py:38-67). Note: the window compares the
    UNPREFIXED VCF chrom to the chr arg (quirk preserved); the emitted
    chr property gets the 'chr' prefix."""
    v = parse_vcf(lines).filter(F.col("pos").isNotNull())
    v = v.filter(genomic_window(F.col("chrom"), F.col("pos"), F.col("pos"),
                                chr, start, end))
    caf = info_multi(F.col("info_map"), "CAF")
    v = v.withColumn("_caf_ref", F.get(caf, 0)).withColumn("_caf_alt", F.get(caf, 1))
    typed = v.select(
        F.col("id").alias("id"), F.lit("snp").alias("label"),
        F.concat(F.lit("chr"), F.col("chrom")).alias("chr"),
        F.col("pos").alias("start"), F.col("pos").alias("end"),
        "ref", "alt", "_caf_ref", "_caf_alt",
    )
    props = [
        Prop("chr", F.concat(F.lit("chr"), F.col("chrom")), "str"),
        Prop("start", F.col("pos"), "int"),
        Prop("end", F.col("pos"), "int"),
        Prop("ref", F.col("ref"), "str"),
        Prop("alt", F.col("alt"), "str"),
        # caf_ref/caf_alt only when CAF present, kept as raw strings
        Prop("caf_ref", F.col("_caf_ref"), "str"),
        Prop("caf_alt", F.col("_caf_alt"), "str"),
    ] + provenance_props(*DBSNP_SOURCE)
    atoms = atoms_df(v, node_def_out("snp", F.col("id")), props)
    return typed, atoms


DBVAR_TYPES = {"<CNV>": "copy number variation", "<DEL>": "deletion",
               "<DUP>": "duplication", "<INS>": "insertion",
               "<INV>": "inversion"}


def dbvar_nodes(lines: DataFrame, label: str = "structural_variant",
                chr: str | None = None, start: int | None = None,
                end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """structural_variant nodes (dbvar_adapter.py:30-64): type-mapped ALT,
    END from INFO (default = start), 'chr'-prefixed chrom."""
    v = parse_vcf(lines).filter(F.col("pos").isNotNull())
    mapping = F.create_map(*[F.lit(x) for kv in DBVAR_TYPES.items() for x in kv])
    v = v.withColumn("_vt", mapping[F.col("alt")]).filter(F.col("_vt").isNotNull())
    chrom = F.concat(F.lit("chr"), F.col("chrom"))
    end_col = F.coalesce(info_value(F.col("info_map"), "END").cast("long"),
                         F.col("pos"))
    v = v.withColumn("_chr", chrom).withColumn("_end", end_col)
    v = v.filter(genomic_window(F.col("_chr"), F.col("pos"), F.col("_end"),
                                chr, start, end))
    typed = v.select(
        F.col("id").alias("id"), F.lit(label).alias("label"),
        F.col("_chr").alias("chr"), F.col("pos").alias("start"),
        F.col("_end").alias("end"), F.col("_vt").alias("variant_type"),
    )
    props = [
        Prop("chr", F.col("_chr"), "str"),
        Prop("start", F.col("pos"), "int"),
        Prop("end", F.col("_end"), "int"),
        Prop("variant_type", F.col("_vt"), "str"),
    ] + provenance_props(*DBVAR_SOURCE)
    atoms = atoms_df(v, node_def_out(label, F.col("id")), props)
    return typed, atoms


DGV_COLS = {"variant_accession": 0, "chr": 1, "coord_start": 2,
            "coord_end": 3, "type": 5, "pubmedid": 7}


def dgv_nodes(lines: DataFrame, label: str = "structural_variant",
              chr: str | None = None, start: int | None = None,
              end: int | None = None) -> tuple[DataFrame, DataFrame]:
    """DGV structural variants (dgv_variant_adapter.py:29-58): header
    skipped, 0-based -> +1, id = positional region id, accession kept as
    'id' property."""
    d = split_cols(lines, DGV_COLS, "\t")
    d = d.filter(F.col("variant_accession") != "variantaccession")
    chrom = F.concat(F.lit("chr"), F.col("chr"))
    s = (F.col("coord_start").try_cast("long") + 1)
    e = (F.col("coord_end").try_cast("long") + 1)
    d = (d.withColumn("_chr", chrom).withColumn("_s", s).withColumn("_e", e)
         .filter(F.col("_s").isNotNull() & F.col("_e").isNotNull()))
    d = d.withColumn("_id", build_regulatory_region_id(F.col("_chr"), F.col("_s"), F.col("_e")))
    d = d.filter(genomic_window(F.col("_chr"), F.col("_s"), F.col("_e"), chr, start, end))
    typed = d.select(
        F.col("_id").alias("id"), F.lit(label).alias("label"),
        F.col("_chr").alias("chr"), F.col("_s").alias("start"),
        F.col("_e").alias("end"), F.col("type").alias("variant_type"),
        F.col("variant_accession").alias("accession"),
    )
    props = [
        Prop("id", F.col("variant_accession"), "str"),
        Prop("chr", F.col("_chr"), "str"),
        Prop("start", F.col("_s"), "int"),
        Prop("end", F.col("_e"), "int"),
        Prop("variant_type", F.col("type"), "str"),
        Prop("evidence", F.concat(F.lit("pubmed:"), F.col("pubmedid")), "str"),
    ] + provenance_props(*DGV_SOURCE)
    atoms = atoms_df(d, node_def_out(label, F.col("_id")), props)
    return typed, atoms


# FAVOR wide-projection variant nodes -------------------------------------

FAVOR_FIELDS = {
    "chromosome": 3, "start_position": 4, "ref_vcf": 9, "alt_vcf": 10,
    "aloft_value": 11, "aloft_description": 12, "apc_conservation": 13,
    "apc_conservation_v2": 14, "apc_epigenetics_active": 15,
    "apc_epigenetics": 16, "apc_epigenetics_repressed": 17,
    "apc_epigenetics_transcription": 18, "apc_local_nucleotide_diversity": 19,
    "apc_local_nucleotide_diversity_v2": 20,
    "apc_local_nucleotide_diversity_v3": 21, "apc_mappability": 22,
    "apc_micro_rna": 23, "apc_mutation_density": 24,
    "apc_protein_function": 25, "apc_protein_function_v2": 26,
    "apc_protein_function_v3": 27, "apc_proximity_to_coding": 28,
    "apc_proximity_to_coding_v2": 29, "apc_proximity_to_tsstes": 30,
    "apc_transcription_factor": 31, "bravo_an": 32, "bravo_af": 33,
    "filter_status": 34, "clnsig": 38, "clnsigincl": 39, "clndn": 40,
    "clndnincl": 41, "clnrevstat": 42, "origin": 43, "clndisdb": 44,
    "clndisdbincl": 45, "geneinfo": 46, "polyphen2_hdiv_score": 47,
    "polyphen2_hvar_score": 48, "mutation_taster_score": 49,
    "mutation_assessor_score": 50, "metasvm_pred": 51, "fathmm_xf": 52,
    "funseq_value": 53, "funseq_description": 54, "af_total": 60,
    "af_asj_female": 61, "af_eas_female": 62, "af_afr_male": 63,
    "af_female": 64, "af_fin_male": 65, "af_oth_female": 66, "af_ami": 67,
    "af_oth": 68, "af_male": 69, "af_ami_female": 70, "af_afr": 71,
    "af_eas_male": 72, "af_sas": 73, "af_nfe_female": 74, "af_asj_male": 75,
    "af_raw": 76, "af_oth_male": 77, "af_nfe_male": 78, "af_asj": 79,
    "af_amr_male": 80, "af_amr_female": 81, "af_fin": 83,
    "af_afr_female": 84, "af_sas_male": 85, "af_amr": 86, "af_nfe": 87,
    "af_eas": 88, "af_ami_male": 89, "af_fin_female": 90, "sift_cat": 96,
    "sift_val": 97, "polyphen_cat": 98, "polyphen_val": 99,
    "cadd_rawscore": 161, "cadd_phred": 162, "refseq_category": 174,
    "tg_afr": 179, "tg_all": 180, "tg_amr": 181, "tg_eas": 182,
    "tg_eur": 183, "tg_sas": 184,
}
_FAVOR_KEY_FIELDS = {"chromosome", "start_position", "ref_vcf", "alt_vcf"}


def favor_nodes(lines: DataFrame, chr: str | None = None,
                start: int | None = None, end: int | None = None,
                ) -> tuple[DataFrame, DataFrame]:
    """FAVOR sequence_variant nodes (favor_adapter.py:96-131): wide CSV
    projection (header skipped), composite variant id, nested `annotation`
    dict with the '.'->0 / to_float / passthrough coercion per field
    (P10)."""
    d = quoted_csv_cols(lines, 190, FAVOR_FIELDS, ",")
    d = d.filter(F.col("chromosome") != "chromosome")
    chrom = F.concat(F.lit("chr"), F.col("chromosome"))
    pos = F.col("start_position").try_cast("long")
    d = d.withColumn("_chr", chrom).withColumn("_pos", pos)
    d = d.filter(F.col("_pos").isNotNull())
    d = d.filter(genomic_window(F.col("_chr"), F.col("_pos"), F.col("_pos"),
                                chr, start, end))
    d = d.withColumn("_id", build_variant_id(F.col("_chr"), F.col("_pos"),
                                             F.col("ref_vcf"), F.col("alt_vcf")))
    typed = d.select(F.col("_id").alias("id"),
                     F.lit("sequence_variant").alias("label"),
                     F.col("_chr").alias("chr"), F.col("_pos").alias("start"),
                     F.col("_pos").alias("end"), "ref_vcf", "alt_vcf")
    props = [
        Prop("chr", F.col("_chr"), "str"),
        Prop("start", F.col("_pos"), "int"),
        Prop("end", F.col("_pos"), "int"),
        Prop("ref", F.col("ref_vcf"), "str"),
        Prop("alt", F.col("alt_vcf"), "str"),
    ]
    def_out = node_def_out("sequence_variant", F.col("_id"))
    # the ~80 annotation fields render as ONE transform over an
    # array<string>, projected once as a column: the plan holds one
    # num_or_str kernel, not one per field or per field reference
    ann_keys = [k for k in FAVOR_FIELDS if k not in _FAVOR_KEY_FIELDS]
    d = d.withColumn("_ann", num_or_str_fragments(
        F.array(*[F.col(k) for k in ann_keys])))
    head = F.concat(F.lit("(annotation "), def_out, F.lit(")"))
    extra = [head]
    for i, k in enumerate(ann_keys):
        frag = F.get(F.col("_ann"), i)
        extra.append(F.when(frag.isNull(), F.lit(None)).otherwise(
            F.concat(F.lit(f"({k} "), head, F.lit(" "), frag, F.lit(")"))))
    # provenance atoms come AFTER the annotation dict (the reference
    # inserts 'annotation' before source/source_url, favor_adapter.py:113-126)
    extra += [prop_atom(def_out, p) for p in provenance_props(*FAVOR_SOURCE)]
    atoms = atoms_df(d, def_out, props, extra_atoms=extra)
    return typed, atoms
