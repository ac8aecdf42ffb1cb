"""Function-level parity: to_float clamp, HGVS regex path, variant ids —
table- and property-based against the reference helpers — plus the
multimodal operator plumbing."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from biocypher_metta_spark.functions.hgvs import variant_id_from_hgvs
from biocypher_metta_spark.functions.values import py_to_float
from biocypher_metta_spark.operators import multimodal as mm
from tests.conftest import requires_reference
from tests.reference_shim import load_ref

needs_ref_code = requires_reference("biocypher_metta")


def _helpers():
    return load_ref("biocypher_metta.adapters.helpers")


@needs_ref_code
@given(st.floats(allow_nan=False, allow_infinity=True, width=64))
@settings(max_examples=300, deadline=None)
def test_to_float_parity(x):
    h = _helpers()
    assert py_to_float(repr(x)) == h.to_float(repr(x))


@needs_ref_code
@given(st.decimals(allow_nan=False, allow_infinity=False,
                   min_value=-10**12, max_value=10**12))
@settings(max_examples=200, deadline=None)
def test_to_float_decimal_strings(d):
    h = _helpers()
    s = str(d)
    assert py_to_float(s) == h.to_float(s)


@needs_ref_code
def test_variant_id_builders_parity():
    h = _helpers()
    from biocypher_metta_spark.functions.ids import ASSEMBLY

    assert ASSEMBLY == "GRCh38"
    assert h.build_variant_id("chr16", 53000100, "G", "C") == \
        "chr16_53000100_G_C_GRCh38"
    assert h.build_regulatory_region_id("chr16", 100, 200) == \
        "chr16_100_200_GRCh38"


HGVS_CASES = [
    "NC_000003.12:g.183917980C>T",
    "NC_000023.11:g.1000A>G",      # chr 23 -> X
    "NC_000024.10:g.500G>T",       # chr 24 -> Y
    "NC_000025.1:g.500G>T",        # unsupported chromosome -> None
    "NC_000001.11:g.xyzC>T",       # non-numeric position -> None
    "NM_000546.6:c.215C>G",        # non-NC -> None
]


@needs_ref_code
def test_hgvs_variant_id_parity(spark):
    h = _helpers()
    # positional False: the reference's assembly_check decorator unpacks
    # `*kwargs` (dict KEYS) instead of `**kwargs` (helpers.py:24), so a
    # keyword validate=False arrives as a truthy positional string
    expected = [h.build_variant_id_from_hgvs(c, False) for c in HGVS_CASES]
    df = spark.createDataFrame([(c,) for c in HGVS_CASES], "hgvs string")
    got = [r.v for r in
           df.select(variant_id_from_hgvs(F.col("hgvs")).alias("v")).collect()]
    assert got == expected


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------


def test_image_decode_plumbing(spark):
    media = mm.synth_media_table(spark, 30)
    feats = mm.decode_images(media, decoder=mm.fake_image_decode)
    rows = feats.collect()
    images = media.filter("kind = 'image'").count()
    assert len(rows) == images > 0
    for r in rows:
        assert r.width >= 16 and r.height >= 16 and r.channels == 3
        assert len(r.embedding) == 8
    # deterministic: same input -> same embedding
    again = {r.media_ref: list(r.embedding) for r in
             mm.decode_images(media, decoder=mm.fake_image_decode).collect()}
    assert {r.media_ref: list(r.embedding) for r in rows} == again


def test_image_decode_real_kernel_nulls_non_png(spark):
    # the synth media payloads are not PNGs: the real kernel (stdlib PNG
    # codec since round 3) raises ValueError per row, which decode_images
    # nulls out instead of failing the stage
    media = mm.synth_media_table(spark, 3).filter("kind = 'image'")
    rows = mm.decode_images(media).collect()
    assert len(rows) > 0
    assert all(r.width is None and r.embedding is None for r in rows)


def test_resize_and_frames(spark):
    media = mm.synth_media_table(spark, 30)
    resized = mm.resize_images(media, 32, 32)
    assert resized.count() == media.count()
    assert resized.schema == media.schema
    frames = mm.sample_frames(media, every_n_bytes=16, max_frames=4)
    vids = media.filter("kind = 'video'").count()
    out = frames.groupBy("media_ref").count().collect()
    assert len(out) == vids
    assert all(1 <= r["count"] <= 4 for r in out)


def test_media_joins_spans(spark):
    """media_ref in spans resolves against the media table (the span
    pass-through contract: media spans untouched by extraction)."""
    from biocypher_metta_spark.sources.documents import explode_spans
    from biocypher_metta_spark.sources.synth import synth_gtf_documents

    docs = synth_gtf_documents(spark, 20)
    media = mm.synth_media_table(spark, 20)
    media_spans = explode_spans(docs).filter(F.col("media_ref").isNotNull())
    joined = media_spans.join(media, "media_ref")
    assert joined.count() == 20


# --------------------------------------------------------------------------
# GTF attribute-parse fuzz vs the reference tokenizer
# --------------------------------------------------------------------------

def _random_attr_string(rng) -> str:
    """Random GTF-ish attribute tail: shuffled keys, quoted/unquoted
    values, optional omissions — the same space the old hypothesis
    strategy drew from, seeded so the 300-case batch is deterministic
    and runs as ONE Spark job (the per-example @given form cost a
    job per case, 40x the wall time for less coverage)."""
    keys = ["gene_id", "gene_type", "gene_name", "level", "tag"]
    rng.shuffle(keys)
    parts = []
    alphabet = "ABCdef123_.-"
    for k in keys:
        if rng.random() < 0.4:
            continue
        v = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        parts.append(f'{k} "{v}";' if rng.random() < 0.5 else f"{k} {v};")
    return " ".join(parts)


@needs_ref_code
def test_gtf_attr_parse_fuzz(spark):
    """Column parser == reference parse_info_metadata on arbitrary
    attribute tails (token-after-key, '\";' stripped); 300 seeded
    random cases + the regression example, one Spark job."""
    import random

    from biocypher_metta_spark.sources.gtf import attr

    rng = random.Random(42)
    cases = ['gene_id "ENSG1.2"; gene_type "lncRNA"; gene_name "DDX11L2";']
    cases += [_random_attr_string(rng) for _ in range(300)]
    lines = [f"chr1\tHAVANA\tgene\t100\t200\t.\t+\t.\t{a}" for a in cases]

    ref_mod = load_ref("biocypher_metta.adapters.gencode_gene_adapter")
    ref_ad = ref_mod.GencodeGeneAdapter.__new__(ref_mod.GencodeGeneAdapter)
    keys = ["gene_id", "gene_type", "gene_name"]
    expected = [ref_ad.parse_info_metadata(l.strip().split()[8:]) for l in lines]

    df = spark.createDataFrame([(i, l) for i, l in enumerate(lines)],
                               "i long, value string")
    rows = {r.i: r for r in
            df.select("i", *[attr(F.col("value"), k).alias(k) for k in keys])
            .collect()}
    for i, (case, exp) in enumerate(zip(cases, expected)):
        for k in keys:
            assert rows[i][k] == exp.get(k), (k, case)
