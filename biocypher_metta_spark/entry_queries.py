"""Driver-contract query implementations + DuckDB oracle SQL.

Each `queries()` entry in __spark_entry__.py maps to one operator family
from SURVEY.md §2 (or a training-data op) and has an ANSI-SQL twin the
driver runs in DuckDB at sf0.01. Portability rules used throughout:

* numbers that cross the compare are exact integers (cents, permille,
  fixed-point quantization) — never engine-summed doubles;
* the shared deterministic hash is the 60-bit md5 prefix
  (Spark `conv(substr(md5(x),1,15),16,10)` == DuckDB
  `('0x'||substr(md5(x),1,15))::BIGINT`);
* the KG queries run over a spans `documents` table synthesized
  arithmetically from the testdata doc_ids (sources/synth.py), so the
  oracle can re-derive expected triples independently — the Spark side
  must parse them back out of the span text (the real pipeline path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biocypher_metta_spark.adapters import gencode
from biocypher_metta_spark.operators import dedup as dedup_ops
from biocypher_metta_spark.operators import similarity as sim_ops
from biocypher_metta_spark.operators import text as text_ops
from biocypher_metta_spark.schema import load_default_registry
from biocypher_metta_spark.sources.documents import span_lines
from biocypher_metta_spark.sources.gtf import GENE_KEYS, parse_gtf
from biocypher_metta_spark.sources.synth import synth_gtf_documents_from_ids
from biocypher_metta_spark.sources.vcf import info_multi, parse_vcf

REGISTRY = load_default_registry()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents spread across cores: the testdata corpus is ONE small
    parquet file = one scan partition, which would serialize the
    compute-heavy per-doc stages (signatures, linking). A production
    corpus arrives in thousands of partitions and skips this."""
    return _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)


# DuckDB twins of operators.text.lang_id, GENERATED from the same
# LANG_MARKERS dict the Spark plan uses — one source of truth, no drift.
def _duck_lang_scores(toks: str = "toks") -> str:
    return ",\n         ".join(
        f"len(list_filter({toks}, x -> x IN "
        f"({', '.join(repr(w) for w in m)}))) AS {lang}"
        for lang, m in text_ops.LANG_MARKERS.items())


def _duck_lang_case() -> str:
    langs = list(text_ops.LANG_MARKERS)
    g = f"greatest({', '.join(langs)})"
    whens = "\n            ".join(f"WHEN {l} = {g} THEN '{l}'" for l in langs)
    return (f"CASE WHEN {g} = 0 THEN 'unk'\n            {whens}"
            f"\n            ELSE 'unk' END")


# ===========================================================================
# Relational operator twins (SURVEY.md §2.3-2.5) over the TPC-H-ish tables
# ===========================================================================


def rel_window_filter(spark, sf_dir):
    """P1 genomic-window predicate twin: pushed-down range filter."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
        .select(
            "l_orderkey", "l_linenumber",
            F.floor(F.col("l_quantity")).cast("long").alias("qty"),
        )
    )


REL_WINDOW_FILTER_SQL = """
SELECT l_orderkey, l_linenumber, CAST(floor(l_quantity) AS BIGINT) AS qty
FROM lineitem WHERE l_quantity >= 10 AND l_quantity <= 20
"""


def rel_composite_id(spark, sf_dir):
    """P7 composite-ID builder twin (concat_ws + lower)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.concat_ws("_", F.lower(F.col("o_orderstatus")),
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.lit("GRCh38")).alias("composite_id"),
    )


REL_COMPOSITE_ID_SQL = """
SELECT o_orderkey,
       lower(o_orderstatus) || '_' || CAST(o_orderkey AS VARCHAR) || '_' ||
       CAST(o_custkey AS VARCHAR) || '_GRCh38' AS composite_id
FROM orders
"""


def rel_score_cutoff(spark, sf_dir):
    """P4 score-cutoff filter + P9 fixed-point scaling."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.abs(F.col("value")) >= 0.5)
        .select("event_id", F.floor(F.col("value") * 1000).cast("long").alias("value_milli"))
    )


REL_SCORE_CUTOFF_SQL = """
SELECT event_id, CAST(floor(value * 1000) AS BIGINT) AS value_milli
FROM events WHERE abs(value) >= 0.5
"""


def rel_broadcast_left_join(spark, sf_dir):
    """J1 broadcast left join with coalesce fallback."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left")
        .select("o_orderkey", F.coalesce(F.col("c_name"), F.lit("UNKNOWN")).alias("cust_name"))
    )


REL_BROADCAST_LEFT_JOIN_SQL = """
SELECT o_orderkey, coalesce(c_name, 'UNKNOWN') AS cust_name
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


def rel_double_inner_join(spark, sf_dir):
    """J2 double broadcast inner join (both dimension lookups must hit)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "l_linenumber", "s_name", "p_brand")
    )


REL_DOUBLE_INNER_JOIN_SQL = """
SELECT l_orderkey, l_linenumber, s_name, p_brand
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
JOIN part ON l_partkey = p_partkey
"""


def rel_shuffle_join_agg(spark, sf_dir):
    """J5 twin: fact-fact shuffle join + partial-agg groupBy (AQE handles
    skew); exact integer cents keep the compare engine-stable."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_cents"),
        )
    )


REL_SHUFFLE_JOIN_AGG_SQL = """
SELECT o_orderpriority, count(*) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def rel_collect_ordered(spark, sf_dir):
    """A1 ordered-collect twin (PWM list assembly): order-preserving
    collect_list via sort_array(struct)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("l_linenumber",
                                                         F.floor(F.col("l_quantity")).cast("long").alias("q")))),
                    lambda r: r["q"].cast("string"),
                ),
            ).alias("qty_seq")
        )
    )


REL_COLLECT_ORDERED_SQL = """
SELECT l_orderkey,
       string_agg(CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR), ',' ORDER BY l_linenumber, CAST(floor(l_quantity) AS BIGINT)) AS qty_seq
FROM lineitem GROUP BY l_orderkey
"""


def rel_distinct_dedup(spark, sf_dir):
    """A5 node-dedup twin: dropDuplicates on the business key."""
    c = _t(spark, sf_dir, "customer")
    return c.select("c_mktsegment", F.col("c_nationkey").cast("long").alias("c_nationkey")).distinct()


REL_DISTINCT_DEDUP_SQL = """
SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey FROM customer
"""


def rel_union_adapters(spark, sf_dir):
    """Union-of-adapters twin: unionByName(allowMissingColumns=True)."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    a = c.select(F.col("c_name").alias("name"),
                 F.floor(F.col("c_acctbal")).cast("long").alias("bal_floor"),
                 F.col("c_mktsegment").alias("segment"))
    b = s.select(F.col("s_name").alias("name"),
                 F.floor(F.col("s_acctbal")).cast("long").alias("bal_floor"))
    return a.unionByName(b, allowMissingColumns=True)


REL_UNION_ADAPTERS_SQL = """
SELECT c_name AS name, CAST(floor(c_acctbal) AS BIGINT) AS bal_floor, c_mktsegment AS segment
FROM customer
UNION ALL
SELECT s_name AS name, CAST(floor(s_acctbal) AS BIGINT) AS bal_floor, NULL AS segment
FROM supplier
"""


def rel_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped aggregation in exact cents (bench headline twin)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity")).cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(disc_cents).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
        )
    )


REL_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


# ===========================================================================
# KG construction over the synthesized interleaved documents table
# ===========================================================================
# The spans are synthesized arithmetically from testdata doc_ids (both
# engines can derive them); Spark must round-trip through the REAL span
# -> parse -> extract pipeline while the oracle derives the expected
# output directly from the arithmetic.

# shared arithmetic (DuckDB spelling) — keep in sync with sources/synth.py
_DUCK = {
    "chrom": "('chr' || CAST(1 + doc_id % 22 AS VARCHAR))",
    "start": "(1 + (doc_id * 9973) % 100000000)",
    "end": "((1 + (doc_id * 9973) % 100000000) + 100 + (doc_id % 5000))",
    "gene_base": "('ENSG' || lpad(CAST(doc_id % 100000 AS VARCHAR), 11, '0'))",
    "gene_type": "(['protein_coding','lncRNA','miRNA'])[CAST(doc_id % 3 AS INT) + 1]",
    "gene_name": "('G' || lpad(CAST(doc_id % 100000 AS VARCHAR), 11, '0'))",
}

# window chosen to be selective over the arithmetic corpus at small sf
# (doc_id<5000 -> start<50M): keeps ~half the chr16 docs, drops the rest
KG_WINDOW = dict(chr="chr16", start=1_000_000, end=50_000_000)


def _kg_docs(spark, sf_dir):
    ids = _t(spark, sf_dir, "documents").select("doc_id")
    return synth_gtf_documents_from_ids(ids)


def kg_gtf_gene_nodes(spark, sf_dir):
    """Full span->parse->extract pipeline; window-filtered gene nodes."""
    docs = _kg_docs(spark, sf_dir)
    gtf = parse_gtf(span_lines(docs, "gtf"), keys=GENE_KEYS)
    typed, _ = gencode.gene_nodes(gtf, alias_df=None, **KG_WINDOW)
    return typed.select("id", "chr",
                        F.col("start").cast("long").alias("start"),
                        F.col("end").cast("long").alias("end"),
                        "gene_type", "gene_name")


KG_GTF_GENE_NODES_SQL = f"""
SELECT {_DUCK['gene_base']} AS id,
       {_DUCK['chrom']} AS chr,
       {_DUCK['start']} AS start,
       {_DUCK['end']} AS "end",
       {_DUCK['gene_type']} AS gene_type,
       {_DUCK['gene_name']} AS gene_name
FROM documents
WHERE {_DUCK['chrom']} = 'chr16'
  AND {_DUCK['start']} >= {KG_WINDOW['start']}
  AND {_DUCK['end']} <= {KG_WINDOW['end']}
"""


def kg_gtf_gene_atoms(spark, sf_dir):
    """MeTTa rendering of the windowed gene nodes (serializer parity in
    the driver gate): one atom string per row, without the constant
    provenance atoms."""
    docs = _kg_docs(spark, sf_dir)
    gtf = parse_gtf(span_lines(docs, "gtf"), keys=GENE_KEYS)
    _, atoms = gencode.gene_nodes(gtf, alias_df=None, **KG_WINDOW)
    return atoms.filter(~F.col("atom").startswith("(source ")
                        & ~F.col("atom").startswith("(source_url "))


KG_GTF_GENE_ATOMS_SQL = f"""
WITH g AS (
  SELECT {_DUCK['gene_base']} AS id, {_DUCK['chrom']} AS chr,
         {_DUCK['start']} AS s, {_DUCK['end']} AS e,
         {_DUCK['gene_type']} AS gt, {_DUCK['gene_name']} AS gn
  FROM documents
  WHERE {_DUCK['chrom']} = 'chr16'
    AND {_DUCK['start']} >= {KG_WINDOW['start']}
    AND {_DUCK['end']} <= {KG_WINDOW['end']}
)
SELECT atom FROM (
  SELECT '(gene ' || id || ')' AS atom FROM g
  UNION ALL SELECT '(gene_type (gene ' || id || ') ' || gt || ')' FROM g
  UNION ALL SELECT '(chr (gene ' || id || ') ' || chr || ')' FROM g
  UNION ALL SELECT '(start (gene ' || id || ') ' || CAST(s AS VARCHAR) || ')' FROM g
  UNION ALL SELECT '(end (gene ' || id || ') ' || CAST(e AS VARCHAR) || ')' FROM g
  UNION ALL SELECT '(gene_name (gene ' || id || ') ' || gn || ')' FROM g
)
"""


# --- VCF snp extraction ----------------------------------------------------

VCF_DUCK = {
    "chrom": "CAST(1 + doc_id % 22 AS VARCHAR)",
    "pos": "(1 + (doc_id * 7919) % 100000000)",
    "rsid": "('rs' || CAST(1000 + doc_id AS VARCHAR))",
    "ref": "(['A','C','G','T'])[CAST(doc_id % 4 AS INT) + 1]",
    "alt": "(['G','T','A','C'])[CAST(doc_id % 4 AS INT) + 1]",
    "caf_alt": "('0.' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0'))",
    "caf_ref": "('0.' || lpad(CAST(899 - doc_id % 900 AS VARCHAR), 3, '0'))",
}

VCF_LINE_SPARK = (
    "concat(cast(1 + i % 22 as string), '\\t', "
    "cast(1 + (i * 7919) % 100000000 as string), '\\t', "
    "concat('rs', cast(1000 + i as string)), '\\t', "
    "element_at(array('A','C','G','T'), cast(i % 4 as int) + 1), '\\t', "
    "element_at(array('G','T','A','C'), cast(i % 4 as int) + 1), '\\t', "
    "'.', '\\t', '.', '\\t', "
    "concat('RS=', cast(1000 + i as string), "
    "';CAF=', concat('0.', lpad(cast(899 - i % 900 as string), 3, '0')), ',', "
    "concat('0.', lpad(cast(i % 900 + 100 as string), 3, '0')), ';COMMON=1'))"
)


def _vcf_docs(spark, sf_dir):
    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("i"))
    return ids.select(
        F.concat(F.lit("doc-"), F.col("i").cast("string")).alias("doc_id"),
        F.array(
            F.struct(F.lit("vcf").alias("kind"), F.expr(VCF_LINE_SPARK).alias("text"),
                     F.lit(None).cast("string").alias("media_ref"),
                     F.lit(0).cast("int").alias("offset")),
        ).alias("spans"),
    )


def kg_vcf_snp_nodes(spark, sf_dir):
    """dbSNP-semantics snp extraction (dbsnp_adapter.py:38-67) from vcf
    spans: id=rsid, chr prefixed, CAF split into ref/alt strings."""
    docs = _vcf_docs(spark, sf_dir)
    v = parse_vcf(span_lines(docs, "vcf"))
    caf = info_multi(F.col("info_map"), "CAF")
    return v.select(
        F.col("id").alias("rsid"),
        F.concat(F.lit("chr"), F.col("chrom")).alias("chr"),
        F.col("pos").alias("start"),
        F.col("pos").alias("end"),
        "ref", "alt",
        F.get(caf, 0).alias("caf_ref"),
        F.get(caf, 1).alias("caf_alt"),
    )


KG_VCF_SNP_NODES_SQL = f"""
SELECT {VCF_DUCK['rsid']} AS rsid,
       ('chr' || {VCF_DUCK['chrom']}) AS chr,
       {VCF_DUCK['pos']} AS start,
       {VCF_DUCK['pos']} AS "end",
       {VCF_DUCK['ref']} AS ref,
       {VCF_DUCK['alt']} AS alt,
       {VCF_DUCK['caf_ref']} AS caf_ref,
       {VCF_DUCK['caf_alt']} AS caf_alt
FROM documents
"""


def kg_transcribed_to_edges(spark, sf_dir):
    """transcribed_to edge extraction from the transcript spans, rendered
    def_out included (edge registry lookup path)."""
    docs = _kg_docs(spark, sf_dir)
    gtf = parse_gtf(span_lines(docs, "gtf"),
                    keys=["gene_id", "transcript_id", "gene_type", "gene_name",
                          "transcript_type", "transcript_name"])
    typed, _ = gencode.transcribed_edges(gtf, REGISTRY, "to")
    return typed.select("src", "tgt",
                        F.concat(F.lit("(transcribed_to (gene "), F.col("src"),
                                 F.lit(") (transcript "), F.col("tgt"),
                                 F.lit("))")).alias("atom"))


KG_TRANSCRIBED_TO_SQL = f"""
SELECT {_DUCK['gene_base']} AS src,
       ('ENST' || lpad(CAST(doc_id % 100000 AS VARCHAR), 11, '0')) AS tgt,
       ('(transcribed_to (gene ' || {_DUCK['gene_base']} || ') (transcript ' ||
        'ENST' || lpad(CAST(doc_id % 100000 AS VARCHAR), 11, '0') || '))') AS atom
FROM documents
"""


def kg_node_dedup(spark, sf_dir):
    """A5 canonicalization core: two overlapping extractions union ->
    dropDuplicates(id,label) (skip_duplicate_nodes semantics,
    biocypher_config.yaml:11)."""
    docs = _kg_docs(spark, sf_dir)
    gtf = parse_gtf(span_lines(docs, "gtf"), keys=GENE_KEYS)
    a, _ = gencode.gene_nodes(gtf, alias_df=None, chr="chr16")
    b, _ = gencode.gene_nodes(gtf, alias_df=None, chr="chr16",
                              start=20_000_000, end=80_000_000)
    both = a.select("id", "label").unionByName(b.select("id", "label"))
    return both.dropDuplicates(["id", "label"]).select("id", "label")


KG_NODE_DEDUP_SQL = f"""
SELECT DISTINCT {_DUCK['gene_base']} AS id, 'gene' AS label
FROM documents WHERE {_DUCK['chrom']} = 'chr16'
"""


# ===========================================================================
# Training-data ops over documents / embeddings
# ===========================================================================


def doc_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text_ops.token_stats(d)


DOC_TOKEN_STATS_SQL = r"""
SELECT doc_id,
       length(text) AS n_chars_obs,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subtokens,
       len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_unique_tokens
FROM documents
"""


def doc_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text_ops.quality_score(d)


DOC_QUALITY_SQL = r"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[\.,;:!\?''"\(\)-]')) AS punct
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(floor(punct * 1000.0 / greatest(n_chars, 1)) AS BIGINT) AS punct_permille,
         CAST(floor(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) * 1000.0 / greatest(len(toks), 1)) AS BIGINT) AS stop_permille,
         CAST(floor(len(list_distinct(toks)) * 1000.0 / greatest(len(toks), 1)) AS BIGINT) AS rep_permille,
         len(toks) AS n_tok
  FROM t
)
SELECT doc_id, punct_permille, stop_permille, rep_permille,
       CAST((CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 250 ELSE 0 END)
          + (CASE WHEN stop_permille >= 20 THEN 250 ELSE 0 END)
          + (CASE WHEN rep_permille >= 300 THEN 250 ELSE 0 END)
          + (CASE WHEN punct_permille <= 200 THEN 250 ELSE 0 END) AS BIGINT) AS quality_score
FROM m
"""


def doc_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text_ops.lang_id(d)


DOC_LANG_ID_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), s AS (
  SELECT doc_id,
         {_duck_lang_scores()}
  FROM t
)
SELECT doc_id, CAST(en AS BIGINT) AS en_score,
       {_duck_lang_case()} AS lang_pred
FROM s
"""


def doc_exact_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup_ops.exact_dedup(d)


DOC_EXACT_DEDUP_SQL = """
SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def doc_minhash(spark, sf_dir):
    d = _docs_par(spark, sf_dir)
    return dedup_ops.minhash_signatures(d, num_perm=4)


DOC_MINHASH_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                        i -> array_to_string(toks[i:i+4], ' ')) AS shingles
  FROM t
), hs AS (
  SELECT doc_id,
         list_transform(shingles,
                        s -> CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT)) AS hv
  FROM sh
)
SELECT doc_id,
  CAST(list_min(list_transform(hv, h -> (h * 32749 + 12345) % 2305843009213693951)) AS BIGINT) AS mh_0,
  CAST(list_min(list_transform(hv, h -> (h * 28657 + 54321) % 2305843009213693951)) AS BIGINT) AS mh_1,
  CAST(list_min(list_transform(hv, h -> (h * 24593 + 98765) % 2305843009213693951)) AS BIGINT) AS mh_2,
  CAST(list_min(list_transform(hv, h -> (h * 17977 + 13579) % 2305843009213693951)) AS BIGINT) AS mh_3
FROM hs
"""


def emb_dot_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qvec = list(qrow[0]) if qrow else []
    return sim_ops.quantized_dot_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)


EMB_DOT_TOPK_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
            p -> round(CAST(p[1] AS DOUBLE) * 1000) * round(CAST(p[2] AS DOUBLE) * 1000))) AS BIGINT) AS dot
FROM embeddings e, q
WHERE e.vec_id != 0
ORDER BY dot DESC, vec_id
LIMIT 10
"""


QUERIES = {
    "rel_window_filter": (rel_window_filter, REL_WINDOW_FILTER_SQL),
    "rel_composite_id": (rel_composite_id, REL_COMPOSITE_ID_SQL),
    "rel_score_cutoff": (rel_score_cutoff, REL_SCORE_CUTOFF_SQL),
    "rel_broadcast_left_join": (rel_broadcast_left_join, REL_BROADCAST_LEFT_JOIN_SQL),
    "rel_double_inner_join": (rel_double_inner_join, REL_DOUBLE_INNER_JOIN_SQL),
    "rel_shuffle_join_agg": (rel_shuffle_join_agg, REL_SHUFFLE_JOIN_AGG_SQL),
    "rel_collect_ordered": (rel_collect_ordered, REL_COLLECT_ORDERED_SQL),
    "rel_distinct_dedup": (rel_distinct_dedup, REL_DISTINCT_DEDUP_SQL),
    "rel_union_adapters": (rel_union_adapters, REL_UNION_ADAPTERS_SQL),
    "rel_pricing_summary": (rel_pricing_summary, REL_PRICING_SUMMARY_SQL),
    "kg_gtf_gene_nodes": (kg_gtf_gene_nodes, KG_GTF_GENE_NODES_SQL),
    "kg_gtf_gene_atoms": (kg_gtf_gene_atoms, KG_GTF_GENE_ATOMS_SQL),
    "kg_vcf_snp_nodes": (kg_vcf_snp_nodes, KG_VCF_SNP_NODES_SQL),
    "kg_transcribed_to_edges": (kg_transcribed_to_edges, KG_TRANSCRIBED_TO_SQL),
    "kg_node_dedup": (kg_node_dedup, KG_NODE_DEDUP_SQL),
    "doc_token_stats": (doc_token_stats, DOC_TOKEN_STATS_SQL),
    "doc_quality": (doc_quality, DOC_QUALITY_SQL),
    "doc_lang_id": (doc_lang_id, DOC_LANG_ID_SQL),
    "doc_exact_dedup": (doc_exact_dedup, DOC_EXACT_DEDUP_SQL),
    "doc_minhash": (doc_minhash, DOC_MINHASH_SQL),
    "emb_dot_topk": (emb_dot_topk, EMB_DOT_TOPK_SQL),
}


# ===========================================================================
# batch 2: windows, time aggs, fingerprints, LSH pairs, HGVS, components,
# span invariants, prolog sink, multimodal plumbing
# ===========================================================================


def rel_window_rank(spark, sf_dir):
    """Window function: top order per customer by total price (training
    pipelines use this constantly; deterministic tie-break on orderkey)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (o.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 2)
            .select("o_custkey", "o_orderkey", F.col("rnk").cast("long").alias("rnk")))


REL_WINDOW_RANK_SQL = """
SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 2
"""


def rel_events_hourly(spark, sf_dir):
    """Tumbling-window event aggregation (streaming-shaped, batch twin)."""
    e = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    return (e.groupBy(hour.alias("hour"), F.col("event_type"))
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_c"))
            .withColumn("hour", F.date_format("hour", "yyyy-MM-dd HH:mm:ss")))


REL_EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


def doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text_ops.fingerprint(d)


DOC_FINGERPRINT_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                        i -> array_to_string(toks[i:i+4], ' ')) AS shingles
  FROM t
)
SELECT doc_id,
       list_min(list_transform(shingles,
                s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS fingerprint
FROM sh
"""


def doc_lsh_pairs(spark, sf_dir):
    """MinHash banding -> candidate near-dup pairs (the LSH bucket join)."""
    d = _docs_par(spark, sf_dir)
    sigs = dedup_ops.minhash_signatures(d, num_perm=4)
    return dedup_ops.lsh_candidate_pairs(sigs, bands=2, rows_per_band=2)


DOC_LSH_PAIRS_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), hs AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                          i -> array_to_string(toks[i:i+4], ' ')),
           s -> CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT)) AS hv
  FROM t
), sig AS (
  SELECT doc_id,
    CAST(list_min(list_transform(hv, h -> (h * 32749 + 12345) % 2305843009213693951)) AS VARCHAR) AS mh_0,
    CAST(list_min(list_transform(hv, h -> (h * 28657 + 54321) % 2305843009213693951)) AS VARCHAR) AS mh_1,
    CAST(list_min(list_transform(hv, h -> (h * 24593 + 98765) % 2305843009213693951)) AS VARCHAR) AS mh_2,
    CAST(list_min(list_transform(hv, h -> (h * 17977 + 13579) % 2305843009213693951)) AS VARCHAR) AS mh_3
  FROM hs
), banded AS (
  SELECT doc_id, 0 AS band, md5(mh_0 || '_' || mh_1) AS bh FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh_2 || '_' || mh_3) AS bh FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""


def doc_simhash(spark, sf_dir):
    """SimHash signatures — 60-bit portable-hash based, DuckDB-oracled."""
    d = _docs_par(spark, sf_dir)
    return dedup_ops.simhash(d)


DOC_SIMHASH_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        t -> (('0x' || substr(md5(t),1,15))::BIGINT)) AS th
  FROM documents
)
SELECT doc_id,
  CAST(list_sum(list_transform(range(0,60), i ->
    CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
         THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS simhash
FROM toks
"""


def kg_hgvs_variant_ids(spark, sf_dir):
    """P8 HGVS regex path over synthesized hgvs spans."""
    from biocypher_metta_spark.functions.hgvs import variant_id_from_hgvs

    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i"))
    hgvs = F.expr(
        "concat('NC_0000', lpad(cast(1 + i % 25 as string), 2, '0'), '.',"
        " cast(10 + i % 5 as string), ':g.', cast(1000 + i as string),"
        " element_at(array('A','C','G','T'), cast(i % 4 as int) + 1), '>',"
        " element_at(array('G','T','A','C'), cast(i % 4 as int) + 1))")
    d = ids.select(F.col("i").alias("doc_id"), hgvs.alias("hgvs"))
    return d.select("doc_id", "hgvs",
                    variant_id_from_hgvs(F.col("hgvs")).alias("variant_id"))


KG_HGVS_SQL = """
WITH h AS (
  SELECT doc_id, 1 + doc_id % 25 AS chrn, 1000 + doc_id AS pos,
         (['A','C','G','T'])[CAST(doc_id % 4 AS INT) + 1] AS ref,
         (['G','T','A','C'])[CAST(doc_id % 4 AS INT) + 1] AS alt
  FROM documents
)
SELECT doc_id,
       'NC_0000' || lpad(CAST(chrn AS VARCHAR), 2, '0') || '.' ||
       CAST(10 + doc_id % 5 AS VARCHAR) || ':g.' || CAST(pos AS VARCHAR) ||
       ref || '>' || alt AS hgvs,
       CASE WHEN chrn < 23 THEN
              CAST(chrn AS VARCHAR) || '_' || CAST(pos AS VARCHAR) || '_' ||
              ref || '_' || alt || '_GRCh38'
            WHEN chrn = 23 THEN
              'x_' || CAST(pos AS VARCHAR) || '_' || ref || '_' || alt || '_GRCh38'
            WHEN chrn = 24 THEN
              'y_' || CAST(pos AS VARCHAR) || '_' || ref || '_' || alt || '_GRCh38'
            ELSE NULL END AS variant_id
FROM h
"""


def kg_connected_components(spark, sf_dir):
    """Canonicalization core: connected components over a synthetic alias
    graph (star per group of 4: i -> i - i%4). Spark runs the REAL
    iterative label propagation; the oracle derives components
    arithmetically."""
    from biocypher_metta_spark.canonicalize import connected_components

    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i"))
    edges = ids.select(
        F.concat(F.lit("E"), F.lpad(F.col("i").cast("string"), 8, "0")).alias("src"),
        F.concat(F.lit("E"), F.lpad((F.col("i") - F.col("i") % 4).cast("string"),
                                    8, "0")).alias("dst"))
    comp = connected_components(edges, max_iter=6)
    return comp.select(F.col("id"), F.col("component"))


KG_COMPONENTS_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
pairs AS (SELECT i, i - i % 4 AS hub FROM ids WHERE i % 4 != 0),
members AS (
  SELECT 'E' || lpad(CAST(i AS VARCHAR), 8, '0') AS id,
         'E' || lpad(CAST(hub AS VARCHAR), 8, '0') AS component FROM pairs
  UNION
  SELECT DISTINCT 'E' || lpad(CAST(hub AS VARCHAR), 8, '0'),
         'E' || lpad(CAST(hub AS VARCHAR), 8, '0') FROM pairs
)
SELECT id, component FROM members
"""


def kg_span_fingerprints(spark, sf_dir):
    """Per-doc span-sequence fingerprint (the per-row invariant carrier):
    sha256 over the offset-sorted (offset,kind,text,media_ref) sequence.
    The oracle recomputes the identical digest from the arithmetic corpus
    — a cross-engine proof that extraction inputs were not mutated."""
    from biocypher_metta_spark.sources.documents import span_fingerprint

    docs = _kg_docs(spark, sf_dir)
    return span_fingerprint(docs)


_DUCK_GENE_LINE = (
    "({chrom} || chr(9) || 'HAVANA' || chr(9) || 'gene' || chr(9) || "
    "CAST({start} AS VARCHAR) || chr(9) || CAST({end} AS VARCHAR) || "
    "chr(9) || '.' || chr(9) || '+' || chr(9) || '.' || chr(9) || "
    "'gene_id ' || chr(34) || {gene_base} || '.' || "
    "CAST(1 + doc_id % 9 AS VARCHAR) || chr(34) || '; gene_type ' || "
    "chr(34) || {gene_type} || chr(34) || '; gene_name ' || chr(34) || "
    "{gene_name} || chr(34) || ';')"
).format(**_DUCK)

_DUCK_TX_LINE = (
    "({chrom} || chr(9) || 'HAVANA' || chr(9) || 'transcript' || chr(9) || "
    "CAST({start} AS VARCHAR) || chr(9) || CAST({end} AS VARCHAR) || "
    "chr(9) || '.' || chr(9) || '+' || chr(9) || '.' || chr(9) || "
    "'gene_id ' || chr(34) || {gene_base} || '.' || "
    "CAST(1 + doc_id % 9 AS VARCHAR) || chr(34) || "
    "'; transcript_id ' || chr(34) || 'ENST' || "
    "lpad(CAST(doc_id % 100000 AS VARCHAR), 11, '0') || '.' || "
    "CAST(1 + doc_id % 9 AS VARCHAR) || chr(34) || "
    "'; gene_type ' || chr(34) || {gene_type} || chr(34) || "
    "'; gene_name ' || chr(34) || {gene_name} || chr(34) || "
    "'; transcript_type ' || chr(34) || {gene_type} || chr(34) || "
    "'; transcript_name ' || chr(34) || 'T' || "
    "lpad(CAST(doc_id % 100000 AS VARCHAR), 11, '0') || chr(34) || ';')"
).format(**_DUCK)


KG_SPAN_FP_SQL = f"""
SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id,
       sha256(
         '0' || chr(31) || 'gtf' || chr(31) || {_DUCK_GENE_LINE} || chr(31) || chr(2)
         || chr(30) ||
         '1' || chr(31) || 'gtf' || chr(31) || {_DUCK_TX_LINE} || chr(31) || chr(2)
         || chr(30) ||
         '2' || chr(31) || 'image' || chr(31) || chr(2) || chr(31) ||
         'media://img/' || CAST(doc_id AS VARCHAR)
       ) AS span_fp
FROM documents
"""


def kg_prolog_facts(spark, sf_dir):
    """Pluggable-sink proof: the same windowed gene nodes rendered as
    Prolog facts instead of MeTTa."""
    from biocypher_metta_spark import sinks

    typed = kg_gtf_gene_nodes(spark, sf_dir)
    nodes = typed.select("id", F.lit("gene").alias("label"), "chr")
    return sinks.prolog_node_facts(nodes, ["chr"])


KG_PROLOG_SQL = f"""
WITH g AS (
  SELECT lower({_DUCK['gene_base']}) AS id, {_DUCK['chrom']} AS chr
  FROM documents
  WHERE {_DUCK['chrom']} = 'chr16'
    AND {_DUCK['start']} >= {KG_WINDOW['start']}
    AND {_DUCK['end']} <= {KG_WINDOW['end']}
)
SELECT fact FROM (
  SELECT 'gene(' || id || ').' AS fact FROM g
  UNION ALL
  SELECT 'chr(gene(' || id || '), ' || chr || ').' FROM g
)
"""


def multimodal_decode(spark, sf_dir):
    """Image-decode plumbing over the synthetic media store. The real
    decode kernel is stubbed per environment constraints (no PIL/cv2),
    but the deterministic fake's (width, height) are integer arithmetic
    over the payload bytes, which the DuckDB oracle re-derives — so the
    mapInPandas plumbing (filter, Arrow batches, schema) is value-checked
    end-to-end, not just row-counted."""
    from biocypher_metta_spark.operators import multimodal as mm

    n = _t(spark, sf_dir, "documents").count()
    media = mm.synth_media_table(spark, min(int(n), 2000))
    return mm.decode_images(media, decoder=mm.fake_image_decode) \
        .select("media_ref", "width", "height", "channels")


MULTIMODAL_DECODE_SQL = """
WITH ids AS (
  SELECT unnest(range(0, least((SELECT count(*) FROM documents), 2000))) AS id
), m AS (
  SELECT id, 'payload-' || sha256(CAST(id AS VARCHAR)) AS payload
  FROM ids WHERE id % 3 != 2
)
SELECT 'media://img/' || CAST(id AS VARCHAR) AS media_ref,
       CAST(16 + (length(payload) + ascii(substr(payload, length(payload)//2 + 1, 1))) % 64 AS INTEGER) AS width,
       CAST(16 + (length(payload) * 7 + ascii(substr(payload, length(payload)//2 + 1, 1)) * 3) % 64 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels
FROM m
"""


def doc_lang_dist(spark, sf_dir):
    """Predicted-language distribution (groupBy over the lang-id op)."""
    d = _t(spark, sf_dir, "documents")
    return (text_ops.lang_id(d).groupBy("lang_pred")
            .agg(F.count("*").alias("n_docs")))


DOC_LANG_DIST_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), s AS (
  SELECT doc_id,
         {_duck_lang_scores()}
  FROM t
), p AS (
  SELECT {_duck_lang_case()} AS lang_pred
  FROM s
)
SELECT lang_pred, count(*) AS n_docs FROM p GROUP BY lang_pred
"""


QUERIES.update({
    "rel_window_rank": (rel_window_rank, REL_WINDOW_RANK_SQL),
    "rel_events_hourly": (rel_events_hourly, REL_EVENTS_HOURLY_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "doc_lsh_pairs": (doc_lsh_pairs, DOC_LSH_PAIRS_SQL),
    "doc_simhash": (doc_simhash, DOC_SIMHASH_SQL),
    "doc_lang_dist": (doc_lang_dist, DOC_LANG_DIST_SQL),
    "kg_hgvs_variant_ids": (kg_hgvs_variant_ids, KG_HGVS_SQL),
    "kg_connected_components": (kg_connected_components, KG_COMPONENTS_SQL),
    "kg_span_fingerprints": (kg_span_fingerprints, KG_SPAN_FP_SQL),
    "kg_prolog_facts": (kg_prolog_facts, KG_PROLOG_SQL),
    "multimodal_decode": (multimodal_decode, MULTIMODAL_DECODE_SQL),
})


# ===========================================================================
# batch 3: mention linking (the north-star UDF stage) with a SQL oracle
# ===========================================================================

LINK_DICT = {
    "spark": "TOOL:spark",
    "shuffle": "OP:shuffle",
    "join": "OP:join",
    "table": "OBJ:table",
}


def kg_mention_link_counts(spark, sf_dir):
    """Broadcast-dictionary mention detection + entity-link scoring over
    the documents text via the fully-JVM join path (linking.
    build_mention_join — n-gram explode + broadcast dictionary join; the
    pandas-UDF path is parity-tested against it in tests), aggregated per
    entity. The oracle reproduces the 1-gram exact-match subset in pure
    SQL (scoring for unigrams is deterministic: distinct mentions per
    doc, so counts == docs whose token set contains the surface form)."""
    from biocypher_metta_spark import linking

    d = _docs_par(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("text").alias("value"))
    link = linking.build_mention_join(spark, LINK_DICT, max_ngram=1)
    linked = link(d)
    counts = linking.entity_mention_counts(linked)
    return counts.select("entity", "n_mentions")


KG_MENTION_LINK_SQL = r"""
WITH t AS (
  SELECT doc_id, list_distinct(regexp_extract_all(text, '[A-Za-z0-9:_.\-]+')) AS toks
  FROM documents
), hits AS (
  SELECT 'TOOL:spark' AS entity, doc_id FROM t WHERE list_contains(toks, 'spark')
  UNION ALL
  SELECT 'OP:shuffle', doc_id FROM t WHERE list_contains(toks, 'shuffle')
  UNION ALL
  SELECT 'OP:join', doc_id FROM t WHERE list_contains(toks, 'join')
  UNION ALL
  SELECT 'OBJ:table', doc_id FROM t WHERE list_contains(toks, 'table')
)
SELECT entity, count(*) AS n_mentions FROM hits GROUP BY entity
"""

QUERIES["kg_mention_link_counts"] = (kg_mention_link_counts, KG_MENTION_LINK_SQL)


def kg_pattern_match(spark, sf_dir):
    """Generic conjunctive pattern match (the MeTTa `match &self` twin,
    query.py): (, (chr $g chr16) (gene_type $g protein_coding)) over the
    property triples of the extracted gene nodes."""
    from biocypher_metta_spark import query

    typed = kg_gtf_gene_nodes(spark, sf_dir)
    nodes = typed.select("id", F.lit("gene").alias("label"), "chr",
                         "start", "end", "gene_type", "gene_name")
    triples = query.node_prop_triples(nodes)
    out = query.match_pattern(triples, [
        ("$g", "chr", "chr16"),
        ("$g", "gene_type", "protein_coding"),
    ])
    return out.select(F.col("g").alias("gene_head"))


KG_PATTERN_MATCH_SQL = f"""
SELECT DISTINCT '(gene ' || {_DUCK['gene_base']} || ')' AS gene_head
FROM documents
WHERE {_DUCK['chrom']} = 'chr16'
  AND {_DUCK['start']} >= {KG_WINDOW['start']}
  AND {_DUCK['end']} <= {KG_WINDOW['end']}
  AND {_DUCK['gene_type']} = 'protein_coding'
"""

QUERIES["kg_pattern_match"] = (kg_pattern_match, KG_PATTERN_MATCH_SQL)


def kg_streaming_parity(spark, sf_dir):
    """Streaming-vs-batch parity (the last coverage row without an
    oracle-class check, r3 verdict item 7): the stateless triple-melt
    plan (streaming/incremental.doc_stat_triples) runs as TWO
    checkpointed AvailableNow increments — half the documents land
    first, the other half arrive as new files, and the second trigger
    must process ONLY them. The returned triple set is compared against
    the DuckDB batch twin over the same parquet, so a green row proves
    the exactly-once end state: complete AND duplicate-free."""
    import hashlib
    import shutil

    from biocypher_metta_spark.streaming.incremental import (
        doc_stat_triples, run_incremental)

    base = ("/tmp/bcm_stream_gate_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(in_dir)
    for batch in range(2):
        stream = spark.readStream.schema(docs.schema).parquet(in_dir)
        run_incremental(stream, doc_stat_triples, out_dir, ck)
        if batch == 0:
            docs.filter(F.col("doc_id") % 2 == 1) \
                .write.mode("append").parquet(in_dir)
    return spark.read.parquet(out_dir)


KG_STREAMING_PARITY_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), fp AS (
  SELECT doc_id,
         list_min(list_transform(
           list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                          i -> array_to_string(toks[i:i+4], ' ')),
           s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))
           AS fingerprint
  FROM t
)
SELECT subj, pred, obj FROM (
  SELECT '(document ' || CAST(doc_id AS VARCHAR) || ')' AS subj,
         'n_chars' AS pred, CAST(length(text) AS VARCHAR) AS obj FROM t
  UNION ALL
  SELECT '(document ' || CAST(doc_id AS VARCHAR) || ')',
         'n_tokens', CAST(len(toks) AS VARCHAR) FROM t
  UNION ALL
  SELECT '(document ' || CAST(doc_id AS VARCHAR) || ')',
         'fingerprint', CAST(fingerprint AS VARCHAR) FROM fp
)
WHERE obj IS NOT NULL
"""

QUERIES["kg_streaming_parity"] = (kg_streaming_parity,
                                  KG_STREAMING_PARITY_SQL)


def kg_streaming_window(spark, sf_dir):
    """Watermarked tumbling-window streaming aggregation (the remaining
    §2.6 streaming shape: event-time windows + late-data policy). Two
    AvailableNow increments over the events table: increment 1 carries
    every real event plus a far-future flush sentinel that advances the
    watermark past every real window end; increment 2 plants (a) a LATE
    row — event time inside a window the watermark already closed, with
    a tripwire value of 999999 — which append-mode semantics must DROP,
    and (b) a second sentinel inside the first sentinel's window, so no
    sentinel window ever finalizes. The emitted output must therefore
    equal the batch hourly aggregation over the real events exactly —
    the oracle is the SAME DuckDB SQL as rel_events_hourly, so a leaked
    late row, a double-emitted window, or a sentinel window all break
    the value hash."""
    import hashlib
    import shutil
    from datetime import timedelta

    from biocypher_metta_spark.streaming.windowed import run_windowed

    base = ("/tmp/bcm_streamwin_gate_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    # watermarks require TIMESTAMP (with tz); the parquet is NTZ. The
    # cast goes NTZ -> instant via the session tz and date_format
    # renders back in the session tz, so window wall-clock labels (and
    # the DuckDB oracle's NTZ date_trunc) are unchanged.
    events = (spark.read.parquet(f"{sf_dir}/events.parquet")
              .withColumn("ts", F.col("ts").cast("timestamp")))
    # two bounded scalars (corpus time range), not a data collect
    min_ts, max_ts = events.agg(F.min("ts"), F.max("ts")).first()
    s1 = max_ts + timedelta(days=30)
    sentinel1 = spark.createDataFrame(
        [(-1, s1, -1, "_sentinel", 0.0, "{}")], events.schema)
    events.unionByName(sentinel1).write.parquet(in_dir)
    run_windowed(spark.readStream.schema(events.schema).parquet(in_dir),
                 out_dir, ck)
    late_and_flush = spark.createDataFrame(
        [(-2, min_ts, -2, "_late", 999999.0, "{}"),
         (-3, s1 + timedelta(minutes=1), -3, "_sentinel", 0.0, "{}")],
        events.schema)
    late_and_flush.write.mode("append").parquet(in_dir)
    run_windowed(spark.readStream.schema(events.schema).parquet(in_dir),
                 out_dir, ck)
    return spark.read.parquet(out_dir)


# the oracle IS the batch twin: real events only, hourly windows
QUERIES["kg_streaming_window"] = (kg_streaming_window,
                                  REL_EVENTS_HOURLY_SQL)


def rel_session_window(spark, sf_dir):
    """Gap-based sessionization (F.session_window, the dynamic-size
    window §2.6 still lacked): per (user, session) event counts and
    cent sums, session = maximal run of events each within 30 minutes
    (INCLUSIVE — an event exactly gap after the previous still merges,
    pinned by test_session_merge_and_exact_gap_tie) of the previous.
    The DuckDB twin is the classic gaps-and-islands formulation (lag
    diff > gap starts an island) — an independent implementation of the
    same semantics, so merge boundaries, the exact-gap tie rule, and
    the last-ts + gap session end are all value-checked."""
    from biocypher_metta_spark.streaming.windowed import session_event_stats

    e = (spark.read.parquet(f"{sf_dir}/events.parquet")
         .withColumn("ts", F.col("ts").cast("timestamp")))
    return session_event_stats(e, gap="30 minutes")


REL_SESSION_WINDOW_SQL = """
WITH o AS (
  SELECT user_id, ts, CAST(floor(value * 100) AS BIGINT) AS cents,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL '30 minutes'
              THEN 0 ELSE 1 END AS new_sess
  FROM events
), g AS (
  SELECT user_id, ts, cents,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL '30 minutes',
                '%Y-%m-%d %H:%M:%S') AS session_end,
       user_id, count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_value_c
FROM g GROUP BY user_id, sid
"""

QUERIES["rel_session_window"] = (rel_session_window,
                                 REL_SESSION_WINDOW_SQL)


def kg_streaming_sessions(spark, sf_dir):
    """Session windows through Spark's STREAMING merging-session state
    path (streaming/windowed.run_sessions) — a genuinely different
    execution route from the batch rel_session_window gate: partial
    sessions live in the state store and merge as later events extend
    them across micro-batches. Same two-increment protocol as
    kg_streaming_window: increment 1 = real events + a far-future
    sentinel (own key, so its never-closing session can't absorb real
    rows); increment 2 = a LATE row (ts = corpus min, tripwire value
    999999 — append semantics must DROP it) + a second sentinel one
    minute after the first (different key; neither sentinel session
    ever finalizes because the watermark never passes their end). The
    emitted sessions must therefore equal the batch sessionization of
    the real events exactly — the oracle is the SAME gaps-and-islands
    DuckDB SQL as rel_session_window, so a leaked late row, a
    double-emitted session, a wrong merge boundary, or a sentinel
    session all break the value hash."""
    import hashlib
    import shutil
    from datetime import timedelta

    from biocypher_metta_spark.streaming.windowed import run_sessions

    base = ("/tmp/bcm_streamsess_gate_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    events = (spark.read.parquet(f"{sf_dir}/events.parquet")
              .withColumn("ts", F.col("ts").cast("timestamp")))
    min_ts, max_ts = events.agg(F.min("ts"), F.max("ts")).first()
    s1 = max_ts + timedelta(days=30)
    sentinel1 = spark.createDataFrame(
        [(-1, s1, -1, "_sentinel", 0.0, "{}")], events.schema)
    events.unionByName(sentinel1).write.parquet(in_dir)
    run_sessions(spark.readStream.schema(events.schema).parquet(in_dir),
                 out_dir, ck)
    late_and_flush = spark.createDataFrame(
        [(-2, min_ts, -2, "_late", 999999.0, "{}"),
         (-3, s1 + timedelta(minutes=1), -3, "_sentinel", 0.0, "{}")],
        events.schema)
    late_and_flush.write.mode("append").parquet(in_dir)
    run_sessions(spark.readStream.schema(events.schema).parquet(in_dir),
                 out_dir, ck)
    return spark.read.parquet(out_dir)


# the oracle IS the batch twin: gaps-and-islands over real events only
QUERIES["kg_streaming_sessions"] = (kg_streaming_sessions,
                                    REL_SESSION_WINDOW_SQL)


def rel_interval_stab(spark, sf_dir):
    """Peak interval concurrency (operators/temporal.interval_peak):
    each event opens a deterministic inclusive interval [s, s + 60 +
    event_id % 7200] (relative seconds, so engine timezone conventions
    cancel) and the operator reports, per user, the max number of
    simultaneously open intervals and the first second that peak is
    reached — the sweep-line (+1/-1 running sum) as ONE key-shuffle
    window. The oracle is the independent quadratic formulation: count
    intervals covering each distinct start tick, take the per-user max
    and its earliest tick."""
    from biocypher_metta_spark.operators.temporal import interval_peak

    ev = _t(spark, sf_dir, "events")
    base = F.unix_timestamp(F.lit("2024-01-01 00:00:00")
                            .cast("timestamp"))
    s = (F.unix_timestamp("ts") - base).cast("long")
    iv = ev.select("user_id", s.alias("s"),
                   (s + 60 + F.col("event_id") % 7200).alias("e"))
    return interval_peak(iv, "user_id", "s", "e")


REL_INTERVAL_STAB_SQL = """
WITH iv AS (
  -- floor(epoch(ts)): ts carries sub-second fractions and Spark's
  -- unix_timestamp TRUNCATES them while a bare double->BIGINT cast
  -- in DuckDB ROUNDS — floor first so both engines agree
  SELECT user_id,
         CAST(floor(epoch(ts)) - epoch(TIMESTAMP '2024-01-01 00:00:00')
              AS BIGINT) AS s,
         CAST(floor(epoch(ts)) - epoch(TIMESTAMP '2024-01-01 00:00:00')
              AS BIGINT) + 60 + (event_id % 7200) AS e
  FROM events
), cand AS (
  SELECT DISTINCT user_id, s AS t FROM iv
), conc AS (
  SELECT c.user_id, c.t, COUNT(*) AS n
  FROM cand c
  JOIN iv ON iv.user_id = c.user_id AND iv.s <= c.t AND c.t <= iv.e
  GROUP BY 1, 2
), mx AS (
  SELECT user_id, t, n, MAX(n) OVER (PARTITION BY user_id) AS peak
  FROM conc
)
SELECT user_id, peak, MIN(t) AS peak_t
FROM mx WHERE n = peak GROUP BY user_id, peak
"""

QUERIES["rel_interval_stab"] = (rel_interval_stab, REL_INTERVAL_STAB_SQL)


def rel_skyline(spark, sf_dir):
    """Per-brand Pareto skyline (operators/skyline.py) of parts:
    minimize price cents, maximize size — the two-phase distributed
    skyline (partition-local frontier via mapInPandas, then one
    frontiers-only shuffle for the exact per-group pass). Oracle is the
    independent quadratic NOT EXISTS dominance anti-join."""
    from biocypher_metta_spark.operators.skyline import skyline

    t = _t(spark, sf_dir, "part").select(
        "p_brand", "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("size"))
    return skyline(t, ["p_brand"], ["price_c"], ["size"])


REL_SKYLINE_SQL = """
WITH t AS (
  SELECT p_brand, p_partkey,
         CAST(floor(p_retailprice * 100) AS BIGINT) AS price_c,
         CAST(p_size AS BIGINT) AS size
  FROM part
)
SELECT p_brand, p_partkey, price_c, size
FROM t y
WHERE NOT EXISTS (
  SELECT 1 FROM t x
  WHERE x.p_brand = y.p_brand
    AND x.price_c <= y.price_c AND x.size >= y.size
    AND (x.price_c < y.price_c OR x.size > y.size))
"""

QUERIES["rel_skyline"] = (rel_skyline, REL_SKYLINE_SQL)


def rel_grouping_sets(spark, sf_dir):
    """CUBE / grouping-sets aggregation (the multi-granularity rollup
    relational surface): per (returnflag, linestatus) cents totals at
    all four granularities in ONE pass over the scan — Spark expands
    the grouping sets map-side and a single shuffle aggregates every
    granularity (vs 4 scans for 4 separate GROUP BYs). grouping_id()
    disambiguates a rolled-up NULL from a data NULL; both engines
    encode it with the first cube column as the high bit."""
    li = _t(spark, sf_dir, "lineitem")
    out = (li.cube("l_returnflag", "l_linestatus")
           .agg(F.count("*").cast("long").alias("n_rows"),
                F.sum(F.floor(F.col("l_extendedprice") * 100))
                .cast("long").alias("sum_cents"),
                F.grouping_id().cast("long").alias("gid")))
    return out.select(
        F.coalesce("l_returnflag", F.lit("_all")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("_all")).alias("linestatus"),
        "gid", "n_rows", "sum_cents")


REL_GROUPING_SETS_SQL = """
SELECT coalesce(l_returnflag, '_all') AS returnflag,
       coalesce(l_linestatus, '_all') AS linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""

QUERIES["rel_grouping_sets"] = (rel_grouping_sets, REL_GROUPING_SETS_SQL)


def kg_streaming_dedup(spark, sf_dir):
    """Streaming dedup with bounded state (dropDuplicatesWithinWatermark
    — the streaming analog of doc_exact_dedup). Increment 1 carries
    every real event plus exact duplicate copies of every 10th one —
    the at-least-once-delivery shape — which the state-store filter
    must emit exactly once; increment 2 re-delivers copies of every 7th
    event, all of which are still inside the (deliberately huge) dedup
    horizon and must ALL be dropped. The emitted rows therefore equal
    the events table itself (event_id is unique in the testdata), so
    the oracle is a plain projection of `events` — any duplicate
    surviving either increment breaks rows + hash."""
    import hashlib
    import shutil

    from biocypher_metta_spark.streaming.dedup import run_dedup_stream

    base = ("/tmp/bcm_streamdedup_gate_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    events = (spark.read.parquet(f"{sf_dir}/events.parquet")
              .withColumn("ts", F.col("ts").cast("timestamp")))
    dupes1 = events.filter(F.col("event_id") % 10 == 0)
    events.unionByName(dupes1).write.parquet(in_dir)
    run_dedup_stream(
        spark.readStream.schema(events.schema).parquet(in_dir),
        ["event_id"], out_dir, ck, delay="3650 days")
    events.filter(F.col("event_id") % 7 == 0) \
        .write.mode("append").parquet(in_dir)
    run_dedup_stream(
        spark.readStream.schema(events.schema).parquet(in_dir),
        ["event_id"], out_dir, ck, delay="3650 days")
    return (spark.read.parquet(out_dir)
            .select("event_id", "user_id", "event_type",
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("ts_s"),
                    F.floor(F.col("value") * 100).cast("long")
                    .alias("value_c")))


KG_STREAMING_DEDUP_SQL = """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(floor(value * 100) AS BIGINT) AS value_c
FROM events
"""

QUERIES["kg_streaming_dedup"] = (kg_streaming_dedup,
                                 KG_STREAMING_DEDUP_SQL)


def kg_streaming_join(spark, sf_dir):
    """Watermarked stream-stream interval join (the remaining §2.6
    streaming shape: joining two live streams with bounded state).
    Impressions = every event; clicks = every 3rd event, planted at
    imp_ts + (event_id % 180) seconds — so offsets 0..120 fall inside
    the 2-minute horizon and MUST match while 121..179 fall outside
    and must not. Clicks arrive across TWO AvailableNow increments
    split by parity: the second increment's matches only exist if the
    checkpointed state store retained the unmatched impressions across
    the restart. The oracle re-derives the exact match set
    arithmetically from `events`."""
    import hashlib
    import shutil

    from biocypher_metta_spark.streaming.joins import (
        run_interval_join_stream)

    base = ("/tmp/bcm_streamjoin_gate_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    shutil.rmtree(base, ignore_errors=True)
    imp_dir, clk_dir = f"{base}/imp", f"{base}/clk"
    out_dir, ck = f"{base}/out", f"{base}/ck"
    events = (spark.read.parquet(f"{sf_dir}/events.parquet")
              .withColumn("ts", F.col("ts").cast("timestamp")))
    imps = events.select(
        F.col("event_id").alias("imp_id"), "user_id",
        F.col("ts").alias("imp_ts"),
        F.floor(F.col("value") * 100).cast("long").alias("imp_c"))
    clicks = (events.filter(F.col("event_id") % 3 == 0)
              .select(
                  F.col("event_id").alias("imp_id"),
                  F.expr("timestampadd(SECOND, event_id % 180, ts)")
                  .alias("click_ts"),
                  (F.floor(F.col("value") * 100) + 7).cast("long")
                  .alias("click_c")))
    imps.write.parquet(imp_dir)
    clicks.filter(F.col("imp_id") % 2 == 0).write.parquet(clk_dir)

    def _run():
        run_interval_join_stream(
            spark.readStream.schema(imps.schema).parquet(imp_dir),
            spark.readStream.schema(clicks.schema).parquet(clk_dir),
            "imp_id", "imp_ts", "click_ts", out_dir, ck,
            horizon="2 minutes", delay="3650 days")

    _run()
    clicks.filter(F.col("imp_id") % 2 == 1) \
        .write.mode("append").parquet(clk_dir)
    _run()
    return (spark.read.parquet(out_dir)
            .select("imp_id", "user_id",
                    F.date_format("imp_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("imp_ts_s"),
                    F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("click_ts_s"),
                    "imp_c", "click_c"))


KG_STREAMING_JOIN_SQL = """
SELECT event_id AS imp_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS imp_ts_s,
       strftime(ts + (event_id % 180) * INTERVAL 1 SECOND,
                '%Y-%m-%d %H:%M:%S') AS click_ts_s,
       CAST(floor(value * 100) AS BIGINT) AS imp_c,
       CAST(floor(value * 100) + 7 AS BIGINT) AS click_c
FROM events
WHERE event_id % 3 = 0 AND event_id % 180 <= 120
"""

QUERIES["kg_streaming_join"] = (kg_streaming_join,
                                KG_STREAMING_JOIN_SQL)


def kg_nested_annotation_atoms(spark, sf_dir):
    """Nested-dict property rendering in the gate (the FAVOR annotation
    shape, metta_writer.py:158-160 + favor coercion): dict head atom +
    per-field atoms with '.'->0 / numeric / escaped-string coercion."""
    from biocypher_metta_spark.serializer import (
        Prop, atoms_df, dict_prop_atoms, node_def_out)

    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i"))
    d = ids.select(
        F.concat(F.lit("v"), F.col("i").cast("string")).alias("vid"),
        # single-digit decimals round-trip Python float repr exactly
        F.concat(F.lit("0."), (F.col("i") % 9 + 1).cast("string")).alias("af"),
        F.when(F.col("i") % 3 == 0, F.lit(".")).otherwise(F.lit("PASS")).alias("fs"),
        F.when(F.col("i") % 2 == 0, F.lit("benign risk"))
        .otherwise(F.lit("")).alias("cl"),
    )
    def_out = node_def_out("sequence_variant", F.col("vid"))
    fields = [Prop("af_total", F.col("af"), "num_or_str"),
              Prop("filter_status", F.col("fs"), "num_or_str"),
              Prop("clnsig", F.col("cl"), "num_or_str")]
    extra = dict_prop_atoms(def_out, "annotation", fields)
    return atoms_df(d, def_out, [], extra_atoms=extra)


KG_NESTED_ANNOTATION_SQL = """
WITH v AS (
  SELECT 'v' || CAST(doc_id AS VARCHAR) AS vid,
         '0.' || CAST(doc_id % 9 + 1 AS VARCHAR) AS af,
         CASE WHEN doc_id % 3 = 0 THEN '0' ELSE 'PASS' END AS fs,
         CASE WHEN doc_id % 2 = 0 THEN 'benign_risk' ELSE NULL END AS cl
  FROM documents
)
SELECT atom FROM (
  SELECT '(sequence_variant ' || vid || ')' AS atom FROM v
  UNION ALL SELECT '(annotation (sequence_variant ' || vid || '))' FROM v
  UNION ALL SELECT '(af_total (annotation (sequence_variant ' || vid || ')) ' || af || ')' FROM v
  UNION ALL SELECT '(filter_status (annotation (sequence_variant ' || vid || ')) ' || fs || ')' FROM v
  UNION ALL SELECT '(clnsig (annotation (sequence_variant ' || vid || ')) ' || cl || ')' FROM v
  WHERE cl IS NOT NULL
)
"""

QUERIES["kg_nested_annotation_atoms"] = (kg_nested_annotation_atoms,
                                         KG_NESTED_ANNOTATION_SQL)


# ===========================================================================
# batch 4: gate twins for the previously parity-only SURVEY §2 operators
# (S3 alias dimension, S4 SwissProt records, S9 keyed fan-in, J8 PEREGRINE
# multi-file joins, A2 keyed dimension, A4 predicate cache, K7 dedup-on-
# write). Inputs are synthesized arithmetically from the testdata doc_ids
# so the DuckDB oracle re-derives the expected output independently while
# the Spark side runs the REAL adapter/sink code paths. NOTE: like every
# synth twin in this file, some oracles (peregrine last-row-wins winner,
# neo4j key range) additionally assume the fixture's doc_ids are the
# contiguous 0..n-1 the driver generates — they are gate fixtures, not
# corpus-generic queries.
# ===========================================================================


def _ids(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("i"))


def kg_alias_dimension(spark, sf_dir):
    """S3 twin: the gencode gene-alias dimension build
    (gencode_gene_adapter.py:45-82 semantics) over a synthesized
    gene_info-shaped frame — exercises dbxref prefix extraction with
    last-match-wins, synonym set assembly, '-' removal, sorted-distinct
    canonical order, and key explode."""
    ids = _ids(spark, sf_dir)
    s = F.col("i").cast("string")
    raw = ids.select(
        F.lit("9606").alias("tax_id"),
        s.alias("gene_id"),
        F.concat(F.lit("SYM"), s).alias("symbol"),
        F.lit("-").alias("locus_tag"),
        F.concat(F.lit("ALT"), s, F.lit("a|ALT"), s, F.lit("b")).alias("synonyms"),
        F.expr(
            "CASE WHEN i % 3 = 0 THEN concat('MIM:60', i, '|HGNC:HGNC:', i, '|Ensembl:ENSG', i) "
            "WHEN i % 3 = 1 THEN concat('MIM:60', i, '|Ensembl:ENSG', i) "
            "ELSE concat('HGNC:HGNC:9', i, '|HGNC:HGNC:', i) END").alias("dbxrefs"),
        F.lit("1").alias("chromosome"),
        F.lit("-").alias("map_location"),
        F.concat(F.lit("desc "), s).alias("description"),
        F.lit("protein-coding").alias("type_of_gene"),
        F.expr("CASE WHEN i % 5 = 0 THEN '-' ELSE concat('NSYM', i) END")
        .alias("symbol_from_nomenclature_authority"),
        F.concat(F.lit("full name "), s).alias("full_name_from_nomenclature_authority"),
        F.lit("O").alias("nomenclature_status"),
        F.concat(F.lit("designation "), s, F.lit("|other "), s).alias("other_designations"),
        F.lit("20240101").alias("modification_date"),
        F.lit("-").alias("feature_type"),
    )
    dim = gencode.gene_alias_dim(raw)
    return dim.select("alias_key", F.concat_ws(";", "synonyms").alias("syn_str"))


KG_ALIAS_DIMENSION_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
base AS (
  SELECT i,
    list_sort(list_filter(list_distinct(
      ['SYM' || i, 'ALT' || i || 'a', 'ALT' || i || 'b']
      || (CASE WHEN i % 3 IN (0, 2) THEN ['HGNC:' || i]
               ELSE CAST([] AS VARCHAR[]) END)
      || ['designation ' || i, 'other ' || i]
      || [CASE WHEN i % 5 = 0 THEN '-' ELSE 'NSYM' || i END]
      || ['full name ' || i]
    ), x -> x != '-')) AS syn
  FROM ids
)
SELECT unnest(CASE WHEN i % 3 = 0 THEN ['ENSG' || i, 'HGNC:' || i]
                   WHEN i % 3 = 1 THEN ['ENSG' || i]
                   ELSE ['HGNC:' || i] END) AS alias_key,
       array_to_string(syn, ';') AS syn_str
FROM base
"""


def kg_swiss_records(spark, sf_dir):
    """S4 twin: SwissProt flat-record parse (uniprot adapters' ID/AC/DR
    field set) through the production Catalyst record parser over
    synthesized record text."""
    from biocypher_metta_spark.sources.swiss import parse_swiss_spans

    ids = _ids(spark, sf_dir)
    rec = F.concat_ws(
        "\n",
        F.expr("concat('ID   P', i, '_HUMAN   Reviewed;   100 AA.')"),
        F.expr("concat('AC   Q', i, '; A', i, ';')"),
        F.expr("concat('DR   GO; GO:', i, '; C:membrane; IEA.')"),
        F.expr("concat('DR   Ensembl; ENST', i, '; ENSP', i, '; ENSG', i, '.')"),
    )
    parsed = parse_swiss_spans(ids.select(rec.alias("value")))
    return parsed.select(
        "entry_name",
        F.concat_ws(";", "accessions").alias("acc_str"),
        F.concat_ws("|", F.transform("cross_references",
                                     lambda xs: F.concat_ws(",", xs))).alias("xref_str"),
    )


KG_SWISS_RECORDS_SQL = """
SELECT 'P' || CAST(doc_id AS BIGINT) || '_HUMAN' AS entry_name,
       'Q' || CAST(doc_id AS BIGINT) || ';A' || CAST(doc_id AS BIGINT) AS acc_str,
       'GO,GO:' || CAST(doc_id AS BIGINT) || ',C:membrane,IEA|Ensembl,ENST'
         || CAST(doc_id AS BIGINT) || ',ENSP' || CAST(doc_id AS BIGINT)
         || ',ENSG' || CAST(doc_id AS BIGINT) AS xref_str
FROM documents
"""


def kg_keyed_fanin(spark, sf_dir):
    """S9 twin: filename-keyed directory fan-in via span kinds
    ('pwm:<key>' spans -> lines carrying the key column), aggregated per
    key — the production lines_keyed path incl. media-span filtering."""
    from biocypher_metta_spark.pipeline import PipelineContext

    ids = _ids(spark, sf_dir)
    docs = ids.select(
        F.concat(F.lit("doc-"), F.col("i").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.expr("concat('pwm:M', i % 7)").alias("kind"),
                F.expr("concat('> row ', i)").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset")),
            F.struct(
                F.lit("img").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.expr("concat('media://x/', i)").alias("media_ref"),
                F.lit(1).cast("int").alias("offset")),
            F.struct(
                F.expr("concat('pwm:M', (i + 2) % 7)").alias("kind"),
                F.expr("concat('w ', i % 13, ' ', i % 17)").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(2).cast("int").alias("offset")),
        ).alias("spans"),
    )
    ctx = PipelineContext(spark, docs)
    lines = ctx.lines_keyed("pwm", "model_key")
    return (lines.groupBy("model_key")
            .agg(F.count("*").alias("n_lines"),
                 F.min("value").alias("min_line"),
                 F.max("value").alias("max_line")))


KG_KEYED_FANIN_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
lines AS (
  SELECT 'M' || (i % 7) AS model_key, '> row ' || i AS value FROM ids
  UNION ALL
  SELECT 'M' || ((i + 2) % 7), 'w ' || (i % 13) || ' ' || (i % 17) FROM ids
)
SELECT model_key, count(*) AS n_lines,
       min(value) AS min_line, max(value) AS max_line
FROM lines GROUP BY model_key
"""


def kg_peregrine_enhancers(spark, sf_dir):
    """A2 + J8 (nodes path) twin: PEREGRINE enhancer dict build with
    last-row-wins dedup (keyed dimension, peregrine_adapter.py:65-74) +
    inner join against the datasource file + region-id construction, via
    the real adapters.regulatory.peregrine_nodes."""
    from biocypher_metta_spark.adapters import regulatory

    ids = _ids(spark, sf_dir)
    e_lines = ids.select(
        F.col("i").alias("offset"),
        F.expr("concat('chr', 1 + i % 5, '\t', 1000 + (i % 130) * 7, '\t', "
               "1000 + (i % 130) * 7 + 50 + i % 23, '\t', 'pereg', i % 300)")
        .alias("value"))
    s_lines = ids.select(
        F.col("i").alias("offset"),
        F.expr("concat('pereg', i % 300, '\tDS', (i % 300) % 3)").alias("value"))
    typed, _atoms = regulatory.peregrine_nodes(e_lines, s_lines)
    return typed.select("id", "chr", F.col("start").cast("long").alias("start"),
                        F.col("end").cast("long").alias("end"),
                        "enh_id", "data_source")


KG_PEREGRINE_ENHANCERS_SQL = """
WITH n AS (SELECT count(*) AS n FROM documents),
keys AS (
  SELECT unnest(range(0, least((SELECT n FROM n), 300))) AS k
), win AS (
  -- last-row-wins: the surviving row per enhancer id is the max i with
  -- i % 300 = k (the reference dict build keeps the last line)
  SELECT k, k + 300 * (((SELECT n FROM n) - 1 - k) // 300) AS i FROM keys
)
SELECT 'chr' || (1 + i % 5) || '_' || (1000 + (i % 130) * 7) || '_'
         || (1000 + (i % 130) * 7 + 50 + i % 23) || '_GRCh38' AS id,
       'chr' || (1 + i % 5) AS chr,
       CAST(1000 + (i % 130) * 7 AS BIGINT) AS start,
       CAST(1000 + (i % 130) * 7 + 50 + i % 23 AS BIGINT) AS "end",
       'pereg' || k AS enh_id,
       'DS' || (k % 3) AS data_source
FROM win
"""


def kg_peregrine_edges(spark, sf_dir):
    """J8 twin: the PEREGRINE 3-file enhancer->gene link join
    (peregrine_adapter.py:103-146): enhancer-id -> region dimension,
    'HUMAN|HGNC=..' gene munging, hgnc->ensembl skip-on-miss, tissue->
    ontology skip-on-miss, optional score column."""
    from biocypher_metta_spark.adapters import regulatory

    ids = _ids(spark, sf_dir)
    e_lines = ids.select(
        F.col("i").alias("offset"),
        F.expr("concat('chr', 1 + i % 5, '\t', 2000 + i * 3, '\t', "
               "2000 + i * 3 + 99, '\t', 'E', i)").alias("value"))
    l_lines = ids.select(
        F.col("i").alias("offset"),
        F.expr("concat('E', i, '\t', 'HUMAN|HGNC=H', i % 50, '|X', '\t', "
               "'L', i, '\tCHIA\ttissue', i % 4, '\t0.01\teqtl\t', "
               "CASE WHEN i % 6 = 0 THEN '' ELSE cast(i % 97 as string) END)")
        .alias("value"))
    hmap = (spark.range(50).filter("id % 5 != 0")
            .select(F.concat(F.lit("HGNC:H"), F.col("id").cast("string")).alias("key"),
                    F.concat(F.lit("ENSG"), F.col("id").cast("string")).alias("value")))
    tmap = (spark.range(3)
            .select(F.concat(F.lit("tissue"), F.col("id").cast("string")).alias("key"),
                    F.concat(F.lit("UBERON:000"), F.col("id").cast("string")).alias("value")))
    typed, _atoms = regulatory.peregrine_edges(e_lines, l_lines, hmap, tmap, REGISTRY)
    return typed.select("src", "tgt", "biological_context", "score")


KG_PEREGRINE_EDGES_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
SELECT 'chr' || (1 + i % 5) || '_' || (2000 + i * 3) || '_'
         || (2000 + i * 3 + 99) || '_GRCh38' AS src,
       'ENSG' || (i % 50) AS tgt,
       'UBERON:000' || (i % 4) AS biological_context,
       CASE WHEN i % 6 = 0 THEN NULL ELSE CAST(i % 97 AS VARCHAR) END AS score
FROM ids
WHERE (i % 50) % 5 != 0 AND i % 4 != 3
"""


def kg_predicate_cache(spark, sf_dir):
    """A4 twin: the ontology predicate cache (group objects per subject
    for one predicate) via adapters.ontology._collect_prop; canonical
    order applied at the gate boundary (collect_list order is plan-
    dependent, the set is not)."""
    from biocypher_metta_spark.adapters.ontology import _collect_prop

    ids = _ids(spark, sf_dir)
    triples = ids.select(
        F.expr("concat('S', i % 50)").alias("subject"),
        F.expr("element_at(array('synonym','label','comment'), cast(i % 3 as int) + 1)")
        .alias("predicate"),
        F.expr("concat('O', i)").alias("object"))
    syn = _collect_prop(triples, "synonym", "synonyms")
    return syn.select("subject",
                      F.concat_ws(";", F.array_sort("synonyms")).alias("syn_str"))


KG_PREDICATE_CACHE_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
syn AS (SELECT 'S' || (i % 50) AS subject, 'O' || i AS object
        FROM ids WHERE i % 3 = 0)
SELECT subject, array_to_string(list_sort(list(object)), ';') AS syn_str
FROM syn GROUP BY subject
"""


def kg_neo4j_dedup(spark, sf_dir):
    """K7 twin: the Neo4j CSV writer's skip_duplicate_nodes + '|'-joined
    array-property semantics (sinks.neo4j_rows) — duplicate (label, id)
    rows are synthesized identical so the keep-any is deterministic."""
    from biocypher_metta_spark import sinks

    ids = _ids(spark, sf_dir)
    nodes = ids.select(
        F.expr("concat('N', i % 100)").alias("id"),
        F.expr("element_at(array('gene','protein'), cast((i % 100) % 2 as int) + 1)")
        .alias("label"),
        F.expr("array(concat('a', i % 100), concat('b', i % 100))").alias("synonyms"))
    out = sinks.neo4j_rows(nodes, array_cols=["synonyms"])
    return out.select("label", "id", F.col("synonyms").alias("syn_str"))


KG_NEO4J_DEDUP_SQL = """
WITH keys AS (
  SELECT unnest(range(0, least((SELECT count(*) FROM documents), 100))) AS k
)
SELECT CASE WHEN k % 2 = 0 THEN 'gene' ELSE 'protein' END AS label,
       'N' || k AS id,
       'a' || k || '|b' || k AS syn_str
FROM keys
"""


QUERIES.update({
    "kg_alias_dimension": (kg_alias_dimension, KG_ALIAS_DIMENSION_SQL),
    "kg_swiss_records": (kg_swiss_records, KG_SWISS_RECORDS_SQL),
    "kg_keyed_fanin": (kg_keyed_fanin, KG_KEYED_FANIN_SQL),
    "kg_peregrine_enhancers": (kg_peregrine_enhancers, KG_PEREGRINE_ENHANCERS_SQL),
    "kg_peregrine_edges": (kg_peregrine_edges, KG_PEREGRINE_EDGES_SQL),
    "kg_predicate_cache": (kg_predicate_cache, KG_PREDICATE_CACHE_SQL),
    "kg_neo4j_dedup": (kg_neo4j_dedup, KG_NEO4J_DEDUP_SQL),
})


# ===========================================================================
# embedding-cosine near-dup (dedup family): planted near-duplicate vectors
# synthesized arithmetically (the testdata embeddings table has no pairs
# above 0.52 cosine), LSH sign-sketch blocking + exact integer-quantized
# verify — the full pair set and cos_millis values reproduce in DuckDB.
# ===========================================================================

from biocypher_metta_spark.operators.similarity import _hyperplane as _nd_hyperplane

_ND_DIM, _ND_PLANES_N = 8, 8
_ND_PLANES = [_nd_hyperplane(_ND_DIM, p + 1) for p in range(_ND_PLANES_N)]

_ND_VEC_SPARK = (
    "transform(sequence(0, 7), j -> CAST("
    "CAST(conv(substring(md5(concat(cast(i % 50 as string), '_', "
    "cast(j as string))), 1, 2), 16, 10) AS INT) - 128 "
    "+ (CASE WHEN j = CAST(i % 8 AS INT) THEN (i div 50) % 3 ELSE 0 END) AS DOUBLE))")


def emb_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs over planted duplicates: 50 groups
    of 10 vectors each differing by a small single-coordinate bump —
    dedup_ops.embedding_near_dup_pairs (sign-sketch blocking + exact
    quantized-cosine verify) must emit exactly the same-direction pairs."""
    ids = _ids(spark, sf_dir)
    emb = ids.select(F.col("i").alias("vec_id"),
                     F.expr(_ND_VEC_SPARK).alias("embedding"))
    return dedup_ops.embedding_near_dup_pairs(
        emb, dim=_ND_DIM, threshold_millis=950, n_planes=_ND_PLANES_N,
        quant_scale=100)


def _nd_duck_bucket(qname: str) -> str:
    parts = []
    for p, plane in enumerate(_ND_PLANES):
        proj = " + ".join(f"{qname}[{j + 1}]*({w})" for j, w in enumerate(plane))
        parts.append(f"CASE WHEN ({proj}) >= 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(parts)


EMB_NEAR_DUP_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
v AS (
  SELECT i AS vec_id,
         list_transform(range(0, 8), j -> ((('0x' || substr(md5((i % 50) || '_' || j), 1, 2))::BIGINT - 128)
             + CASE WHEN j = i % 8 THEN (i // 50) % 3 ELSE 0 END) * 100) AS q
  FROM ids
), b AS (
  SELECT vec_id, q,
         ({_nd_duck_bucket('q')}) AS bkt,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n
  FROM v WHERE CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) > 0
)
SELECT * FROM (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         CAST(floor(1000.0 * CAST(list_sum(list_transform(list_zip(a.q, b2.q),
                    p -> p[1] * p[2])) AS BIGINT)
              / sqrt(CAST(a.n * b2.n AS DOUBLE))) AS BIGINT) AS cos_millis
  FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
) WHERE cos_millis >= 950
"""

QUERIES["emb_near_dup"] = (emb_near_dup, EMB_NEAR_DUP_SQL)


# ===========================================================================
# training-data cleaning pipeline COMPOSITION: the operators above chained
# the way a production corpus-cleaning job runs them, value-checked
# end-to-end (each stage is individually oracled; this query checks the
# composition semantics — join keys, filter thresholds, aggregate types).
# ===========================================================================


def doc_corpus_clean(spark, sf_dir):
    """exact-dedup keep-list -> quality filter (score >= 500) -> language
    ID -> per-language doc + token totals. The per-doc joins co-partition
    on doc_id (one shuffle reused); dedup/quality/lang are the oracled
    operators above."""
    d = _docs_par(spark, sf_dir)
    keep = dedup_ops.exact_dedup(d).select(F.col("keep_id").alias("doc_id"))
    kept = d.join(keep, "doc_id")
    q = (text_ops.quality_score(kept)
         .filter(F.col("quality_score") >= 500).select("doc_id"))
    good = kept.join(q, "doc_id")
    lang = text_ops.lang_id(good).select("doc_id", "lang_pred")
    toks = text_ops.token_stats(good).select("doc_id", "n_tokens")
    return (lang.join(toks, "doc_id")
            .groupBy("lang_pred")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens")))


DOC_CORPUS_CLEAN_SQL = rf"""
WITH keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), kept AS (
  SELECT d.doc_id, d.text FROM documents d JOIN keep k ON d.doc_id = k.doc_id
), t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[\.,;:!\?''"\(\)-]')) AS punct
  FROM kept
), m AS (
  SELECT doc_id, toks,
         CAST(floor(punct * 1000.0 / greatest(n_chars, 1)) AS BIGINT) AS punct_permille,
         CAST(floor(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) * 1000.0 / greatest(len(toks), 1)) AS BIGINT) AS stop_permille,
         CAST(floor(len(list_distinct(toks)) * 1000.0 / greatest(len(toks), 1)) AS BIGINT) AS rep_permille,
         len(toks) AS n_tok
  FROM t
), good AS (
  SELECT doc_id, toks, n_tok FROM m
  WHERE (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 250 ELSE 0 END)
      + (CASE WHEN stop_permille >= 20 THEN 250 ELSE 0 END)
      + (CASE WHEN rep_permille >= 300 THEN 250 ELSE 0 END)
      + (CASE WHEN punct_permille <= 200 THEN 250 ELSE 0 END) >= 500
), lang AS (
  SELECT doc_id, n_tok,
         {_duck_lang_scores()}
  FROM good
)
SELECT {_duck_lang_case()} AS lang_pred,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM lang GROUP BY 1
"""

QUERIES["doc_corpus_clean"] = (doc_corpus_clean, DOC_CORPUS_CLEAN_SQL)


# ===========================================================================
# expression-matrix analytics (notebooks/gtex_tissue_gene_exp_corr.ipynb
# twin): target-gene Pearson correlation against the whole matrix — the
# computation whose OUTPUT the coxpresdb adapter ingests.
# ===========================================================================

_EXPR_VEC_SPARK = (
    "transform(sequence(0, 19), j -> "
    "CAST(conv(substring(md5(concat(cast(i % 25 as string), '_', cast(j as string))), 1, 2), 16, 10) AS BIGINT) % 200"
    " + CAST(conv(substring(md5(concat(cast(i as string), '#', cast(j as string))), 1, 2), 16, 10) AS BIGINT) % 7)")


def expr_gene_corr(spark, sf_dir):
    """gene_corr_topk over a synthesized integer TPM-like matrix: genes
    sharing i%25 have correlated base patterns plus per-gene noise, so
    the top-k for gene G0 must surface its 19 group-mates — the exact
    integer moments + one sqrt per side reproduce in DuckDB."""
    from biocypher_metta_spark.operators.expression import gene_corr_topk

    ids = _ids(spark, sf_dir)
    expr = ids.select(F.concat(F.lit("G"), F.col("i").cast("string")).alias("gene_id"),
                      F.expr(_EXPR_VEC_SPARK).alias("values"))
    return gene_corr_topk(expr, "G0", k=10)


EXPR_GENE_CORR_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
v AS (
  SELECT 'G' || i AS gene_id,
         list_transform(range(0, 20), j ->
             (('0x' || substr(md5((i % 25) || '_' || j), 1, 2))::BIGINT) % 200
           + (('0x' || substr(md5(i || '#' || j), 1, 2))::BIGINT) % 7) AS vals
  FROM ids
), t AS (
  SELECT vals AS tv,
         CAST(list_sum(tv_l) AS BIGINT) AS sum_t,
         CAST(list_sum(list_transform(tv_l, x -> x * x)) AS BIGINT) AS sum_t2
  FROM (SELECT vals, vals AS tv_l FROM v WHERE gene_id = 'G0')
), m AS (
  SELECT gene_id,
         CAST(list_sum(vals) AS BIGINT) AS sum_x,
         CAST(list_sum(list_transform(vals, x -> x * x)) AS BIGINT) AS sum_x2,
         CAST(list_sum(list_transform(list_zip(vals, t.tv), p -> p[1] * p[2])) AS BIGINT) AS sum_xt,
         t.sum_t, t.sum_t2
  FROM v, t
), c AS (
  SELECT gene_id,
         20 * sum_x2 - sum_x * sum_x AS den_x,
         20 * sum_t2 - sum_t * sum_t AS den_t,
         20 * sum_xt - sum_x * sum_t AS num
  FROM m
)
SELECT gene_id,
       CAST(floor(1000.0 * num / (sqrt(CAST(den_x AS DOUBLE)) * sqrt(CAST(den_t AS DOUBLE)))) AS BIGINT) AS corr_milli
FROM c WHERE den_x > 0 AND den_t > 0
ORDER BY corr_milli DESC, gene_id
LIMIT 10
"""

QUERIES["expr_gene_corr"] = (expr_gene_corr, EXPR_GENE_CORR_SQL)


# ===========================================================================
# GWAS lead-variant extraction (notebooks/finemapping_susie.ipynb twin:
# gwaslab get_lead) over synthesized summary stats.
# ===========================================================================


def kg_gwas_leads(spark, sf_dir):
    """operators.gwas.lead_snps over arithmetic summary stats: sig filter
    -> bucket winners -> adjacent-bucket suppression. Integer milli
    -log10(p) keeps the DuckDB twin exact."""
    from biocypher_metta_spark.operators.gwas import lead_snps

    ids = _ids(spark, sf_dir)
    assoc = ids.select(
        F.concat(F.lit("rs"), F.col("i").cast("string")).alias("snp_id"),
        (1 + F.col("i") % 5).alias("chr"),
        ((F.col("i") * 37777) % 10000000).alias("pos"),
        F.expr("CAST(conv(substring(md5(concat('p', cast(i as string))), 1, 4), 16, 10) AS BIGINT) % 12000")
        .alias("nlp_milli"))
    return lead_snps(assoc, sig_milli=7301, window=500000)


KG_GWAS_LEADS_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
assoc AS (
  SELECT 'rs' || i AS snp_id, 1 + i % 5 AS chr,
         (i * 37777) % 10000000 AS pos,
         (('0x' || substr(md5('p' || i), 1, 4))::BIGINT) % 12000 AS nlp_milli
  FROM ids
), sig AS (
  SELECT *, pos // 500000 AS b FROM assoc WHERE nlp_milli >= 7301
), cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY chr, b
               ORDER BY nlp_milli DESC, pos, snp_id) AS rn
    FROM sig
  ) WHERE rn = 1
)
SELECT c.snp_id, c.chr, c.pos, c.nlp_milli
FROM cand c
WHERE NOT EXISTS (
  SELECT 1 FROM cand n
  WHERE n.chr = c.chr AND abs(n.b - c.b) = 1
    AND abs(n.pos - c.pos) <= 500000
    AND (n.nlp_milli > c.nlp_milli
         OR (n.nlp_milli = c.nlp_milli
             AND (n.pos < c.pos
                  OR (n.pos = c.pos AND n.snp_id < c.snp_id))))
)
"""

QUERIES["kg_gwas_leads"] = (kg_gwas_leads, KG_GWAS_LEADS_SQL)

# ===========================================================================
# P11 liftover as a dimension join: the chain's aligned blocks
# (functions/chainfile.py) become a frame (`chain_blocks`), and production's
# `functions.liftover.lift` joins positions against it (64 kb bins, then a
# containment filter and a best-(score, order) pick), over a deterministic
# gate chain exercising multi-block gaps, a negative-strand destination,
# and overlapping chains with score tiebreak. The DuckDB twin re-derives
# every lift with an independent range join over the same aligned-block
# table (generated from ChainLifter.blocks_table() — blocks are one source
# of truth; the LIFT ARITHMETIC and best-chain selection are independent:
# binned join + max_by vs SQL range join + window). Reference semantics:
# helpers.py:145-175 (failed lifts -> None -> dropped, dbsuper_adapter.py:51).
# ===========================================================================

from biocypher_metta_spark.functions.chainfile import ChainLifter, compose_chain
from biocypher_metta_spark.functions.liftover import chain_blocks, lift

_GATE_CHAIN_TEXT = (
    compose_chain(1000, "chr1", 10_000, 100, "chr1", 20_000, "+", 500,
                  [(50, 10, 5), (40, 7, 12), (30,)], chain_id=1)
    + compose_chain(800, "chr2", 10_000, 200, "chr9", 30_000, "-", 1_000,
                    [(60, 5, 5), (25,)], chain_id=2)
    + compose_chain(900, "chr3", 10_000, 300, "chr4", 40_000, "+", 3_300,
                    [(120,)], chain_id=3)
    + compose_chain(500, "chr3", 10_000, 350, "chr5", 40_000, "+", 7_350,
                    [(200,)], chain_id=4)
)
_GATE_LIFTER = ChainLifter.from_text(_GATE_CHAIN_TEXT)


def kg_liftover(spark, sf_dir):
    """P11 gate: the chain-block liftover join over doc-id-derived
    coordinates; unmapped positions (chain gaps / out of range) drop,
    like the reference's None-return path."""
    ids = _ids(spark, sf_dir)
    src = ids.select(
        "i",
        F.concat(F.lit("chr"), ((F.col("i") % 3) + 1).cast("string"))
        .alias("chrom"),
        (F.lit(80) + (F.col("i") * 7) % 300).cast("long").alias("pos"))
    return (lift(src, "chrom", "pos", chain_blocks(spark, _GATE_LIFTER), "lifted")
            .filter(F.col("lifted").isNotNull())
            .select("i", "chrom", "pos", "lifted"))


def _liftover_blocks_values() -> str:
    rows = []
    for (chrom, s, e, _dst, anchor, sign, _strand, score, ordn) in (
            _GATE_LIFTER.blocks_table()):
        rows.append(f"('{chrom}', {s}, {e}, {anchor}, {sign}, {score}, {ordn})")
    return ",\n         ".join(rows)


KG_LIFTOVER_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
src AS (
  SELECT i, (1 + i % 3) AS cno, 80 + (i * 7) % 300 AS pos FROM ids
),
blocks(src_chrom, src_start, src_end, dst_anchor, sign, score, ordn) AS (
  VALUES {_liftover_blocks_values()}
),
hit AS (
  SELECT s.i, s.cno, s.pos,
         b.dst_anchor + b.sign * (s.pos - b.src_start) AS lifted,
         row_number() OVER (PARTITION BY s.i
                            ORDER BY b.score DESC, b.ordn) AS rn
  FROM src s JOIN blocks b
    ON CAST(s.cno AS VARCHAR) = b.src_chrom
   AND s.pos >= b.src_start AND s.pos < b.src_end
)
SELECT i, 'chr' || cno AS chrom, CAST(pos AS BIGINT) AS pos,
       CAST(lifted AS BIGINT) AS lifted
FROM hit WHERE rn = 1
"""

QUERIES["kg_liftover"] = (kg_liftover, KG_LIFTOVER_SQL)

# ===========================================================================
# REAL image decode gate (round 3): deterministic pixel arrays (a pure
# integer formula) are PNG-ENCODED driver-side — one variant per scanline
# filter type 0-4 — then decoded back on executors by the stdlib PNG
# kernel (operators/png.py) via the image_stats operator. The DuckDB twin
# never sees PNG bytes: it recomputes width/height/channels/pixel-sum
# straight from the pixel FORMULA, so hash equality proves the
# encode->zlib->unfilter->decode loop reproduces the source pixels for
# every filter type. (The container-independent successor of the round-2
# fake-decoder gate, which remains for the pluggable-seam plumbing.)
# ===========================================================================

from biocypher_metta_spark.operators.png import png_encode as _png_encode


def _png_formula_pixels(w: int, h: int, c: int, v: int) -> bytes:
    return bytes(((x * 7 + y * 13 + ch * 29 + v * 101) % 256)
                 for y in range(h) for x in range(w) for ch in range(c))


_PNG_W, _PNG_H, _PNG_C = 8, 6, 3
_PNG_VARIANTS = [
    _png_encode(_PNG_W + v, _PNG_H, _PNG_C,
                _png_formula_pixels(_PNG_W + v, _PNG_H, _PNG_C, v),
                filter_type=v)
    for v in range(5)
]


def multimodal_png_decode(spark, sf_dir):
    """Stdlib PNG codec through the image_stats mapInPandas operator;
    one encoded variant per PNG filter type, cycled over the doc ids."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _PNG_VARIANTS])
    media = ids.select(
        F.concat(F.lit("png://"), F.col("i").cast("string")).alias("media_ref"),
        F.lit("image").alias("kind"),
        F.element_at(variants, (F.col("i") % 5 + 1).cast("int")).alias("content"),
    )
    stats = mm.image_stats(media)
    return stats.select(
        "media_ref", "width", "height", "channels", "pix_sum")


MULTIMODAL_PNG_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
expected AS (
  SELECT v,
         {_PNG_W} + v AS width, {_PNG_H} AS height, {_PNG_C} AS channels,
         CAST(list_sum(flatten(list_transform(range(0, {_PNG_H}), y ->
           flatten(list_transform(range(0, {_PNG_W} + v), x ->
             list_transform(range(0, {_PNG_C}), ch ->
               (x * 7 + y * 13 + ch * 29 + v * 101) % 256)))))) AS BIGINT)
           AS pix_sum
  FROM (SELECT unnest(range(0, 5)) AS v)
)
SELECT 'png://' || i AS media_ref,
       CAST(e.width AS INTEGER) AS width,
       CAST(e.height AS INTEGER) AS height,
       CAST(e.channels AS INTEGER) AS channels,
       e.pix_sum
FROM ids JOIN expected e ON e.v = i % 5
"""

QUERIES["multimodal_png_decode"] = (multimodal_png_decode, MULTIMODAL_PNG_SQL)

# ===========================================================================
# REAL JPEG decode gate (round 4): constant-per-8x8-block gray images are
# the BIT-EXACT baseline-JPEG subset — only the DC coefficient survives
# the FDCT, and with even offsets from 128 the Annex-K DC step (16)
# divides it exactly — so the DuckDB twin recomputes width/height/
# channels/pixel-sum straight from the block-value FORMULA without ever
# seeing JPEG bytes. Hash equality proves the full marker-parse ->
# Huffman -> dequant -> IDCT loop is exact on this subset (lossy-path
# tolerances are pytest-checked in tests/test_jpeg.py). One variant per
# restart-interval setting so DRI/RSTn parsing is driver-gated too.
# ===========================================================================

from biocypher_metta_spark.operators.jpeg import jpeg_encode as _jpeg_encode

_JPG_W, _JPG_H = 24, 16


def _jpeg_formula_pixels(w: int, h: int, v: int) -> bytes:
    return bytes(128 + 2 * (((x // 8) * 7 + (y // 8) * 13 + v * 29)
                            % 50 - 25)
                 for y in range(h) for x in range(w))


_JPG_VARIANTS = [
    _jpeg_encode(_JPG_W + 8 * (v % 2), _JPG_H, 1,
                 _jpeg_formula_pixels(_JPG_W + 8 * (v % 2), _JPG_H, v),
                 restart_interval=v)      # v=0: no DRI; v>0: RSTn path
    for v in range(4)
]


def multimodal_jpeg_decode(spark, sf_dir):
    """Stdlib baseline-JPEG codec through the image_stats mapInPandas
    operator (sniffing default decoder); four encoded variants cycled
    over the doc ids, two widths x with/without restart markers."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _JPG_VARIANTS])
    media = ids.select(
        F.concat(F.lit("jpg://"), F.col("i").cast("string")).alias("media_ref"),
        F.lit("image").alias("kind"),
        F.element_at(variants, (F.col("i") % 4 + 1).cast("int")).alias("content"),
    )
    return mm.image_stats(media).select(
        "media_ref", "width", "height", "channels", "pix_sum")


MULTIMODAL_JPEG_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
expected AS (
  SELECT v,
         {_JPG_W} + 8 * (v % 2) AS width, {_JPG_H} AS height,
         CAST(list_sum(flatten(list_transform(range(0, {_JPG_H}), y ->
           list_transform(range(0, {_JPG_W} + 8 * (v % 2)), x ->
             128 + 2 * (((x // 8) * 7 + (y // 8) * 13 + v * 29) % 50
                        - 25))))) AS BIGINT) AS pix_sum
  FROM (SELECT unnest(range(0, 4)) AS v)
)
SELECT 'jpg://' || i AS media_ref,
       CAST(e.width AS INTEGER) AS width,
       CAST(e.height AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels,
       e.pix_sum
FROM ids JOIN expected e ON e.v = i % 4
"""

QUERIES["multimodal_jpeg_decode"] = (multimodal_jpeg_decode,
                                     MULTIMODAL_JPEG_SQL)


# ===========================================================================
# REAL video frame-sampling gate (round 5): uncompressed-DIB AVI is a
# lossless container, so the DuckDB twin recomputes each SAMPLED frame's
# exact pixel-byte sum straight from the generator formula — hash
# equality proves the RIFF walk, bottom-up/BGR/stride-padding DIB
# unpacking, and the every-2nd-frame sampling all at once. Variants vary
# dimensions AND frame count so the stride cap is exercised.

def _avi_formula_frames(w, h, nf, v):
    from biocypher_metta_spark.operators.avi import avi_encode

    frames = [bytes(((x * 7 + y * 13 + ch * 29 + f * 31 + v * 101) % 256)
                    for y in range(h) for x in range(w)
                    for ch in range(3))
              for f in range(nf)]
    return avi_encode(frames, w, h, fps=10)


_AVI_VARIANTS = [_avi_formula_frames(4 + v, 3 + v, 3 + v, v)
                 for v in range(5)]


def multimodal_frame_sample(spark, sf_dir):
    """Stdlib AVI codec through the video_frame_stats mapInPandas
    operator: every 2nd frame of each container, one output row per
    sampled frame with the exact integer pixel sum."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _AVI_VARIANTS])
    media = ids.select(
        F.concat(F.lit("avi://"), F.col("i").cast("string")).alias("media_ref"),
        F.lit("video").alias("kind"),
        F.element_at(variants, (F.col("i") % 5 + 1).cast("int")).alias("content"),
    )
    return mm.video_frame_stats(media, stride=2, max_frames=8)


MULTIMODAL_AVI_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
frames AS (
  SELECT v, unnest(list_filter(range(0, 3 + v), f -> f % 2 = 0)) AS f
  FROM (SELECT unnest(range(0, 5)) AS v)
),
expected AS (
  SELECT v, f,
         CAST(4 + v AS INTEGER) AS width,
         CAST(3 + v AS INTEGER) AS height,
         CAST(list_sum(flatten(list_transform(range(0, 3 + v), y ->
           flatten(list_transform(range(0, 4 + v), x ->
             list_transform(range(0, 3), ch ->
               (x * 7 + y * 13 + ch * 29 + f * 31 + v * 101) % 256))))))
           AS BIGINT) AS pix_sum
  FROM frames
)
SELECT 'avi://' || i AS media_ref,
       CAST(e.f AS INTEGER) AS frame_index,
       e.width, e.height, e.pix_sum
FROM ids JOIN expected e ON e.v = i % 5
"""

QUERIES["multimodal_frame_sample"] = (multimodal_frame_sample,
                                      MULTIMODAL_AVI_SQL)


# fixed-width variants for the resize gate: the 2x-upscale exactness
# argument needs every target 8x8 block to sample INSIDE one source
# block (x//2 stride), which holds only when all sources share the
# upscaled-from width — so these vary block values + restart interval
# but not dimensions (unlike _JPG_VARIANTS).
_JPG_RZ_VARIANTS = [
    _jpeg_encode(_JPG_W, _JPG_H, 1, _jpeg_formula_pixels(_JPG_W, _JPG_H, v),
                 restart_interval=v)
    for v in range(4)
]


def multimodal_jpeg_resize(spark, sf_dir):
    """JPEG resize chain driver-gated on the bit-exact subset: a 2x
    nearest-neighbor upscale of a constant-block gray samples a 4x4
    source region per target 8x8 block — never crossing a source block
    boundary — so decode -> resize -> re-encode -> decode stays exact
    and the twin derives the resized pixel sum from the source formula
    sampled at (x//2, y//2)."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _JPG_RZ_VARIANTS])
    media = ids.select(
        F.concat(F.lit("jpg://"), F.col("i").cast("string")).alias("media_ref"),
        F.lit("image").alias("kind"),
        F.element_at(variants, (F.col("i") % 4 + 1).cast("int")).alias("content"),
        F.lit(0).cast("long").alias("n_bytes"),
    )
    resized = mm.resize_images(media, 2 * _JPG_W, 2 * _JPG_H)
    return mm.image_stats(resized).select(
        "media_ref", "width", "height", "channels", "pix_sum")


MULTIMODAL_JPEG_RESIZE_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
expected AS (
  SELECT v,
         CAST(list_sum(flatten(list_transform(range(0, {2 * _JPG_H}),
           y -> list_transform(range(0, {2 * _JPG_W}), x ->
             128 + 2 * ((((x // 2) // 8) * 7
                  + ((y // 2) // 8) * 13 + v * 29) % 50 - 25)))))
           AS BIGINT) AS pix_sum
  FROM (SELECT unnest(range(0, 4)) AS v)
)
SELECT 'jpg://' || i AS media_ref,
       CAST({2 * _JPG_W} AS INTEGER) AS width,
       CAST({2 * _JPG_H} AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels,
       e.pix_sum
FROM ids JOIN expected e ON e.v = i % 4
"""

QUERIES["multimodal_jpeg_resize"] = (multimodal_jpeg_resize,
                                     MULTIMODAL_JPEG_RESIZE_SQL)

_RZ_W, _RZ_H = 5, 4


def multimodal_resize(spark, sf_dir):
    """REAL resize loop: formula PNGs -> stdlib decode -> nearest-
    neighbor resample -> re-encode -> decode again for stats. The twin
    recomputes the resized pixel sum straight from the source FORMULA
    sampled at (x*w//5, y*6//4), so hash equality proves the whole
    resize round-trip byte-exact."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _PNG_VARIANTS])
    media = ids.select(
        F.concat(F.lit("png://"), F.col("i").cast("string")).alias("media_ref"),
        F.lit("image").alias("kind"),
        F.element_at(variants, (F.col("i") % 5 + 1).cast("int")).alias("content"),
        F.lit(0).cast("long").alias("n_bytes"),
    )
    resized = mm.resize_images(media, _RZ_W, _RZ_H)
    return mm.image_stats(resized).select(
        "media_ref", "width", "height", "channels", "pix_sum")


MULTIMODAL_RESIZE_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
expected AS (
  SELECT v,
         CAST(list_sum(flatten(list_transform(range(0, {_RZ_H}), y ->
           flatten(list_transform(range(0, {_RZ_W}), x ->
             list_transform(range(0, {_PNG_C}), ch ->
               (((x * ({_PNG_W} + v)) // {_RZ_W}) * 7
                + ((y * {_PNG_H}) // {_RZ_H}) * 13
                + ch * 29 + v * 101) % 256)))))) AS BIGINT) AS pix_sum
  FROM (SELECT unnest(range(0, 5)) AS v)
)
SELECT 'png://' || i AS media_ref,
       CAST({_RZ_W} AS INTEGER) AS width,
       CAST({_RZ_H} AS INTEGER) AS height,
       CAST({_PNG_C} AS INTEGER) AS channels,
       e.pix_sum
FROM ids JOIN expected e ON e.v = i % 5
"""

QUERIES["multimodal_resize"] = (multimodal_resize, MULTIMODAL_RESIZE_SQL)

# ===========================================================================
# char-trigram language ID gate (round 3): the rank-tier-weighted trigram
# scorer (operators/text.lang_id_trigram) vs a DuckDB twin whose score
# expressions are GENERATED from the same LANG_TRIGRAMS profiles and
# LANG_TRIGRAM_TIERS weights — the one-source pattern the marker-word gate
# established. Accuracy vs the marker baseline is pytest-checked on
# held-out multilingual text (tests/test_lang_trigram.py).
# ===========================================================================


def _duck_tri_scores() -> str:
    parts = []
    for lang, prof in text_ops.LANG_TRIGRAMS.items():
        tiers = text_ops.lang_tier_slices(prof)
        expr = " + ".join(
            f"{w} * len(list_filter(tris, t -> t IN "
            f"({', '.join(repr(x) for x in sl)})))"
            for sl, w in tiers)
        parts.append(f"{expr} AS {lang}")
    return ",\n         ".join(parts)


def _duck_tri_case() -> str:
    """Argmax CASE over the TRIGRAM language set (LANG_TRIGRAMS keys in
    dict order = the Spark tie-break order) — split from the marker-set
    _duck_lang_case now the trigram set is wider than the marker set."""
    langs = list(text_ops.LANG_TRIGRAMS)
    g = f"greatest({', '.join(langs)})"
    whens = "\n            ".join(f"WHEN {l} = {g} THEN '{l}'" for l in langs)
    return (f"CASE WHEN {g} = 0 THEN 'unk'\n            {whens}"
            f"\n            ELSE 'unk' END")


def doc_lang_trigram(spark, sf_dir):
    """Per-doc trigram language prediction + weighted best score.
    _docs_par: the single-file test corpus is one scan partition, which
    serializes the per-char scoring onto one core (measured 16s -> ~1s)."""
    d = _docs_par(spark, sf_dir)
    return text_ops.lang_id_trigram(d).select(
        "doc_id", "best_score", "margin", "lang_pred")


DOC_LANG_TRIGRAM_SQL = f"""
WITH t AS (
  SELECT doc_id,
         ' ' || trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) || ' '
           AS s
  FROM documents
), tr AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(s) - 1, 1)),
                        i -> substr(s, CAST(i AS INT), 3)) AS tris
  FROM t
), sc AS (
  SELECT doc_id,
         {_duck_tri_scores()}
  FROM tr
)
SELECT doc_id,
       CAST(greatest({', '.join(text_ops.LANG_TRIGRAMS)}) AS BIGINT)
         AS best_score,
       CAST(list_sort([{', '.join(text_ops.LANG_TRIGRAMS)}], 'DESC')[1]
            - list_sort([{', '.join(text_ops.LANG_TRIGRAMS)}], 'DESC')[2]
            AS BIGINT) AS margin,
       {_duck_tri_case()} AS lang_pred
FROM sc
"""

QUERIES["doc_lang_trigram"] = (doc_lang_trigram, DOC_LANG_TRIGRAM_SQL)


def doc_perplexity(spark, sf_dir):
    """Char-bigram LM perplexity scoring (the KenLM-style pretraining
    quality filter) — integer milli-nat NLL per doc; threshold on
    nll_per_bigram to drop non-fluent text."""
    d = _docs_par(spark, sf_dir)
    return text_ops.lm_perplexity(d)


def _duck_lm_values() -> str:
    """DuckDB VALUES table generated from the SAME integer model table
    the Spark plan embeds (text_ops.LM_BIGRAM_NLL) — one-source, like
    the language-ID generators."""
    return ", ".join(f"({bg!r}, {nll})"
                     for bg, nll in sorted(text_ops.LM_BIGRAM_NLL.items()))


DOC_PERPLEXITY_SQL = f"""
WITH lm(bg, nll) AS (VALUES {_duck_lm_values()}),
t AS (
  SELECT doc_id,
         ' ' || trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'))
           || ' ' AS s
  FROM documents
), x AS (
  SELECT doc_id, length(s) - 1 AS n_bigrams,
         unnest(list_transform(range(1, CAST(length(s) AS BIGINT)),
                               i -> substr(s, CAST(i AS INT), 2))) AS bg
  FROM t
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(sum(coalesce(lm.nll, {text_ops.LM_MAX_NLL})) AS BIGINT)
         AS nll_sum,
       CAST(floor(sum(coalesce(lm.nll, {text_ops.LM_MAX_NLL}))
                  / n_bigrams) AS BIGINT) AS nll_per_bigram
FROM x LEFT JOIN lm USING (bg)
GROUP BY doc_id, n_bigrams
"""

QUERIES["doc_perplexity"] = (doc_perplexity, DOC_PERPLEXITY_SQL)


def doc_dsir_scores(spark, sf_dir):
    """DSIR-style data selection (text.dsir_scores, [Xie et al.
    NeurIPS'23], integer likelihood-ratio variant): importance of
    every document toward the ENGLISH target distribution — target =
    the lang='en' slice, features = hashed word uni+bigrams into 256
    buckets, model trained in two bucket-bounded groupBys and shipped
    back as a literal lookup. The gate's semantic check rides in the
    values themselves: English docs must out-score the rest per gram
    for the hash to match, since the twin recomputes the counts,
    HUGEINT ratio floors, and sums end-to-end in SQL."""
    d = _docs_par(spark, sf_dir)
    return text_ops.dsir_scores(
        d, d.filter(F.col("lang") == "en"), buckets=256, scale=1000)


DOC_DSIR_SQL = text_ops.dsir_sql(
    "SELECT doc_id, text FROM documents",
    "SELECT doc_id, text FROM documents WHERE lang = 'en'",
    buckets=256, scale=1000)

QUERIES["doc_dsir_scores"] = (doc_dsir_scores, DOC_DSIR_SQL)


def doc_c4_filter(spark, sf_dir):
    """C4-style boilerplate line filtering (the cleaning pass before
    line dedup in the C4 recipe) — map-only, zero shuffles."""
    d = _docs_par(spark, sf_dir)
    return text_ops.c4_line_filter(d)


DOC_C4_FILTER_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
         NOT ({' OR '.join(
             f"contains(lower(text), '{m}')"
             for m in text_ops.C4_DOC_DROP_MARKERS)}) AS doc_kept,
         list_filter(string_split(text, chr(10)),
                     x -> length(trim(x)) > 0) AS lines
  FROM documents
), k AS (
  SELECT doc_id, doc_kept, lines,
         list_filter(lines, x ->
           len(regexp_split_to_array(trim(x), '\s+'))
             >= {text_ops.C4_MIN_WORDS}
           AND regexp_matches(trim(x), '[.!?"]$')
           AND NOT contains(lower(x),
                            '{text_ops.C4_LINE_DROP_MARKER}')) AS kept
  FROM t
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(CASE WHEN doc_kept THEN len(kept) ELSE 0 END AS BIGINT)
         AS n_kept,
       doc_kept,
       CASE WHEN doc_kept
            THEN coalesce(array_to_string(kept, chr(10)), '')
            ELSE '' END AS text
FROM k
"""

QUERIES["doc_c4_filter"] = (doc_c4_filter, DOC_C4_FILTER_SQL)


def kg_isa_closure(spark, sf_dir):
    """Distributed transitive closure (the is_a/ancestor KG query) over
    a binary-halving DAG derived from the doc ids (i -> i//2): depth
    ~log2(N), so path doubling converges in ~log log N shuffle rounds.
    The DuckDB twin is a recursive CTE — a genuinely different
    evaluation strategy (semi-naive iteration) agreeing on the exact
    pair set."""
    from biocypher_metta_spark.canonicalize import transitive_closure

    ids = _ids(spark, sf_dir)
    edges = ids.filter("i >= 1").select(
        F.concat(F.lit("C"), F.col("i").cast("string")).alias("src"),
        F.concat(F.lit("C"), F.floor(F.col("i") / 2).cast("long")
                 .cast("string")).alias("dst"))
    out = transitive_closure(edges)
    return out.select(F.col("src").alias("cls"),
                      F.col("dst").alias("ancestor"))


KG_ISA_CLOSURE_SQL = """
WITH RECURSIVE e AS (
  SELECT 'C' || CAST(doc_id AS BIGINT) AS src,
         'C' || CAST(CAST(doc_id AS BIGINT) // 2 AS BIGINT) AS dst
  FROM documents WHERE doc_id >= 1
), r AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src
)
SELECT src AS cls, dst AS ancestor FROM r
"""

QUERIES["kg_isa_closure"] = (kg_isa_closure, KG_ISA_CLOSURE_SQL)


def rel_asof_join(spark, sf_dir):
    """As-of join (operators/temporal.py) of the events table against
    deterministic hourly user-state snapshots; the oracle runs DuckDB's
    NATIVE ASOF LEFT JOIN — an independent implementation of the same
    backward-inclusive semantics."""
    from biocypher_metta_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    users = ev.select("user_id").distinct()
    # 24 hourly snapshots per user via explode — map-only (a crossJoin
    # against the 24-row literal would plan a BroadcastNestedLoopJoin)
    snaps = (users.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("k"))
        .select(
            "user_id",
            F.expr("timestamp '2024-01-01 00:00:00' "
                   "+ make_interval(0, 0, 0, 0, k, 0, 0)").alias("snap_ts"),
            (F.col("user_id") * 1000 + F.col("k")).cast("long")
            .alias("state")))
    plain = asof_join(ev, snaps, key="user_id",
                      left_ts="ts", right_ts="snap_ts").select(
        F.lit("plain").alias("variant"), "event_id", "user_id",
        F.col("state_asof").alias("state"))
    # the hot-key escape hatch must produce the identical join: 6-hour
    # time buckets, monotone over the timestamp
    bucketed = asof_join(ev, snaps, key="user_id",
                         left_ts="ts", right_ts="snap_ts",
                         bucket=lambda c: F.floor(
                             F.unix_timestamp(c) / F.lit(21_600))).select(
        F.lit("bucketed").alias("variant"), "event_id", "user_id",
        F.col("state_asof").alias("state"))
    return plain.unionByName(bucketed)


REL_ASOF_JOIN_SQL = """
WITH snaps AS (
  SELECT u.user_id,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (k.k) HOUR AS snap_ts,
         CAST(u.user_id * 1000 + k.k AS BIGINT) AS state
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT unnest(range(0, 24)) AS k) k
), aj AS (
  SELECT e.event_id, e.user_id, s.state
  FROM events e
  ASOF LEFT JOIN snaps s
    ON e.user_id = s.user_id AND e.ts >= s.snap_ts
)
SELECT 'plain' AS variant, event_id, user_id, state FROM aj
UNION ALL
SELECT 'bucketed' AS variant, event_id, user_id, state FROM aj
"""

QUERIES["rel_asof_join"] = (rel_asof_join, REL_ASOF_JOIN_SQL)


def rel_asof_directions(spark, sf_dir):
    """The merge_asof direction surface (operators/temporal.asof_join
    direction=): 'forward' (earliest snapshot at-or-after) and
    'nearest' (closer of backward/forward, exact tie -> backward) over
    the same events x hourly-snapshots fixture as rel_asof_join.
    Oracle: DuckDB native ASOF twice — forward as ASOF over NEGATED
    epochs (an independent spelling of the mirror), nearest composed
    from both sides with the same tie rule."""
    from biocypher_metta_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    users = ev.select("user_id").distinct()
    snaps = (users.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("k"))
        .select(
            "user_id",
            F.expr("timestamp '2024-01-01 00:00:00' "
                   "+ make_interval(0, 0, 0, 0, k, 0, 0)").alias("snap_ts"),
            (F.col("user_id") * 1000 + F.col("k")).cast("long")
            .alias("state")))
    out = None
    for d in ("forward", "nearest"):
        part = asof_join(ev, snaps, key="user_id", left_ts="ts",
                         right_ts="snap_ts", direction=d).select(
            F.lit(d).alias("variant"), "event_id", "user_id",
            F.col("state_asof").alias("state"))
        out = part if out is None else out.unionByName(part)
    return out


REL_ASOF_DIRECTIONS_SQL = """
WITH snaps AS (
  SELECT u.user_id,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (k.k) HOUR AS snap_ts,
         CAST(u.user_id * 1000 + k.k AS BIGINT) AS state
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT unnest(range(0, 24)) AS k) k
), fwd AS (
  SELECT e.event_id, e.user_id, s.state, s.sts
  FROM (SELECT event_id, user_id, epoch(ts) AS ets, -epoch(ts) AS nts
        FROM events) e
  ASOF LEFT JOIN (SELECT user_id, state, epoch(snap_ts) AS sts,
                         -epoch(snap_ts) AS nts FROM snaps) s
    ON e.user_id = s.user_id AND e.nts >= s.nts
), bwd AS (
  SELECT e.event_id, e.user_id, s.state, epoch(e.ts) AS ets,
         epoch(s.snap_ts) AS sts
  FROM events e
  ASOF LEFT JOIN snaps s
    ON e.user_id = s.user_id AND e.ts >= s.snap_ts
), near AS (
  SELECT b.event_id, b.user_id,
         CASE WHEN b.state IS NULL THEN f.state
              WHEN f.state IS NULL THEN b.state
              WHEN b.ets - b.sts <= f.sts - b.ets THEN b.state
              ELSE f.state END AS state
  FROM bwd b JOIN fwd f ON b.event_id = f.event_id
)
SELECT 'forward' AS variant, event_id, user_id, state FROM fwd
UNION ALL
SELECT 'nearest' AS variant, event_id, user_id, state FROM near
"""

QUERIES["rel_asof_directions"] = (rel_asof_directions,
                                  REL_ASOF_DIRECTIONS_SQL)


def rel_range_join(spark, sf_dir):
    """Bucketed point-in-interval range join (functions/genomic.py):
    synthetic variants x enhancer-like intervals; oracle = DuckDB's
    inequality join (IEJoin — an independent range-join strategy)."""
    from biocypher_metta_spark.functions.genomic import interval_point_join

    ids = _ids(spark, sf_dir)
    iv = ids.select(
        F.col("i").alias("iid"),
        F.concat(F.lit("chr"), (F.col("i") % 5).cast("string"))
        .alias("chrom"),
        ((F.col("i") * 37) % 100_000).alias("start"))
    iv = iv.withColumn("end", F.col("start") + 50 + (F.col("iid") * 13) % 400)
    pt = ids.select(
        F.col("i").alias("pid"),
        F.concat(F.lit("chr"), ((F.col("i") * 7) % 5).cast("string"))
        .alias("chrom"),
        ((F.col("i") * 91) % 100_400).alias("pos"))
    out = interval_point_join(iv, pt, bucket=1000)
    return out.select("iid", "pid")


REL_RANGE_JOIN_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
iv AS (
  SELECT i AS iid, 'chr' || (i % 5) AS chrom,
         (i * 37) % 100000 AS s,
         (i * 37) % 100000 + 50 + (i * 13) % 400 AS e
  FROM ids
), pt AS (
  SELECT i AS pid, 'chr' || ((i * 7) % 5) AS chrom,
         (i * 91) % 100400 AS pos
  FROM ids
)
SELECT iv.iid, pt.pid
FROM iv JOIN pt ON iv.chrom = pt.chrom
  AND pt.pos >= iv.s AND pt.pos < iv.e
"""

QUERIES["rel_range_join"] = (rel_range_join, REL_RANGE_JOIN_SQL)


def rel_interval_overlap(spark, sf_dir):
    """Interval-overlap range join with canonical-bucket dedup-free
    emission; oracle = DuckDB inequality overlap join."""
    from biocypher_metta_spark.functions.genomic import (
        interval_overlap_join)

    ids = _ids(spark, sf_dir)
    lhs = ids.select(
        F.col("i").alias("lid"),
        F.concat(F.lit("chr"), (F.col("i") % 3).cast("string"))
        .alias("chrom"),
        ((F.col("i") * 53) % 50_000).alias("l_start"))
    lhs = lhs.withColumn(
        "l_end", F.col("l_start") + 100 + (F.col("lid") * 17) % 2000)
    rhs = ids.select(
        F.col("i").alias("rid"),
        F.concat(F.lit("chr"), ((F.col("i") * 3 + 1) % 3).cast("string"))
        .alias("chrom"),
        ((F.col("i") * 71) % 50_000).alias("r_start"))
    rhs = rhs.withColumn(
        "r_end", F.col("r_start") + 100 + (F.col("rid") * 29) % 2000)
    out = interval_overlap_join(lhs, rhs, bucket=1000)
    return out.select("lid", "rid")


REL_INTERVAL_OVERLAP_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
lhs AS (
  SELECT i AS lid, 'chr' || (i % 3) AS chrom,
         (i * 53) % 50000 AS s,
         (i * 53) % 50000 + 100 + (i * 17) % 2000 AS e
  FROM ids
), rhs AS (
  SELECT i AS rid, 'chr' || ((i * 3 + 1) % 3) AS chrom,
         (i * 71) % 50000 AS s,
         (i * 71) % 50000 + 100 + (i * 29) % 2000 AS e
  FROM ids
)
SELECT lhs.lid, rhs.rid
FROM lhs JOIN rhs ON lhs.chrom = rhs.chrom
  AND lhs.s < rhs.e AND rhs.s < lhs.e
"""

QUERIES["rel_interval_overlap"] = (rel_interval_overlap,
                                   REL_INTERVAL_OVERLAP_SQL)


def rel_hypertable_rollup(spark, sf_dir):
    """Multi-resolution rollup chain over the events table. The Spark
    side derives hour from the minute rollup and day from hour
    (mergeable partial aggregates); the oracle computes EVERY level
    directly from raw — equality proves reaggregation == direct
    aggregation at each resolution."""
    from biocypher_metta_spark.operators.temporal import hypertable_rollup

    e = _t(spark, sf_dir, "events")
    rolled = hypertable_rollup(e)
    parts = []
    for lv, df in rolled.items():
        parts.append(df.select(
            F.lit(lv).alias("level"),
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "n", "total", "vmin", "vmax"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


REL_HYPERTABLE_SQL = """
SELECT lv AS level,
       strftime(date_trunc(lv, ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total,
       CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS vmin,
       CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS vmax
FROM events
CROSS JOIN (SELECT unnest(['minute', 'hour', 'day']) AS lv)
GROUP BY lv, date_trunc(lv, ts)
"""

QUERIES["rel_hypertable_rollup"] = (rel_hypertable_rollup,
                                    REL_HYPERTABLE_SQL)


def doc_distinct_sketch(spark, sf_dir):
    """KMV cardinality sketches (operators/sketch.py) over the corpus'
    exploded tokens — the engine-portable approx-distinct (native HLLs
    differ between engines and can never hash-match). One 'all' row
    from the global sketch plus one row per doc_id%4 shard from the
    per-group aggregator (kmv_distinct_by, two-stage salted top-k) —
    the sketch form whose per-day/per-shard rows reaggregate like the
    hypertable rollup."""
    from biocypher_metta_spark.operators.sketch import (kmv_distinct,
                                                        kmv_distinct_by)

    d = _docs_par(spark, sf_dir)
    toks = d.select(
        F.concat(F.lit("shard_"), F.pmod(F.col("doc_id"), F.lit(4))
                 .cast("string")).alias("scope"),
        F.explode(text_ops.tokens(F.col("text"))).alias("tok"))
    glob = kmv_distinct(toks, "tok", k=64).select(
        F.lit("all").alias("scope"), "k", "n_sketch", "h_k", "estimate")
    per = kmv_distinct_by(toks, ["scope"], "tok", k=64).select(
        "scope", "k", "n_sketch", "h_k", "estimate")
    return glob.unionByName(per)


DOC_DISTINCT_SKETCH_SQL = """
WITH toks AS (
  SELECT 'shard_' || CAST(doc_id % 4 AS VARCHAR) AS scope,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), hashed AS (
  SELECT scope, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks WHERE tok IS NOT NULL
), kmin AS (
  SELECT DISTINCT h FROM hashed ORDER BY h LIMIT 64
), per_kmin AS (
  SELECT scope, h FROM (
    SELECT scope, h,
           row_number() OVER (PARTITION BY scope ORDER BY h) AS rn
    FROM (SELECT DISTINCT scope, h FROM hashed)
  ) WHERE rn <= 64
), est AS (
  SELECT 'all' AS scope, count(*) AS n_sketch, max(h) AS h_k FROM kmin
  UNION ALL
  SELECT scope, count(*) AS n_sketch, max(h) AS h_k
  FROM per_kmin GROUP BY scope
)
SELECT scope,
       CAST(64 AS INTEGER) AS k,
       CAST(n_sketch AS BIGINT) AS n_sketch,
       CAST(h_k AS BIGINT) AS h_k,
       CAST(CASE WHEN n_sketch < 64 THEN n_sketch
                 ELSE floor(63 * (CAST(1152921504606846976 AS DOUBLE)
                                  / CAST(h_k AS DOUBLE))) END
            AS BIGINT) AS estimate
FROM est
"""

QUERIES["doc_distinct_sketch"] = (doc_distinct_sketch,
                                  DOC_DISTINCT_SKETCH_SQL)


def rel_histogram_quantiles(spark, sf_dir):
    """Mergeable histogram sketch + deterministic quantile extraction
    (operators/sketch.histogram_by / quantiles_from_histogram): per
    event_type, the cent-value bins containing p50/p90/p99. The
    cross-engine-deterministic alternative to approx_percentile
    (t-digest — randomized centroids, can never hash-match): every
    intermediate is an integer, so the DuckDB twin recomputes the
    identical bins, cumulative counts, and ceil thresholds."""
    from biocypher_metta_spark.operators import sketch as sk

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    hist = sk.histogram_by(e, ["event_type"], "cents", bin_width=1000)
    return sk.quantiles_from_histogram(
        hist, ["event_type"], [500, 900, 990], bin_width=1000)


REL_HISTOGRAM_QUANTILES_SQL = """
WITH h AS (
  SELECT event_type,
         CAST(floor(CAST(floor(value * 100) AS BIGINT) / 1000.0)
              AS BIGINT) AS bin,
         count(*) AS n
  FROM events GROUP BY 1, 2
), c AS (
  SELECT event_type, bin, n,
         sum(n) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS total
  FROM h
), q AS (
  SELECT event_type, bin, n, cum, total,
         unnest([500, 900, 990]) AS qp
  FROM c
)
SELECT event_type, CAST(qp AS INTEGER) AS q_permille,
       CAST(bin * 1000 AS BIGINT) AS q_lo,
       CAST(total AS BIGINT) AS n_rows
FROM q
WHERE cum >= CAST(floor((qp * total + 999) / 1000.0) AS BIGINT)
  AND cum - n < CAST(floor((qp * total + 999) / 1000.0) AS BIGINT)
"""

QUERIES["rel_histogram_quantiles"] = (rel_histogram_quantiles,
                                      REL_HISTOGRAM_QUANTILES_SQL)


def rel_sketch_setops(spark, sf_dir):
    """KMV set-operation estimates (operators/sketch.kmv_set_estimate,
    Beyer et al. SIGMOD'07): union/intersection cardinality of the
    customer-key domains of orders vs customer from their k=64 sketch
    states alone — the merge face of the mergeable-sketch contract
    (kmv_distinct documents the single-set face). The DuckDB twin is
    GENERATED from the same recipe (kmv_set_sql) over the same
    portable 60-bit md5-prefix hashes."""
    from biocypher_metta_spark.operators.sketch import kmv_set_estimate

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("v"))
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("v"))
    return kmv_set_estimate(o, "v", c, "v", k=64)


def _sketch_setops_sql():
    from biocypher_metta_spark.operators.sketch import kmv_set_sql
    return kmv_set_sql(
        "SELECT CAST(o_custkey AS VARCHAR) AS v FROM orders",
        "SELECT CAST(c_custkey AS VARCHAR) AS v FROM customer", k=64)


QUERIES["rel_sketch_setops"] = (rel_sketch_setops, _sketch_setops_sql())

# ===========================================================================
# round-3 composite gate twins for the previously parity-only sub-variants
# (VERDICT r2 item 5). Each leg runs the REAL adapter function over
# arithmetically synthesized lines, so the DuckDB twin re-derives the
# expected output from the same doc-id formulas:
#   kg_gaf_bed_scan   — S5 GAF scan (+'!' header skip), S8 BED scan,
#                       P12 0->1-based rebase, P3 species filter
#   kg_join_chains    — J3 protein->uniprot x2, J6 pos->rsid x2,
#                       J10 pathway->pubmed LEFT, P13 munging (taxon-prefix
#                       strip, score/1000, signed corr||r2 concat)
#   kg_motif_munge    — J11 model->tf->ensembl left->inner chain (+A1
#                       ordered collect), A3 synonym set dedup, A6 dbxref
#                       drop through the restriction-resolution join
# (J7 tissue->ontology is gate-covered by kg_peregrine_edges' tissue map.)
# ===========================================================================


def kg_gaf_bed_scan(spark, sf_dir):
    import biocypher_metta_spark.adapters.annotations as ann

    ids = _ids(spark, sf_dir)
    gaf_line = F.expr(
        "CASE WHEN i % 10 = 0 THEN '!gaf-version: 2.2' ELSE "
        "concat('UniProtKB\tOBJ', i, '\tSYM', i, '\t', "
        "CASE WHEN i % 4 = 0 THEN 'enables|part_of' ELSE 'enables' END, "
        "'\tGO:', i % 97, '\tPMID:', i, '|GO_REF:0000120\tIEA') END")
    typed_gaf, _ = ann.gaf_edges(
        ids.select(F.col("i").alias("offset"), gaf_line.alias("value")),
        REGISTRY)
    gaf = typed_gaf.select(
        F.lit("gaf").alias("part"), F.col("src").alias("k1"),
        F.col("tgt").alias("k2"),
        F.concat_ws("|", "qualifier").alias("v1"),
        F.col("evidence").alias("v2"))

    bed_line = F.expr(
        "concat('chr', 1 + i % 3, '\t', i * 10, '\t', i * 10 + 50 + i % 7, "
        "'\tURS', i, '_9606\t0\t+\t\t\t\t\t\t\t\t', "
        "element_at(array('lncRNA', 'rRNA', 'tRNA'), cast(i % 3 as int) + 1))")
    typed_rna, _ = ann.rna_central_nodes(
        ids.select(F.col("i").alias("offset"), bed_line.alias("value")))
    bed = typed_rna.select(
        F.lit("bed").alias("part"), F.col("id").alias("k1"),
        F.col("chr").alias("k2"), F.col("start").cast("string").alias("v1"),
        F.col("rna_type").alias("v2"))

    rfam_line = F.expr(
        "concat('URS', i, '_', CASE WHEN i % 3 = 1 THEN '10090' ELSE '9606' "
        "END, '\tGO:000', i % 5, '\tRF000', i % 9)")
    typed_rfam, _ = ann.rna_central_go_edges(
        ids.select(F.col("i").alias("offset"), rfam_line.alias("value")),
        REGISTRY)
    rfam = typed_rfam.select(
        F.lit("rfam").alias("part"), F.col("src").alias("k1"),
        F.col("tgt").alias("k2"), F.lit("").alias("v1"), F.lit("").alias("v2"))
    return gaf.unionByName(bed).unionByName(rfam)


KG_GAF_BED_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
gaf AS (
  SELECT 'gaf' AS part, 'GO:' || (i % 97) AS k1, 'OBJ' || i AS k2,
         CASE WHEN i % 4 = 0 THEN 'enables|part_of' ELSE 'enables' END AS v1,
         'IEA' AS v2
  FROM ids WHERE i % 10 != 0
), bed AS (
  SELECT 'bed', 'URS' || i, 'chr' || (1 + i % 3),
         CAST(i * 10 + 1 AS VARCHAR),
         ['lncRNA', 'rRNA', 'tRNA'][CAST(i % 3 AS INT) + 1]
  FROM ids
), rfam AS (
  SELECT 'rfam', 'URS' || i, 'GO:000' || (i % 5), '', ''
  FROM ids WHERE i % 3 != 1
)
SELECT * FROM gaf UNION ALL SELECT * FROM bed UNION ALL SELECT * FROM rfam
"""


def kg_join_chains(spark, sf_dir):
    from biocypher_metta_spark.adapters import forgedb, interactions, pathways

    ids = _ids(spark, sf_dir)

    ppi_line = F.expr(
        "CASE WHEN i = 0 THEN 'protein1 protein2 combined_score' ELSE "
        "concat('9606.ENSP', i % 80, ' 9606.ENSP', (i * 7) % 80, ' ', "
        "i % 1000) END")
    e2u = (spark.range(80).filter("id % 4 != 3")
           .select(F.concat(F.lit("ENSP"), F.col("id").cast("string")).alias("key"),
                   F.concat(F.lit("P"), F.col("id").cast("string")).alias("value")))
    typed_ppi, _ = interactions.string_ppi_edges(
        ids.select(F.col("i").alias("offset"), ppi_line.alias("value")),
        e2u, REGISTRY)
    ppi = typed_ppi.select(
        F.lit("ppi").alias("part"), F.col("src").alias("k1"),
        F.col("tgt").alias("k2"),
        F.floor(F.col("score") * 1000 + 0.5).cast("string").alias("v1"),
        F.lit("").alias("v2"))

    ld_line = F.expr(
        "CASE WHEN i = 0 THEN 'SNP1,SNP2,U1,U2,R2,Dprime,Sign' ELSE "
        "concat(1000 + i % 500, ',', 1000 + (i * 3) % 500, ',x,y,0.', "
        "lpad(cast(i % 100 as string), 2, '0'), ',0.', i % 10, ',', "
        "CASE WHEN i % 2 = 0 THEN '+' ELSE '-' END) END")
    pos_rsid = (spark.range(500).filter("id % 6 != 5")
                .select(F.concat(F.lit("chr21_"), (F.col("id") + 1000).cast("string")).alias("key"),
                        F.concat(F.lit("rs"), F.col("id").cast("string")).alias("value")))
    typed_ld, _ = forgedb.topld_edges(
        ids.select(F.col("i").alias("offset"), ld_line.alias("value")),
        pos_rsid, "chr21", "EUR", REGISTRY)
    ld = typed_ld.select(
        F.lit("ld").alias("part"), F.col("src").alias("k1"),
        F.col("tgt").alias("k2"),
        (F.signum("r2").cast("long")
         * F.floor(F.abs(F.col("r2")) * 100 + 0.5).cast("long"))
        .cast("string").alias("v1"),
        F.col("ancestry").alias("v2"))

    path_line = F.expr(
        "concat('R-HSA-', i, '\tPathway ', i, '\t', "
        "CASE WHEN i % 7 = 3 THEN 'Mus musculus' ELSE 'Homo sapiens' END)")
    pm_line = F.expr("concat('R-HSA-', i, '\t', i)")
    typed_path, _ = pathways.pathway_nodes(
        ids.select(F.col("i").alias("offset"), path_line.alias("value")),
        ids.filter("i % 5 = 0").select(F.col("i").alias("offset"),
                                       pm_line.alias("value")))
    path = typed_path.select(
        F.lit("path").alias("part"), F.col("id").alias("k1"),
        F.col("pathway_name").alias("k2"),
        F.coalesce(F.col("pubmed_id"), F.lit("none")).alias("v1"),
        F.lit("").alias("v2"))
    return ppi.unionByName(ld).unionByName(path)


KG_JOIN_CHAINS_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
ppi AS (
  SELECT 'ppi' AS part, 'P' || (i % 80) AS k1, 'P' || ((i * 7) % 80) AS k2,
         CAST(i % 1000 AS VARCHAR) AS v1, '' AS v2
  FROM ids
  WHERE i != 0 AND (i % 80) % 4 != 3 AND ((i * 7) % 80) % 4 != 3
), ld AS (
  SELECT 'ld', 'rs' || (i % 500), 'rs' || ((i * 3) % 500),
         CAST(CASE WHEN i % 2 = 0 THEN i % 100 ELSE -(i % 100) END
              AS VARCHAR),
         'EUR'
  FROM ids
  WHERE i != 0 AND (i % 500) % 6 != 5 AND ((i * 3) % 500) % 6 != 5
    AND i % 100 >= 50
), path AS (
  SELECT 'path', 'R-HSA-' || i, 'Pathway ' || i,
         CASE WHEN i % 5 = 0 THEN 'R-HSA-' || i ELSE 'none' END, ''
  FROM ids WHERE i % 7 != 3
)
SELECT * FROM ppi UNION ALL SELECT * FROM ld UNION ALL SELECT * FROM path
"""


def kg_motif_munge(spark, sf_dir):
    import biocypher_metta_spark.adapters.annotations as ann
    from biocypher_metta_spark.adapters import gencode as gc
    from biocypher_metta_spark.adapters import ontology as ont

    ids = _ids(spark, sf_dir)

    pwm = ids.select(
        F.expr("concat('M', i % 20)").alias("model"),
        (F.col("i") / 20).cast("long").alias("row_order"),
        F.expr(
            "CASE WHEN i % 41 = 0 THEN concat('>M', i % 20, ' header') ELSE "
            "concat((i % 8) / 8.0, '\t', (i % 5) / 8.0, '\t', "
            "(i % 3) / 8.0, '\t', (i % 7) / 8.0) END").alias("value"))
    model_tf = (spark.range(20).filter("id % 5 != 4")
                .select(F.concat(F.lit("M"), F.col("id").cast("string")).alias("key"),
                        F.concat(F.lit("TF"), F.col("id").cast("string")).alias("value")))
    hgnc = (spark.range(20).filter("id % 3 != 2")
            .select(F.concat(F.lit("TF"), F.col("id").cast("string")).alias("key"),
                    F.concat(F.lit("ENSG"), F.col("id").cast("string")).alias("value")))
    typed_motif, _ = ann.hocomoco_motif_nodes(pwm, model_tf, hgnc)
    motif = typed_motif.select(
        F.lit("motif").alias("part"), F.col("id").alias("k1"),
        F.col("tf_name").alias("k2"), F.col("length").cast("string").alias("v1"),
        F.floor(F.aggregate("pwm_A", F.lit(0.0), lambda a, b: a + b) * 1000)
        .cast("string").alias("v2"))

    s = F.col("i").cast("string")
    gi = ids.select(
        F.lit("9606").alias("tax_id"), s.alias("gene_id"),
        F.concat(F.lit("SYM"), s).alias("symbol"),
        F.expr("concat('DUP', i % 50, '|DUP', i % 50, '|ALT', i, '|-')")
        .alias("synonyms"),
        F.concat(F.lit("Ensembl:ENSG"), s).alias("dbxrefs"),
        F.lit("-").alias("other_designations"),
        F.lit("-").alias("symbol_from_nomenclature_authority"),
        F.lit("-").alias("full_name_from_nomenclature_authority"))
    dim = gc.gene_alias_dim(gi)
    syn = dim.select(
        F.lit("syn").alias("part"), F.col("alias_key").alias("k1"),
        F.concat_ws(";", "synonyms").alias("k2"),
        F.lit("").alias("v1"), F.lit("").alias("v2"))

    obo = "http://purl.obolibrary.org/obo/"
    sub = ids.select(
        F.concat(F.lit(obo + "GO_"), s).alias("subject"),
        F.lit(ont.SUBCLASS).alias("predicate"),
        F.expr(f"concat('{obo}GO_', i % 50)").alias("object"),
        F.lit(False).alias("subj_blank"), F.lit(False).alias("obj_blank"))
    xref = ids.filter("i % 3 = 0").select(
        F.concat(F.lit(obo + "GO_"), s).alias("subject"),
        F.lit(ont.DB_XREF).alias("predicate"),
        F.concat(F.lit("XREF:"), s).alias("object"),
        F.lit(False).alias("subj_blank"), F.lit(False).alias("obj_blank"))
    typed_ont, _ = ont.ontology_edges(sub.unionByName(xref), "ontology_subclass_of",
                                      REGISTRY)
    oe = typed_ont.select(
        F.lit("ont").alias("part"), F.col("src").alias("k1"),
        F.col("tgt").alias("k2"), F.col("rel_type").alias("v1"),
        F.lit("").alias("v2"))
    return motif.unionByName(syn).unionByName(oe)


KG_MOTIF_MUNGE_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
rows_ AS (SELECT i, i % 20 AS k FROM ids WHERE i % 41 != 0),
motif AS (
  SELECT 'motif' AS part, 'ENSG' || k AS k1, 'TF' || k AS k2,
         CAST(count(*) AS VARCHAR) AS v1,
         CAST(CAST(floor(sum((i % 8) / 8.0) * 1000) AS BIGINT) AS VARCHAR)
           AS v2
  FROM rows_ WHERE k % 5 != 4 AND k % 3 != 2
  GROUP BY k
), syn AS (
  SELECT 'syn', 'ENSG' || i,
         array_to_string(list_sort(list_distinct(
           ['SYM' || i, 'DUP' || (i % 50), 'ALT' || i])), ';'),
         '', ''
  FROM ids
), ont AS (
  SELECT 'ont', 'GO:' || i, 'GO:' || (i % 50), 'subclass', ''
  FROM ids
)
SELECT * FROM motif UNION ALL SELECT * FROM syn UNION ALL SELECT * FROM ont
"""

QUERIES.update({
    "kg_gaf_bed_scan": (kg_gaf_bed_scan, KG_GAF_BED_SQL),
    "kg_join_chains": (kg_join_chains, KG_JOIN_CHAINS_SQL),
    "kg_motif_munge": (kg_motif_munge, KG_MOTIF_MUNGE_SQL),
})

# ===========================================================================
# round-3b training-data operators: cross-corpus line dedup (the C4
# recipe), tf-idf keyword extraction, Gopher-style repetition filters,
# deterministic train/val/test hash split, LSH near-dup clustering
# (recursive-CTE oracle), and REAL stdlib WAV audio decode.
# ===========================================================================


def doc_line_dedup(spark, sf_dir):
    """C4-style line dedup: the corpus is re-lined deterministically
    (one shared-ish boilerplate header per source + 6-token content
    windows), then every line keeps only its first (doc_id, line_no)
    occurrence and docs are reassembled from survivors."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    header = F.concat(F.lit("header boilerplate from "), F.col("source"))
    windows = F.transform(
        F.sequence(F.lit(0), F.floor((F.size(toks) - 1) / 6).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 6 + 1, 6)))
    lined = d.select(
        F.col("doc_id"),
        F.array_join(F.concat(F.array(header), windows), "\n").alias("text"))
    return dedup_ops.line_dedup(lined)


DOC_LINE_DEDUP_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks, source
  FROM documents
), built AS (
  SELECT doc_id,
         list_prepend('header boilerplate from ' || source,
           list_transform(
             range(0, CAST(floor((len(toks) - 1) / 6.0) AS BIGINT) + 1),
             i -> array_to_string(toks[i*6+1:i*6+6], ' '))) AS lns
  FROM t
), flt AS (
  SELECT doc_id, list_filter(lns, x -> len(trim(x)) > 0) AS lns FROM built
), lines AS (
  SELECT doc_id, len(lns) AS n_lines,
         unnest(list_transform(range(1, len(lns) + 1),
                i -> {'line_no': i - 1, 'line': lns[i]})) AS u
  FROM flt
), ranked AS (
  SELECT doc_id, n_lines, u.line_no AS line_no, u.line AS line,
         row_number() OVER (PARTITION BY md5(u.line)
                            ORDER BY doc_id, u.line_no) AS rn
  FROM lines
)
SELECT doc_id, n_lines, count(*) AS n_kept,
       string_agg(line, chr(10) ORDER BY line_no) AS text
FROM ranked WHERE rn = 1
GROUP BY doc_id, n_lines
"""


def doc_tfidf_topk(spark, sf_dir):
    """Top-3 tf-idf keywords per doc (integer-portable idf)."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.tfidf_topk(d, k=3)


DOC_TFIDF_TOPK_SQL = r"""
WITH tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
          AS token FROM documents)
  WHERE len(token) > 0
  GROUP BY doc_id, token
), dfreq AS (
  SELECT token, count(*) AS doc_freq FROM tf GROUP BY token
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.doc_freq,
         CAST(tf.tf * floor(1000000 / dfreq.doc_freq) AS BIGINT) AS score
  FROM tf JOIN dfreq USING (token)
)
SELECT doc_id, token, tf, doc_freq, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token) AS rank
  FROM scored)
WHERE rank <= 3
"""


def doc_repetition(spark, sf_dir):
    """Gopher-style repetition filters (dup n-gram + top-token permille)."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.repetition_stats(d)


DOC_REPETITION_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_tokens,
    CAST(floor((g2.total - g2.uniq) * 1000.0 / greatest(g2.total, 1))
         AS BIGINT) AS dup2_permille,
    CAST(floor((g3.total - g3.uniq) * 1000.0 / greatest(g3.total, 1))
         AS BIGINT) AS dup3_permille
  FROM t,
  LATERAL (SELECT len(sh) AS total, len(list_distinct(sh)) AS uniq FROM (
     SELECT list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
            i -> array_to_string(toks[i:i+1], ' ')) AS sh) ) g2,
  LATERAL (SELECT len(sh) AS total, len(list_distinct(sh)) AS uniq FROM (
     SELECT list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> array_to_string(toks[i:i+2], ' ')) AS sh) ) g3
), tf AS (
  SELECT doc_id, token, count(*) AS c
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
          AS token FROM documents)
  GROUP BY doc_id, token
), top AS (
  SELECT doc_id, max(c) AS top_tf FROM tf GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.dup2_permille, b.dup3_permille,
       CAST(floor(top.top_tf * 1000.0 / greatest(b.n_tokens, 1)) AS BIGINT)
         AS top_tok_permille
FROM base b JOIN top USING (doc_id)
"""


def doc_split(spark, sf_dir):
    """Deterministic salted train/val/test hash split (90/5/5)."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.hash_split(d)


DOC_SPLIT_SQL = r"""
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT % 1000 AS split_bucket
  FROM documents
)
SELECT doc_id, split_bucket,
       CASE WHEN split_bucket < 900 THEN 'train'
            WHEN split_bucket < 950 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def doc_dup_clusters(spark, sf_dir):
    """Near-dup clustering: MinHash -> LSH candidate pairs -> connected
    components -> per-cluster size + max member. The DuckDB twin closes
    the same pair set transitively with a recursive CTE, so the whole
    chain (signatures, banding, label propagation, canonical min-id
    cluster key) is value-checked end-to-end."""
    from biocypher_metta_spark.canonicalize import connected_components

    d = _docs_par(spark, sf_dir)
    sigs = dedup_ops.minhash_signatures(d, num_perm=4)
    pairs = dedup_ops.lsh_candidate_pairs(sigs, bands=2, rows_per_band=2)
    cc = connected_components(pairs, "id_a", "id_b")
    return (cc.groupBy(F.col("component").alias("cluster_id"))
            .agg(F.count("*").alias("cluster_size"),
                 F.max("id").alias("max_member")))


DOC_DUP_CLUSTERS_SQL = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), hs AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                          i -> array_to_string(toks[i:i+4], ' ')),
           s -> CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT)) AS hv
  FROM t
), sig AS (
  SELECT doc_id,
    CAST(list_min(list_transform(hv, h -> (h * 32749 + 12345) % 2305843009213693951)) AS VARCHAR) AS mh_0,
    CAST(list_min(list_transform(hv, h -> (h * 28657 + 54321) % 2305843009213693951)) AS VARCHAR) AS mh_1,
    CAST(list_min(list_transform(hv, h -> (h * 24593 + 98765) % 2305843009213693951)) AS VARCHAR) AS mh_2,
    CAST(list_min(list_transform(hv, h -> (h * 17977 + 13579) % 2305843009213693951)) AS VARCHAR) AS mh_3
  FROM hs
), banded AS (
  SELECT doc_id, 0 AS band, md5(mh_0 || '_' || mh_1) AS bh FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh_2 || '_' || mh_3) AS bh FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, re.r FROM edges e JOIN reach re ON re.id = e.b
), comp AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
)
SELECT cluster_id, count(*) AS cluster_size, max(id) AS max_member
FROM comp GROUP BY cluster_id
"""


# REAL audio decode gate: deterministic formula samples are WAV-ENCODED
# driver-side — four variants covering 8/16-bit x mono/stereo — then
# decoded back on executors by the stdlib RIFF kernel (operators/wav.py)
# through the audio_stats mapInPandas operator. The DuckDB twin never
# sees WAV bytes: it recomputes every stat from the sample FORMULA, so
# hash equality proves the encode->RIFF->decode loop reproduces the
# exact PCM samples for every width/channel combination.

from biocypher_metta_spark.operators.wav import wav_encode as _wav_encode


def _wav_variant_samples(v: int) -> list[int]:
    ch = 1 + (v % 2)
    m = (40 + 8 * v) * ch
    if v < 2:
        return [((i * 37 + v * 101) % 256) - 128 for i in range(m)]
    return [((i * 523 + v * 40503) % 65536) - 32768 for i in range(m)]


_WAV_VARIANTS = [
    _wav_encode(_wav_variant_samples(v), sample_rate=8000 + 100 * v,
                n_channels=1 + (v % 2), bits=8 if v < 2 else 16)
    for v in range(4)
]


def multimodal_wav_decode(spark, sf_dir):
    """Stdlib WAV codec through the audio_stats mapInPandas operator;
    one encoded variant per (bit width x channel count), cycled over the
    doc ids."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _WAV_VARIANTS])
    media = ids.select(
        F.concat(F.lit("wav://"), F.col("i").cast("string")).alias("media_ref"),
        F.lit("audio").alias("kind"),
        F.element_at(variants, (F.col("i") % 4 + 1).cast("int")).alias("content"),
    )
    return mm.audio_stats(media)


MULTIMODAL_WAV_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
expected AS (
  SELECT v, 1 + (v % 2) AS n_channels, 8000 + 100 * v AS sample_rate,
         CASE WHEN v < 2 THEN 8 ELSE 16 END AS bits,
         (40 + 8 * v) * (1 + (v % 2)) AS m
  FROM (SELECT unnest(range(0, 4)) AS v)
), samples AS (
  SELECT v, n_channels, sample_rate, bits, m,
         list_transform(range(0, m), i ->
           CASE WHEN bits = 8 THEN ((i * 37 + v * 101) % 256) - 128
                ELSE ((i * 523 + v * 40503) % 65536) - 32768 END) AS s
  FROM expected
), stats AS (
  SELECT v, n_channels, sample_rate, bits, m,
         CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak_abs,
         CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS sum_sq
  FROM samples
)
SELECT 'wav://' || i AS media_ref,
       CAST(e.n_channels AS INTEGER) AS n_channels,
       CAST(e.sample_rate AS INTEGER) AS sample_rate,
       CAST(e.bits AS INTEGER) AS bits,
       CAST(e.m AS BIGINT) AS n_samples,
       e.peak_abs, e.sum_sq
FROM ids JOIN stats e ON e.v = i % 4
"""

def doc_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing at a 512-token budget (two-level
    prefix sum; the oracle is the naive global window the Spark plan
    deliberately avoids)."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.pack_sequential(d, budget=512, bucket_rows=100)


DOC_PACK_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       CAST(floor(start_offset / 512.0) AS BIGINT) AS pack_id
FROM c
"""


def _knn_duck_bucket(qname: str, dim: int, n_planes: int) -> str:
    """Sign-sketch bucket SQL GENERATED from the same _hyperplane rows
    the Spark plan uses — one source, no drift (the _nd_duck_bucket
    pattern, parameterized)."""
    from biocypher_metta_spark.operators.similarity import _hyperplane

    parts = []
    for p in range(n_planes):
        plane = _hyperplane(dim, p + 1)
        proj = " + ".join(f"{qname}[{j + 1}]*({w})"
                          for j, w in enumerate(plane))
        parts.append(f"CASE WHEN ({proj}) >= 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(parts)


_KNN_PLANES_N = 5


def emb_knn_join(spark, sf_dir):
    """Batch k-NN join over the embeddings table: every 10th vector is a
    query, the rest are the corpus; multi-probe sign-sketch blocking +
    exact integer dot, top-3 per query."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    return sim_ops.knn_join(queries, corpus, dim=64, k=3,
                            n_planes=_KNN_PLANES_N)


EMB_KNN_JOIN_SQL = f"""
WITH q0 AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS q
  FROM embeddings
), b AS (
  SELECT vec_id, q, ({_knn_duck_bucket('q', 64, _KNN_PLANES_N)}) AS bkt
  FROM q0
), corp AS (
  SELECT vec_id, q, bkt FROM b WHERE vec_id % 10 != 0
), qry AS (
  SELECT vec_id AS q_id, q, bkt FROM b WHERE vec_id % 10 = 0
), probes AS (
  SELECT q_id, q,
         unnest(list_prepend(bkt,
           list_transform(range(0, {_KNN_PLANES_N}),
                          p -> xor(bkt, CAST(1 << p AS INTEGER))))) AS bkt
  FROM qry
), joined AS (
  SELECT p.q_id, c.vec_id,
         CAST(list_sum(list_transform(list_zip(p.q, c.q),
              z -> z[1] * z[2])) AS BIGINT) AS dot
  FROM probes p JOIN corp c ON p.bkt = c.bkt
)
SELECT q_id, vec_id, dot, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY dot DESC, vec_id) AS rank
  FROM joined)
WHERE rank <= 3
"""


def doc_scrub(spark, sf_dir):
    """PII scrubbing over synthesized PII-bearing text (emails, IPv4,
    international phone runs derived from the doc ids), redacted by the
    pure-expression scrub_pii pass; counts + redacted text oracled."""
    ids = _ids(spark, sf_dir)
    pii = ids.select(
        F.col("i").alias("doc_id"),
        F.concat(
            F.lit("contact user"), F.col("i").cast("string"),
            F.lit("@example.com or +1 555 000 "),
            (F.col("i") % 10000).cast("string"),
            F.lit(" ip 10.0."), (F.col("i") % 256).cast("string"),
            F.lit(".7 end")).alias("text"))
    return text_ops.scrub_pii(pii)


DOC_SCRUB_SQL = r"""
WITH pii AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         'contact user' || doc_id || '@example.com or +1 555 000 '
           || (doc_id % 10000) || ' ip 10.0.' || (doc_id % 256) || '.7 end'
           AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text,
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '\+\d[\d -]{7,}\d')) AS BIGINT) AS n_phone,
  regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<ipv4>', 'g'),
    '\+\d[\d -]{7,}\d', '<phone>', 'g') AS text
FROM pii
"""


def doc_contamination(spark, sf_dir):
    """Eval-set decontamination: every 40th doc plays the eval
    benchmark, the rest are training docs; per-doc distinct shared
    3-gram counts (3-grams because the synthetic vocabulary is small —
    production uses 8-13)."""
    ev = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 40 == 0)
    # train side is the CPU-heavy explode — spread the single-file test
    # corpus across cores (_docs_par), as production inputs arrive
    tr = _docs_par(spark, sf_dir).filter(F.col("doc_id") % 40 != 0)
    return dedup_ops.contamination_hits(tr, ev, n=3)


DOC_CONTAMINATION_SQL = r"""
WITH evd AS (
  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh FROM (
    SELECT unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                  i -> array_to_string(toks[i:i+2], ' '))) AS g
    FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents WHERE doc_id % 40 = 0))
), tr AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh FROM (
    SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(toks) - 2, 0) + 1),
             i -> array_to_string(toks[i:i+2], ' ')))) AS g
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents WHERE doc_id % 40 != 0))
)
SELECT doc_id, count(*) AS n_hits
FROM tr JOIN evd USING (gh) GROUP BY doc_id
"""


# perplexity gate for the capstone: milli-nat NLL/bigram ceiling chosen
# around the corpus median (~3020) so the filter genuinely splits the
# corpus instead of passing or dropping everything
PIPELINE_NLL_MAX = 3050


_PIPE_PREFIX = ('<html><head><style>p{color:red}</style></head>'
                '<body><p class="x">')
_PIPE_SUFFIX = ('</p>\n<script>var q = 1 < 2;</script>'
                '<!-- footer -->&amp; &lt;end&gt;</body></html>')


def doc_pipeline(spark, sf_dir):
    """CAPSTONE composition: the full corpus-preparation chain a
    pretraining pipeline runs — HTML strip (each doc arrives wrapped
    in a page skeleton whose newline SURVIVES stripping, so the C4
    line stats downstream see the real two-line structure) ->
    PII scrub -> C4 boilerplate gate
    (doc-level drop markers + per-doc line stats) -> char-bigram LM
    perplexity threshold (<= PIPELINE_NLL_MAX milli-nats/bigram) ->
    exact dedup (keep min id) -> quality filter (>= 500) -> language ID
    -> sequence packing at a 512-token budget -> per-pack stats. Every
    stage is individually oracled elsewhere; this gate value-checks the
    composition: join keys, filter order, that packing runs over
    exactly the surviving ordered set, and (via the pack-level
    total_lines / sum_nll_pb sums) the per-doc C4 and perplexity values
    themselves — one wrong doc shifts a pack sum."""
    d = _docs_par(spark, sf_dir)
    marked = d.select(
        "doc_id",
        F.concat(F.lit(_PIPE_PREFIX), F.col("text"),
                 F.lit(_PIPE_SUFFIX)).alias("text"))
    stripped = (text_ops.strip_markup(marked)
                .select("doc_id", F.col("clean_text").alias("text")))
    # three branches (c4, perplexity, the gated join) read scrubbed;
    # without a lineage cut each re-executes the strip+scrub regex
    # chains over the full corpus (measured ~25% of gate wall-clock
    # at sf0.1) — localCheckpoint materializes the cleaned text once
    scrubbed = (text_ops.scrub_pii(stripped).select("doc_id", "text")
                .localCheckpoint())
    c4 = text_ops.c4_line_filter(scrubbed).select(
        "doc_id", "n_lines", "doc_kept")
    px = text_ops.lm_perplexity(scrubbed).select(
        "doc_id", "nll_per_bigram")
    gated = (scrubbed.join(c4, "doc_id").join(px, "doc_id")
             .filter(F.col("doc_kept")
                     & (F.col("nll_per_bigram") <= PIPELINE_NLL_MAX)))
    keep = dedup_ops.exact_dedup(gated.select("doc_id", "text")).select(
        F.col("keep_id").alias("doc_id"))
    kept = gated.join(keep, "doc_id")
    q = (text_ops.quality_score(kept.select("doc_id", "text"))
         .filter(F.col("quality_score") >= 500).select("doc_id"))
    good = kept.join(q, "doc_id")
    lang = text_ops.lang_id(good.select("doc_id", "text")).select(
        "doc_id", "lang_pred")
    packed = text_ops.pack_sequential(good.select("doc_id", "text"),
                                      budget=512, bucket_rows=100)
    stats = good.select("doc_id", "n_lines", "nll_per_bigram")
    return (packed.join(lang, "doc_id").join(stats, "doc_id")
            .groupBy("pack_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.countDistinct("lang_pred").alias("n_langs"),
                 F.sum("n_lines").cast("long").alias("total_lines"),
                 F.sum("nll_per_bigram").cast("long").alias("sum_nll_pb")))


# SQL expression for the wrapped page text; the newline in the suffix
# travels as chr(10) so the literal stays single-line. Interpolated as
# a VALUE into the rf-string below, so braces in the css need no
# doubling.
_DP_WRAPPED = ("'" + _PIPE_PREFIX.replace("'", "''")
               + "' || text || '"
               + _PIPE_SUFFIX.replace("'", "''").replace(
                   "\n", "' || chr(10) || '")
               + "'")

DOC_PIPELINE_SQL = rf"""
WITH lm(bg, nll) AS (VALUES {_duck_lm_values()}),
dp_stripped AS (
  SELECT doc_id, {text_ops.strip_markup_sql(_DP_WRAPPED)} AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<email>', 'g'),
           '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b', '<ipv4>', 'g'),
           '\+\d[\d -]{{7,}}\d', '<phone>', 'g') AS text
  FROM dp_stripped
), c4l AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, chr(10)),
                              x -> length(trim(x)) > 0)) AS BIGINT)
           AS n_lines,
         NOT ({' OR '.join(f"contains(lower(text), '{m}')"
                           for m in text_ops.C4_DOC_DROP_MARKERS)})
           AS doc_kept
  FROM scrubbed
), pxt AS (
  SELECT doc_id,
         ' ' || trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'))
           || ' ' AS s
  FROM scrubbed
), pxx AS (
  SELECT doc_id, length(s) - 1 AS n_bigrams,
         unnest(list_transform(range(1, CAST(length(s) AS BIGINT)),
                               i -> substr(s, CAST(i AS INT), 2))) AS bg
  FROM pxt
), px AS (
  SELECT doc_id,
         CAST(floor(sum(coalesce(lm.nll, {text_ops.LM_MAX_NLL}))
                    / n_bigrams) AS BIGINT) AS nll_per_bigram
  FROM pxx LEFT JOIN lm USING (bg)
  GROUP BY doc_id, n_bigrams
), gated AS (
  SELECT s.doc_id, s.text, c4l.n_lines, px.nll_per_bigram
  FROM scrubbed s JOIN c4l USING (doc_id) JOIN px USING (doc_id)
  WHERE c4l.doc_kept AND px.nll_per_bigram <= {PIPELINE_NLL_MAX}
), keep AS (
  SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)
), kept AS (
  SELECT g.doc_id, g.text, g.n_lines, g.nll_per_bigram
  FROM gated g JOIN keep USING (doc_id)
), qm AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[\.,;:!\?''"\(\)-]')) AS punct
  FROM kept
), qs AS (
  SELECT doc_id, len(toks) AS n_tok,
         CAST(floor(punct * 1000.0 / greatest(n_chars, 1)) AS BIGINT) AS pp,
         CAST(floor(len(list_filter(toks, x -> x IN
           ('the','a','of','and','to','in','is','it'))) * 1000.0
           / greatest(len(toks), 1)) AS BIGINT) AS sp,
         CAST(floor(len(list_distinct(toks)) * 1000.0
           / greatest(len(toks), 1)) AS BIGINT) AS rp
  FROM qm
), good AS (
  SELECT k.doc_id, k.text, k.n_lines, k.nll_per_bigram
  FROM kept k JOIN qs USING (doc_id)
  WHERE (CASE WHEN qs.n_tok >= 10 AND qs.n_tok <= 100000 THEN 250 ELSE 0 END)
      + (CASE WHEN qs.sp >= 20 THEN 250 ELSE 0 END)
      + (CASE WHEN qs.rp >= 300 THEN 250 ELSE 0 END)
      + (CASE WHEN qs.pp <= 200 THEN 250 ELSE 0 END) >= 500
), lt AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM good
), ls AS (
  SELECT doc_id,
         {_duck_lang_scores()}
  FROM lt
), lang AS (
  SELECT doc_id, {_duck_lang_case()} AS lang_pred FROM ls
), packed AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens,
         CAST(COALESCE(sum(CAST(len(regexp_split_to_array(trim(text), '\s+'))
             AS BIGINT)) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM good
)
SELECT CAST(floor(start_offset / 512.0) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT lang_pred) AS BIGINT) AS n_langs,
       CAST(sum(g.n_lines) AS BIGINT) AS total_lines,
       CAST(sum(g.nll_per_bigram) AS BIGINT) AS sum_nll_pb
FROM packed JOIN lang USING (doc_id) JOIN good g USING (doc_id)
GROUP BY 1
"""


def doc_cdc(spark, sf_dir):
    """Content-defined chunking over the corpus: rolling-hash (8-char
    window) boundaries at hash % 64 == 0, one row per chunk with its
    portable hash — the sub-document unit for fuzzy dedup."""
    d = _docs_par(spark, sf_dir)
    return dedup_ops.cdc_chunks(d)


DOC_CDC_SQL = r"""
WITH t AS (
  SELECT doc_id, text AS s, length(text) AS n FROM documents
), b AS (
  SELECT doc_id, s,
    list_sort(list_distinct(list_concat(list_concat([CAST(0 AS BIGINT)],
      list_filter(range(8, n + 1),
        i -> __CDC_BOUNDARY__)),
      CASE WHEN n > 0 THEN [CAST(n AS BIGINT)]
           ELSE CAST([] AS BIGINT[]) END))) AS bounds
  FROM t
), ch AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(bounds)),
      j -> {'chunk_no': j - 1,
            'chunk_len': bounds[j + 1] - bounds[j],
            'chunk': substr(s, CAST(bounds[j] + 1 AS INT),
                            CAST(bounds[j + 1] - bounds[j] AS INT))})) AS c
  FROM b
)
SELECT doc_id,
       c.chunk_no AS chunk_no,
       CAST(c.chunk_len AS BIGINT) AS chunk_len,
       ('0x' || substr(md5(c.chunk), 1, 15))::BIGINT AS chunk_hash
FROM ch
""".replace("__CDC_BOUNDARY__", dedup_ops.cdc_boundary_sql(8, 6, "s"))


QUERIES.update({
    "doc_cdc": (doc_cdc, DOC_CDC_SQL),
    "doc_pipeline": (doc_pipeline, DOC_PIPELINE_SQL),
    "doc_contamination": (doc_contamination, DOC_CONTAMINATION_SQL),
    "doc_scrub": (doc_scrub, DOC_SCRUB_SQL),
    "emb_knn_join": (emb_knn_join, EMB_KNN_JOIN_SQL),
    "doc_pack": (doc_pack, DOC_PACK_SQL),
    "doc_line_dedup": (doc_line_dedup, DOC_LINE_DEDUP_SQL),
    "doc_tfidf_topk": (doc_tfidf_topk, DOC_TFIDF_TOPK_SQL),
    "doc_repetition": (doc_repetition, DOC_REPETITION_SQL),
    "doc_split": (doc_split, DOC_SPLIT_SQL),
    "doc_dup_clusters": (doc_dup_clusters, DOC_DUP_CLUSTERS_SQL),
    "multimodal_wav_decode": (multimodal_wav_decode, MULTIMODAL_WAV_SQL),
})


# ===========================================================================
# kg_finemap — SuSiE fine-mapping twin (reference
# notebooks/finemapping_susie.ipynb; operators/finemap.py)
# ===========================================================================

def kg_finemap(spark, sf_dir):
    """Single-effect-regression fine-mapping gate (the closed-form L=1
    member of the SuSiE family; the full iterative susie_rss is
    applyInPandas per locus and pytest-verified against planted
    causals + the L=1/SER identity). Synthetic per-locus z-scores are
    derived arithmetically from doc_ids; lbf/alpha come from the REAL
    ser_abf operator; the credible-set rule is recomputed on the
    1e-6-quantized alphas so the cumulative-sum window is integer
    arithmetic in both engines (double running sums would differ in
    the last ulp between Spark's sequential frame and DuckDB's
    segment tree)."""
    from pyspark.sql import Window

    from biocypher_metta_spark.operators.finemap import ser_abf

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("L"), F.pmod("doc_id", F.lit(5)).cast("string"))
        .alias("locus"),
        F.col("doc_id").alias("snp"),
        (F.pmod(F.col("doc_id") * 13, F.lit(113)).cast("double")
         / F.lit(12.0) - F.lit(4.7)).alias("z"))
    r = ser_abf(d)
    q = r.select(
        "locus", "snp",
        F.floor(F.col("lbf") * 1000).cast("long").alias("lbf_milli"),
        F.floor(F.col("alpha") * 1_000_000).cast("long").alias("alpha_u6"))
    wl = Window.partitionBy("locus")
    wcum = (Window.partitionBy("locus")
            .orderBy(F.col("alpha_u6").desc(), "snp")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    q = (q.withColumn("_tot", F.sum("alpha_u6").over(wl))
         .withColumn("_cum", F.sum("alpha_u6").over(wcum)))
    return (q.withColumn(
        "in_cs", (F.col("_cum") - F.col("alpha_u6")) * 100
        < F.col("_tot") * 95)
        .select("locus", "snp", "lbf_milli", "alpha_u6", "in_cs"))


def _finemap_sql() -> str:
    from biocypher_metta_spark.operators.finemap import PRIOR_W

    s2 = 1.0 + PRIOR_W
    c1 = repr(0.5 * __import__("math").log(1.0 / s2))
    k = repr(PRIOR_W / s2)
    return f"""
WITH t AS (
  SELECT 'L' || CAST(doc_id % 5 AS VARCHAR) AS locus,
         doc_id AS snp,
         CAST((doc_id * 13) % 113 AS DOUBLE) / 12.0 - 4.7 AS z
  FROM documents
), l AS (
  SELECT locus, snp, {c1} + (z * z) / 2.0 * {k} AS lbf FROM t
), e AS (
  SELECT locus, snp, lbf,
         exp(lbf - max(lbf) OVER (PARTITION BY locus)) AS ev
  FROM l
), a AS (
  SELECT locus, snp, lbf,
         ev / sum(ev) OVER (PARTITION BY locus) AS alpha
  FROM e
), q AS (
  SELECT locus, snp,
         CAST(floor(lbf * 1000) AS BIGINT) AS lbf_milli,
         CAST(floor(alpha * 1000000) AS BIGINT) AS alpha_u6
  FROM a
), c AS (
  SELECT locus, snp, lbf_milli, alpha_u6,
         sum(alpha_u6) OVER (PARTITION BY locus) AS tot,
         sum(alpha_u6) OVER (PARTITION BY locus
                             ORDER BY alpha_u6 DESC, snp
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM q
)
SELECT locus, snp, lbf_milli, alpha_u6,
       (cum - alpha_u6) * 100 < tot * 95 AS in_cs
FROM c
"""


KG_FINEMAP_SQL = _finemap_sql()
QUERIES["kg_finemap"] = (kg_finemap, KG_FINEMAP_SQL)


# ===========================================================================
# Round-5b training-data curation + graph-analytics gates: deterministic
# sampling, per-domain caps, BM25 retrieval, count-min sketch, semantic
# dedup, PageRank. No reference counterpart (Habush/biocypher-metta has no
# sampling / retrieval / graph-analytics surface) — beyond-reference
# training-data ops, each with a generated-from-one-formula DuckDB twin.
# ===========================================================================

from biocypher_metta_spark.operators import cdc as cdc_ops
from biocypher_metta_spark.operators import graph as graph_ops
from biocypher_metta_spark.operators import retrieval as retrieval_ops
from biocypher_metta_spark.operators import sampling as sampling_ops
from biocypher_metta_spark.operators import web as web_ops


def doc_hash_sample(spark, sf_dir):
    """Map-only salted-hash Bernoulli sample (250 permille): the
    reproducible-across-engines corpus draw. Plan is a single filter
    inside the scan's codegen — zero shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling_ops.hash_sample(docs, 250, salt="gate5")


DOC_HASH_SAMPLE_SQL = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5('gate5:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      % 1000 < 250
"""


def doc_stratified_sample(spark, sf_dir):
    """Per-language uniform without-replacement draw of 10 docs, WITH
    the map-side prefilter band engaged (700 permille against a
    min-stratum of 64 rows at sf0.01 — comfortably above the 4x-safety
    sizing rule) so the gate also proves the prefilter preserves the
    exact result: the oracle samples with NO prefilter."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = sampling_ops.stratified_sample(
        docs, ["lang"], 10, salt="strat5", prefilter_permille=700)
    return out.select("doc_id", "lang",
                      F.col("sample_rank").cast("long").alias("sample_rank"))


DOC_STRATIFIED_SAMPLE_SQL = """
WITH h AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('strat5:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS hh
  FROM documents
), r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rk
  FROM h
)
SELECT doc_id, lang, CAST(rk AS BIGINT) AS sample_rank FROM r WHERE rk <= 10
"""


def web_domain_cap(spark, sf_dir):
    """Per-registrable-domain document cap over a URL column synthesized
    arithmetically from doc_id (7 mega-hosts of ~70 docs each at sf0.01,
    capped to 10; every 97th doc gets a schemeless URL to exercise the
    unhosted passthrough)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = docs.withColumn(
        "url",
        F.when(F.col("doc_id") % 97 == 0, F.lit("relative/path"))
        .otherwise(F.concat(
            F.lit("https://www.h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/p/"), F.col("doc_id").cast("string"))))
    out = web_ops.domain_cap(d, 10, salt="domcap5")
    return out.select("doc_id", "host",
                      F.col("sample_rank").cast("long").alias("sample_rank"))


WEB_DOMAIN_CAP_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0 THEN ''
              ELSE 'h' || CAST(doc_id % 7 AS VARCHAR) || '.com' END AS host
  FROM documents
), hosted AS (
  SELECT doc_id, host,
         row_number() OVER (
           PARTITION BY host
           ORDER BY ('0x' || substr(md5('domcap5:' || CAST(doc_id AS VARCHAR)),
                     1, 15))::BIGINT, doc_id) AS rk
  FROM d WHERE host <> ''
)
SELECT doc_id, host, CAST(rk AS BIGINT) AS sample_rank
FROM hosted WHERE rk <= 10
UNION ALL
SELECT doc_id, host, CAST(0 AS BIGINT) AS sample_rank FROM d WHERE host = ''
"""

_BM25_GATE_Q = ["spark", "join", "window"]


def doc_bm25_topk(spark, sf_dir):
    """Integer-BM25 global top-25 for a fixed 3-token query; the oracle
    SQL is GENERATED from the same formula (retrieval.bm25_topk_sql)."""
    docs = _t(spark, sf_dir, "documents")
    out = retrieval_ops.bm25_topk(docs, _BM25_GATE_Q, k=25)
    return out.select("doc_id", "score",
                      F.col("rank").cast("long").alias("rank"))


DOC_BM25_SQL = retrieval_ops.bm25_topk_sql(_BM25_GATE_Q, k=25)

_CMS_GATE_PROBES = ["spark", "join", "table", "zzz-absent"]


def doc_cms_topfreq(spark, sf_dir):
    """Count-min sketch over the exploded token stream (depth 3, width
    256), probed for three heavy hitters + one absent value; the oracle
    (sketch.cms_sql) is generated from the same salt/width constants."""
    from biocypher_metta_spark.operators import sketch as sk

    toks = (_docs_par(spark, sf_dir)
            .select(F.explode(text_ops.tokens(F.col("text")))
                    .alias("value")))
    cms = sk.cms_build(toks, "value", depth=3, width=256)
    return sk.cms_lookup(cms, _CMS_GATE_PROBES, depth=3, width=256)


def _cms_gate_sql():
    from biocypher_metta_spark.operators import sketch as sk

    return sk.cms_sql(
        _CMS_GATE_PROBES, depth=3, width=256,
        source_sql=(r"SELECT unnest(regexp_split_to_array(trim(text), "
                    r"'\s+')) AS value FROM documents"))


DOC_CMS_SQL = _cms_gate_sql()


def kg_pagerank(spark, sf_dir):
    """Integer fixed-point PageRank (3 rounds) over an edge table
    synthesized from doc_ids: src = id % 89, dst = (id*7 + 3) % 101 —
    a multigraph whose dedup'd edge set has varied in-degrees and 12
    dangling nodes (ids 89..100 appear only as dst), exercising the
    dangling-mass redistribution. Oracle: the unrolled recursive-CTE
    twin generated from the same formula (graph.pagerank_sql)."""
    ids = _ids(spark, sf_dir)
    edges = ids.select((F.col("i") % 89).alias("src"),
                       ((F.col("i") * 7 + 3) % 101).alias("dst"))
    return graph_ops.pagerank(edges, iterations=3)


KG_PAGERANK_SQL = graph_ops.pagerank_sql(
    "SELECT CAST(doc_id AS BIGINT) % 89 AS src, "
    "(CAST(doc_id AS BIGINT) * 7 + 3) % 101 AS dst FROM documents",
    iterations=3)


def emb_semantic_dedup(spark, sf_dir):
    """SemDeDup-style collapse over the same planted near-dup corpus as
    emb_near_dup: LSH-blocked exact-cosine pairs -> connected components
    -> min-id representative per component, every input id mapped. The
    oracle closes the identical pair set transitively with a recursive
    CTE (components are <= 10 members by construction)."""
    ids = _ids(spark, sf_dir)
    emb = ids.select(F.col("i").alias("vec_id"),
                     F.expr(_ND_VEC_SPARK).alias("embedding"))
    return dedup_ops.semantic_dedup(
        emb, dim=_ND_DIM, threshold_millis=950, n_planes=_ND_PLANES_N,
        quant_scale=100)


def emb_kmeans(spark, sf_dir):
    """Deterministic integer k-means (Lloyd's, 3 unrolled rounds) over
    the first 8 coordinates of the real embeddings table — the
    iterative-ML clustering member of the graph/iterative family. The
    oracle is the generated unrolled-CTE twin (kmeans.kmeans_sql), one
    recipe for both sides."""
    from biocypher_metta_spark.operators.kmeans import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=4, dim=8, iterations=3)


def _kmeans_gate_sql():
    from biocypher_metta_spark.operators.kmeans import kmeans_sql

    return kmeans_sql(k=4, dim=8, iterations=3)


EMB_KMEANS_SQL = _kmeans_gate_sql()
QUERIES["emb_kmeans"] = (emb_kmeans, EMB_KMEANS_SQL)

# Deterministic PQ gate query: 16 coords in [-0.9, 0.9], no RNG.
_PQ_QUERY = [((i * 37) % 19 - 9) / 10.0 for i in range(16)]


def emb_pq_topk(spark, sf_dir):
    """Product-quantization ANN (operators/pq.py): per-subspace
    integer-Lloyd codebooks (m=4 subspaces of 4 coords, k=4, 2
    rounds) over the real embeddings table, corpus encoded to 4
    codes/vector, then ADC top-25 for a literal query via broadcast
    LUT lookups. The oracle trains its OWN codebooks from the same
    recipe (unrolled per-subspace CTEs) and cuts the same top-k —
    two engines agreeing on model + codes + distances + cut."""
    from biocypher_metta_spark.operators.pq import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, _PQ_QUERY, m=4, k=4, dim=16, topk=25,
                   iterations=2)


def _pq_gate_sql():
    from biocypher_metta_spark.operators.pq import pq_topk_sql

    return pq_topk_sql(_PQ_QUERY, m=4, k=4, dim=16, topk=25,
                       iterations=2)


EMB_PQ_SQL = _pq_gate_sql()
QUERIES["emb_pq_topk"] = (emb_pq_topk, EMB_PQ_SQL)


def doc_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: the lexical leg (integer BM25 top-40 for the
    fixed 3-token query) and the vector leg (exact quantized-dot top-40
    for vec 0's embedding, the emb_dot_topk scorer) fused by reciprocal
    rank fusion (retrieval.rrf_fuse) — doc_id and vec_id share the id
    space in the testdata, making this the full hybrid-search story on
    real tables.  The oracle fuses the SAME two leg queries but ranks
    via row_number windows instead of the engine's sort_array order
    realization."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = retrieval_ops.bm25_topk(docs, _BM25_GATE_Q, k=40)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qvec = list(qrow[0]) if qrow else []
    vec = sim_ops.quantized_dot_topk(
        emb.filter(F.col("vec_id") != 0), qvec, k=40)
    return retrieval_ops.rrf_fuse(
        [(lex, "doc_id", "score", True), (vec, "vec_id", "dot", True)],
        topk=20, k=60)


_RRF_VEC_LEG_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
            p -> round(CAST(p[1] AS DOUBLE) * 1000)
                 * round(CAST(p[2] AS DOUBLE) * 1000))) AS BIGINT) AS dot
FROM embeddings e, q
WHERE e.vec_id != 0
ORDER BY dot DESC, vec_id
LIMIT 40
"""

DOC_RRF_SQL = retrieval_ops.rrf_fuse_sql(
    [(retrieval_ops.bm25_topk_sql(_BM25_GATE_Q, k=40), "doc_id", "score",
      True),
     (_RRF_VEC_LEG_SQL, "vec_id", "dot", True)],
    topk=20, k=60)
QUERIES["doc_rrf_fusion"] = (doc_rrf_fusion, DOC_RRF_SQL)


def kg_hits(spark, sf_dir):
    """Max-normalized integer HITS (graph.hits, 3 rounds) over an edge
    table synthesized from doc_ids: src = id % 73, dst = (id*11 + 5) %
    97 — hub-heavy low ids (73 sources feeding 97 targets) plus ids
    73..96 appearing only as dst (pure authorities, hub_fp 0), so both
    mutual-recursion directions and the zero-degree floor are live.
    Oracle: the unrolled-CTE twin generated from the same recurrence
    (graph.hits_sql, HUGEINT where the engine runs DECIMAL(38,0))."""
    ids = _ids(spark, sf_dir)
    edges = ids.select((F.col("i") % 73).alias("src"),
                       ((F.col("i") * 11 + 5) % 97).alias("dst"))
    return graph_ops.hits(edges, iterations=3)


KG_HITS_SQL = graph_ops.hits_sql(
    "SELECT CAST(doc_id AS BIGINT) % 73 AS src, "
    "(CAST(doc_id AS BIGINT) * 11 + 5) % 97 AS dst FROM documents",
    iterations=3)
QUERIES["kg_hits"] = (kg_hits, KG_HITS_SQL)


def kg_scc(spark, sf_dir):
    """SCC labels / cycle detection (canonicalize.strongly_connected —
    mutual reachability over the path-doubled closure) on a planted
    near-DAG: 40 six-node cycles (node c = i % 240 points to the next
    position in its block of 6) plus 120 trivial tail nodes (240 + i %
    120 each pointing into a cycle) — so nontrivial SCCs, their
    canonical minima, and self-labeled DAG nodes are all live.  Twin:
    recursive-CTE closure (semi-naive, UNION fixed point) + the same
    mutual join and node-min."""
    from biocypher_metta_spark.canonicalize import strongly_connected

    ids = _ids(spark, sf_dir)
    c = F.col("i") % 240
    cyc = ids.select(c.alias("src"),
                     ((c - c % 6) + (c % 6 + 1) % 6).alias("dst"))
    t = F.col("i") % 120 + 240
    tail = ids.select(t.alias("src"), (t - 240).alias("dst"))
    return strongly_connected(cyc.unionByName(tail))


from biocypher_metta_spark.canonicalize import strongly_connected_sql

KG_SCC_SQL = strongly_connected_sql("""
SELECT CAST(doc_id AS BIGINT) % 240 AS src,
       (CAST(doc_id AS BIGINT) % 240 - CAST(doc_id AS BIGINT) % 240 % 6)
       + (CAST(doc_id AS BIGINT) % 240 % 6 + 1) % 6 AS dst
FROM documents
UNION ALL
SELECT CAST(doc_id AS BIGINT) % 120 + 240 AS src,
       CAST(doc_id AS BIGINT) % 120 AS dst
FROM documents""")

QUERIES["kg_scc"] = (kg_scc, KG_SCC_SQL)


def emb_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss reduction (similarity.random_projection):
    the 64-dim embeddings table projected to 8 integer components
    through the deterministic sparse Achlioptas matrix — the cheap
    map-only pre-reduction before LSH blocking / sketching at high
    dim.  Twin: the identical literal coefficient matrix (shared
    pure-Python generator) as one flat SELECT."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.random_projection(emb, dim=64, out_dim=8)


EMB_RANDOM_PROJECTION_SQL = sim_ops.random_projection_sql(
    "SELECT vec_id, embedding FROM embeddings", dim=64, out_dim=8)

QUERIES["emb_random_projection"] = (emb_random_projection,
                                    EMB_RANDOM_PROJECTION_SQL)


def emb_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (pq.ivfpq_topk) — the canonical big-corpus ANN
    composition: integer-Lloyd coarse quantizer (8 cells, 2 rounds)
    prunes to the query's 3 nearest cells, global PQ codebooks
    (m=4, k=4) ADC-score only the survivors, top-20.  The oracle
    composes FOUR generated twins (kmeans assign + centroid model,
    cell ranking by the same integer distance, the PQ twin's
    restrict hook) and must agree on cells, codes, distances, and
    the cut."""
    from biocypher_metta_spark.operators.pq import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, _PQ_QUERY, n_cells=8, m=4, k=4, dim=16,
                      topk=20, n_probe=3)


def _ivfpq_gate_sql():
    from biocypher_metta_spark.operators.pq import ivfpq_topk_sql

    return ivfpq_topk_sql(_PQ_QUERY, n_cells=8, m=4, k=4, dim=16,
                          topk=20, n_probe=3)


QUERIES["emb_ivfpq_topk"] = (emb_ivfpq_topk, _ivfpq_gate_sql())


def rel_zorder_key(spark, sf_dir):
    """Morton interleave keys (operators/zorder.zorder_key, 12 bits x
    2 dims) over orders quantized to a 4096^2 grid — the data-skipping
    layout key whose sort groups rows close in BOTH dimensions into the
    same parquet row group (the Iceberg/Delta ZORDER transform on the
    sandbox's plain-parquet catalog).  check_range=False: the modulo
    proves the domain.  Oracle: the identical bit arithmetic as one SQL
    expression (zorder_key_sql) — the gate pins the exact curve, the
    locality property is pinned by the 8x8-block unit test."""
    from biocypher_metta_spark.operators import zorder as z_ops

    orders = _t(spark, sf_dir, "orders")
    return (orders.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        (F.col("o_custkey") % 4096).cast("long").alias("_x"),
        ((F.col("o_orderkey") * 3 + 1) % 4096).cast("long").alias("_y"))
        .select("o_orderkey",
                z_ops.zorder_key(["_x", "_y"], bits=12,
                                 check_range=False).alias("zkey")))


def _zorder_gate_sql():
    from biocypher_metta_spark.operators import zorder as z_ops

    expr = z_ops.zorder_key_sql(["_x", "_y"], bits=12)
    return f"""
WITH zq AS (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(o_custkey % 4096 AS BIGINT) AS _x,
         CAST((o_orderkey * 3 + 1) % 4096 AS BIGINT) AS _y
  FROM orders
)
SELECT o_orderkey, CAST({expr} AS BIGINT) AS zkey FROM zq"""


QUERIES["rel_zorder_key"] = (rel_zorder_key, _zorder_gate_sql())


def emb_mmr_rerank(spark, sf_dir):
    """Diversity re-ranking capstone of the retrieval ladder: exact
    quantized-dot top-60 for the fixed literal query (the _PQ_QUERY
    vector), candidates joined back to their embeddings, then MMR
    greedy selection of 15 (operators/mmr.mmr_rerank, lambda=0.7,
    Arrow-batched numpy over the bounded list).  The oracle re-derives
    the same candidate cut in SQL and replays the greedy with the k
    steps unrolled as CTEs — two engines agreeing on the whole
    trajectory, not just the final set."""
    from biocypher_metta_spark.operators import mmr as mmr_ops

    emb = _t(spark, sf_dir, "embeddings")
    # the query is 16-dim, the table 64-dim: slice the scored leg (the
    # pq_topk dim= convention) — quantized_dot_topk raises on mismatch
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16)
                       .alias("embedding"))
    top = sim_ops.quantized_dot_topk(emb16, _PQ_QUERY, k=60)
    cands = top.select("vec_id").join(emb, "vec_id")
    return mmr_ops.mmr_rerank(cands, _PQ_QUERY, k=15, dim=16,
                              lambda_permille=700)


def _mmr_gate_sql():
    from biocypher_metta_spark.operators import mmr as mmr_ops

    # the candidate cut: same integer dot (scale 1000, the
    # quantized_dot_topk convention) against the literal query
    qq = [round(float(x) * 1000) for x in _PQ_QUERY]
    dot = " + ".join(
        f"CAST(round(CAST(embedding[{j + 1}] AS DOUBLE) * 1000) "
        f"AS BIGINT) * {qq[j]}" for j in range(16))
    cands = f"""
SELECT e.vec_id, e.embedding
FROM embeddings e JOIN (
  SELECT vec_id FROM (
    SELECT vec_id, CAST({dot} AS BIGINT) AS dot FROM embeddings
    ORDER BY dot DESC, vec_id LIMIT 60
  ) AS mmr_top
) AS mmr_ids USING (vec_id)"""
    return mmr_ops.mmr_rerank_sql(cands, _PQ_QUERY, k=15, dim=16,
                                  lambda_permille=700)


QUERIES["emb_mmr_rerank"] = (emb_mmr_rerank, _mmr_gate_sql())


def doc_retrieval_ladder(spark, sf_dir):
    """The full 3-stage hybrid-retrieval ladder as ONE composition:
    lexical leg (integer BM25 top-40 on documents.text) + compressed
    vector leg (PQ train->encode->ADC top-40 on embeddings, the
    emb_pq_topk recipe) -> reciprocal-rank fusion top-30 -> candidates
    joined back to their vectors -> MMR diverse selection of 10.
    Every stage is an independently-gated operator; this gate proves
    they compose cross-engine END-TO-END (the oracle chains the
    bm25/PQ/rrf/mmr SQL twins — different ranking mechanisms at every
    stage — and must reproduce the exact final selection trajectory)."""
    from biocypher_metta_spark.operators import mmr as mmr_ops
    from biocypher_metta_spark.operators.pq import pq_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = retrieval_ops.bm25_topk(docs, _BM25_GATE_Q, k=40)
    pqleg = pq_topk(emb, _PQ_QUERY, m=4, k=4, dim=16, topk=40,
                    iterations=2)
    fused = retrieval_ops.rrf_fuse(
        [(lex, "doc_id", "score", True),
         (pqleg, "vec_id", "adc_dist", False)], topk=30)
    # doc_id and vec_id share the id space in the testdata; candidates
    # without a vector (bm25-only ids past the embeddings table) drop
    # in BOTH engines (inner join)
    cands = fused.select(F.col("doc_id").alias("vec_id")).join(emb,
                                                               "vec_id")
    return mmr_ops.mmr_rerank(cands, _PQ_QUERY, k=10, dim=16,
                              lambda_permille=700)


def _ladder_gate_sql():
    from biocypher_metta_spark.operators import mmr as mmr_ops
    from biocypher_metta_spark.operators.pq import pq_topk_sql

    legs = [(retrieval_ops.bm25_topk_sql(_BM25_GATE_Q, k=40),
             "doc_id", "score", True),
            (pq_topk_sql(_PQ_QUERY, m=4, k=4, dim=16, topk=40,
                         iterations=2), "vec_id", "adc_dist", False)]
    rrf_sql = retrieval_ops.rrf_fuse_sql(legs, topk=30)
    cands_sql = (f"SELECT e.vec_id, e.embedding FROM embeddings e "
                 f"JOIN ({rrf_sql}) r ON e.vec_id = r.doc_id")
    return mmr_ops.mmr_rerank_sql(cands_sql, _PQ_QUERY, k=10, dim=16,
                                  lambda_permille=700)


QUERIES["doc_retrieval_ladder"] = (doc_retrieval_ladder,
                                   _ladder_gate_sql())


EMB_SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
v AS (
  SELECT i AS vec_id,
         list_transform(range(0, 8), j -> ((('0x' || substr(md5((i % 50) || '_' || j), 1, 2))::BIGINT - 128)
             + CASE WHEN j = i % 8 THEN (i // 50) % 3 ELSE 0 END) * 100) AS q
  FROM ids
), b AS (
  SELECT vec_id, q,
         ({_nd_duck_bucket('q')}) AS bkt,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n
  FROM v WHERE CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) > 0
), pairs AS (
  SELECT * FROM (
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
           CAST(floor(1000.0 * CAST(list_sum(list_transform(list_zip(a.q, b2.q),
                      p -> p[1] * p[2])) AS BIGINT)
                / sqrt(CAST(a.n * b2.n AS DOUBLE))) AS BIGINT) AS cos_millis
    FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
  ) WHERE cos_millis >= 950
), sym AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(s, t) AS (
  SELECT s, t FROM sym
  UNION
  SELECT reach.s, sym.t FROM reach JOIN sym ON reach.t = sym.s
), rep AS (
  SELECT s AS vec_id, least(s, min(t)) AS rep FROM reach GROUP BY s
)
SELECT ids.i AS vec_id,
       coalesce(rep.rep, ids.i) AS rep_id,
       coalesce(rep.rep, ids.i) = ids.i AS keep
FROM ids LEFT JOIN rep ON ids.i = rep.vec_id
"""

def doc_ngram_excise(spark, sf_dir):
    """Lee-et-al-style corpus-wide repeated-5-gram excision: every
    token covered by a 5-gram occurring >= 2 times across the corpus
    is removed, the rest of the doc survives. The oracle recomputes
    the identical hash -> frequency -> coverage -> rebuild chain."""
    return dedup_ops.excise_repeated_ngrams(
        _docs_par(spark, sf_dir), n=5, min_dup=2)


DOC_NGRAM_EXCISE_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
           i -> ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')),
                 1, 15))::BIGINT) AS ghs
  FROM t
), pos AS (
  SELECT doc_id, unnest(range(1, len(ghs) + 1)) - 1 AS p,
         unnest(ghs) AS gh
  FROM sh
), rep AS (
  SELECT gh FROM pos GROUP BY gh HAVING count(*) >= 2
), removed AS (
  SELECT DISTINCT doc_id, p + d AS tpos
  FROM pos JOIN rep USING (gh),
       (VALUES (0), (1), (2), (3), (4)) AS dd(d)
), tok AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) - 1 AS tpos,
         unnest(toks) AS w
  FROM t
), kept AS (
  SELECT tok.doc_id, tok.tpos, tok.w
  FROM tok LEFT JOIN removed
    ON tok.doc_id = removed.doc_id AND tok.tpos = removed.tpos
  WHERE removed.doc_id IS NULL
), reb AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY tpos) AS clean_text
  FROM kept GROUP BY doc_id
), nr AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
  FROM removed GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(reb.clean_text, '') AS clean_text,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       coalesce(nr.n_removed, 0) AS n_removed
FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id
       LEFT JOIN nr ON t.doc_id = nr.doc_id
"""

def web_canonical_url(spark, sf_dir):
    """URL canonicalization over 8 synthesized case families (scheme/
    host case, userinfo, default ports, trailing slashes, tracking
    params, param sorting, double-www, non-URL passthrough). The
    oracle derives the EXPECTED canonical arithmetically from each
    case's semantics — an independent expectation, not a rerun of the
    operator's regexp chain."""
    ids = _ids(spark, sf_dir)
    k = (F.col("i") % 5).cast("string")
    s = F.col("i").cast("string")
    sel = F.col("i") % 8
    url = (
        F.when(sel == 0, F.concat(
            F.lit("HTTPS://WWW.Site"), k,
            F.lit(".com:443/a/b/?utm_source=x&q="), s, F.lit("#frag")))
        .when(sel == 1, F.concat(F.lit("http://site"), k,
                                 F.lit(".com:80/path/")))
        .when(sel == 2, F.concat(F.lit("http://user:pw@site"), k,
                                 F.lit(".com/x?b=2&a=1")))
        .when(sel == 3, F.concat(F.lit("https://site"), k, F.lit(".com/")))
        .when(sel == 4, F.concat(F.lit("ftp://site"), k, F.lit(".com:21/f")))
        .when(sel == 5, F.concat(F.lit("not a url "), s))
        .when(sel == 6, F.concat(F.lit("https://www.www.site"), k,
                                 F.lit(".com/x?fbclid=abc")))
        .otherwise(F.concat(F.lit("http://site"), k,
                            F.lit(".com/x?gclid=1&utm_campaign=z"))))
    d = ids.select(F.col("i").alias("doc_id"), url.alias("url"))
    return d.select("doc_id", "url",
                    web_ops.canonical_url(F.col("url")).alias("canon"))


WEB_CANONICAL_URL_SQL = """
WITH c AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         doc_id % 8 AS sel,
         CAST(doc_id % 5 AS VARCHAR) AS k,
         CAST(doc_id AS VARCHAR) AS s
  FROM documents
)
SELECT doc_id,
  CASE sel
    WHEN 0 THEN 'HTTPS://WWW.Site' || k || '.com:443/a/b/?utm_source=x&q=' || s || '#frag'
    WHEN 1 THEN 'http://site' || k || '.com:80/path/'
    WHEN 2 THEN 'http://user:pw@site' || k || '.com/x?b=2&a=1'
    WHEN 3 THEN 'https://site' || k || '.com/'
    WHEN 4 THEN 'ftp://site' || k || '.com:21/f'
    WHEN 5 THEN 'not a url ' || s
    WHEN 6 THEN 'https://www.www.site' || k || '.com/x?fbclid=abc'
    ELSE 'http://site' || k || '.com/x?gclid=1&utm_campaign=z'
  END AS url,
  CASE sel
    WHEN 0 THEN 'https://site' || k || '.com/a/b?q=' || s
    WHEN 1 THEN 'http://site' || k || '.com/path'
    WHEN 2 THEN 'http://site' || k || '.com/x?a=1&b=2'
    WHEN 3 THEN 'https://site' || k || '.com'
    WHEN 4 THEN 'ftp://site' || k || '.com:21/f'
    WHEN 5 THEN 'not a url ' || s
    WHEN 6 THEN 'https://www.site' || k || '.com/x'
    ELSE 'http://site' || k || '.com/x'
  END AS canon
FROM c
"""

QUERIES["web_canonical_url"] = (web_canonical_url, WEB_CANONICAL_URL_SQL)


def doc_chunk_fixed(spark, sf_dir):
    """Fixed-window token chunking with overlap (RAG ingestion shape):
    32-token windows every 24 tokens; the oracle re-derives the same
    start-emission rule (keep s iff s == 0 or s + overlap < n_tokens)
    and window slices."""
    return text_ops.chunk_tokens(_docs_par(spark, sf_dir),
                                 chunk_size=32, overlap=8)


DOC_CHUNK_FIXED_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), st AS (
  SELECT doc_id, toks,
         list_filter(range(0, greatest(len(toks) - 1, 0) + 1, 24),
                     s -> s = 0 OR s + 8 < len(toks)) AS starts
  FROM t
), ex AS (
  SELECT doc_id,
         unnest(range(1, len(starts) + 1)) - 1 AS chunk_no,
         unnest(list_transform(starts, s -> toks[s+1:s+32])) AS c
  FROM st
)
SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
       CAST(len(c) AS BIGINT) AS n_chunk_tokens,
       array_to_string(c, ' ') AS chunk_text
FROM ex
"""

QUERIES["doc_chunk_fixed"] = (doc_chunk_fixed, DOC_CHUNK_FIXED_SQL)

_BM25_JOIN_Q = [(1, "spark"), (1, "join"), (2, "window"), (2, "table"),
                (3, "merge"), (3, "zzz-absent")]


def doc_bm25_join(spark, sf_dir):
    """Batch BM25 via posting-list join: 3 queries scored in one pass
    (one with an absent token), per-query top-15; oracle generated from
    the same formula (retrieval.bm25_join_sql)."""
    docs = _t(spark, sf_dir, "documents")
    q = spark.createDataFrame(_BM25_JOIN_Q, ["query_id", "token"])
    out = retrieval_ops.bm25_score_join(docs, q, k=15)
    return out.select(F.col("query_id").cast("long").alias("query_id"),
                      "doc_id", "score",
                      F.col("rank").cast("long").alias("rank"))


DOC_BM25_JOIN_SQL = retrieval_ops.bm25_join_sql(_BM25_JOIN_Q, k=15)

def rel_bloom_prefilter(spark, sf_dir):
    """Map-only Bloom prefilter of a fact table against a selective
    build side — the shuffle-avoidance pattern for a 100-TB probe: the
    filter over BUILDING-segment customer keys (m=4096 bits, k=3,
    deliberately small so false positives OCCUR and both engines must
    agree on them bit-for-bit) rides into the orders scan as a literal
    word array. Oracle: bloom_prefilter_sql's k-unrolled join
    formulation over the same double-hashed word table — a different
    plan shape computing the same math."""
    from biocypher_metta_spark.operators import sketch as sk

    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    words = sk.bloom_build(cust, "c_custkey", m_bits=4096, k=3)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return sk.bloom_prefilter(orders, words, "o_custkey",
                              m_bits=4096, k=3)


def _bloom_gate_sql():
    from biocypher_metta_spark.operators.sketch import bloom_prefilter_sql

    return bloom_prefilter_sql(
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
        "SELECT o_orderkey, o_custkey FROM orders",
        build_col="c_custkey", probe_col="o_custkey",
        probe_cols=["o_orderkey", "o_custkey"], m_bits=4096, k=3)


REL_BLOOM_PREFILTER_SQL = _bloom_gate_sql()


def kg_triangles(spark, sf_dir):
    """Per-vertex triangle counts (degree-oriented wedge join —
    graph.triangle_count) over an edge table synthesized from doc_ids:
    src = i % 47, dst = (i // 7) % 47 — a multigraph over 47 nodes
    mixing i two different ways (an affine dst-of-src map would be
    triangle-free) so the dedup'd undirected edge set has varied
    degrees and abundant triangles. Oracle: the DuckDB twin
    generated from the same orientation recipe
    (graph.triangle_count_sql)."""
    ids = _ids(spark, sf_dir)
    edges = ids.select((F.col("i") % 47).alias("src"),
                       ((F.col("i") / 7).cast("long") % 47).alias("dst"))
    return graph_ops.triangle_count(edges)


KG_TRIANGLES_SQL = graph_ops.triangle_count_sql(
    "SELECT CAST(doc_id AS BIGINT) % 47 AS src, "
    "(CAST(doc_id AS BIGINT) // 7) % 47 AS dst FROM documents")


def kg_kcore(spark, sf_dir):
    """k-core peeling (graph.kcore, k=3) over a planted
    nucleus-plus-fringe graph: a dense 11-node nucleus, plus
    leaf->mid->nucleus chains whose leaves have degree 1 — the first
    peel round strips every leaf, the second confirms the fixpoint,
    so the gate exercises a real multi-iteration run, not a graph
    that was already a core. Oracle: the unrolled MATERIALIZED-CTE
    twin generated from the same recurrence (graph.kcore_sql)."""
    ids = _ids(spark, sf_dir)
    nucleus = ids.select((F.col("i") % 11).alias("src"),
                         ((F.col("i") / 3).cast("long") % 11).alias("dst"))
    leaf_mid = ids.select((F.col("i") % 150 + 100).alias("src"),
                          (F.col("i") % 75 + 300).alias("dst"))
    mid_core = ids.select((F.col("i") % 75 + 300).alias("src"),
                          (F.col("i") % 11).alias("dst"))
    return graph_ops.kcore(
        nucleus.unionAll(leaf_mid).unionAll(mid_core), k=3)


_KCORE_EDGES_SQL = """SELECT i % 11 AS src, (i // 3) % 11 AS dst
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
UNION ALL SELECT i % 150 + 100, i % 75 + 300
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
UNION ALL SELECT i % 75 + 300, i % 11
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)"""

KG_KCORE_SQL = graph_ops.kcore_sql(_KCORE_EDGES_SQL, k=3, rounds=3)

_CDC_LOG_SQL = """SELECT DISTINCT l_orderkey, CAST(l_shipdate AS DATE) AS ts,
  l_linenumber AS seq,
  CASE WHEN l_returnflag = 'R' THEN 'delete' ELSE 'upsert' END AS op,
  CAST(floor(l_quantity) AS BIGINT) AS qty
FROM lineitem"""


def _cdc_log(spark, sf_dir):
    """lineitem as a synthetic changelog: key = l_orderkey, returned
    lines ('R') playing the delete tombstones. The synthetic testdata
    has duplicate (l_orderkey, l_linenumber) pairs, so the operators'
    unique-ordering contract is met the robust way: DISTINCT rows and
    order by the ENTIRE non-key tuple — unique per key by
    construction."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_shipdate").cast("date").alias("ts"),
        F.col("l_linenumber").alias("seq"),
        F.when(F.col("l_returnflag") == "R", "delete")
        .otherwise("upsert").alias("op"),
        F.floor("l_quantity").cast("long").alias("qty")).distinct()


_CDC_ORDER = ["ts", "seq", "qty", "op"]


def rel_changelog_compact(spark, sf_dir):
    """CDC snapshot (cdc.changelog_compact): latest version per
    orderkey by the full version tuple, keys whose latest op is a
    delete tombstone dropped. One key shuffle, max_by partial agg —
    the window formulation is deliberately only the DuckDB twin's
    plan."""
    return cdc_ops.changelog_compact(
        _cdc_log(spark, sf_dir), ["l_orderkey"], _CDC_ORDER,
        op_col="op")


REL_CHANGELOG_COMPACT_SQL = cdc_ops.changelog_compact_sql(
    _CDC_LOG_SQL, ["l_orderkey"], _CDC_ORDER,
    ["l_orderkey", "ts", "seq", "op", "qty"], op_col="op")


def rel_scd2_intervals(spark, sf_dir):
    """SCD2 history (cdc.scd2_intervals): every changelog row becomes
    a validity interval [valid_from, valid_to) per orderkey, the
    as-of-join input shape. Oracle is the correlated-subquery
    formulation instead of lead() — different plan, same bounds."""
    return cdc_ops.scd2_intervals(
        _cdc_log(spark, sf_dir).drop("op").distinct(),
        ["l_orderkey"], ["ts", "seq", "qty"])


REL_SCD2_INTERVALS_SQL = cdc_ops.scd2_intervals_sql(
    "SELECT DISTINCT l_orderkey, CAST(l_shipdate AS DATE) AS ts, "
    "l_linenumber AS seq, CAST(floor(l_quantity) AS BIGINT) AS qty "
    "FROM lineitem",
    ["l_orderkey"], ["ts", "seq", "qty"], ["l_orderkey", "ts", "seq", "qty"])


def doc_set_similarity(spark, sf_dir):
    """EXACT set-similarity self-join (dedup.set_similarity_join,
    prefix filtering, tau=0.9): every document pair with token-set
    Jaccard >= 0.9, no LSH recall gap. Oracle: the brute-force
    all-pairs-sharing-a-token formulation — no prefix logic at all,
    so a green row proves the pruning theorem dropped nothing on
    this corpus (the template-generated docs are near-dup heavy,
    exactly the hard case for candidate pruning)."""
    return dedup_ops.set_similarity_join(
        _t(spark, sf_dir, "documents"), 900)


DOC_SET_SIMILARITY_SQL = dedup_ops.set_similarity_join_sql(
    "SELECT doc_id, text FROM documents", 900)


def kg_streaming_upsert(spark, sf_dir):
    """Streaming CDC upsert (streaming/upsert.run_upsert_stream): the
    lineitem changelog arrives as TWO checkpointed availableNow
    increments (split by key, so the per-key cross-batch ordering
    contract holds by construction); each micro-batch merges into the
    versioned state snapshot via the SAME changelog_compact kernel
    the batch gate uses. The final state must equal one batch compact
    over the full log — the rel_changelog_compact oracle verbatim —
    proving streamed-merge / batch-compact equivalence including
    tombstone drops and resurrections."""
    import hashlib
    import shutil

    from biocypher_metta_spark.streaming.upsert import (
        read_state, run_upsert_stream)

    base = ("/tmp/bcm_upsert_gate_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    shutil.rmtree(base, ignore_errors=True)
    in_dir, state, ck = f"{base}/in", f"{base}/state", f"{base}/ck"
    log = _cdc_log(spark, sf_dir)
    log.filter(F.col("l_orderkey") % 2 == 0).write.parquet(in_dir)
    for batch in range(2):
        stream = spark.readStream.schema(log.schema).parquet(in_dir)
        run_upsert_stream(stream, ["l_orderkey"], _CDC_ORDER,
                          state, ck, op_col="op")
        if batch == 0:
            log.filter(F.col("l_orderkey") % 2 == 1) \
               .write.mode("append").parquet(in_dir)
    return read_state(spark, state).select(
        "l_orderkey", "ts", "seq", "op", "qty")


def rel_salted_join(spark, sf_dir):
    """Skew-salted equi-join (cdc.salted_join): lineitem x small-size
    parts on (partkey, salt) with the part side replicated n_salts
    ways; the salt only touches shuffle routing, so the oracle is the
    PLAIN join — any row the salting loses or duplicates breaks the
    count/hash."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    pt = (_t(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
          .select(F.col("p_partkey").alias("l_partkey"), "p_brand"))
    j = cdc_ops.salted_join(li, pt, ["l_partkey"], n_salts=8)
    return (j.groupBy("p_brand")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum(F.floor("l_quantity")).cast("long")
                 .alias("sum_qty")))


REL_SALTED_JOIN_SQL = """
SELECT p_brand, count(*) AS n_rows,
       CAST(sum(floor(l_quantity)) AS BIGINT) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 5
GROUP BY p_brand
"""

def kg_lpa(spark, sf_dir):
    """Synchronous label-propagation communities
    (graph.label_propagation, rounds=3) over two planted dense
    10-node nuclei joined by ONE bridge edge: vote counts keep each
    nucleus on its own label across the bridge — the behavior that
    distinguishes LPA from connected_components, which would flood
    the whole graph to a single component. Oracle: the unrolled
    MATERIALIZED-CTE twin generated from the same recurrence
    (graph.label_propagation_sql)."""
    ids = _ids(spark, sf_dir)
    ca = ids.select((F.col("i") % 10).alias("src"),
                    ((F.col("i") / 3).cast("long") % 10).alias("dst"))
    cb = ids.select((F.col("i") % 10 + 200).alias("src"),
                    ((F.col("i") / 3).cast("long") % 10 + 200).alias("dst"))
    bridge = ids.select((F.col("i") % 1 + 5).alias("src"),
                        (F.col("i") % 1 + 205).alias("dst"))
    return graph_ops.label_propagation(
        ca.unionAll(cb).unionAll(bridge), rounds=3)


_LPA_EDGES_SQL = """SELECT i % 10 AS src, (i // 3) % 10 AS dst
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
UNION ALL SELECT i % 10 + 200, (i // 3) % 10 + 200
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
UNION ALL SELECT i % 1 + 5, i % 1 + 205
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)"""

KG_LPA_SQL = graph_ops.label_propagation_sql(_LPA_EDGES_SQL, rounds=3)


def rel_gapfill_locf(spark, sf_dir):
    """Time-series gap fill + LOCF (temporal.gapfill_locf — the
    TimescaleDB gapfill/locf pair completing the hypertable family):
    orders bucketed to 7-day integer offsets per customer-bucket key;
    cents divisible by 7 are planted as NULL so the gate exercises
    BOTH fill modes (synthesized gap rows and observed-NULL carry).
    Oracle: generate_series + last_value IGNORE NULLS — an
    independent spelling of sequence/explode + last(ignorenulls)."""
    from biocypher_metta_spark.operators.temporal import gapfill_locf

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    obs = (o.select((F.col("o_custkey") % 50).alias("grp"),
                    ((day / 7).cast("long") * 7).alias("day"),
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    .alias("c"))
           .groupBy("grp", "day").agg(F.max("c").alias("m"))
           .select("grp", "day",
                   F.when(F.col("m") % 7 == 0,
                          F.lit(None).cast("long"))
                   .otherwise(F.col("m")).alias("cents")))
    return gapfill_locf(obs, "grp", "day", ["cents"], step=7)


from biocypher_metta_spark.operators.temporal import (  # noqa: E402
    gapfill_locf_sql as _gapfill_locf_sql,
)

_GAPFILL_OBS_SQL = """SELECT grp, day,
  CASE WHEN m % 7 = 0 THEN NULL ELSE m END AS cents
FROM (
  SELECT o_custkey % 50 AS grp,
         (date_diff('day', DATE '1992-01-01',
                    CAST(o_orderdate AS DATE)) // 7) * 7 AS day,
         max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS m
  FROM orders GROUP BY 1, 2
)"""

REL_GAPFILL_LOCF_SQL = _gapfill_locf_sql(
    _GAPFILL_OBS_SQL, "grp", "day", ["cents"], step=7)


def kg_survivorship(spark, sf_dir):
    """Golden-record survivorship (canonicalize.survivorship_merge):
    customer rows grouped into 400 synthetic entity clusters with
    planted per-field nulls, source rank from the nation key and the
    custkey as the unique final tiebreaker — each field must come
    from the BEST-precedence record that has it, not from one winner
    row. Oracle: the per-field window-rank + join spelling
    (survivorship_merge_sql)."""
    from biocypher_metta_spark.canonicalize import survivorship_merge

    c = _t(spark, sf_dir, "customer")
    rec = c.select(
        (F.col("c_custkey") % 400).alias("cluster"),
        (F.col("c_nationkey") % 3).alias("src_rank"),
        F.col("c_custkey").alias("rid"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_name")).alias("name"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.floor(F.col("c_acctbal") * 100).cast("long"))
        .alias("acct_cents"))
    return survivorship_merge(rec, "cluster", ["src_rank", "rid"],
                              ["name", "acct_cents"])


from biocypher_metta_spark.canonicalize import (  # noqa: E402
    survivorship_merge_sql as _survivorship_sql,
)

_SURVIVORSHIP_IN_SQL = """SELECT c_custkey % 400 AS cluster,
  c_nationkey % 3 AS src_rank, c_custkey AS rid,
  CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END AS name,
  CASE WHEN c_custkey % 7 = 0 THEN NULL
       ELSE CAST(floor(c_acctbal * 100) AS BIGINT) END AS acct_cents
FROM customer"""

KG_SURVIVORSHIP_SQL = _survivorship_sql(
    _SURVIVORSHIP_IN_SQL, "cluster", ["src_rank", "rid"],
    ["name", "acct_cents"])


def rel_fuzzy_join(spark, sf_dir):
    """Exact edit-distance self-join (dedup.edit_distance_join, d=2,
    Ed-Join prefix filtering over positional q-grams): customer names
    (every 40th key — long path, dense digit-typo pairs) unioned with
    planted 2-char codes (short path, where the prefix lemma is
    vacuous and the bounded distinct-value branch takes over).
    Oracle: BRUTE-FORCE all-pairs levenshtein with zero gram logic —
    green proves the pruning dropped nothing."""
    from biocypher_metta_spark.operators.dedup import edit_distance_join

    c = _t(spark, sf_dir, "customer")
    longs = (c.filter(F.col("c_custkey") % 40 == 0)
             .select(F.col("c_custkey").alias("doc_id"),
                     F.col("c_name").alias("text")))
    shorts = (c.filter(F.col("c_custkey") % 500 == 7)
              .select((F.col("c_custkey") + 10_000_000).alias("doc_id"),
                      F.lpad(F.expr("(c_custkey - 7) div 500 % 30")
                             .cast("string"), 2, "0").alias("text")))
    return edit_distance_join(longs.unionByName(shorts), 2)


from biocypher_metta_spark.operators.dedup import (  # noqa: E402
    edit_distance_join_sql as _edj_sql,
)

_EDJ_IN_SQL = """SELECT c_custkey AS doc_id, c_name AS text
FROM customer WHERE c_custkey % 40 = 0
UNION ALL
SELECT c_custkey + 10000000 AS doc_id,
       lpad(CAST(CAST((c_custkey - 7) // 500 % 30 AS BIGINT)
                 AS VARCHAR), 2, '0') AS text
FROM customer WHERE c_custkey % 500 = 7"""

REL_FUZZY_JOIN_SQL = _edj_sql(_EDJ_IN_SQL, 2)


def rel_event_transitions(spark, sf_dir):
    """First-order journey graph (temporal.event_transitions):
    consecutive (from, to) event-type transition counts per user —
    one lead window + a bounded |steps|^2 groupBy. Oracle: same
    recurrence, other engine."""
    from biocypher_metta_spark.operators.temporal import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"),
                             "user_id", "ts", "event_type")


from biocypher_metta_spark.operators.temporal import (  # noqa: E402
    event_transitions_sql as _transitions_sql,
    time_weighted_avg_sql as _twap_sql,
)

REL_EVENT_TRANSITIONS_SQL = _transitions_sql(
    "SELECT user_id, ts, event_type FROM events",
    "user_id", "ts", "event_type")


_TWAP_END = "2025-01-01 00:00:00"


def rel_twap(spark, sf_dir):
    """Duration-weighted average (temporal.time_weighted_avg): each
    event's value-cents hold until the user's next event, the last
    until a fixed horizon; integer-exact DECIMAL(38,0) sums with
    pmod-floor division. Oracle: HUGEINT spelling with the same
    recurrence and tie order."""
    from biocypher_metta_spark.operators.temporal import time_weighted_avg

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("ts"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    return time_weighted_avg(ev, ["user_id"], "ts", "cents", _TWAP_END)


REL_TWAP_SQL = _twap_sql(
    """SELECT user_id, ts,
  CAST(floor(value * 100) AS BIGINT) AS cents FROM events""",
    ["user_id"], "ts", "cents", _TWAP_END)


def rel_funnel_windowed(spark, sf_dir):
    """Windowed funnel (temporal.funnel_stages_windowed, 4h window —
    the ClickHouse windowFunnel semantics): the exact latest-start DP
    fold, where greedy-earliest would undercount (a later first step
    can open a better window). Oracle: candidate-start chained-join
    spelling grouped by (user, t0)."""
    from biocypher_metta_spark.operators.temporal import (
        funnel_stages_windowed,
    )

    return funnel_stages_windowed(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        ["signup", "view", "click", "purchase"], 4 * 3600)


from biocypher_metta_spark.operators.temporal import (  # noqa: E402
    funnel_stages_windowed_sql as _wfunnel_sql,
)

REL_FUNNEL_WINDOWED_SQL = _wfunnel_sql(
    "SELECT user_id, ts, event_type FROM events",
    "user_id", "ts", "event_type",
    ["signup", "view", "click", "purchase"], 4 * 3600)


def rel_outlier_flags(spark, sf_dir):
    """Integer-exact z-score anomaly flags (stats.outlier_flags,
    z = 3.0): order cents per customer bucket with every 101st order
    inflated 40x — the planted spikes must flag, the base load must
    not. Moments in DECIMAL(38,0); one groupBy + co-partitioned join
    back. Oracle: window-moments spelling in HUGEINT."""
    from biocypher_metta_spark.operators.stats import outlier_flags

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 200).alias("grp"),
        F.col("o_orderkey").alias("rid"),
        (F.floor(F.col("o_totalprice") * 100)
         * F.when(F.col("o_orderkey") % 101 == 0, 40).otherwise(1))
        .cast("long").alias("cents"))
    return outlier_flags(o, ["grp"], "cents", z_permille=3000)


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    outlier_flags_sql as _outlier_sql,
)

_OUTLIER_IN_SQL = """SELECT o_custkey % 200 AS grp,
  o_orderkey AS rid,
  CAST(floor(o_totalprice * 100)
       * CASE WHEN o_orderkey % 101 = 0 THEN 40 ELSE 1 END AS BIGINT)
    AS cents
FROM orders"""

REL_OUTLIER_FLAGS_SQL = _outlier_sql(
    _OUTLIER_IN_SQL, ["grp"], "cents", ["grp", "rid", "cents"],
    z_permille=3000)


def rel_retention(spark, sf_dir):
    """Cohort retention triangle (temporal.retention_cohorts, weekly
    periods) over events — early (user, period) dedup, one
    groupBy(user) anchor, co-partitioned self-join, plain count.
    Oracle: min-over-window spelling."""
    from biocypher_metta_spark.operators.temporal import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"),
                             "user_id", "ts", period_days=7)


from biocypher_metta_spark.operators.temporal import (  # noqa: E402
    retention_cohorts_sql as _retention_sql,
)

REL_RETENTION_SQL = _retention_sql(
    "SELECT user_id, ts FROM events", "user_id", "ts", period_days=7)


def rel_dq_profile(spark, sf_dir):
    """Data-quality column profiling (profiling.profile_columns):
    null / empty / exact-distinct / length / min-max metrics for four
    customer columns with planted nulls and empty strings, computed
    in ONE Expand-aggregate pass. Oracle: per-column UNION ALL scans
    — the opposite plan."""
    from biocypher_metta_spark.operators.profiling import profile_columns

    c = _t(spark, sf_dir, "customer")
    rec = c.select(
        F.when(F.col("c_custkey") % 9 == 0, F.lit(None).cast("string"))
        .when(F.col("c_custkey") % 9 == 1, F.lit(""))
        .otherwise(F.col("c_name")).alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_custkey").alias("ckey"),
        F.when(F.col("c_nationkey") % 5 == 0,
               F.lit(None).cast("long"))
        .otherwise(F.col("c_nationkey").cast("long")).alias("nkey"))
    return profile_columns(rec, ["name", "seg", "ckey", "nkey"])


from biocypher_metta_spark.operators.profiling import (  # noqa: E402
    fk_violations_sql as _fk_violations_sql,
    profile_columns_sql as _profile_sql,
)

_DQ_IN_SQL = """SELECT
  CASE WHEN c_custkey % 9 = 0 THEN NULL
       WHEN c_custkey % 9 = 1 THEN ''
       ELSE c_name END AS name,
  c_mktsegment AS seg,
  c_custkey AS ckey,
  CASE WHEN c_nationkey % 5 = 0 THEN NULL
       ELSE CAST(c_nationkey AS BIGINT) END AS nkey
FROM customer"""

REL_DQ_PROFILE_SQL = _profile_sql(
    _DQ_IN_SQL, [("name", "string"), ("seg", "string"),
                 ("ckey", "int"), ("nkey", "int")])


def rel_fk_check(spark, sf_dir):
    """Referential-integrity check (profiling.fk_violations): orders
    rows whose customer key was perturbed out of range (every 97th
    key pushed past the keyspace) surface as orphans via LEFT ANTI
    join; NULL fks (every 89th) are excluded by contract. Oracle:
    NOT EXISTS spelling."""
    from biocypher_metta_spark.operators.profiling import fk_violations

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.when(F.col("o_orderkey") % 89 == 0, F.lit(None).cast("long"))
        .when(F.col("o_orderkey") % 97 == 0,
              F.col("o_custkey") + F.lit(10_000_000_000))
        .otherwise(F.col("o_custkey")).alias("cust_fk"))
    c = _t(spark, sf_dir, "customer")
    return fk_violations(o, "cust_fk", c, "c_custkey").select(
        "cust_fk", "o_orderkey")


_FK_CHILD_SQL = """SELECT o_orderkey,
  CASE WHEN o_orderkey % 89 = 0 THEN NULL
       WHEN o_orderkey % 97 = 0 THEN o_custkey + 10000000000
       ELSE o_custkey END AS cust_fk
FROM orders"""

REL_FK_CHECK_SQL = _fk_violations_sql(
    _FK_CHILD_SQL, "cust_fk", "SELECT c_custkey FROM customer",
    "c_custkey", ["cust_fk", "o_orderkey"])


def rel_funnel(spark, sf_dir):
    """Ordered-funnel analysis (temporal.funnel_stages): per user the
    longest completed prefix of signup -> view -> click -> purchase,
    by one shuffle + a JVM-side greedy prefix scan over the sorted
    (ts, step_index) array. Oracle: the iterative min-timestamp
    chained-join spelling — a completely different plan."""
    from biocypher_metta_spark.operators.temporal import funnel_stages

    ev = _t(spark, sf_dir, "events")
    return funnel_stages(ev, "user_id", "ts", "event_type",
                         ["signup", "view", "click", "purchase"])


from biocypher_metta_spark.operators.temporal import (  # noqa: E402
    funnel_stages_sql as _funnel_sql,
)

REL_FUNNEL_SQL = _funnel_sql(
    "SELECT user_id, ts, event_type FROM events",
    "user_id", "ts", "event_type",
    ["signup", "view", "click", "purchase"])


def kg_entity_resolution(spark, sf_dir):
    """Entity-resolution capstone (er.resolve_entities): fuzzy-match
    -> cluster -> golden record, composed from three independently
    oracled operators (set_similarity_join, connected_components,
    survivorship_merge). Records synthesized from customer: entity
    e = custkey div 30 (bounded cluster size at EVERY sf — cluster
    COUNT scales with data, never cluster size), match names of 4
    tokens where two are entity-unique, one is a shared coarse group
    (dropped for rid%5==0 rows, so some records only connect via a
    same-variant partner and, at tiny sf, legitimately fall out as
    singletons), one a per-record variant. tau=600 separates
    within-entity (>=600) from cross-entity (<=400) by integer
    arithmetic. Oracle: brute-force token join + recursive-CTE
    reachability + window-rank survivorship — every stage a
    different strategy from the Spark side."""
    from biocypher_metta_spark.er import resolve_entities

    c = _t(spark, sf_dir, "customer")
    e = F.expr("c_custkey div 30")
    rec = c.select(
        F.col("c_custkey").alias("rid"),
        F.concat_ws(
            " ",
            F.concat(F.lit("ent"), e.cast("string")),
            F.concat(F.lit("id"), e.cast("string")),
            F.when(F.col("c_custkey") % 5 != 0,
                   F.concat(F.lit("grp"), (e % 97).cast("string"))),
            F.concat(F.lit("v"), e.cast("string"), F.lit("_"),
                     (F.col("c_custkey") % 3).cast("string")),
        ).alias("mname"),
        (F.col("c_nationkey") % 3).alias("src_rank"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_name")).alias("name"),
        F.when(F.col("c_custkey") % 6 == 0, F.lit(None).cast("long"))
        .otherwise(F.floor(F.col("c_acctbal") * 100).cast("long"))
        .alias("acct_cents"))
    return resolve_entities(rec, "rid", "mname", ["src_rank", "rid"],
                            ["name", "acct_cents"], tau_permille=600)


from biocypher_metta_spark.er import (  # noqa: E402
    resolve_entities_sql as _resolve_entities_sql,
)

_ER_REC_SQL = """SELECT c_custkey AS rid,
  concat_ws(' ',
    'ent' || CAST(c_custkey // 30 AS VARCHAR),
    'id' || CAST(c_custkey // 30 AS VARCHAR),
    CASE WHEN c_custkey % 5 <> 0
         THEN 'grp' || CAST((c_custkey // 30) % 97 AS VARCHAR) END,
    'v' || CAST(c_custkey // 30 AS VARCHAR) || '_'
        || CAST(c_custkey % 3 AS VARCHAR)) AS mname,
  c_nationkey % 3 AS src_rank,
  CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_name END AS name,
  CASE WHEN c_custkey % 6 = 0 THEN NULL
       ELSE CAST(floor(c_acctbal * 100) AS BIGINT) END AS acct_cents
FROM customer"""

KG_ENTITY_RESOLUTION_SQL = _resolve_entities_sql(
    _ER_REC_SQL, "rid", "mname", ["src_rank", "rid"],
    ["name", "acct_cents"], tau_permille=600)


def rel_ewma(spark, sf_dir):
    """Integer-exact EWMA smoothing (temporal.ewma, decay 1/2,
    lookback 32) over per-customer-bucket daily order cents — the
    time-series trend primitive next to gapfill/rollup. The groupBy
    pre-pass guarantees the unique-(key, ts) caller contract. Oracle:
    the self-join-by-row_number-distance spelling with the same
    dyadic weights (temporal.ewma_sql)."""
    from biocypher_metta_spark.operators.temporal import ewma

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    obs = (o.select((F.col("o_custkey") % 100).alias("grp"),
                    day.cast("long").alias("day"),
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    .alias("c"))
           .groupBy("grp", "day").agg(F.max("c").alias("cents")))
    return ewma(obs, "grp", "day", "cents")


from biocypher_metta_spark.operators.temporal import (  # noqa: E402
    ewma_sql as _ewma_sql,
)

_EWMA_OBS_SQL = """SELECT o_custkey % 100 AS grp,
  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day,
  max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
FROM orders GROUP BY 1, 2"""

REL_EWMA_SQL = _ewma_sql(_EWMA_OBS_SQL, "grp", "day", "cents")


def rel_pivot(spark, sf_dir):
    """PIVOT: groupBy().pivot() with an EXPLICIT value list — the
    explicit list matters at scale because it skips the eager
    distinct-values discovery job and plans one single-shuffle
    partial aggregate over group x pivot keys. Money stays integer
    cents (floor(price*100)) so sums are exact in any engine. Oracle:
    the FILTER-aggregate spelling, DuckDB's independent form."""
    o = _t(spark, sf_dir, "orders")
    p = (o.select("o_orderpriority", "o_orderstatus",
                  F.floor(F.col("o_totalprice") * 100).cast("long")
                  .alias("cents"))
         .groupBy("o_orderpriority")
         .pivot("o_orderstatus", ["F", "O", "P"])
         .agg(F.sum("cents")))
    return p.select("o_orderpriority",
                    F.col("F").alias("cents_f"),
                    F.col("O").alias("cents_o"),
                    F.col("P").alias("cents_p"))


REL_PIVOT_SQL = """
SELECT o_orderpriority,
  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
       FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS cents_f,
  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
       FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS cents_o,
  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
       FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS cents_p
FROM orders
GROUP BY o_orderpriority
"""

def kg_cooccurrence(spark, sf_dir):
    """Bipartite projection (graph.cooccurrence_edges): document
    token memberships -> weighted token co-occurrence edges with the
    per-doc quadratic-fanout cap ACTIVE (max_items_per_doc=8, far
    below the docs' distinct-token counts, so the gate exercises the
    hash down-sample path, not just the happy path) and min_count=3
    pruning the pair tail. Oracle: the twin generated from the same
    recurrence with the identical md5 cap hash."""
    d = _t(spark, sf_dir, "documents")
    mem = (d.select(F.col("doc_id").cast("long").alias("doc"),
                    F.explode(text_ops.tokens(F.col("text")))
                    .alias("tok"))
           .filter(F.col("tok") != ""))
    return graph_ops.cooccurrence_edges(
        mem, "doc", "tok", min_count=3, max_items_per_doc=8)


_COOC_MEMBERS_SQL = r"""SELECT doc, tok FROM (
  SELECT CAST(doc_id AS BIGINT) AS doc,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
) WHERE tok <> ''"""

KG_COOCCURRENCE_SQL = graph_ops.cooccurrence_edges_sql(
    _COOC_MEMBERS_SQL, "doc", "tok", min_count=3, max_items_per_doc=8)


def doc_weighted_sample(spark, sf_dir):
    """Weighted without-replacement draw (sampling.weighted_sample,
    priority sampling): 10 docs per language, weight = text length,
    so long docs are near-certain picks and short ones proportional.
    Oracle: the row_number-over-(w/(h+1)) spelling — double division
    is IEEE-correctly-rounded in both engines, which is the whole
    reason the operator uses w/u priorities instead of the
    libm-dependent u^(1/w) key."""
    d = _t(spark, sf_dir, "documents")
    wdf = d.select("doc_id", "lang",
                   F.length("text").cast("long").alias("wt"))
    return sampling_ops.weighted_sample(
        wdf, 10, "wt", strata_cols=["lang"], id_col="doc_id",
        salt="gate5w")


DOC_WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, lang, wt, sample_rank FROM (
  SELECT doc_id, lang, wt,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST(wt AS DOUBLE) / (h + 1) DESC, doc_id
         ) AS sample_rank
  FROM (
    SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS wt,
           ('0x' || substr(md5('gate5w:' || CAST(doc_id AS VARCHAR)),
                           1, 15))::BIGINT AS h
    FROM documents
  ) WHERE wt IS NOT NULL AND wt > 0
) WHERE sample_rank <= 10
"""

_MARKUP_PREFIX = ('<html><head><style>p{color:red}</style></head>'
                  '<body><p class="x">')
_MARKUP_SUFFIX = ('</p><script>var x = 1 < 2;</script>'
                  '<!-- footer -->&amp; &lt;fin&gt;</body></html>')


def doc_strip_markup(spark, sf_dir):
    """HTML stripping (text.strip_markup): each doc wrapped in a
    deterministic page skeleton — style/script content, a comment,
    real tags, and ESCAPED markup (&lt;fin&gt; must survive as
    literal '<fin>' text, not get stripped) — then cleaned. Oracle:
    the twin chain generated from the same MARKUP_RULES list."""
    d = _t(spark, sf_dir, "documents")
    marked = d.select(
        "doc_id",
        F.concat(F.lit(_MARKUP_PREFIX), F.col("text"),
                 F.lit(_MARKUP_SUFFIX)).alias("text"))
    return text_ops.strip_markup(marked)


DOC_STRIP_MARKUP_SQL = f"""
SELECT doc_id, {text_ops.strip_markup_sql(
    "'" + _MARKUP_PREFIX.replace("'", "''") + "' || text || '"
    + _MARKUP_SUFFIX.replace("'", "''") + "'")} AS clean_text
FROM documents
"""


def kg_jaccard_links(spark, sf_dir):
    """Neighborhood-Jaccard link prediction
    (graph.neighborhood_jaccard, min_common=2) over the same planted
    two-nuclei-plus-bridge graph as kg_lpa: within-nucleus pairs
    share many neighbors (high permille), cross-bridge pairs share
    none and must be absent. Oracle: the composed twin
    (cooccurrence projection of the adjacency + degree joins,
    integer floor permille)."""
    ids = _ids(spark, sf_dir)
    ca = ids.select((F.col("i") % 10).alias("src"),
                    ((F.col("i") / 3).cast("long") % 10).alias("dst"))
    cb = ids.select((F.col("i") % 10 + 200).alias("src"),
                    ((F.col("i") / 3).cast("long") % 10 + 200).alias("dst"))
    bridge = ids.select((F.col("i") % 1 + 5).alias("src"),
                        (F.col("i") % 1 + 205).alias("dst"))
    return graph_ops.neighborhood_jaccard(
        ca.unionAll(cb).unionAll(bridge), min_common=2)


KG_JACCARD_LINKS_SQL = graph_ops.neighborhood_jaccard_sql(
    _LPA_EDGES_SQL, min_common=2)


def kg_bfs(spark, sf_dir):
    """Multi-source bounded BFS distances (graph.bfs_distances,
    max_depth=8) over a pseudorandom out-degree-2 graph on 5000 nodes
    (i -> 7i+3 and i -> 3i+1, mod 5000 — cyclic, so the depth bound
    is load-bearing, and branching, so frontiers genuinely merge and
    the settled anti-join earns its keep) from a 5-seed source set:
    the distance-to-trusted-seed primitive completing the
    iterative-graph family next to kg_isa_closure's unbounded
    reachability. Oracle: recursive-CTE walk enumeration + min(dist)
    — an independent evaluation strategy for the same answer
    (graph.bfs_distances_sql)."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 5000
    edges = (ids.select(m.alias("src"), ((m * 7 + 3) % 5000).alias("dst"))
             .unionAll(ids.select(m.alias("src"),
                                  ((m * 3 + 1) % 5000).alias("dst"))))
    sources = ids.filter("i < 5").select(F.col("i").alias("node"))
    return graph_ops.bfs_distances(edges, sources, max_depth=8)


_BFS_EDGES_SQL = """SELECT i % 5000 AS src, ((i % 5000) * 7 + 3) % 5000 AS dst
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
UNION ALL SELECT i % 5000, ((i % 5000) * 3 + 1) % 5000
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)"""
_BFS_SOURCES_SQL = """SELECT CAST(doc_id AS BIGINT) AS node
  FROM documents WHERE CAST(doc_id AS BIGINT) < 5"""

KG_BFS_SQL = graph_ops.bfs_distances_sql(
    _BFS_EDGES_SQL, _BFS_SOURCES_SQL, max_depth=8)


def kg_sssp(spark, sf_dir):
    """Bounded weighted shortest paths (graph.sssp_bounded, Bellman-
    Ford frontier relaxation, 6 rounds) over the same pseudorandom
    out-degree-2 cyclic graph as kg_bfs but with deterministic edge
    weights 1 + (src*3 + dst) % 7 — the weighted sibling: the cheapest
    path is frequently NOT the fewest-hop path, so the min-combine
    relaxation earns its keep over plain BFS. Oracle: recursive-CTE
    (node, cost, hops) walk enumeration + min(cost)
    (graph.sssp_bounded_sql) — an independent evaluation strategy."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 5000
    half = ids.select(m.alias("src"), ((m * 7 + 3) % 5000).alias("dst"))
    edges = (half.unionAll(
        ids.select(m.alias("src"), ((m * 3 + 1) % 5000).alias("dst")))
        .select("src", "dst",
                (1 + (F.col("src") * 3 + F.col("dst")) % 7).alias("w")))
    sources = ids.filter("i < 5").select(F.col("i").alias("node"))
    return graph_ops.sssp_bounded(edges, sources, rounds=6)


_SSSP_EDGES_SQL = """SELECT src, dst, 1 + (src * 3 + dst) % 7 AS w FROM (
  SELECT i % 5000 AS src, ((i % 5000) * 7 + 3) % 5000 AS dst
    FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
  UNION ALL SELECT i % 5000, ((i % 5000) * 3 + 1) % 5000
    FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents))"""

KG_SSSP_SQL = graph_ops.sssp_bounded_sql(
    _SSSP_EDGES_SQL, _BFS_SOURCES_SQL, rounds=6)


def kg_random_walks(spark, sf_dir):
    """Deterministic DeepWalk-style corpus generation
    (graph.random_walks, walk_len=4, reps=2) over the kg_bfs
    pseudorandom graph restricted to 512 nodes (so the gate emits a
    bounded ~5k-row corpus): KG -> reproducible token-sequence
    training data, every step a pure hash function of (start, rep,
    step, current) — the bridge between the triple tables the engine
    materializes and an LLM pretraining pipeline. Oracle: the steps
    unrolled as generated CTEs from the same hash recipe
    (graph.random_walks_sql)."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 512
    edges = (ids.select(m.alias("src"), ((m * 7 + 3) % 512).alias("dst"))
             .unionAll(ids.select(m.alias("src"),
                                  ((m * 3 + 1) % 512).alias("dst"))))
    return graph_ops.random_walks(edges, walk_len=4, reps=2)


_RW_EDGES_SQL = """SELECT i % 512 AS src, ((i % 512) * 7 + 3) % 512 AS dst
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
UNION ALL SELECT i % 512, ((i % 512) * 3 + 1) % 512
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)"""

KG_RANDOM_WALKS_SQL = graph_ops.random_walks_sql(
    _RW_EDGES_SQL, walk_len=4, reps=2)


def kg_wl_colors(spark, sf_dir):
    """Weisfeiler-Leman structural signatures (graph.wl_colors, 2
    refinement rounds, bounded additive neighborhood digests) over the
    512-node pseudorandom graph: equal colors = nodes the 2-round WL
    test cannot tell apart — the structure-level dedup/role primitive
    complementing kg_entity_resolution's value-level matching. Oracle:
    rounds unrolled as generated CTEs from the same hash recipe
    (graph.wl_colors_sql)."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 512
    edges = (ids.select(m.alias("src"), ((m * 7 + 3) % 512).alias("dst"))
             .unionAll(ids.select(m.alias("src"),
                                  ((m * 3 + 1) % 512).alias("dst"))))
    return graph_ops.wl_colors(edges, rounds=2)


KG_WL_COLORS_SQL = graph_ops.wl_colors_sql(_RW_EDGES_SQL, rounds=2)


def kg_temporal_reach(spark, sf_dir):
    """Earliest-arrival reachability over a temporal contact graph
    (graph.temporal_reachability, 5 hops): contacts derived from the
    events table (src = user_id, dst = (user_id*7+3) % 50 at the
    event's second offset from corpus start), seeds = user 0 released
    at t=0 and user 1 released one day in — static reachability would
    claim every chain regardless of edge ORDER; the time-respecting
    constraint (each hop's contact >= arrival at its tail) is what the
    gate hashes. Timestamps enter as seconds RELATIVE to 2024-01-01 so
    engine timezone conventions cancel. Oracle: recursive-CTE walk
    enumeration under the same constraint
    (graph.temporal_reachability_sql)."""
    ev = _t(spark, sf_dir, "events")
    rel = (F.unix_timestamp(F.col("ts"))
           - F.unix_timestamp(F.lit("2024-01-01 00:00:00")
                              .cast("timestamp"))).cast("long")
    edges = ev.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 7 + 3) % 50).alias("dst"),
        rel.alias("t"))
    sources = spark.createDataFrame(
        [(0, 0), (1, 86400)], "node: long, t0: long")
    return graph_ops.temporal_reachability(edges, sources, max_hops=5,
                                           ts="t")


_TREACH_EDGES_SQL = """SELECT user_id AS src,
       (user_id * 7 + 3) % 50 AS dst,
       CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(TIMESTAMP '2024-01-01 00:00:00')) AS BIGINT)
         AS t
FROM events"""
_TREACH_SOURCES_SQL = ("SELECT * FROM (VALUES (0, 0), (1, 86400)) "
                       "t(node, t0)")

KG_TEMPORAL_REACH_SQL = graph_ops.temporal_reachability_sql(
    _TREACH_EDGES_SQL, _TREACH_SOURCES_SQL, max_hops=5, ts="t")


def kg_ppr(spark, sf_dir):
    """Personalized PageRank (graph.personalized_pagerank, 4 rounds,
    integer fixed-point) over the 512-node pseudorandom graph with
    seeds {0, 7, 42}: all teleport AND dangling mass restarts at the
    seeds, so rank measures importance relative to them — the KG
    retrieval prior. Nodes outside the seeded component hold rank
    exactly 0 (pinned by test). Oracle: the iterations unrolled as
    generated CTEs from the same integer formula
    (graph.personalized_pagerank_sql)."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 512
    edges = (ids.select(m.alias("src"), ((m * 7 + 3) % 512).alias("dst"))
             .unionAll(ids.select(m.alias("src"),
                                  ((m * 3 + 1) % 512).alias("dst"))))
    seeds = spark.createDataFrame([(0,), (7,), (42,)], "id: long")
    return graph_ops.personalized_pagerank(edges, seeds, iterations=4)


KG_PPR_SQL = graph_ops.personalized_pagerank_sql(
    _RW_EDGES_SQL,
    "SELECT * FROM (VALUES (0), (7), (42)) t(id)", iterations=4)


def kg_schema_validate(spark, sf_dir):
    """Schema-driven triple validation (operators/validate.py,
    SHACL-lite over the BioCypher constraint shape): a synthetic KG
    derived from document ids — 400 nodes cycling gene/ncrna/
    transcript/protein/pathway, mostly-valid transcribed_to/member_of
    edges (ncrna sources pass via the ncrna is_a gene hierarchy), plus
    PLANTED dangling / wrong-src-type / unknown-label edges and the
    natural duplicates where doc ids wrap past 400 — the validator
    must emit exactly the planted violation set. Oracle recomputes all
    five rules with a recursive-CTE closure
    (validate.validate_triples_sql)."""
    from biocypher_metta_spark.operators.validate import validate_triples

    ids = _ids(spark, sf_dir)
    m = F.col("i") % 400
    lab = F.element_at(
        F.array(F.lit("gene"), F.lit("ncrna"), F.lit("transcript"),
                F.lit("protein"), F.lit("pathway")),
        (m % 5 + 1).cast("int"))
    nodes = ids.select(F.concat(F.lit("n"), m).alias("id"),
                       lab.alias("label")).distinct()

    def _edge(cond, s, t, label):
        return ids.filter(cond).select(
            s.alias("src"), t.alias("tgt"), F.lit(label).alias("label"))

    nm = F.concat(F.lit("n"), m)
    edges = (
        # valid: gene -> transcript (incl. wrap duplicates)
        _edge(m % 5 == 0, nm, F.concat(F.lit("n"), (m + 2) % 400),
              "transcribed_to")
        # valid via is_a: ncrna -> transcript
        .unionByName(_edge(m % 5 == 1, nm,
                           F.concat(F.lit("n"), (m + 1) % 400),
                           "transcribed_to"))
        # valid: protein -> pathway
        .unionByName(_edge(m % 5 == 3, nm,
                           F.concat(F.lit("n"), (m + 1) % 400),
                           "member_of"))
        # planted: dangling target
        .unionByName(_edge(m % 80 == 6, nm,
                           F.concat(F.lit("zz"), m), "transcribed_to"))
        # planted: wrong source type (transcript as transcribed_to src)
        .unionByName(_edge(m % 80 == 12, nm,
                           F.concat(F.lit("n"), (m + 5) % 400),
                           "transcribed_to"))
        # planted: unknown edge label
        .unionByName(_edge(m % 80 == 24, nm, nm, "annotates")))
    cons = spark.createDataFrame(
        [("transcribed_to", "gene", "transcript"),
         ("translates_to", "transcript", "protein"),
         ("member_of", "protein", "pathway")],
        "edge_label: string, src_label: string, tgt_label: string")
    isa = spark.createDataFrame([("ncrna", "gene")],
                                "child: string, parent: string")
    return validate_triples(nodes, edges, cons, isa)


def _schema_validate_sql():
    from biocypher_metta_spark.operators.validate import (
        validate_triples_sql)

    labels = "['gene', 'ncrna', 'transcript', 'protein', 'pathway']"
    base = ("SELECT CAST(doc_id AS BIGINT) % 400 AS m FROM documents")
    nodes = (f"SELECT DISTINCT 'n' || CAST(m AS VARCHAR) AS id, "
             f"{labels}[CAST(m % 5 AS INT) + 1] AS label FROM ({base})")
    edges = f"""
  SELECT 'n' || CAST(m AS VARCHAR) AS src,
         'n' || CAST((m + 2) % 400 AS VARCHAR) AS tgt,
         'transcribed_to' AS label FROM ({base}) WHERE m % 5 = 0
  UNION ALL SELECT 'n' || CAST(m AS VARCHAR),
         'n' || CAST((m + 1) % 400 AS VARCHAR), 'transcribed_to'
    FROM ({base}) WHERE m % 5 = 1
  UNION ALL SELECT 'n' || CAST(m AS VARCHAR),
         'n' || CAST((m + 1) % 400 AS VARCHAR), 'member_of'
    FROM ({base}) WHERE m % 5 = 3
  UNION ALL SELECT 'n' || CAST(m AS VARCHAR),
         'zz' || CAST(m AS VARCHAR), 'transcribed_to'
    FROM ({base}) WHERE m % 80 = 6
  UNION ALL SELECT 'n' || CAST(m AS VARCHAR),
         'n' || CAST((m + 5) % 400 AS VARCHAR), 'transcribed_to'
    FROM ({base}) WHERE m % 80 = 12
  UNION ALL SELECT 'n' || CAST(m AS VARCHAR),
         'n' || CAST(m AS VARCHAR), 'annotates'
    FROM ({base}) WHERE m % 80 = 24"""
    cons = ("SELECT * FROM (VALUES "
            "('transcribed_to', 'gene', 'transcript'), "
            "('translates_to', 'transcript', 'protein'), "
            "('member_of', 'protein', 'pathway')) "
            "t(edge_label, src_label, tgt_label)")
    isa = "SELECT * FROM (VALUES ('ncrna', 'gene')) t(child, parent)"
    return validate_triples_sql(nodes, edges, cons, isa)


QUERIES["kg_schema_validate"] = (kg_schema_validate,
                                 _schema_validate_sql())


def kg_ntriples(spark, sf_dir):
    """Fourth sink in the pluggable-writer family (MeTTa atoms, Prolog
    facts, Neo4j CSV -> W3C N-Triples): the same windowed gene nodes
    rendered as rdf:type + literal-property statements plus
    transcribed_to predicate statements (sinks.ntriples_node_lines /
    ntriples_edge_lines — pure column concat, map-only). The twin
    rebuilds the exact statement strings in SQL; ECHAR/percent
    escaping is pinned by unit tests with hostile ids/values."""
    from biocypher_metta_spark import sinks

    typed = kg_gtf_gene_nodes(spark, sf_dir)
    nodes = typed.select("id", F.lit("gene").alias("label"), "chr")
    nl = sinks.ntriples_node_lines(nodes, ["chr"])
    edges = typed.select(
        F.col("id").alias("src"),
        F.concat(F.lit("t_"), F.col("id")).alias("tgt"),
        F.lit("transcribed_to").alias("label"))
    el = sinks.ntriples_edge_lines(edges, "gene", "transcript")
    return nl.unionByName(el)


KG_NTRIPLES_SQL = f"""
WITH g AS (
  SELECT lower({_DUCK['gene_base']}) AS id, {_DUCK['chrom']} AS chr
  FROM documents
  WHERE {_DUCK['chrom']} = 'chr16'
    AND {_DUCK['start']} >= {KG_WINDOW['start']}
    AND {_DUCK['end']} <= {KG_WINDOW['end']}
)
SELECT line FROM (
  SELECT '<http://biocypher.example/gene/' || id
         || '> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
         || ' <http://biocypher.example/class/gene> .' AS line FROM g
  UNION ALL
  SELECT '<http://biocypher.example/gene/' || id
         || '> <http://biocypher.example/prop/chr> "' || chr
         || '" .' FROM g
  UNION ALL
  SELECT '<http://biocypher.example/gene/' || id
         || '> <http://biocypher.example/rel/transcribed_to>'
         || ' <http://biocypher.example/transcript/t_' || id
         || '> .' FROM g
)
"""

QUERIES["kg_ntriples"] = (kg_ntriples, KG_NTRIPLES_SQL)


def doc_bpe_train(spark, sf_dir):
    """Distributed BPE merge learning (bpe.train_bpe, 8 merges) over
    the documents corpus: one corpus-sized word-count shuffle, then
    every round runs on the bounded vocabulary weighted by word
    frequency. Oracle: the identical recurrence in long-format SQL
    with gaps-and-islands parity instead of the Spark-side fold."""
    from biocypher_metta_spark.operators.bpe import train_bpe

    return train_bpe(_t(spark, sf_dir, "documents"), "text", 8)


from biocypher_metta_spark.operators.bpe import (  # noqa: E402
    train_bpe_sql as _bpe_sql,
)

DOC_BPE_TRAIN_SQL = _bpe_sql("SELECT text FROM documents", "text", 8)


def doc_bpe_encode(spark, sf_dir):
    """Train-then-encode composition (bpe.bpe_encode_tokens): the 8
    merges learned by train_bpe are applied back to the vocabulary
    and the corpus token-frequency table is emitted — the artifact a
    tokenizer ships with. Oracle: the train twin's round chain
    already carries the rewritten vocab; round 8 is counted
    directly."""
    from biocypher_metta_spark.operators.bpe import (bpe_encode_tokens,
                                                     train_bpe)

    docs = _t(spark, sf_dir, "documents")
    merges = [(r["sym_a"], r["sym_b"])
              for r in train_bpe(docs, "text", 8).collect()]
    return bpe_encode_tokens(docs, "text", merges)


from biocypher_metta_spark.operators.bpe import (  # noqa: E402
    bpe_encode_tokens_sql as _bpe_encode_sql,
)

DOC_BPE_ENCODE_SQL = _bpe_encode_sql(
    "SELECT text FROM documents", "text", 8)


def doc_lm_train(spark, sf_dir):
    """Distributed char-bigram LM training counts
    (text.train_char_bigram_lm): alphabet-bounded aggregate state
    (the CMS/KMV property — output rows never exceed the bigram
    space regardless of corpus size), identical normalization to
    lm_perplexity so the trained model composes exactly. Oracle:
    the positional substr spelling over generate-series."""
    return text_ops.train_char_bigram_lm(_t(spark, sf_dir, "documents"))


DOC_LM_TRAIN_SQL = r"""
WITH lm_s AS MATERIALIZED (
  SELECT ' ' || trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'))
         || ' ' AS s
  FROM documents
), lm_p AS MATERIALIZED (
  SELECT substr(s, CAST(i AS INT), 2) AS bigram
  FROM lm_s, unnest(range(1, length(s))) AS t(i)
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM lm_p GROUP BY 1
"""


from biocypher_metta_spark.functions import genomic  # noqa: E402


def rel_interval_merge(spark, sf_dir):
    """Interval coalescing (genomic.merge_intervals — bedtools
    merge): lineitem ship-day intervals per supplier bucket, slack=2
    days; the mix of per-key densities makes real multi-interval
    blocks AND singletons. Oracle: the island recurrence in DuckDB's
    window spelling (genomic.interval_merge_sql)."""
    li = _t(spark, sf_dir, "lineitem")
    day = F.datediff(F.col("l_shipdate"), F.lit("1992-01-01"))
    iv = li.select((F.col("l_suppkey") % 500).alias("grp"),
                   day.cast("long").alias("start"),
                   (day + F.col("l_linenumber") * 3).cast("long")
                   .alias("end"))
    return genomic.merge_intervals(iv, ["grp"], "start", "end", slack=2)


_INTERVAL_MERGE_IN_SQL = """SELECT l_suppkey % 500 AS grp,
  CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
       AS BIGINT) AS start,
  CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
       + l_linenumber * 3 AS BIGINT) AS "end"
FROM lineitem"""

REL_INTERVAL_MERGE_SQL = genomic.interval_merge_sql(
    _INTERVAL_MERGE_IN_SQL, ["grp"], "start", '"end"', slack=2)


def rel_snapshot_diff(spark, sf_dir):
    """Keyed two-version diff (cdc.snapshot_diff): v1 = orders minus
    every 7th key, v2 = orders minus every 5th key with every 11th
    key's cents bumped — so all three change classes (added /
    removed / changed) occur and unchanged keys (the vast majority)
    are filtered out before materialization. Oracle: FULL OUTER JOIN
    + per-column IS DISTINCT FROM, an independent spelling of the
    null-safe struct comparison."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    old = o.filter(F.col("k") % 7 != 0)
    new = (o.filter(F.col("k") % 5 != 0)
           .withColumn("cents",
                       F.col("cents")
                       + F.when(F.col("k") % 11 == 0, 1).otherwise(0)))
    return cdc_ops.snapshot_diff(old, new, ["k"],
                                 ["o_orderstatus", "cents"])


_SNAPDIFF_BASE_SQL = """SELECT o_orderkey AS k, o_orderstatus,
  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders"""

REL_SNAPSHOT_DIFF_SQL = cdc_ops.snapshot_diff_sql(
    f"SELECT * FROM ({_SNAPDIFF_BASE_SQL}) WHERE k % 7 <> 0",
    f"SELECT k, o_orderstatus, cents + CASE WHEN k % 11 = 0 THEN 1 "
    f"ELSE 0 END AS cents FROM ({_SNAPDIFF_BASE_SQL}) WHERE k % 5 <> 0",
    ["k"], ["o_orderstatus", "cents"])


def web_link_edges(spark, sf_dir):
    """Hyperlink extraction (web.extract_links): each doc becomes a
    page with a duplicated absolute link (must dedup to n_links=2),
    a second absolute link in a single-quoted UPPERCASE attribute,
    and relative / javascript: / fragment links that must be DROPPED
    — all embedded alongside the doc's real text as noise. The
    injected URLs are already in canonical form, so the oracle is
    the expected edge table itself (canonical_url's own transform
    has its dedicated gate, web_canonical_url)."""
    d = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 5).cast("string")
    page = F.concat(
        F.lit('<a href="https://site'), k, F.lit('.com/a?x=1">t</a> '),
        F.lit("<a href='https://site"), k, F.lit(".com/a?x=1'>d</a> "),
        F.lit('<A HREF="http://other'), k, F.lit('.org/p">u</A> '),
        F.lit('<a href="/rel/path">r</a> '),
        F.lit('<a href="javascript:void(0)">j</a> '),
        F.lit('<a href="#frag">f</a> '),
        F.col("text"))
    return web_ops.extract_links(
        d.select(F.col("doc_id").cast("long").alias("doc_id"),
                 page.alias("text")))


WEB_LINK_EDGES_SQL = """
WITH c AS (
  SELECT CAST(doc_id AS BIGINT) AS doc,
         CAST(doc_id % 5 AS VARCHAR) AS k
  FROM documents
)
SELECT doc, 'https://site' || k || '.com/a?x=1' AS url,
       CAST(2 AS BIGINT) AS n_links
FROM c
UNION ALL
SELECT doc, 'http://other' || k || '.org/p', CAST(1 AS BIGINT)
FROM c
"""


def rel_bucketed_join(spark, sf_dir):
    """Bucketed-table co-located join (bucketing.write_bucketed):
    orders and customer land as 8-bucket catalog tables hashed on
    custkey, then join THROUGH the catalog — the layout whose later
    equi-joins run with zero Exchange (plan asserted in
    tests/test_bucketing.py; at gate size Spark may still elect a
    broadcast join, which is allowed to change the PLAN but never
    the rows). Oracle: the plain join — bucketing must change
    layout, never results."""
    import tempfile

    from biocypher_metta_spark import bucketing

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    tmp = tempfile.mkdtemp(prefix="bcm_bkt_")
    bucketing.write_bucketed(o, "bcm_gate_bkt_orders", ["o_custkey"], 8,
                             sort_cols=["o_custkey"], path=f"{tmp}/o")
    bucketing.write_bucketed(c, "bcm_gate_bkt_customer", ["c_custkey"], 8,
                             sort_cols=["c_custkey"], path=f"{tmp}/c")
    ob = bucketing.bucketed(spark, "bcm_gate_bkt_orders")
    cb = bucketing.bucketed(spark, "bcm_gate_bkt_customer")
    return (ob.join(cb, ob.o_custkey == cb.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum("cents").alias("sum_cents")))


REL_BUCKETED_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n_rows,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


QUERIES.update({
    "doc_ngram_excise": (doc_ngram_excise, DOC_NGRAM_EXCISE_SQL),
    "doc_bm25_join": (doc_bm25_join, DOC_BM25_JOIN_SQL),
    "doc_hash_sample": (doc_hash_sample, DOC_HASH_SAMPLE_SQL),
    "doc_stratified_sample": (doc_stratified_sample,
                              DOC_STRATIFIED_SAMPLE_SQL),
    "web_domain_cap": (web_domain_cap, WEB_DOMAIN_CAP_SQL),
    "doc_bm25_topk": (doc_bm25_topk, DOC_BM25_SQL),
    "doc_cms_topfreq": (doc_cms_topfreq, DOC_CMS_SQL),
    "kg_pagerank": (kg_pagerank, KG_PAGERANK_SQL),
    "emb_semantic_dedup": (emb_semantic_dedup, EMB_SEMANTIC_DEDUP_SQL),
    "kg_triangles": (kg_triangles, KG_TRIANGLES_SQL),
    "kg_kcore": (kg_kcore, KG_KCORE_SQL),
    "rel_bloom_prefilter": (rel_bloom_prefilter, REL_BLOOM_PREFILTER_SQL),
    "rel_changelog_compact": (rel_changelog_compact,
                              REL_CHANGELOG_COMPACT_SQL),
    "rel_scd2_intervals": (rel_scd2_intervals, REL_SCD2_INTERVALS_SQL),
    "rel_salted_join": (rel_salted_join, REL_SALTED_JOIN_SQL),
    "kg_lpa": (kg_lpa, KG_LPA_SQL),
    "rel_gapfill_locf": (rel_gapfill_locf, REL_GAPFILL_LOCF_SQL),
    "rel_ewma": (rel_ewma, REL_EWMA_SQL),
    "kg_survivorship": (kg_survivorship, KG_SURVIVORSHIP_SQL),
    "kg_entity_resolution": (kg_entity_resolution, KG_ENTITY_RESOLUTION_SQL),
    "rel_funnel": (rel_funnel, REL_FUNNEL_SQL),
    "rel_dq_profile": (rel_dq_profile, REL_DQ_PROFILE_SQL),
    "rel_retention": (rel_retention, REL_RETENTION_SQL),
    "rel_outlier_flags": (rel_outlier_flags, REL_OUTLIER_FLAGS_SQL),
    "rel_fuzzy_join": (rel_fuzzy_join, REL_FUZZY_JOIN_SQL),
    "rel_event_transitions": (rel_event_transitions,
                              REL_EVENT_TRANSITIONS_SQL),
    "rel_twap": (rel_twap, REL_TWAP_SQL),
    "rel_funnel_windowed": (rel_funnel_windowed, REL_FUNNEL_WINDOWED_SQL),
    "doc_bpe_train": (doc_bpe_train, DOC_BPE_TRAIN_SQL),
    "doc_bpe_encode": (doc_bpe_encode, DOC_BPE_ENCODE_SQL),
    "rel_fk_check": (rel_fk_check, REL_FK_CHECK_SQL),
    "rel_pivot": (rel_pivot, REL_PIVOT_SQL),
    "kg_cooccurrence": (kg_cooccurrence, KG_COOCCURRENCE_SQL),
    "doc_weighted_sample": (doc_weighted_sample, DOC_WEIGHTED_SAMPLE_SQL),
    "rel_bucketed_join": (rel_bucketed_join, REL_BUCKETED_JOIN_SQL),
    "doc_strip_markup": (doc_strip_markup, DOC_STRIP_MARKUP_SQL),
    "web_link_edges": (web_link_edges, WEB_LINK_EDGES_SQL),
    "rel_interval_merge": (rel_interval_merge, REL_INTERVAL_MERGE_SQL),
    "rel_snapshot_diff": (rel_snapshot_diff, REL_SNAPSHOT_DIFF_SQL),
    "kg_jaccard_links": (kg_jaccard_links, KG_JACCARD_LINKS_SQL),
    "kg_bfs": (kg_bfs, KG_BFS_SQL),
    "kg_sssp": (kg_sssp, KG_SSSP_SQL),
    "kg_random_walks": (kg_random_walks, KG_RANDOM_WALKS_SQL),
    "kg_wl_colors": (kg_wl_colors, KG_WL_COLORS_SQL),
    "kg_temporal_reach": (kg_temporal_reach, KG_TEMPORAL_REACH_SQL),
    "kg_ppr": (kg_ppr, KG_PPR_SQL),
    "doc_lm_train": (doc_lm_train, DOC_LM_TRAIN_SQL),
    "kg_streaming_upsert": (kg_streaming_upsert,
                            REL_CHANGELOG_COMPACT_SQL),
    "doc_set_similarity": (doc_set_similarity, DOC_SET_SIMILARITY_SQL),
})


# ===========================================================================
# Round-5j operators
# ===========================================================================


def rel_itemsets(spark, sf_dir):
    """Market-basket association rules (operators/itemsets.py): baskets
    are orders, items the 40 synthetic part categories l_partkey % 40.
    Hub guard + co-partitioned pair self-join + scalar-subquery basket
    total; exact-integer confidence/lift so the quadratic-CTE DuckDB
    twin hashes identically."""
    from biocypher_metta_spark.operators.itemsets import association_rules

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"),
        F.concat(F.lit("I"), (F.col("l_partkey") % 40).cast("string"))
        .alias("item"))
    return association_rules(li, "basket", "item",
                             min_pair_support=5, max_basket=64)


REL_ITEMSETS_SQL = """
WITH members AS (
  SELECT DISTINCT l_orderkey AS basket,
         'I' || CAST(l_partkey % 40 AS VARCHAR) AS item
  FROM lineitem
), kept AS (
  SELECT basket, item FROM (
    SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz
    FROM members)
  WHERE bsz <= 64
), nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM kept),
sup AS (SELECT item, count(*) AS n_item FROM kept GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, c.item AS item_b, count(*) AS n_pair
  FROM kept a JOIN kept c
    ON a.basket = c.basket AND a.item < c.item
  GROUP BY a.item, c.item
  HAVING count(*) >= 5
), directed AS (
  SELECT item_a AS ante, item_b AS cons, n_pair FROM pairs
  UNION ALL
  SELECT item_b AS ante, item_a AS cons, n_pair FROM pairs
)
SELECT d.ante, d.cons, CAST(d.n_pair AS BIGINT) AS n_pair,
       CAST(sa.n_item AS BIGINT) AS n_ante,
       CAST(floor((1000 * d.n_pair) / sa.n_item) AS BIGINT)
         AS conf_permille,
       CAST(floor((1000 * nb.n_baskets * d.n_pair)
                  / (sa.n_item * sc.n_item)) AS BIGINT) AS lift_milli
FROM directed d
JOIN sup sa ON sa.item = d.ante
JOIN sup sc ON sc.item = d.cons
CROSS JOIN nb
"""

QUERIES["rel_itemsets"] = (rel_itemsets, REL_ITEMSETS_SQL)


def rel_hll_sketch(spark, sf_dir):
    """Engine-portable HyperLogLog (operators/sketch.py): per-event-type
    distinct-user registers from the shared 60-bit md5 hash (bucket =
    low bits, rank via bin()-length — identical in both engines), plus
    an 'all' row estimated FROM the max-merged per-type registers, so
    the gate adjudicates the sketch's mergeability too. Estimator is
    pure int64 (no float harmonic mean): floor(alpha_m2 * 2^40 / S)."""
    from biocypher_metta_spark.operators.sketch import (
        hll_estimate_from_registers, hll_registers_by)

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("scope"),
        F.col("user_id").cast("string").alias("user_id"))
    regs = hll_registers_by(ev, ["scope"], "user_id")
    per = hll_estimate_from_registers(regs, ["scope"])
    merged = (regs.groupBy("bucket")
              .agg(F.max("m").cast("long").alias("m"))
              .withColumn("scope", F.lit("all")))
    allrow = hll_estimate_from_registers(merged, ["scope"])
    return per.unionByName(allrow)


REL_HLL_SKETCH_SQL = """
WITH rb AS (
  SELECT event_type AS scope, h % 64 AS bucket,
         least(55 - length(bin(h // 64)), 40) AS rho
  FROM (
    SELECT event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
             AS h
    FROM events WHERE user_id IS NOT NULL)
), regs AS (
  SELECT scope, bucket, max(rho) AS m FROM rb GROUP BY 1, 2
), both_scopes AS (
  SELECT scope, bucket, m FROM regs
  UNION ALL
  SELECT 'all' AS scope, bucket, max(m) AS m FROM regs GROUP BY 2
), agg AS (
  SELECT scope, CAST(64 - count(*) AS BIGINT) AS n_zero,
         CAST(sum(1::BIGINT << CAST(40 - m AS INTEGER))
              + (64 - count(*)) * (1::BIGINT << 40) AS BIGINT) AS s
  FROM both_scopes GROUP BY 1
)
SELECT scope, n_zero, s,
       CAST(floor((2904 * (1::BIGINT << 40)) / s) AS BIGINT) AS est_fp
FROM agg
"""

QUERIES["rel_hll_sketch"] = (rel_hll_sketch, REL_HLL_SKETCH_SQL)


def kg_link_predict(spark, sf_dir):
    """Resource-allocation link prediction
    (graph.resource_allocation_links, min_common=2) over the same
    planted two-nuclei-plus-bridge graph as kg_lpa/kg_jaccard_links:
    inverse-degree-weighted common-neighbor scores with existing edges
    anti-joined away — the propose-NEW-edges contract, exact-integer
    floor(10^6/deg) terms. Twin = the same algebra in DuckDB with a
    NOT EXISTS anti-join."""
    ids = _ids(spark, sf_dir)
    ca = ids.select((F.col("i") % 10).alias("src"),
                    ((F.col("i") / 3).cast("long") % 10).alias("dst"))
    cb = ids.select((F.col("i") % 10 + 200).alias("src"),
                    ((F.col("i") / 3).cast("long") % 10 + 200).alias("dst"))
    bridge = ids.select((F.col("i") % 1 + 5).alias("src"),
                        (F.col("i") % 1 + 205).alias("dst"))
    return graph_ops.resource_allocation_links(
        ca.unionAll(cb).unionAll(bridge), min_common=2)


KG_LINK_PREDICT_SQL = graph_ops.resource_allocation_links_sql(
    _LPA_EDGES_SQL, min_common=2)

QUERIES["kg_link_predict"] = (kg_link_predict, KG_LINK_PREDICT_SQL)


def doc_winnowing(spark, sf_dir):
    """Winnowing fingerprints (text.winnow_fingerprints, MOSS): the
    position-aware robust fingerprint — rightmost-min of each 4-window
    of 40-bit word-5-gram shingle hashes, argmin carried inside one
    integer key so the cross-engine windowed min() returns hash AND
    position. Any shared run of >= 8 tokens between documents yields a
    shared fingerprint hash."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.winnow_fingerprints(d, n=5, w=4)


DOC_WINNOWING_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), ph AS (
  SELECT doc_id, i AS spos,
         (('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))
           ::BIGINT) % 1099511627776 AS h40
  FROM t, UNNEST(range(1, greatest(len(toks) - 4, 0) + 1)) AS r(i)
), selw AS (
  SELECT doc_id, spos,
         min(h40 * 4194304 + (4194303 - spos)) OVER (
           PARTITION BY doc_id ORDER BY spos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM ph
)
SELECT DISTINCT doc_id,
       CAST(4194303 - (sel % 4194304) AS BIGINT) AS pos,
       CAST(sel // 4194304 AS BIGINT) AS h
FROM selw
WHERE spos <= greatest(n - 3, 1)
"""

QUERIES["doc_winnowing"] = (doc_winnowing, DOC_WINNOWING_SQL)


def web_anchor_text(spark, sf_dir):
    """Anchor-text aggregation (web.anchor_text_summary): each doc's
    page carries a messy-cased multi-space anchor that must normalize to
    'good site', an 'other' anchor on even docs only (strictly rarer,
    so ranks are deterministic), an empty anchor and a relative link
    that must drop. Injected URLs are already canonical, so the
    oracle recomputes the expected per-target counts and ranks from
    the documents table (extraction regexes are additionally twinned
    against DuckDB's regexp engine in the pytest suite)."""
    d = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 5).cast("string")
    even = F.when((F.col("doc_id") % 2) == 0, F.concat(
        F.lit('<a href="https://site'), k,
        F.lit('.com/p">other</a> '))).otherwise(F.lit(""))
    page = F.concat(
        F.lit('<a href="https://site'), k,
        F.lit('.com/p">Good   SITE</a> '),
        even,
        F.lit('<a href="https://site'), k, F.lit('.com/p"></a> '),
        F.lit('<a href="/rel">rel</a> '),
        F.col("text"))
    return web_ops.anchor_text_summary(
        d.select(F.col("doc_id").cast("long").alias("doc_id"),
                 page.alias("text")))


WEB_ANCHOR_TEXT_SQL = """
WITH c AS (
  SELECT CAST(doc_id AS BIGINT) AS d, CAST(doc_id % 5 AS VARCHAR) AS k
  FROM documents
), g AS (
  SELECT 'https://site' || k || '.com/p' AS url,
         'good site' AS anchor, count(*) AS n
  FROM c GROUP BY k
  UNION ALL
  SELECT 'https://site' || k || '.com/p', 'other', count(*)
  FROM c WHERE d % 2 = 0 GROUP BY k
)
SELECT url, anchor, CAST(n AS BIGINT) AS n,
       CAST(row_number() OVER (PARTITION BY url
                               ORDER BY n DESC, anchor) AS BIGINT) AS rank
FROM g
"""

QUERIES["web_anchor_text"] = (web_anchor_text, WEB_ANCHOR_TEXT_SQL)


def rel_autocorr(spark, sf_dir):
    """Lag-k autocorrelation (stats.autocorr, lags 1/2/3) over
    per-customer-bucket weekly order cents — the seasonality
    diagnostic next to ewma/gapfill in the time-series family. The
    groupBy pre-pass guarantees unique (grp, wk) ticks; calendar-lag
    semantics (a gap drops the pair, it is not bridged). Integer
    moments in DECIMAL(38,0) / HUGEINT; floats appear only in the
    final IEEE-identical sqrt/divide (the expr_gene_corr recipe).
    One key shuffle: all three lead() columns ride a single ordered
    window pass. Oracle: stats.autocorr_sql from the same recurrence."""
    from biocypher_metta_spark.operators.stats import autocorr

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    obs = (o.select((F.col("o_custkey") % 20).alias("grp"),
                    F.floor(day / 7).cast("long").alias("wk"),
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    .alias("c"))
           .groupBy("grp", "wk").agg(F.sum("c").alias("cents")))
    return autocorr(obs, ["grp"], "wk", "cents", lags=(1, 2, 3))


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    autocorr_sql as _autocorr_sql,
)

_AUTOCORR_OBS_SQL = """SELECT o_custkey % 20 AS grp,
  CAST(floor(date_diff('day', DATE '1992-01-01',
       CAST(o_orderdate AS DATE)) / 7) AS BIGINT) AS wk,
  sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
FROM orders GROUP BY 1, 2"""

REL_AUTOCORR_SQL = _autocorr_sql(
    _AUTOCORR_OBS_SQL, ["grp"], "wk", "cents", lags=(1, 2, 3))

QUERIES["rel_autocorr"] = (rel_autocorr, REL_AUTOCORR_SQL)


def rel_attribution(spark, sf_dir):
    """Multi-touch attribution (attribution.attribution_credits,
    linear model, 6h lookback): purchases are conversions, every
    other event is a touchpoint on its event_type channel; each
    conversion distributes an integer 1000-milli budget over its
    in-window touches (floor split, remainder pinned to the last
    touch) so per-channel sums are exact in any engine. Relative
    seconds (floor(epoch) = unix_timestamp truncation) cancel
    timezone conventions. One user-key equi-join + one conv-id
    window + a channels-sized groupBy. Oracle: the same recurrence
    from attribution_sql."""
    from biocypher_metta_spark.operators.attribution import (
        attribution_credits,
    )

    ev = _t(spark, sf_dir, "events")
    base = F.unix_timestamp(F.lit("2024-01-01 00:00:00")
                            .cast("timestamp"))
    tick = (F.unix_timestamp("ts") - base).cast("long")
    touches = (ev.filter(F.col("event_type") != "purchase")
               .select("user_id", tick.alias("tick"), "event_type"))
    convs = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id", F.col("event_id").alias("conv_id"),
                     tick.alias("conv_tick")))
    return attribution_credits(
        touches, convs, "user_id", "tick", "event_type",
        "conv_id", "conv_tick", model="linear", lookback_s=6 * 3600)


from biocypher_metta_spark.operators.attribution import (  # noqa: E402
    attribution_sql as _attribution_sql,
)

_ATT_TICK = ("CAST(floor(epoch(ts)) - epoch(TIMESTAMP"
             " '2024-01-01 00:00:00') AS BIGINT)")

REL_ATTRIBUTION_SQL = _attribution_sql(
    f"""SELECT user_id, {_ATT_TICK} AS tick, event_type
FROM events WHERE event_type <> 'purchase'""",
    f"""SELECT user_id, event_id AS conv_id, {_ATT_TICK} AS conv_tick
FROM events WHERE event_type = 'purchase'""",
    "user_id", "tick", "event_type", "conv_id", "conv_tick",
    model="linear", lookback_s=6 * 3600)

QUERIES["rel_attribution"] = (rel_attribution, REL_ATTRIBUTION_SQL)


def rel_crosscorr(spark, sf_dir):
    """Lagged cross-correlation (stats.crosscorr, lags -2..2): does
    view volume lead purchase volume? Per-user-bucket HOURLY view and
    purchase counts form two aligned series; the shared lagged-corr
    core pairs (views_t, buys_{t+k}) via calendar RANGE frames.
    Oracle: crosscorr_sql from the same recurrence."""
    from biocypher_metta_spark.operators.stats import crosscorr

    ev = _t(spark, sf_dir, "events")
    base = F.unix_timestamp(F.lit("2024-01-01 00:00:00")
                            .cast("timestamp"))
    hr = F.floor((F.unix_timestamp("ts") - base) / 3600).cast("long")
    obs = (ev.groupBy((F.col("user_id") % 10).alias("grp"),
                      hr.alias("hr"))
           .agg(F.sum(F.when(F.col("event_type") == "view", 1)
                      .otherwise(0)).cast("long").alias("views"),
                F.sum(F.when(F.col("event_type") == "purchase", 1)
                      .otherwise(0)).cast("long").alias("buys")))
    return crosscorr(obs, ["grp"], "hr", "views", "buys",
                     lags=(-2, -1, 0, 1, 2))


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    crosscorr_sql as _crosscorr_sql,
)

_XC_OBS_SQL = """SELECT user_id % 10 AS grp,
  CAST(floor((floor(epoch(ts))
       - epoch(TIMESTAMP '2024-01-01 00:00:00')) / 3600) AS BIGINT)
    AS hr,
  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
    AS views,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       AS BIGINT) AS buys
FROM events GROUP BY 1, 2"""

REL_CROSSCORR_SQL = _crosscorr_sql(
    _XC_OBS_SQL, ["grp"], "hr", "views", "buys",
    lags=(-2, -1, 0, 1, 2))

QUERIES["rel_crosscorr"] = (rel_crosscorr, REL_CROSSCORR_SQL)


def doc_readability(spark, sf_dir):
    """Flesch-Kincaid grade in milli-units (text.readability) over
    documents — integer-exact after clearing denominators, pmod
    floor, vowel-group syllable heuristic in the shared RE2/Java
    regex subset. Map-only, zero shuffles. Oracle: readability_sql
    (same regexes, HUGEINT ratio)."""
    from biocypher_metta_spark.operators.text import readability

    return readability(_t(spark, sf_dir, "documents"))


from biocypher_metta_spark.operators.text import (  # noqa: E402
    readability_sql as _readability_sql,
)

QUERIES["doc_readability"] = (doc_readability,
                              _readability_sql("documents"))


def rel_benford(spark, sf_dir):
    """Benford first-digit conformity (stats.benford_mad) of order
    price cents per customer bucket — the fraud / fabricated-data /
    unit-mixup screen in the data-quality family next to
    rel_dq_profile and rel_outlier_flags. Pure integer: string
    first-digit (no float log10), integer-div ppm shares, hardcoded
    Benford literals. Oracle: the same recurrence in DuckDB."""
    from biocypher_metta_spark.operators.stats import benford_mad

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 6).alias("grp"),
        F.floor(F.col("o_totalprice") * 100).cast("long")
        .alias("cents"))
    return benford_mad(o, ["grp"], "cents")


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    benford_mad_sql as _benford_sql,
)

REL_BENFORD_SQL = _benford_sql(
    """SELECT o_custkey % 6 AS grp,
  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders""",
    ["grp"], "cents")

QUERIES["rel_benford"] = (rel_benford, REL_BENFORD_SQL)


def kg_ktruss(spark, sf_dir):
    """k-truss support peeling (graph.ktruss, k=5) over a planted
    nucleus-spokes-rim graph engineered for a REAL 3-round cascade:
    an 11-node dense nucleus (support >= 9, survives), rim edges
    (j, j+1) on a 40-node ring arc closing exactly 2 triangles
    (peel round 1), and spoke edges from nucleus nodes 0/1 to every
    rim node closing exactly 3 ({0,1,j} + the two rim triangles) —
    they survive round 1 and die in round 2 once the rim is gone;
    round 3 confirms the fixpoint. Oracle: the unrolled
    MATERIALIZED-CTE twin (graph.ktruss_sql, rounds=4)."""
    ids = _ids(spark, sf_dir)
    i = F.col("i")
    # (i % 11, (i // 11) % 11) has joint period 121, so >= 121 docs
    # yield the COMPLETE K11 (support 9 on every nucleus edge)
    nucleus = ids.select((i % 11).alias("src"),
                         ((i / 11).cast("long") % 11).alias("dst"))
    spoke0 = ids.select(F.lit(0).cast("long").alias("src"),
                        (i % 40 + 100).alias("dst"))
    spoke1 = ids.select(F.lit(1).cast("long").alias("src"),
                        (i % 40 + 100).alias("dst"))
    rim = ids.select((i % 39 + 100).alias("src"),
                     (i % 39 + 101).alias("dst"))
    edges = nucleus.unionAll(spoke0).unionAll(spoke1).unionAll(rim)
    return graph_ops.ktruss(edges, k=5)


_KTRUSS_EDGES_SQL = """SELECT i % 11 AS src, (i // 11) % 11 AS dst
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
UNION ALL SELECT 0, i % 40 + 100
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
UNION ALL SELECT 1, i % 40 + 100
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
UNION ALL SELECT i % 39 + 100, i % 39 + 101
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)"""

KG_KTRUSS_SQL = graph_ops.ktruss_sql(_KTRUSS_EDGES_SQL, k=5, rounds=4)

QUERIES["kg_ktruss"] = (kg_ktruss, KG_KTRUSS_SQL)


def kg_assortativity(spark, sf_dir):
    """Degree assortativity (graph.degree_assortativity) over the
    same 47-node mixed multigraph as kg_triangles — the one-number
    mixing diagnostic for an extracted KG (hubs-to-hubs vs
    hubs-to-leaves). Pure integer arithmetic: the stub multiset's
    symmetry collapses Pearson's denominator, so r_milli is an exact
    pmod-floor ratio of DECIMAL(38,0)/HUGEINT moments with no sqrt
    at all. Oracle: the same collapsed moments in DuckDB."""
    ids = _ids(spark, sf_dir)
    edges = ids.select((F.col("i") % 47).alias("src"),
                       ((F.col("i") / 7).cast("long") % 47).alias("dst"))
    return graph_ops.degree_assortativity(edges)


KG_ASSORTATIVITY_SQL = graph_ops.degree_assortativity_sql(
    "SELECT CAST(doc_id AS BIGINT) % 47 AS src, "
    "(CAST(doc_id AS BIGINT) // 7) % 47 AS dst FROM documents")

QUERIES["kg_assortativity"] = (kg_assortativity, KG_ASSORTATIVITY_SQL)


def rel_gini(spark, sf_dir):
    """Per-group Gini concentration (stats.gini) of order spend in
    cents per customer bucket — the inequality screen of the
    data-quality family next to rel_benford and rel_dq_profile.
    Exact rank-form integers: sum(i*x_i) is tie-order invariant, so
    row_number needs no tie-break; DECIMAL(38,0) terms, pmod-floor
    ppm. Oracle: gini_sql from the same recurrence."""
    from biocypher_metta_spark.operators.stats import gini

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 8).alias("grp"),
        F.floor(F.col("o_totalprice") * 100).cast("long")
        .alias("cents"))
    return gini(o, ["grp"], "cents")


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    gini_sql as _gini_sql,
)

REL_GINI_SQL = _gini_sql(
    """SELECT o_custkey % 8 AS grp,
  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders""",
    ["grp"], "cents")

QUERIES["rel_gini"] = (rel_gini, REL_GINI_SQL)


def kg_four_cycles(spark, sf_dir):
    """Per-node 4-cycle census (graph.four_cycles) over a planted
    16x16 grid graph (all 4-cycles in a grid are its 225 unit faces:
    corners lie on 1, border nodes 2, interior 4 — total c4 sum
    900). The opposite-pair/codegree identity composes on the
    cooccurrence projection, so the plan is the audited
    distinct + doc-keyed self-join + two mergeable groupBys. Oracle:
    four_cycles_sql over the same modular edge synthesis."""
    ids = _ids(spark, sf_dir)
    i = F.col("i")
    right = (ids.select((i % 256).alias("src"),
                        (i % 256 + 1).alias("dst"))
             .filter((i % 256) % 16 != 15))
    down = ids.select((i % 240).alias("src"),
                      (i % 240 + 16).alias("dst"))
    return graph_ops.four_cycles(right.unionAll(down))


_C4_EDGES_SQL = """SELECT i % 256 AS src, i % 256 + 1 AS dst
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
  WHERE (i % 256) % 16 <> 15
UNION ALL SELECT i % 240, i % 240 + 16
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)"""

KG_FOUR_CYCLES_SQL = graph_ops.four_cycles_sql(_C4_EDGES_SQL)

QUERIES["kg_four_cycles"] = (kg_four_cycles, KG_FOUR_CYCLES_SQL)


def kg_collab_weight(spark, sf_dir):
    """Newman collaboration-weight projection
    (graph.collab_weight_edges) of the (customer, order-priority)
    membership table — item pairs co-held by a customer, each
    customer contributing floor(1e6/(m-1)) per pair so small
    focused baskets outweigh broad ones. min_count=5 prunes the
    tail. Oracle: collab_weight_edges_sql, same distinct /
    size-filter / per-doc floor / self-join recurrence."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderpriority").alias("prio"))
    return graph_ops.collab_weight_edges(o, "cust", "prio",
                                         min_count=5)


KG_COLLAB_WEIGHT_SQL = graph_ops.collab_weight_edges_sql(
    "SELECT o_custkey AS cust, o_orderpriority AS prio FROM orders",
    "cust", "prio", min_count=5)

QUERIES["kg_collab_weight"] = (kg_collab_weight, KG_COLLAB_WEIGHT_SQL)


def rel_linreg(spark, sf_dir):
    """Per-group OLS spend trend (stats.linreg): cents vs days since
    1992-01-01 per customer bucket — the drift detector next to
    rel_outlier_flags/rel_benford/rel_gini. Five DECIMAL(38,0)
    moments, staged pmod floors (intercept reuses the already-floored
    slope so both engines quantize identically), NULL on zero x
    variance. ONE mergeable groupBy, no window, no join. Oracle:
    linreg_sql from the same recurrence."""
    from biocypher_metta_spark.operators.stats import linreg

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 8).alias("grp"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("long").alias("day"),
        F.floor(F.col("o_totalprice") * 100).cast("long")
        .alias("cents"))
    return linreg(o, ["grp"], "day", "cents")


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    linreg_sql as _linreg_sql,
)

REL_LINREG_SQL = _linreg_sql(
    """SELECT o_custkey % 8 AS grp,
  CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
    AS day,
  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders""",
    ["grp"], "day", "cents")

QUERIES["rel_linreg"] = (rel_linreg, REL_LINREG_SQL)


def rel_winsorize(spark, sf_dir):
    """Per-group winsorization (stats.winsorize, p=25 permille) of
    order cents per customer bucket — the heavy-tail taming pass in
    front of the moment-driven screens (outlier_flags, linreg).
    Exact rank quantiles (integer-ceil cut, no interpolation), one
    key shuffle serving both the rank and count windows, bounds
    joined back co-partitioned. Oracle: winsorize_sql, same order
    statistics."""
    from biocypher_metta_spark.operators.stats import winsorize

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 8).alias("grp"),
        F.col("o_orderkey").alias("okey"),
        F.floor(F.col("o_totalprice") * 100).cast("long")
        .alias("cents"))
    return winsorize(o, ["grp"], "cents", p_permille=25)


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    winsorize_sql as _winsorize_sql,
)

REL_WINSORIZE_SQL = _winsorize_sql(
    """SELECT o_custkey % 8 AS grp, o_orderkey AS okey,
  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders""",
    ["grp"], "cents", ["grp", "okey", "cents"], p_permille=25)

QUERIES["rel_winsorize"] = (rel_winsorize, REL_WINSORIZE_SQL)


def rel_chisq(spark, sf_dir):
    """Per-group chi-square independence (stats.chisq) of order
    priority vs order status per customer bucket — the categorical
    drift/association screen. Observed-cell identity (unobserved
    cells folded in exactly via sum-of-expectations = N), per-cell
    pmod-floored ppm terms, windows only over the aggregated
    |A|x|B| cell table. Oracle: chisq_sql, same identity."""
    from biocypher_metta_spark.operators.stats import chisq

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 4).alias("grp"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"))
    return chisq(o, ["grp"], "prio", "status")


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    chisq_sql as _chisq_sql,
)

REL_CHISQ_SQL = _chisq_sql(
    """SELECT o_custkey % 4 AS grp, o_orderpriority AS prio,
  o_orderstatus AS status FROM orders""",
    ["grp"], "prio", "status")

QUERIES["rel_chisq"] = (rel_chisq, REL_CHISQ_SQL)


def doc_pmi_collocations(spark, sf_dir):
    """Corpus bigram collocations by exact-integer PMI ranking
    (text.pmi_collocations, min_count=5, k=100) over documents —
    phrase-vocabulary discovery for the tokenizer/boilerplate
    family. exp(PMI) = c_xy*N/(c_x*c_y) as a pmod-floored ppm ratio:
    the float-log ranking without floats. Oracle: the same counts
    and ratio in DuckDB (pmi_collocations_sql)."""
    from biocypher_metta_spark.operators.text import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"))


from biocypher_metta_spark.operators.text import (  # noqa: E402
    pmi_collocations_sql as _pmi_sql,
)

QUERIES["doc_pmi_collocations"] = (doc_pmi_collocations, _pmi_sql())


def rel_decile_lift(spark, sf_dir):
    """Gains/lift table (stats.decile_lift): order spend deciles vs
    the finished-status flag. Scale-true VALUE-TIED deciles — rows
    aggregate per distinct score first, the only single-partition
    step runs over the score-cardinality-sized value rows, and a tie
    block lands wholly in bucket (cum_before*10) div N, identically
    in both engines. Oracle: decile_lift_sql, same recurrence."""
    from biocypher_metta_spark.operators.stats import decile_lift

    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("long")
        .alias("cents"),
        (F.col("o_orderstatus") == "F").cast("long").alias("y"))
    return decile_lift(o, "cents", "y")


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    decile_lift_sql as _decile_lift_sql,
)

REL_DECILE_LIFT_SQL = _decile_lift_sql(
    """SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
  CAST(o_orderstatus = 'F' AS BIGINT) AS y FROM orders""",
    "cents", "y")

QUERIES["rel_decile_lift"] = (rel_decile_lift, REL_DECILE_LIFT_SQL)


def doc_ngram_novelty(spark, sf_dir):
    """Cross-doc 5-gram novelty (text.ngram_novelty) over documents
    — the memorization-risk / boilerplate-assembly screen
    complementing the within-doc Gopher repetition filters; the
    corpus is its own reference (vs doc_ngram_excise's external
    list). Grams travel as 60-bit portable hashes. Oracle:
    ngram_novelty_sql, same hash and sharing rule."""
    from biocypher_metta_spark.operators.text import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"))


from biocypher_metta_spark.operators.text import (  # noqa: E402
    ngram_novelty_sql as _ngram_novelty_sql,
)

QUERIES["doc_ngram_novelty"] = (doc_ngram_novelty,
                                _ngram_novelty_sql())


def doc_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction (text.rake_keyphrases, top-100) over
    documents — the multi-word complement to doc_tfidf_topk: boundary
    mapping is per-token CASE logic (no lookaround, RE2-safe), word
    score = floor(1e6*deg/freq), phrase score = sum of already-floored
    word scores. Oracle: rake_keyphrases_sql, same recurrence."""
    from biocypher_metta_spark.operators.text import rake_keyphrases

    return rake_keyphrases(_t(spark, sf_dir, "documents"))


from biocypher_metta_spark.operators.text import (  # noqa: E402
    rake_keyphrases_sql as _rake_sql,
)

QUERIES["doc_rake_keyphrases"] = (doc_rake_keyphrases, _rake_sql())


def doc_heavy_tokens(spark, sf_dir):
    """Exact heavy-hitter tokens (sketch.heavy_hitters: per-partition
    Misra-Gries candidates, map-only, then an exact rescan of only the
    bounded candidate set) over the documents token stream — the
    shuffle-bounded sibling of doc_cms_topfreq for domains with 10^9+
    distinct keys where a plain groupBy's shuffle is the bottleneck.
    Threshold 33 permille splits this corpus's vocabulary
    non-trivially; output is EXACT counts, so the oracle is the plain
    GROUP BY ... HAVING the two-pass path provably equals."""
    from biocypher_metta_spark.operators.sketch import heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = (d.filter(F.col("text").isNotNull())
            .select(F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                    .alias("tok"))
            .filter(F.col("tok") != ""))
    return heavy_hitters(toks, "tok", min_freq_permille=33, capacity=64)


from biocypher_metta_spark.operators.sketch import (  # noqa: E402
    heavy_hitters_sql as _hh_sql,
)

_HH_TOK_SRC = r"""
SELECT tok FROM (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
) WHERE tok <> ''
"""

QUERIES["doc_heavy_tokens"] = (
    doc_heavy_tokens,
    _hh_sql(_HH_TOK_SRC, col="tok", min_freq_permille=33))


def kg_betweenness(spark, sf_dir):
    """Sampled-source betweenness centrality (graph.betweenness,
    max_depth=5) over the same pseudorandom out-degree-2 cyclic graph
    as kg_bfs from the same 5-seed source set — the bridge/bottleneck
    centrality completing the family next to kg_pagerank/kg_hits/
    kg_ppr (flow through a node, not into it). Per-edge dependency
    terms are floor-quantized at scale 10^6 (the operator definition,
    so both engines sum identical integers). Oracle: recursive-CTE
    walk enumeration for (dist, sigma) + the backward recurrence
    unrolled per depth (graph.betweenness_sql)."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 5000
    edges = (ids.select(m.alias("src"), ((m * 7 + 3) % 5000).alias("dst"))
             .unionAll(ids.select(m.alias("src"),
                                  ((m * 3 + 1) % 5000).alias("dst"))))
    sources = ids.filter("i < 5").select(F.col("i").alias("node"))
    return graph_ops.betweenness(edges, sources, max_depth=5)


KG_BETWEENNESS_SQL = graph_ops.betweenness_sql(
    _BFS_EDGES_SQL, _BFS_SOURCES_SQL, max_depth=5)

QUERIES["kg_betweenness"] = (kg_betweenness, KG_BETWEENNESS_SQL)


def rel_proximity_join(spark, sf_dir):
    """Planar proximity join (spatial.proximity_join, r=60): all
    event-point pairs within radius 60 on a deterministic integer
    scatter derived from event ids — the 2D member of the blocking-
    join family next to the 1D bucketed range joins: grid cells turn
    the distance inequality into an equi-join on (cell_x, cell_y)
    with 9x neighbor expansion on one side, each qualifying pair
    emitted exactly once. Oracle: the direct inequality-join spelling
    (spatial.proximity_join_sql) — the plan the operator exists to
    avoid."""
    from biocypher_metta_spark.operators.spatial import proximity_join

    e = _t(spark, sf_dir, "events")
    i = F.col("event_id").cast("long")
    pts = e.select(i.alias("id"),
                   ((i * 37 + 5) % 2000).alias("x"),
                   ((i * 91 + 3) % 2000).alias("y"))
    return proximity_join(pts, r=60)


from biocypher_metta_spark.operators.spatial import (  # noqa: E402
    proximity_join_sql as _prox_sql,
)

_PROX_PTS_SQL = """SELECT CAST(event_id AS BIGINT) AS id,
  (CAST(event_id AS BIGINT) * 37 + 5) % 2000 AS x,
  (CAST(event_id AS BIGINT) * 91 + 3) % 2000 AS y
FROM events"""

QUERIES["rel_proximity_join"] = (
    rel_proximity_join, _prox_sql(_PROX_PTS_SQL, r=60))


def kg_closeness(spark, sf_dir):
    """Harmonic closeness from sampled seeds (graph.harmonic_closeness,
    max_depth=5) over the kg_bfs graph and 5-seed set — the DISTANCE
    face completing the centrality triad (kg_pagerank/kg_ppr = flow
    in, kg_betweenness = flow through): per-term floor(10^6/d) so
    unreachable pairs contribute 0 instead of poisoning a mean.
    Oracle: recursive-CTE walk enumeration + min(len) + the same
    floored harmonic sum (graph.harmonic_closeness_sql)."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 5000
    edges = (ids.select(m.alias("src"), ((m * 7 + 3) % 5000).alias("dst"))
             .unionAll(ids.select(m.alias("src"),
                                  ((m * 3 + 1) % 5000).alias("dst"))))
    sources = ids.filter("i < 5").select(F.col("i").alias("node"))
    return graph_ops.harmonic_closeness(edges, sources, max_depth=5)


KG_CLOSENESS_SQL = graph_ops.harmonic_closeness_sql(
    _BFS_EDGES_SQL, _BFS_SOURCES_SQL, max_depth=5)

QUERIES["kg_closeness"] = (kg_closeness, KG_CLOSENESS_SQL)


def rel_cusum(spark, sf_dir):
    """Two-sided CUSUM changepoint detection (stats.cusum) over the
    same per-customer-bucket daily order-cents series as rel_ewma —
    the mean-drift detector completing the time-series family (a slow
    creep that never point-flags in rel_outlier_flags accumulates
    here). The sequential Page recurrence runs distributed via its
    running-extremum closed form: two stacked window passes on ONE
    key shuffle. Oracle: the same closed form as DuckDB windows
    (stats.cusum_sql)."""
    from biocypher_metta_spark.operators.stats import cusum

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    obs = (o.select((F.col("o_custkey") % 100).alias("grp"),
                    day.cast("long").alias("day"),
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    .alias("c"))
           .groupBy("grp", "day").agg(F.max("c").alias("cents")))
    return cusum(obs, ["grp"], "day", "cents",
                 target=15_000_000, slack=3_000_000, h=60_000_000)


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    cusum_sql as _cusum_sql,
)

_CUSUM_OBS_SQL = """SELECT o_custkey % 100 AS grp,
  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day,
  max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
FROM orders GROUP BY 1, 2"""

QUERIES["rel_cusum"] = (
    rel_cusum,
    _cusum_sql(_CUSUM_OBS_SQL, ["grp"], "day", "cents",
               target=15_000_000, slack=3_000_000, h=60_000_000))


_RANKSTAT_OBS_SQL = """SELECT user_id % 20 AS grp, event_type,
  CAST(floor(value * 1000) AS BIGINT) AS v_milli
FROM events"""


def _rankstat_obs(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        (F.col("user_id") % 20).alias("grp"), "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"))


def rel_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance (stats.ks_test) between
    the 'click' and 'view' value distributions per user bucket — the
    distribution-drift screen completing the A/B family (chisq tests
    category mixes, mannwhitney tests location, KS tests the whole
    CDF). Exact integer statistic max|c_a*n_b - c_b*n_a| with
    RANGE-frame tie handling; one key shuffle (both window frames
    share the (grp, v) sort). Oracle: identical recurrence as DuckDB
    windows (stats.ks_test_sql)."""
    from biocypher_metta_spark.operators.stats import ks_test

    return ks_test(_rankstat_obs(spark, sf_dir), ["grp"],
                   "event_type", "v_milli", "click", "view")


def rel_mannwhitney(spark, sf_dir):
    """Mann-Whitney U / rank-sum AUC (stats.mannwhitney) for the same
    click-vs-view split — u_a/(n_a*n_b) is the exact AUC of 'does a
    click value exceed a view value', the separability number
    training pipelines read off a quality score. Tie-averaged ranks
    kept integral by doubling; one key shuffle. Oracle: identical
    doubled-rank recurrence in DuckDB (stats.mannwhitney_sql)."""
    from biocypher_metta_spark.operators.stats import mannwhitney

    return mannwhitney(_rankstat_obs(spark, sf_dir), ["grp"],
                       "event_type", "v_milli", "click", "view")


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    ks_test_sql as _ks_test_sql,
    mannwhitney_sql as _mannwhitney_sql,
)

QUERIES["rel_ks_test"] = (
    rel_ks_test,
    _ks_test_sql(_RANKSTAT_OBS_SQL, ["grp"], "event_type", "v_milli",
                 "click", "view"))
QUERIES["rel_mannwhitney"] = (
    rel_mannwhitney,
    _mannwhitney_sql(_RANKSTAT_OBS_SQL, ["grp"], "event_type",
                     "v_milli", "click", "view"))


def kg_modularity(spark, sf_dir):
    """Newman modularity of the kg_lpa partition (graph.modularity)
    over the same two-nuclei-plus-one-bridge graph — the quality
    score FOR the community detector: each planted nucleus must
    contribute a strongly positive Q_c (denser inside than its degree
    mass predicts), closing the loop on what kg_lpa only shows
    structurally. ppm-exact integer arithmetic, m broadcast as a
    one-row join (no driver collect). Oracle: the same
    canonicalization + HUGEINT pmod floor over the unrolled LPA twin
    (graph.modularity_sql(_LPA_EDGES_SQL, KG_LPA_SQL))."""
    ids = _ids(spark, sf_dir)
    ca = ids.select((F.col("i") % 10).alias("src"),
                    ((F.col("i") / 3).cast("long") % 10).alias("dst"))
    cb = ids.select((F.col("i") % 10 + 200).alias("src"),
                    ((F.col("i") / 3).cast("long") % 10 + 200).alias("dst"))
    bridge = ids.select((F.col("i") % 1 + 5).alias("src"),
                        (F.col("i") % 1 + 205).alias("dst"))
    edges = ca.unionAll(cb).unionAll(bridge)
    labels = graph_ops.label_propagation(edges, rounds=3)
    return graph_ops.modularity(edges, labels)


QUERIES["kg_modularity"] = (
    kg_modularity,
    graph_ops.modularity_sql(_LPA_EDGES_SQL, KG_LPA_SQL))


# ---------------------------------------------------------------------------
# WebDataset tar shards (operators/shards.py): three formula-built ustar
# variants cycled over the doc ids; the DuckDB twin recomputes every
# member's name/size/byte-sum straight from the generation formula, so
# hash equality proves the full header-walk -> checksum-verify ->
# payload-slice path block-exactly (tar_pack itself is cross-checked
# against stdlib tarfile in tests/test_round5q_ops.py).
# ---------------------------------------------------------------------------

from biocypher_metta_spark.operators.shards import (  # noqa: E402
    tar_pack as _tar_pack,
)


def _tar_formula_members(v: int) -> list[tuple[str, bytes]]:
    out = []
    for j in range(3 + v):
        ext = "txt" if j % 2 == 0 else "bin"
        size = 10 + (j * 7 + v * 13) % 50
        data = bytes((i * 3 + j * 11 + v * 29) % 256
                     for i in range(size))
        out.append((f"{j:04d}.{ext}", data))
    return out


_TAR_VARIANTS = [_tar_pack(_tar_formula_members(v)) for v in range(3)]


def multimodal_tar_members(spark, sf_dir):
    """WebDataset shard explosion (shards.tar_members): binary tar
    rows -> one row per regular-file member with the sample-key/ext
    split the WebDataset convention defines. Map-only mapInPandas —
    zero shuffles; the shard bytes never visit the driver."""
    from biocypher_metta_spark.operators.shards import tar_members

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _TAR_VARIANTS])
    shards = ids.select(
        F.concat(F.lit("tar://"), F.col("i").cast("string"))
        .alias("media_ref"),
        F.element_at(variants, (F.col("i") % 3 + 1).cast("int"))
        .alias("content"))
    return tar_members(shards)


MULTIMODAL_TAR_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
vj AS (
  SELECT v.v, j.j FROM (SELECT unnest(range(0, 3)) AS v) v
  CROSS JOIN (SELECT unnest(range(0, 5)) AS j) j
  WHERE j.j < 3 + v.v
),
mem AS (
  SELECT v, j,
         lpad(CAST(j AS VARCHAR), 4, '0') AS sample_key,
         CASE WHEN j % 2 = 0 THEN 'txt' ELSE 'bin' END AS ext,
         10 + (j * 7 + v * 13) % 50 AS size
  FROM vj
),
expected AS (
  SELECT v, sample_key || '.' || ext AS member_name,
         CAST(size AS BIGINT) AS size,
         CAST(list_sum(list_transform(range(0, size), i ->
           (i * 3 + j * 11 + v * 29) % 256)) AS BIGINT) AS byte_sum,
         sample_key, ext
  FROM mem
)
SELECT 'tar://' || i AS media_ref, e.member_name, e.size, e.byte_sum,
       e.sample_key, e.ext
FROM ids JOIN expected e ON e.v = i % 3
"""

QUERIES["multimodal_tar_members"] = (multimodal_tar_members,
                                     MULTIMODAL_TAR_SQL)


def _tar_paired_members(v: int) -> list[tuple[str, bytes]]:
    out = []
    for j in range(2 * (2 + v)):
        ext = "txt" if j % 2 == 0 else "bin"
        size = 8 + (j * 5 + v * 11) % 40
        data = bytes((i * 7 + j * 13 + v * 31) % 256
                     for i in range(size))
        out.append((f"{j // 2:04d}.{ext}", data))
    return out


_TAR_PAIRED_VARIANTS = [_tar_pack(_tar_paired_members(v))
                        for v in range(3)]


def multimodal_samples(spark, sf_dir):
    """WebDataset sample assembly (shards.sample_assembly on top of
    tar_members): paired .txt/.bin members sharing each sample key
    reassemble to one row per (shard, key) with the sorted-extension
    manifest — the completeness-filter primitive ('exts = bin,txt'
    keeps fully-populated samples). One mergeable groupBy over the
    map-only explode."""
    from biocypher_metta_spark.operators.shards import (
        sample_assembly,
        tar_members,
    )

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b))
                         for b in _TAR_PAIRED_VARIANTS])
    shards = ids.select(
        F.concat(F.lit("tar://"), F.col("i").cast("string"))
        .alias("media_ref"),
        F.element_at(variants, (F.col("i") % 3 + 1).cast("int"))
        .alias("content"))
    return sample_assembly(tar_members(shards))


MULTIMODAL_SAMPLES_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
vj AS (
  SELECT v.v, j.j FROM (SELECT unnest(range(0, 3)) AS v) v
  CROSS JOIN (SELECT unnest(range(0, 10)) AS j) j
  WHERE j.j < 2 * (2 + v.v)
),
mem AS (
  SELECT v, j, lpad(CAST(j // 2 AS VARCHAR), 4, '0') AS sample_key,
         CASE WHEN j % 2 = 0 THEN 'txt' ELSE 'bin' END AS ext,
         8 + (j * 5 + v * 11) % 40 AS size
  FROM vj
),
memsum AS (
  SELECT v, j, sample_key, ext, size,
         CAST(list_sum(list_transform(range(0, size), i ->
           (i * 7 + j * 13 + v * 31) % 256)) AS BIGINT) AS byte_sum
  FROM mem
),
samples AS (
  SELECT v, sample_key,
         CAST(count(*) AS BIGINT) AS n_members,
         string_agg(ext, ',' ORDER BY ext) AS exts,
         CAST(sum(size) AS BIGINT) AS total_bytes,
         CAST(sum(byte_sum) AS BIGINT) AS content_sum
  FROM memsum GROUP BY v, sample_key
)
SELECT 'tar://' || i AS media_ref, s.sample_key, s.n_members, s.exts,
       s.total_bytes, s.content_sum
FROM ids JOIN samples s ON s.v = i % 3
"""

QUERIES["multimodal_samples"] = (multimodal_samples,
                                 MULTIMODAL_SAMPLES_SQL)


def kg_anf(spark, sf_dir):
    """ANF neighborhood function (graph.neighborhood_function,
    max_hops=3, k=64) over kg_bfs's out-degree-2 pseudorandom graph:
    per (node, hop) reach-set sizes — effective-diameter/reach-
    distribution material. With out-degree 2 the 3-hop reach is at
    most 1+2+4+8 = 15 < k = 64, so the KMV sketch is PROVABLY exact
    here and the oracle can be an independent exact-BFS spelling
    (hop-unrolled closure + count DISTINCT, no hashing at all,
    graph.neighborhood_function_sql) — the twin checks the whole
    sketch-merge machinery against set semantics."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 5000
    edges = (ids.select(m.alias("src"), ((m * 7 + 3) % 5000).alias("dst"))
             .unionAll(ids.select(m.alias("src"),
                                  ((m * 3 + 1) % 5000).alias("dst"))))
    return graph_ops.neighborhood_function(edges, max_hops=3, k=64)


QUERIES["kg_anf"] = (
    kg_anf, graph_ops.neighborhood_function_sql(_BFS_EDGES_SQL,
                                                max_hops=3))


# ---------------------------------------------------------------------------
# robots.txt crawl-permission filtering (operators/web.py). The three
# host fixtures exercise the RFC group machinery: specific-agent group
# ignored for '*' (h0), consecutive User-agent lines sharing one group
# + comment line + empty Disallow dropped (h1), exact-agent-only host
# where '*' groups bind because no group names the agent (h2), plus
# the Allow-wins-length-tie rule ('/a' on h2) and longest-match
# override ('/private/ok' over '/private' on h0). The same Python
# variant list builds BOTH the Spark dimension and the SQL VALUES
# literal, so fixture and oracle cannot drift.
# ---------------------------------------------------------------------------

_ROBOTS_VARIANTS = [
    ("h0.example.com",
     "User-agent: *\nDisallow: /private\nAllow: /private/ok\n\n"
     "User-agent: evilbot\nDisallow: /"),
    ("h1.example.com",
     "# crawl policy\nUser-agent: googlebot\nUser-agent: *\n"
     "Disallow: /tmp\nDisallow:\nAllow: /tmp/pub"),
    ("h2.example.com",
     "User-agent: otherbot\nDisallow: /\n\nUser-agent: *\n"
     "Allow: /a\nDisallow: /a"),
]

_ROBOTS_PATHS = ["/", "/private", "/private/ok/x", "/tmp/pub/y",
                 "/tmp/z", "/a", "/ab", "/b/c"]


def _robots_text_sql(text: str) -> str:
    return " || chr(10) || ".join(
        "'" + line.replace("'", "''") + "'"
        for line in text.split("\n"))


_ROBOTS_TABLE_SQL = ("SELECT * FROM (VALUES "
                     + ", ".join(f"('{h}', {_robots_text_sql(t)})"
                                 for h, t in _ROBOTS_VARIANTS)
                     + ") AS rb(host, robots_txt)")

_ROBOTS_URLS_SQL = ("""SELECT 'https://'
  || CASE WHEN i % 2 = 0 THEN 'www.' ELSE '' END
  || 'h' || (i % 3) || '.example.com' || p.path AS url
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents) ids
JOIN (VALUES """
                    + ", ".join(f"({pc}, '{p}')"
                                for pc, p in enumerate(_ROBOTS_PATHS))
                    + ") AS p(pc, path) ON p.pc = i % 8")


def web_robots_filter(spark, sf_dir):
    """robots.txt verdicts (web.robots_rules + web.robots_filter,
    agent='*') for formula URLs over the three fixture hosts —
    longest-match / Allow-tie / group-binding semantics end to end,
    www-stripping exercised on half the URLs. One host equi-join +
    one per-url window over the few candidate rules."""
    from biocypher_metta_spark.operators.web import (
        robots_filter,
        robots_rules,
    )

    ids = _ids(spark, sf_dir)
    paths = F.array(*[F.lit(p) for p in _ROBOTS_PATHS])
    urls = ids.select(
        F.concat(F.lit("https://"),
                 F.when(F.col("i") % 2 == 0, F.lit("www."))
                 .otherwise(F.lit("")),
                 F.lit("h"), (F.col("i") % 3).cast("string"),
                 F.lit(".example.com"),
                 F.element_at(paths, (F.col("i") % 8 + 1).cast("int")))
        .alias("url"))
    robots = spark.createDataFrame(_ROBOTS_VARIANTS,
                                   "host string, robots_txt string")
    return robots_filter(urls, robots_rules(robots, agent="*"))


from biocypher_metta_spark.operators.web import (  # noqa: E402
    robots_filter_sql as _robots_filter_sql,
)

QUERIES["web_robots_filter"] = (
    web_robots_filter,
    _robots_filter_sql(_ROBOTS_URLS_SQL, _ROBOTS_TABLE_SQL,
                       agent="*"))


def rel_k_anonymity(spark, sf_dir):
    """Privacy release audit (privacy.k_anonymity): violating
    equivalence classes of orders under QI = (priority, status,
    order year, customer bucket) with the price band as the
    sensitive attribute, k_min=3 / l_min=2 — the screen a metadata
    sidecar passes before a corpus ships. Pure counting, no
    quantization; output bounded by the risky classes. One groupBy
    shuffle, mergeable count + count-distinct."""
    from biocypher_metta_spark.operators.privacy import k_anonymity

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
        F.year("o_orderdate").cast("int").alias("yr"),
        (F.col("o_custkey") % 200).alias("cust_bucket"),
        F.floor(F.col("o_totalprice") / 50000).cast("long")
        .alias("price_band"))
    return k_anonymity(o, ["prio", "status", "yr", "cust_bucket"],
                       "price_band", k_min=3, l_min=2)


from biocypher_metta_spark.operators.privacy import (  # noqa: E402
    k_anonymity_sql as _k_anonymity_sql,
)

REL_K_ANONYMITY_SQL = _k_anonymity_sql(
    """SELECT o_orderpriority AS prio, o_orderstatus AS status,
  CAST(year(o_orderdate) AS INT) AS yr,
  o_custkey % 200 AS cust_bucket,
  CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_band
FROM orders""",
    ["prio", "status", "yr", "cust_bucket"], "price_band",
    k_min=3, l_min=2)

QUERIES["rel_k_anonymity"] = (rel_k_anonymity, REL_K_ANONYMITY_SQL)


def rel_cohens_kappa(spark, sf_dir):
    """Inter-annotator agreement (stats.cohens_kappa) between two
    synthetic labelings of events per user bucket: rater A is
    event_type with every 7th row replaced by an 'aa'-noise tag,
    rater B with every 4th row replaced by 'zz' — partial agreement
    with asymmetric marginals, so the chance-corrected N^2 identity
    and the categories-missing-from-one-marginal path (noise tags
    contribute 0 to S) are both exercised. Exact integer kappa in
    ppm. Oracle: cohens_kappa_sql from the same identity."""
    from biocypher_metta_spark.operators.stats import cohens_kappa

    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("grp"),
        F.when(F.col("event_id") % 7 == 0, F.lit("aa"))
        .otherwise(F.col("event_type")).alias("rater_a"),
        F.when(F.col("event_id") % 4 == 0, F.lit("zz"))
        .otherwise(F.col("event_type")).alias("rater_b"))
    return cohens_kappa(e, ["grp"], "rater_a", "rater_b")


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    cohens_kappa_sql as _cohens_kappa_sql,
)

REL_COHENS_KAPPA_SQL = _cohens_kappa_sql(
    """SELECT user_id % 4 AS grp,
  CASE WHEN event_id % 7 = 0 THEN 'aa' ELSE event_type END AS rater_a,
  CASE WHEN event_id % 4 = 0 THEN 'zz' ELSE event_type END AS rater_b
FROM events""",
    ["grp"], "rater_a", "rater_b")

QUERIES["rel_cohens_kappa"] = (rel_cohens_kappa, REL_COHENS_KAPPA_SQL)


def doc_rocchio(spark, sf_dir):
    """Nearest-centroid language router (classify.rocchio_centroids +
    rocchio_classify): train token centroids per lang on the
    doc_id % 5 != 0 split, predict the held-out % 5 == 0 docs —
    the integer-exact supervised counterpart of doc_lang_trigram
    (model learned from the corpus instead of shipped marker lists).
    Broadcast model join, one tf shuffle, per-doc argmax window with
    the explicit (score DESC, label ASC) tie-break."""
    from biocypher_metta_spark.operators.classify import (
        rocchio_centroids,
        rocchio_classify,
    )

    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 5 != 0).select(
        "text", F.col("lang").alias("label"))
    test = d.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    return rocchio_classify(rocchio_centroids(train), test)


from biocypher_metta_spark.operators.classify import (  # noqa: E402
    rocchio_sql as _rocchio_sql,
)

DOC_ROCCHIO_SQL = _rocchio_sql(
    "SELECT text, lang AS label FROM documents WHERE doc_id % 5 <> 0",
    "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0")

QUERIES["doc_rocchio"] = (doc_rocchio, DOC_ROCCHIO_SQL)


def rel_spearman(spark, sf_dir):
    """Monotone association (stats.spearman) between quantity and
    extended price per lineitem position — heavy ties on both sides
    (quantity is 1..50, price floored to hundreds), so the doubled
    tie-averaged ranks and the zero-variance guard are both live.
    Integer rank moments; the single float ratio is the correctly-
    rounded sqrt/divide pattern shared with expr_gene_corr."""
    from biocypher_metta_spark.operators.stats import spearman

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_linenumber").alias("grp"),
        F.col("l_quantity").cast("long").alias("qx"),
        F.floor(F.col("l_extendedprice") / 100).cast("long").alias("py"))
    return spearman(li, ["grp"], "qx", "py")


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    spearman_sql as _spearman_sql,
)

REL_SPEARMAN_SQL = _spearman_sql(
    """SELECT l_linenumber AS grp, CAST(l_quantity AS BIGINT) AS qx,
  CAST(floor(l_extendedprice/100) AS BIGINT) AS py FROM lineitem""",
    ["grp"], "qx", "py")

QUERIES["rel_spearman"] = (rel_spearman, REL_SPEARMAN_SQL)


def rel_theil_sen(spark, sf_dir):
    """Robust daily-volume trend (stats.theil_sen): median pairwise
    slope of events-per-day per event_type — the outlier-proof twin
    of rel_linreg's OLS slope. The raw stream pre-aggregates to one
    integer point per (type, day) first (the operator's bounded-
    group contract: pairs grow in days^2, not event rows)."""
    from biocypher_metta_spark.operators.stats import theil_sen

    ev = (_t(spark, sf_dir, "events")
          .groupBy(F.col("event_type").alias("grp"),
                   F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
                   .alias("day"))
          .agg(F.count(F.lit(1)).alias("n_ev")))
    return theil_sen(ev, ["grp"], "day", "n_ev")


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    theil_sen_sql as _theil_sen_sql,
)

REL_THEIL_SEN_SQL = _theil_sen_sql(
    """SELECT event_type AS grp,
  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
  count(*) AS n_ev FROM events GROUP BY 1, 2""",
    ["grp"], "day", "n_ev")

QUERIES["rel_theil_sen"] = (rel_theil_sen, REL_THEIL_SEN_SQL)


def rel_t_closeness(spark, sf_dir):
    """t-closeness audit (privacy.t_closeness) over orders: QI =
    (priority, status, customer bucket), ordered sensitive attribute
    = the price band, t = 0.10 — the distribution-leak screen that
    k-anonymity/l-diversity miss (a class can be large and diverse
    yet sit entirely in the top bands). Exact cleared-denominator
    prefix EMD; the global band histogram (m = ~11) is the bounded
    driver fetch re-entering as an exploded literal grid."""
    from biocypher_metta_spark.operators.privacy import t_closeness

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        F.floor(F.col("o_totalprice") / 50000).cast("long")
        .alias("price_band"))
    return t_closeness(o, ["prio", "status", "cust_bucket"],
                       "price_band", t_ppm=50_000)


from biocypher_metta_spark.operators.privacy import (  # noqa: E402
    t_closeness_sql as _t_closeness_sql,
)

REL_T_CLOSENESS_SQL = _t_closeness_sql(
    """SELECT o_orderpriority AS prio, o_orderstatus AS status,
  o_custkey % 50 AS cust_bucket,
  CAST(floor(o_totalprice/50000) AS BIGINT) AS price_band FROM orders""",
    ["prio", "status", "cust_bucket"], "price_band", t_ppm=50_000)

QUERIES["rel_t_closeness"] = (rel_t_closeness, REL_T_CLOSENESS_SQL)


def rel_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve (stats.kaplan_meier) per user
    bucket over events: duration = day index, event = purchase
    (everything else right-censored at its own day) — the retention/
    time-to-removal estimator. The per-step ppm floor recurrence is
    identical on both sides; the twin spells it as a recursive CTE,
    an independent spelling of the same recurrence (the Spark side
    is a sort_array + F.aggregate fold)."""
    from biocypher_metta_spark.operators.stats import kaplan_meier

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("grp"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("dur"),
        (F.col("event_type") == "purchase").cast("int").alias("ev"))
    return kaplan_meier(ev, ["grp"], "dur", "ev")


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    kaplan_meier_sql as _kaplan_meier_sql,
)

REL_KAPLAN_MEIER_SQL = _kaplan_meier_sql(
    """SELECT user_id % 4 AS grp,
  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dur,
  CAST(event_type = 'purchase' AS INT) AS ev FROM events""",
    ["grp"], "dur", "ev")

QUERIES["rel_kaplan_meier"] = (rel_kaplan_meier, REL_KAPLAN_MEIER_SQL)


def kg_eff_radius(spark, sf_dir):
    """Per-node effective radius (graph.effective_radius, q = 0.9,
    max_hops = 3, k = 64) over kg_anf's out-degree-2 pseudorandom
    graph — the composition readout of the ANF sketches ('how deep
    before a node's reach saturates'). Same k-exact regime as
    kg_anf (3-hop reach <= 15 < 64), so the oracle composes the
    exact hop-unrolled BFS twin with the identical integer
    threshold."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 5000
    edges = (ids.select(m.alias("src"), ((m * 7 + 3) % 5000).alias("dst"))
             .unionAll(ids.select(m.alias("src"),
                                  ((m * 3 + 1) % 5000).alias("dst"))))
    return graph_ops.effective_radius(edges, max_hops=3, k=64,
                                      q_permille=900)


QUERIES["kg_eff_radius"] = (
    kg_eff_radius,
    graph_ops.effective_radius_sql(_BFS_EDGES_SQL, max_hops=3,
                                   q_permille=900))


def multimodal_audio_frames(spark, sf_dir):
    """Frame-level audio features (multimodal.audio_frame_features,
    frame_len=48) over the four WAV codec variants — per-frame
    integer energy / peak / strict zero-crossings, the VAD
    precursor. Variant lengths 40/96/56/128 samples exercise
    single-frame, exact-multiple, and trailing-partial-frame paths;
    the twin recomputes every frame from the sample FORMULA, so hash
    equality proves decode + frame split + pairwise crossing count
    end-to-end."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _WAV_VARIANTS])
    media = ids.select(
        F.concat(F.lit("wav://"),
                 F.col("i").cast("string")).alias("media_ref"),
        F.lit("audio").alias("kind"),
        F.element_at(variants,
                     (F.col("i") % 4 + 1).cast("int")).alias("content"))
    return mm.audio_frame_features(media, frame_len=48)


MULTIMODAL_AUDIO_FRAMES_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
af_meta AS (
  SELECT v, (40 + 8 * v) * (1 + (v % 2)) AS m,
         CASE WHEN v < 2 THEN 8 ELSE 16 END AS bits
  FROM (SELECT unnest(range(0, 4)) AS v)
), af_samples AS (
  SELECT v, m,
         list_transform(range(0, m), i ->
           CASE WHEN bits = 8 THEN ((i * 37 + v * 101) % 256) - 128
                ELSE ((i * 523 + v * 40503) % 65536) - 32768 END) AS s
  FROM af_meta
), af_frames AS (
  SELECT v, m, s, unnest(range(0, (m + 47) // 48)) AS f
  FROM af_samples
), af_fr AS (
  SELECT v, f, s[(f * 48 + 1):least((f + 1) * 48, m)] AS fs
  FROM af_frames
), af_stats AS (
  SELECT v, f, len(fs) AS n,
         CAST(list_sum(list_transform(fs, x -> x * x)) AS BIGINT)
           AS energy,
         CAST(list_max(list_transform(fs, x -> abs(x))) AS BIGINT)
           AS peak_abs,
         CAST(coalesce(list_sum(list_transform(range(1, len(fs)), j ->
           CASE WHEN fs[j] * fs[j + 1] < 0 THEN 1 ELSE 0 END)), 0)
           AS BIGINT) AS zero_crossings
  FROM af_fr
)
SELECT 'wav://' || i AS media_ref, CAST(st.f AS BIGINT) AS frame_idx,
       CAST(st.n AS BIGINT) AS n, st.energy, st.peak_abs,
       st.zero_crossings
FROM ids JOIN af_stats st ON st.v = i % 4
"""

QUERIES["multimodal_audio_frames"] = (multimodal_audio_frames,
                                      MULTIMODAL_AUDIO_FRAMES_SQL)


def kg_dag_depth(spark, sf_dir):
    """Ontology term depth (graph.dag_depth): longest-path length per
    node over a 5000-node DAG with two parent edges per node (m ->
    m//2 and m -> m//3, both strictly decreasing -> acyclic) — the
    max-plus path-doubling twin of kg_isa_closure's reachability
    doubling. Depth ~log(n) with mixed /2-/3 chains, so several
    doubling rounds are live. Oracle: single-step recursive-CTE
    longest path, an independent spelling."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 5000
    edges = (ids.filter(m >= 1)
             .select(m.alias("src"),
                     F.floor(m / 2).cast("long").alias("dst"))
             .unionAll(ids.filter(m >= 1).select(
                 m.alias("src"),
                 F.floor(m / 3).cast("long").alias("dst"))))
    return graph_ops.dag_depth(edges)


_DAG_EDGES_SQL = """SELECT doc_id % 5000 AS src,
  (doc_id % 5000) // 2 AS dst FROM documents WHERE doc_id % 5000 >= 1
UNION ALL
SELECT doc_id % 5000 AS src, (doc_id % 5000) // 3 AS dst
FROM documents WHERE doc_id % 5000 >= 1"""

QUERIES["kg_dag_depth"] = (kg_dag_depth,
                           graph_ops.dag_depth_sql(_DAG_EDGES_SQL))


def multimodal_dhash(spark, sf_dir):
    """Perceptual dHash (multimodal.image_dhash, 4x3 grid -> 9 bits)
    over the five PNG filter-type variants: decode -> integer
    grayscale -> floor-grid box downsample -> adjacent-cell bits.
    The twin recomputes the hash from the pixel FORMULA (grayscale,
    box averages, bit packing all in SQL), so hash equality proves
    the whole perceptual pipeline, not just the decode. Near-dup
    pairing composes with dedup.hamming_near_pairs (pytest-covered;
    pairing the gate corpus itself would be quadratic by construction
    since variants repeat every 5 docs)."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _PNG_VARIANTS])
    media = ids.select(
        F.concat(F.lit("png://"),
                 F.col("i").cast("string")).alias("media_ref"),
        F.lit("image").alias("kind"),
        F.element_at(variants,
                     (F.col("i") % 5 + 1).cast("int")).alias("content"))
    return mm.image_dhash(media, grid_w=4, grid_h=3)


MULTIMODAL_DHASH_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
dh_dims AS (
  SELECT v, {_PNG_W} + v AS w, {_PNG_H} AS h
  FROM (SELECT unnest(range(0, 5)) AS v)
), dh_px AS (
  SELECT d.v, d.w, yy.y, xx.x,
         (((xx.x * 7 + yy.y * 13 + d.v * 101) % 256)
          + ((xx.x * 7 + yy.y * 13 + 29 + d.v * 101) % 256)
          + ((xx.x * 7 + yy.y * 13 + 58 + d.v * 101) % 256)) // 3
           AS gray
  FROM dh_dims d
  JOIN (SELECT unnest(range(0, {_PNG_H})) AS y) yy ON true
  JOIN (SELECT unnest(range(0, {_PNG_W} + 4)) AS x) xx ON xx.x < d.w
), dh_cells AS (
  SELECT v,
         y // 2 AS gy,
         list_sum(list_transform(range(0, 4), g ->
           CASE WHEN (g * w) // 4 <= x THEN 1 ELSE 0 END)) - 1 AS gx,
         sum(gray) // count(*) AS cell
  FROM dh_px GROUP BY v, y // 2,
         list_sum(list_transform(range(0, 4), g ->
           CASE WHEN (g * w) // 4 <= x THEN 1 ELSE 0 END)) - 1
), dh_bits AS (
  SELECT a.v,
         sum(CASE WHEN a.cell > b.cell
                  THEN 1 << (a.gy * 3 + a.gx) ELSE 0 END) AS dhash
  FROM dh_cells a JOIN dh_cells b
    ON a.v = b.v AND a.gy = b.gy AND b.gx = a.gx + 1
  GROUP BY a.v
)
SELECT 'png://' || i AS media_ref,
       CAST({_PNG_W} + e.v AS INTEGER) AS width,
       CAST({_PNG_H} AS INTEGER) AS height,
       CAST(e.dhash AS BIGINT) AS dhash
FROM ids JOIN dh_bits e ON e.v = i % 5
"""

QUERIES["multimodal_dhash"] = (multimodal_dhash, MULTIMODAL_DHASH_SQL)


def rel_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR (stats.bh_fdr, alpha = 0.05) over a
    synthetic per-event p-value battery: purchases carry planted
    signal (p < 0.001), everything else a hash-uniform null — so the
    step-up cutoff lands strictly inside each group and both the
    reject and non-reject branches are populated. Pure-integer
    cleared-denominator rule (p_ppm*m <= alpha_ppm*rank)."""
    from biocypher_metta_spark.operators.stats import bh_fdr

    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("grp"),
        F.col("event_id").alias("eid"),
        F.when(F.col("event_type") == "purchase",
               (F.col("event_id") * 7919) % 1000)
        .otherwise((F.col("event_id") * 2654435761) % 1_000_000)
        .alias("p"))
    return bh_fdr(e, ["grp"], "eid", "p", alpha_ppm=50_000)


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    bh_fdr_sql as _bh_fdr_sql,
)

REL_BH_FDR_SQL = _bh_fdr_sql(
    """SELECT user_id % 4 AS grp, event_id AS eid,
  CASE WHEN event_type = 'purchase' THEN (event_id * 7919) % 1000
       ELSE (event_id * 2654435761) % 1000000 END AS p
FROM events""",
    ["grp"], "eid", "p", alpha_ppm=50_000)

QUERIES["rel_bh_fdr"] = (rel_bh_fdr, REL_BH_FDR_SQL)


def rel_seasonal(spark, sf_dir):
    """Additive seasonal decomposition (stats.seasonal_decompose,
    period = 24) of the hourly event-count series per event type —
    the daily-rhythm splitter upstream of anomaly flags. Counts are
    integers on a regular hour grid by construction; trend is the
    centered 25-hour pmod-floor average, seasonal the per-hour-of-day
    phase mean of the detrended values."""
    from biocypher_metta_spark.operators.stats import seasonal_decompose

    ev = (_t(spark, sf_dir, "events")
          .groupBy(F.col("event_type").alias("grp"),
                   (F.unix_timestamp("ts") / 3600).cast("long")
                   .alias("hr"))
          .agg(F.count(F.lit(1)).alias("n_ev")))
    return seasonal_decompose(ev, ["grp"], "hr", "n_ev", period=24)


from biocypher_metta_spark.operators.stats import (  # noqa: E402
    seasonal_decompose_sql as _seasonal_decompose_sql,
)

REL_SEASONAL_SQL = _seasonal_decompose_sql(
    """SELECT event_type AS grp,
  CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
  count(*) AS n_ev FROM events GROUP BY 1, 2""",
    ["grp"], "hr", "n_ev", period=24)

QUERIES["rel_seasonal"] = (rel_seasonal, REL_SEASONAL_SQL)


def multimodal_scene_cuts(spark, sf_dir):
    """Consecutive-frame difference profile (multimodal.
    video_scene_cuts, stride=1) over the five AVI variants: exact
    integer |diff| and diff^2 sums per frame pair. The twin
    recomputes both from the pixel formula — the frame-PAIRING proof
    on top of multimodal_frame_sample's per-frame decode proof."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _AVI_VARIANTS])
    media = ids.select(
        F.concat(F.lit("avi://"),
                 F.col("i").cast("string")).alias("media_ref"),
        F.lit("video").alias("kind"),
        F.element_at(variants,
                     (F.col("i") % 5 + 1).cast("int")).alias("content"))
    return mm.video_scene_cuts(media, stride=1, max_frames=8)


MULTIMODAL_SCENE_CUTS_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
sc_pairs AS (
  SELECT v, unnest(range(0, 2 + v)) AS fa
  FROM (SELECT unnest(range(0, 5)) AS v)
), sc_diffs AS (
  SELECT v, fa, fa + 1 AS fb,
         CAST((4 + v) * (3 + v) * 3 AS BIGINT) AS n_px_bytes,
         CAST(list_sum(flatten(list_transform(range(0, 3 + v), y ->
           flatten(list_transform(range(0, 4 + v), x ->
             list_transform(range(0, 3), ch ->
               abs(((x * 7 + y * 13 + ch * 29 + fa * 31 + v * 101) % 256)
                   - ((x * 7 + y * 13 + ch * 29 + (fa + 1) * 31
                       + v * 101) % 256)))))))) AS BIGINT) AS diff_abs,
         CAST(list_sum(flatten(list_transform(range(0, 3 + v), y ->
           flatten(list_transform(range(0, 4 + v), x ->
             list_transform(range(0, 3), ch ->
               (((x * 7 + y * 13 + ch * 29 + fa * 31 + v * 101) % 256)
                - ((x * 7 + y * 13 + ch * 29 + (fa + 1) * 31
                    + v * 101) % 256)) ** 2)))))) AS BIGINT) AS diff_sq
  FROM sc_pairs
)
SELECT 'avi://' || i AS media_ref, CAST(e.fa AS INTEGER) AS f_prev,
       CAST(e.fb AS INTEGER) AS f_next, e.n_px_bytes, e.diff_abs,
       e.diff_sq
FROM ids JOIN sc_diffs e ON e.v = i % 5
"""

QUERIES["multimodal_scene_cuts"] = (multimodal_scene_cuts,
                                    MULTIMODAL_SCENE_CUTS_SQL)


def doc_containment(spark, sf_dir):
    """Asymmetric containment join (dedup.containment_join, tau =
    0.9): ordered near-superset pairs |A∩B|/|A| >= 0.9 over distinct
    token sets — the page-embedded-in-aggregator screen Jaccard
    misses. The synthetic corpus is template-heavy, so the gate
    exercises a DENSE true-pair regime (~79k pairs over 500 docs at
    sf0.01 — honest output volume, the exact join's lower bound).
    Oracle: brute-force all-pairs token join with NO pruning — its
    agreement certifies the pigeonhole prefix theorem."""
    from biocypher_metta_spark.operators.dedup import containment_join

    # every-10th-doc slice: the synthetic corpus is template families,
    # so the FULL corpus's true-pair count grows quadratically with sf
    # (8.3M pairs at sf0.1 — output-bound but useless as a bench
    # query); the slice pins the gate's pair density to the sf0.01
    # full-corpus regime while exercising the identical plan
    d = (_t(spark, sf_dir, "documents")
         .filter(F.col("doc_id") % 10 == 3))
    return containment_join(d, tau_permille=900)


from biocypher_metta_spark.operators.dedup import (  # noqa: E402
    containment_join_sql as _containment_join_sql,
)

DOC_CONTAINMENT_SQL = _containment_join_sql(
    "SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3",
    tau_permille=900)

QUERIES["doc_containment"] = (doc_containment, DOC_CONTAINMENT_SQL)


def emb_hamming_topk(spark, sf_dir):
    """Binary-quantized retrieval (similarity.sign_pack +
    hamming_topk): sign-pack the corpus into 2x32-bit words, score
    the vec_id=0 query by XOR popcount, top-10 with id tie-break —
    the 32x-compressed counterpart of emb_dot_topk. The twin counts
    sign DISAGREEMENTS directly on the float arrays (no packing at
    all), so agreement proves pack + XOR + popcount end-to-end."""
    from biocypher_metta_spark.operators.similarity import (
        hamming_topk,
        sign_pack,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    q = [float(x) for x in qrow[0]] if qrow else [0.0] * 64
    qwords = []
    for w in range(2):
        word = 0
        for i in range(32):
            if q[w * 32 + i] > 0:
                word |= 1 << i
        qwords.append(word)
    packed = sign_pack(emb.filter(F.col("vec_id") != 0), dim=64)
    return hamming_topk(packed, qwords, k=10)


EMB_HAMMING_TOPK_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       CAST(list_sum(list_transform(list_zip(e.embedding, q.qv),
            p -> CASE WHEN (p[1] > 0) != (p[2] > 0) THEN 1 ELSE 0 END))
         AS BIGINT) AS hamming
FROM embeddings e, q
WHERE e.vec_id != 0
ORDER BY hamming, vec_id
LIMIT 10
"""

QUERIES["emb_hamming_topk"] = (emb_hamming_topk, EMB_HAMMING_TOPK_SQL)


def kg_clustering_coef(spark, sf_dir):
    """Local clustering coefficient (graph.clustering_coefficient)
    over a 300-node quadratic-map graph (m -> m^2+1, m -> 5m+2 mod
    300 — irregular degrees, real triangles): the KG-quality readout
    where low-cc hubs flag linking noise and high-cc clumps flag
    over-merges. Pure composition on triangle_count; exact permille
    via decimal pmod floor."""
    ids = _ids(spark, sf_dir)
    m = F.col("i") % 300
    edges = (ids.select(m.alias("src"),
                        ((m * m + 1) % 300).alias("dst"))
             .unionAll(ids.select(m.alias("src"),
                                  ((m * 5 + 2) % 300).alias("dst"))))
    return graph_ops.clustering_coefficient(edges)


_CC_EDGES_SQL = """SELECT doc_id % 300 AS src,
  ((doc_id % 300) * (doc_id % 300) + 1) % 300 AS dst FROM documents
UNION ALL
SELECT doc_id % 300, ((doc_id % 300) * 5 + 2) % 300 FROM documents"""

QUERIES["kg_clustering_coef"] = (
    kg_clustering_coef,
    graph_ops.clustering_coefficient_sql(_CC_EDGES_SQL))


def doc_skipgrams(spark, sf_dir):
    """Skip-gram co-occurrence counts (text.skipgram_counts, window
    2, min_count 3) over the documents corpus — the (center,
    context, n) table embedding training consumes. Map-only
    slice-zip pair generation; the twin is an independent positional
    self-join spelling of the same window semantics."""
    from biocypher_metta_spark.operators.text import skipgram_counts

    return skipgram_counts(_t(spark, sf_dir, "documents"),
                           window=2, min_count=3)


from biocypher_metta_spark.operators.text import (  # noqa: E402
    skipgram_counts_sql as _skipgram_counts_sql,
)

DOC_SKIPGRAMS_SQL = _skipgram_counts_sql(
    "SELECT doc_id, text FROM documents", window=2, min_count=3)

QUERIES["doc_skipgrams"] = (doc_skipgrams, DOC_SKIPGRAMS_SQL)


# BMP variants: formula pixels at five widths (stride padding 0..3
# bytes exercised), encoded driver-side by the stdlib BMP codec and
# decoded back through the sniffing chain on executors.
from biocypher_metta_spark.operators.bmp import bmp_encode as _bmp_encode

_BMP_H = 4
_BMP_VARIANTS = [
    _bmp_encode(5 + v, _BMP_H,
                _png_formula_pixels(5 + v, _BMP_H, 3, v))
    for v in range(5)
]


def multimodal_bmp_decode(spark, sf_dir):
    """Stdlib BMP codec (operators/bmp.py) through image_stats via the
    format-sniffing chain: 24-bit BI_RGB with bottom-up rows and
    4-byte stride padding (widths 5..9 cover every pad length). The
    twin recomputes pixel sums from the formula, proving the
    BGR/flip/stride walk exactly."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _BMP_VARIANTS])
    media = ids.select(
        F.concat(F.lit("bmp://"),
                 F.col("i").cast("string")).alias("media_ref"),
        F.lit("image").alias("kind"),
        F.element_at(variants,
                     (F.col("i") % 5 + 1).cast("int")).alias("content"))
    return mm.image_stats(media).select(
        "media_ref", "width", "height", "channels", "pix_sum")


MULTIMODAL_BMP_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
bmp_e AS (
  SELECT v, 5 + v AS width, {_BMP_H} AS height, 3 AS channels,
         CAST(list_sum(flatten(list_transform(range(0, {_BMP_H}), y ->
           flatten(list_transform(range(0, 5 + v), x ->
             list_transform(range(0, 3), ch ->
               (x * 7 + y * 13 + ch * 29 + v * 101) % 256))))))
           AS BIGINT) AS pix_sum
  FROM (SELECT unnest(range(0, 5)) AS v)
)
SELECT 'bmp://' || i AS media_ref,
       CAST(e.width AS INTEGER) AS width,
       CAST(e.height AS INTEGER) AS height,
       CAST(e.channels AS INTEGER) AS channels,
       e.pix_sum
FROM ids JOIN bmp_e e ON e.v = i % 5
"""

QUERIES["multimodal_bmp_decode"] = (multimodal_bmp_decode,
                                    MULTIMODAL_BMP_SQL)


# mu-law variants: linear int16 formula samples companded driver-side
# (G.711 encode), expanded back on executors by the tag-7 wav_decode
# path; the twin applies the SAME closed-form quantization
# (wav.ulaw_quantize_sql, generated from the kernel's constants) to
# the sample formula.
from biocypher_metta_spark.operators.wav import (  # noqa: E402
    ulaw_quantize_sql as _ulaw_quantize_sql,
    wav_encode_ulaw as _wav_encode_ulaw,
)


def _ulaw_variant_samples(v: int) -> list[int]:
    m = 50 + 10 * v
    return [((i * 1103 + v * 40503) % 65536) - 32768 for i in range(m)]


_ULAW_VARIANTS = [
    _wav_encode_ulaw(_ulaw_variant_samples(v), sample_rate=8000,
                     n_channels=1)
    for v in range(4)
]


def multimodal_ulaw_decode(spark, sf_dir):
    """G.711 mu-law WAV (format tag 7) through audio_stats: telephony
    companding expanded by the closed-form integer formula. Lossy by
    design, so the twin quantizes the linear sample formula with the
    identical CASE expression (ulaw_quantize_sql) before taking
    peak/sum-of-squares."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _ULAW_VARIANTS])
    media = ids.select(
        F.concat(F.lit("ulaw://"),
                 F.col("i").cast("string")).alias("media_ref"),
        F.lit("audio").alias("kind"),
        F.element_at(variants,
                     (F.col("i") % 4 + 1).cast("int")).alias("content"))
    return mm.audio_stats(media)


_ULAW_Q = _ulaw_quantize_sql("((s.i * 1103 + s.v * 40503) % 65536) - 32768")

MULTIMODAL_ULAW_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
ul_s AS (
  SELECT vv.v, unnest(range(0, 50 + 10 * vv.v)) AS i
  FROM (SELECT unnest(range(0, 4)) AS v) vv
), ul_q AS (
  SELECT s.v, {_ULAW_Q} AS q
  FROM ul_s s
), ul_e AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_samples,
         CAST(max(abs(q)) AS BIGINT) AS peak_abs,
         CAST(sum(q * q) AS BIGINT) AS sum_sq
  FROM ul_q GROUP BY v
)
SELECT 'ulaw://' || i AS media_ref,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(8 AS INTEGER) AS bits,
       e.n_samples, e.peak_abs, e.sum_sq
FROM ids JOIN ul_e e ON e.v = i % 4
"""

QUERIES["multimodal_ulaw_decode"] = (multimodal_ulaw_decode,
                                     MULTIMODAL_ULAW_SQL)


def web_sitemap(spark, sf_dir):
    """Sitemap-protocol parse (web.sitemap_urls) over synthesized
    messy sitemap XML: per doc, one <url> with whitespace-padded
    <loc> and a <lastmod>, one <url> without lastmod, one loc-less
    <url> (must drop), and a <sitemapindex> child. The twin derives
    the expected rows straight from the generation formula — the
    tar_members pattern: formula equality proves the block and field
    regexes end-to-end."""
    from biocypher_metta_spark.operators.web import sitemap_urls

    ids = _ids(spark, sf_dir)
    i = F.col("i")
    site = F.concat(F.lit("https://site"), (i % 20).cast("string"),
                    F.lit(".example"))
    xml = F.concat(
        F.lit("<urlset>\n <url>\n  <loc>  "),
        site, F.lit("/p/"), i.cast("string"), F.lit("-1 </loc>\n"),
        F.lit("  <lastmod>2024-0"), (i % 9 + 1).cast("string"),
        F.lit("-01</lastmod>\n </url>\n <url><loc>"),
        site, F.lit("/p/"), i.cast("string"),
        F.lit("-2</loc></url>\n"),
        F.lit(" <url><lastmod>2099-01-01</lastmod></url>\n"),
        F.lit("</urlset>\n<sitemapindex><sitemap><loc>"),
        site, F.lit("/sm/"), i.cast("string"),
        F.lit(".xml</loc></sitemap></sitemapindex>"))
    docs = ids.select(i.alias("doc_id"), xml.alias("text"))
    return sitemap_urls(docs)


WEB_SITEMAP_SQL = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
sm_site AS (
  SELECT i, 'https://site' || (i % 20) || '.example' AS site FROM ids
)
SELECT i AS doc, 'url' AS kind,
       site || '/p/' || i || '-1' AS loc,
       '2024-0' || (i % 9 + 1) || '-01' AS lastmod
FROM sm_site
UNION ALL
SELECT i, 'url', site || '/p/' || i || '-2', NULL FROM sm_site
UNION ALL
SELECT i, 'sitemap', site || '/sm/' || i || '.xml', NULL FROM sm_site
"""

QUERIES["web_sitemap"] = (web_sitemap, WEB_SITEMAP_SQL)


def kg_mst(spark, sf_dir):
    """Minimum spanning forest (graph.boruvka_mst — distributed
    Boruvka contraction, (w, a, b) tie order) over a planted
    ring-plus-chords graph on 60 nodes: the ring guarantees
    connectivity (so |MSF| = 59 exactly), the two chord families
    plant cycles at every scale so most edges must LOSE to the cut
    property, and weights are a formula of the normalized pair so
    parallel spellings collapse identically in both engines. The
    engine contracts (log-round groupBy + pointer jumping); the
    oracle is the INDEPENDENT Kruskal cut property (an edge is in
    the unique MSF iff its endpoints are not connected by strictly
    smaller edges) as a recursive CTE — different algorithm, same
    unique answer."""
    ids = _ids(spark, sf_dir)
    ring = ids.select((F.col("i") % 60).alias("src"),
                      ((F.col("i") + 1) % 60).alias("dst"))
    chord = ids.select((F.col("i") % 60).alias("src"),
                       ((F.col("i") * 7 + 3) % 60).alias("dst"))
    dense = ids.select((F.col("i") % 45).alias("src"),
                       ((F.col("i") * 11 + 5) % 45).alias("dst"))
    edges = (ring.unionAll(chord).unionAll(dense)
             .withColumn("weight",
                         (F.least("src", "dst") * 73
                          + F.greatest("src", "dst") * 131) % 997 + 1))
    return graph_ops.boruvka_mst(edges)


_MST_EDGES_SQL = """SELECT src, dst,
       (least(src, dst) * 73 + greatest(src, dst) * 131) % 997 + 1
         AS weight
FROM (
  SELECT i % 60 AS src, (i + 1) % 60 AS dst
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
  UNION ALL SELECT i % 60, (i * 7 + 3) % 60
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
  UNION ALL SELECT i % 45, (i * 11 + 5) % 45
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
)"""

KG_MST_SQL = graph_ops.boruvka_mst_sql(_MST_EDGES_SQL)

QUERIES["kg_mst"] = (kg_mst, KG_MST_SQL)


# GIF variants: palette-formula pixels at five widths, alternating
# interlaced/sequential frames, encoded driver-side by the stdlib GIF
# codec (real LZW) and decoded back through the sniffing chain.
from biocypher_metta_spark.operators.gif import gif_encode as _gif_encode

_GIF_H = 5


def _gif_palette_pixels(w: int, h: int, v: int) -> bytes:
    p = 40 + 7 * v
    out = bytearray()
    for y in range(h):
        for x in range(w):
            i = (x * 7 + y * 13 + v * 29) % p
            out += bytes(((i * 11) % 256, (i * 57) % 256,
                          (i * 199) % 256))
    return bytes(out)


_GIF_VARIANTS = [
    _gif_encode(6 + v, _GIF_H, _gif_palette_pixels(6 + v, _GIF_H, v),
                interlace=(v % 2 == 1))
    for v in range(5)
]


def multimodal_gif_decode(spark, sf_dir):
    """Stdlib GIF codec (operators/gif.py) through image_stats via the
    format-sniffing chain: palette indirection + real LZW
    decompression (variable-width LSB-first codes, dynamic string
    table, KwKwK case), with the odd variants written INTERLACED so
    the 4-pass row reorder is proven too. The twin recomputes pixel
    sums from the palette formula, proving palette -> LZW ->
    (de)interlace -> RGB end-to-end."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _GIF_VARIANTS])
    media = ids.select(
        F.concat(F.lit("gif://"),
                 F.col("i").cast("string")).alias("media_ref"),
        F.lit("image").alias("kind"),
        F.element_at(variants,
                     (F.col("i") % 5 + 1).cast("int")).alias("content"))
    return mm.image_stats(media).select(
        "media_ref", "width", "height", "channels", "pix_sum")


MULTIMODAL_GIF_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
gif_e AS (
  SELECT v, 6 + v AS width, {_GIF_H} AS height, 3 AS channels,
         CAST(list_sum(flatten(list_transform(range(0, {_GIF_H}), y ->
           flatten(list_transform(range(0, 6 + v), x ->
             list_transform([(x * 7 + y * 13 + v * 29) % (40 + 7 * v)],
               p -> (p * 11) % 256 + (p * 57) % 256
                    + (p * 199) % 256)))))) AS BIGINT) AS pix_sum
  FROM (SELECT unnest(range(0, 5)) AS v)
)
SELECT 'gif://' || i AS media_ref,
       CAST(e.width AS INTEGER) AS width,
       CAST(e.height AS INTEGER) AS height,
       CAST(e.channels AS INTEGER) AS channels,
       e.pix_sum
FROM ids JOIN gif_e e ON e.v = i % 5
"""

QUERIES["multimodal_gif_decode"] = (multimodal_gif_decode,
                                    MULTIMODAL_GIF_SQL)


def kg_matching(spark, sf_dir):
    """Greedy maximal matching (graph.dominant_matching — parallel
    locally-dominant rounds == sequential greedy under the (w, a, b)
    order) over a planted ring-plus-chords graph on 64 nodes with
    formula weights: the 1:1 entity-alignment primitive. The twin is
    the SAME recurrence unrolled (dominant_matching_sql, the
    kcore_sql pattern); the cross-ALGORITHM check against a
    sequential greedy brute force lives in the pytest suite
    (tests/test_round5aa_ops.py)."""
    ids = _ids(spark, sf_dir)
    ring = ids.select((F.col("i") % 64).alias("src"),
                      ((F.col("i") + 1) % 64).alias("dst"))
    chord = ids.select((F.col("i") % 64).alias("src"),
                       ((F.col("i") * 5 + 2) % 64).alias("dst"))
    edges = (ring.unionAll(chord)
             .withColumn("weight",
                         (F.least("src", "dst") * 37
                          + F.greatest("src", "dst") * 101) % 499 + 1))
    return graph_ops.dominant_matching(edges)


_MATCH_EDGES_SQL = """SELECT src, dst,
       (least(src, dst) * 37 + greatest(src, dst) * 101) % 499 + 1
         AS weight
FROM (
  SELECT i % 64 AS src, (i + 1) % 64 AS dst
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
  UNION ALL SELECT i % 64, (i * 5 + 2) % 64
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
)"""

KG_MATCHING_SQL = graph_ops.dominant_matching_sql(_MATCH_EDGES_SQL,
                                                  rounds=16)

QUERIES["kg_matching"] = (kg_matching, KG_MATCHING_SQL)


def kg_mis(spark, sf_dir):
    """Maximal independent set (graph.greedy_mis — Luby rounds under
    a FIXED portable-hash priority == sequential greedy in (h, id)
    order) over the same ring-plus-chords family: the conflict-free
    diversity-sampling primitive. Twin = the unrolled recurrence
    with the hash spelled as DuckDB md5 arithmetic (bit-identical
    priorities); the independent sequential brute force is in
    tests/test_round5aa_ops.py."""
    ids = _ids(spark, sf_dir)
    ring = ids.select((F.col("i") % 60).alias("src"),
                      ((F.col("i") + 1) % 60).alias("dst"))
    chord = ids.select((F.col("i") % 60).alias("src"),
                       ((F.col("i") * 13 + 4) % 60).alias("dst"))
    return graph_ops.greedy_mis(ring.unionAll(chord))


_MIS_EDGES_SQL = """SELECT i % 60 AS src, (i + 1) % 60 AS dst
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
UNION ALL SELECT i % 60, (i * 13 + 4) % 60
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)"""

KG_MIS_SQL = graph_ops.greedy_mis_sql(_MIS_EDGES_SQL, rounds=16)

QUERIES["kg_mis"] = (kg_mis, KG_MIS_SQL)


# ontology analytics (operators/ontology_sim): true-path-rule
# up-propagation + Resnik MICA over the binary-halving DAG the
# kg_isa_closure gate already proves, restricted to a bounded term
# space so output stays ontology-sized at every sf.
_ONTO_EDGES = ("i >= 1 AND i <= 350",)


def _onto_closure(spark, sf_dir):
    from biocypher_metta_spark.canonicalize import transitive_closure

    ids = _ids(spark, sf_dir)
    edges = ids.filter(_ONTO_EDGES[0]).select(
        F.concat(F.lit("C"), F.col("i").cast("string")).alias("src"),
        F.concat(F.lit("C"), F.floor(F.col("i") / 2).cast("long")
                 .cast("string")).alias("dst"))
    return transitive_closure(edges).select(
        F.col("src").alias("cls"), F.col("dst").alias("ancestor"))


_ONTO_CLOSURE_SQL = """
WITH RECURSIVE oc_e AS (
  SELECT 'C' || i AS src, 'C' || CAST(i // 2 AS BIGINT) AS dst
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
  WHERE i >= 1 AND i <= 350
), oc_r AS (
  SELECT src, dst FROM oc_e
  UNION
  SELECT oc_r.src, oc_e.dst FROM oc_r JOIN oc_e ON oc_r.dst = oc_e.src
)
SELECT src AS cls, dst AS ancestor FROM oc_r
"""

_ONTO_ANN_SQL = """SELECT 'G' || (i % 97) AS item,
       'C' || (i % 350 + 1) AS term
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)"""


def _onto_ann(spark, sf_dir):
    ids = _ids(spark, sf_dir)
    return ids.select(
        F.concat(F.lit("G"), (F.col("i") % 97).cast("string"))
        .alias("item"),
        F.concat(F.lit("C"), (F.col("i") % 350 + 1).cast("string"))
        .alias("term"))


def kg_go_upprop(spark, sf_dir):
    """Annotation up-propagation (ontology_sim.annotation_uppropagate
    — the GOA true-path rule) over the halving-DAG closure with a
    formula gene->term annotation table: every direct annotation
    plus all implied ancestor annotations, distinct. The closure is
    a broadcast-sized dimension; the corpus-scale side is the
    annotation table (north-star shape). Twin composes the same
    recursive-CTE closure with the union-distinct spelling."""
    from biocypher_metta_spark.operators.ontology_sim import (
        annotation_uppropagate,
    )

    return annotation_uppropagate(_onto_ann(spark, sf_dir),
                                  _onto_closure(spark, sf_dir))


from biocypher_metta_spark.operators.ontology_sim import (  # noqa: E402
    annotation_uppropagate_sql as _upprop_sql,
    resnik_mica_sql as _mica_sql,
)

KG_GO_UPPROP_SQL = _upprop_sql(_ONTO_ANN_SQL, _ONTO_CLOSURE_SQL)

QUERIES["kg_go_upprop"] = (kg_go_upprop, KG_GO_UPPROP_SQL)


_ONTO_PAIRS_SQL = """SELECT 'C' || (i % 120 + 30) AS t1,
       'C' || ((i * 7) % 120 + 30) AS t2
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)"""


def kg_resnik_mica(spark, sf_dir):
    """Resnik most-informative common ancestor
    (ontology_sim.resnik_mica) for a formula term-pair list over the
    same closure + annotations: (t1, t2, mica, n_ann) with the MICA
    picked by minimum up-propagated annotation count — the
    integer-exact Resnik ordering (IC is monotone decreasing in the
    count, so no cross-engine float logs). Pairs without an
    annotated common ancestor are absent."""
    from biocypher_metta_spark.operators.ontology_sim import resnik_mica

    ids = _ids(spark, sf_dir)
    pairs = ids.select(
        F.concat(F.lit("C"), (F.col("i") % 120 + 30).cast("string"))
        .alias("t1"),
        F.concat(F.lit("C"), ((F.col("i") * 7) % 120 + 30)
                 .cast("string")).alias("t2"))
    return resnik_mica(pairs, _onto_ann(spark, sf_dir),
                       _onto_closure(spark, sf_dir))


KG_RESNIK_MICA_SQL = _mica_sql(_ONTO_PAIRS_SQL, _ONTO_ANN_SQL,
                               _ONTO_CLOSURE_SQL)

QUERIES["kg_resnik_mica"] = (kg_resnik_mica, KG_RESNIK_MICA_SQL)


def kg_single_linkage(spark, sf_dir):
    """Single-linkage clustering at a distance threshold
    (graph.single_linkage_clusters): the dendrogram cut of the MSF —
    the near-dup cluster extractor at a similarity cutoff. The gate
    graph reuses the kg_mst ring+chords family, thresholded so the
    cut splits the ring into several arcs plus chord-bridged lumps;
    the twin computes min-id reachability over the threshold-filtered
    ORIGINAL edges (recursive CTE) — no MSF involved — so agreement
    proves the cut property end-to-end."""
    from biocypher_metta_spark.operators.graph import (
        single_linkage_clusters,
    )

    ids = _ids(spark, sf_dir)
    ring = ids.select((F.col("i") % 60).alias("src"),
                      ((F.col("i") + 1) % 60).alias("dst"))
    chord = ids.select((F.col("i") % 60).alias("src"),
                       ((F.col("i") * 7 + 3) % 60).alias("dst"))
    edges = (ring.unionAll(chord)
             .withColumn("weight",
                         (F.least("src", "dst") * 73
                          + F.greatest("src", "dst") * 131) % 997 + 1))
    return single_linkage_clusters(edges, threshold=400)


_SL_EDGES_SQL = """SELECT src, dst,
       (least(src, dst) * 73 + greatest(src, dst) * 131) % 997 + 1
         AS weight
FROM (
  SELECT i % 60 AS src, (i + 1) % 60 AS dst
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
  UNION ALL SELECT i % 60, (i * 7 + 3) % 60
  FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
)"""

KG_SINGLE_LINKAGE_SQL = graph_ops.single_linkage_clusters_sql(
    _SL_EDGES_SQL, threshold=400)

QUERIES["kg_single_linkage"] = (kg_single_linkage,
                                KG_SINGLE_LINKAGE_SQL)


# IMA ADPCM variants: int16 formula samples compressed driver-side
# (tag-17 encode) and expanded on executors by the block decoder. The
# twin is a SECOND DECODER IMPLEMENTATION: the nibble stream (parsed
# structurally out of the encoded blob) embedded as literals, decoded
# by a recursive CTE carrying the (predictor, step-index) state with
# the public step/index tables as VALUES — SQL vs Python, same
# recurrence, bit-identical samples or the gate fails.
from biocypher_metta_spark.operators.wav import (  # noqa: E402
    wav_encode_adpcm as _adpcm_encode,
)

_ADPCM_N = 200
_ADPCM_BLOCK = 32                       # spb = (32-4)*2+1 = 57


def _adpcm_formula(v: int) -> list:
    return [((i * 1103 + 7 + v * 331) % 65536) - 32768
            for i in range(_ADPCM_N)]


_ADPCM_VARIANTS = [
    _adpcm_encode(_adpcm_formula(v), 8000, block_align=_ADPCM_BLOCK)
    for v in range(4)
]


def _adpcm_blob_rows():
    """Parse each encoded blob's data chunk into header rows
    (v, blk, 0, pred, idx) and nibble rows (v, blk, k, nib)."""
    import struct as _s

    hdr, nib = [], []
    spb = (_ADPCM_BLOCK - 4) * 2 + 1
    for v, blob in enumerate(_ADPCM_VARIANTS):
        pos = 12
        pcm = None
        while pos + 8 <= len(blob):
            cid = blob[pos:pos + 4]
            csize = _s.unpack_from("<I", blob, pos + 4)[0]
            if cid == b"data":
                pcm = blob[pos + 8:pos + 8 + csize]
            pos += 8 + csize + (csize & 1)
        for blk in range(len(pcm) // _ADPCM_BLOCK):
            boff = blk * _ADPCM_BLOCK
            pred, idx, _r = _s.unpack_from("<hBB", pcm, boff)
            hdr.append((v, blk, pred, idx))
            k = 1
            for b in pcm[boff + 4:boff + _ADPCM_BLOCK]:
                for n in (b & 0x0F, b >> 4):
                    nib.append((v, blk, k, n))
                    k += 1
        assert k == spb, "nibble count mismatch"
    return hdr, nib


def multimodal_adpcm_decode(spark, sf_dir):
    """IMA/DVI ADPCM WAV (wav.py tag 17) through audio_stats: 4-bit
    differential blocks with the 89-entry step table, fact-chunk
    frame trim, mono. The twin re-decodes the SAME nibble stream
    with an independent recursive-CTE implementation of the
    recurrence."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _ADPCM_VARIANTS])
    media = ids.select(
        F.concat(F.lit("adpcm://"),
                 F.col("i").cast("string")).alias("media_ref"),
        F.lit("audio").alias("kind"),
        F.element_at(variants,
                     (F.col("i") % 4 + 1).cast("int")).alias("content"))
    return mm.audio_stats(media).select(
        "media_ref", "n_channels", "sample_rate", "bits", "n_samples",
        "peak_abs", "sum_sq")


def _adpcm_twin_sql() -> str:
    from biocypher_metta_spark.operators.wav import (
        IMA_INDEX_TABLE,
        IMA_STEP_TABLE,
    )

    hdr, nib = _adpcm_blob_rows()
    spb = (_ADPCM_BLOCK - 4) * 2 + 1
    step_vals = ", ".join(f"({i}, {s})"
                          for i, s in enumerate(IMA_STEP_TABLE))
    idx_vals = ", ".join(f"({n}, {d})"
                         for n, d in enumerate(IMA_INDEX_TABLE))
    hdr_vals = ", ".join(f"({v}, {b}, {p}, {ix})"
                         for v, b, p, ix in hdr)
    nib_vals = ", ".join(f"({v}, {b}, {k}, {n})"
                         for v, b, k, n in nib)
    return f"""
WITH RECURSIVE ad_step(i, s) AS (VALUES {step_vals}),
ad_ix(n, d) AS (VALUES {idx_vals}),
ad_hdr(v, blk, pred, idx) AS (VALUES {hdr_vals}),
ad_nib(v, blk, k, nib) AS (VALUES {nib_vals}),
ad_dec(v, blk, k, pred, idx) AS (
  SELECT v, blk, 0, pred, idx FROM ad_hdr
  UNION ALL
  SELECT n.v, n.blk, n.k,
         greatest(-32768, least(32767, d.pred
           + (CASE WHEN n.nib >= 8 THEN -1 ELSE 1 END)
             * ((st.s // 8)
                + CASE WHEN n.nib % 2 = 1 THEN st.s // 4 ELSE 0 END
                + CASE WHEN (n.nib // 2) % 2 = 1 THEN st.s // 2
                       ELSE 0 END
                + CASE WHEN (n.nib // 4) % 2 = 1 THEN st.s
                       ELSE 0 END))),
         greatest(0, least(88, d.idx + ix.d))
  FROM ad_dec d
  JOIN ad_nib n ON n.v = d.v AND n.blk = d.blk AND n.k = d.k + 1
  JOIN ad_step st ON st.i = d.idx
  JOIN ad_ix ix ON ix.n = n.nib
),
ad_s AS (
  SELECT v, blk * {spb} + k AS pos, pred AS smp
  FROM ad_dec WHERE blk * {spb} + k < {_ADPCM_N}
),
ad_stats AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_samples,
         CAST(max(abs(smp)) AS BIGINT) AS peak_abs,
         CAST(sum(smp * smp) AS BIGINT) AS sum_sq
  FROM ad_s GROUP BY v
)
SELECT 'adpcm://' || i AS media_ref,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(4 AS INTEGER) AS bits,
       s.n_samples, s.peak_abs, s.sum_sq
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents) ids
JOIN ad_stats s ON s.v = i % 4
"""


QUERIES["multimodal_adpcm_decode"] = (multimodal_adpcm_decode,
                                      _adpcm_twin_sql())


# WebVTT variants: formula cue times rendered driver-side into real
# VTT text (odd variants use the SRT comma + hour-less timestamps and
# CRLF line endings), plus a negative-duration cue and a text-less cue
# that must DROP. The twin derives the expected cue rows from the
# same time formula — no regex — proving the parser end-to-end.
def _vtt_ts(ms: int, comma: bool, no_hours: bool) -> str:
    h, rest = divmod(ms, 3600_000)
    m, rest = divmod(rest, 60_000)
    s, mmm = divmod(rest, 1000)
    sep = "," if comma else "."
    if no_hours and h == 0:
        return f"{m:02d}:{s:02d}{sep}{mmm:03d}"
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{mmm:03d}"


def _vtt_start(v: int, k: int) -> int:
    return v * 1000 + k * 2000 + 137


def _vtt_end(v: int, k: int) -> int:
    return _vtt_start(v, k) + 900 + 50 * v + 10 * k


def _vtt_doc(v: int) -> str:
    odd = v % 2 == 1
    lines = ["WEBVTT", ""]
    for k in range(3):
        ts = (f"{_vtt_ts(_vtt_start(v, k), odd, odd)} --> "
              f"{_vtt_ts(_vtt_end(v, k), odd, odd)}"
              + (" align:start" if k == 1 else ""))
        if k == 0:
            lines.append(str(k + 1))           # numeric id line
        lines += [ts, f"cue {v} {k}"]
        if k == 2:
            lines.append("line two")
        lines.append("")
    # malformed tails that must drop: negative duration, no text
    lines += ["01:00:00.000 --> 00:59:59.000", "dropped", "",
              "02:00:00.000 --> 02:00:01.000", ""]
    text = "\n".join(lines)
    return text.replace("\n", "\r\n") if odd else text


_VTT_VARIANTS = [_vtt_doc(v) for v in range(5)]


def multimodal_vtt_cues(spark, sf_dir):
    """WebVTT parsing (subtitles.vtt_cues) over five driver-rendered
    variants: optional-hours + comma timestamps, CRLF, id lines, cue
    settings, multiline text, and malformed cues that must drop. The
    twin derives the expected (cue_idx, start_ms, end_ms, cue_text)
    rows from the SAME time formula with no regex at all."""
    from biocypher_metta_spark.operators.subtitles import vtt_cues

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(t) for t in _VTT_VARIANTS])
    docs = ids.select(
        F.concat(F.lit("vtt://"), F.col("i").cast("string"))
        .alias("doc_id"),
        F.element_at(variants,
                     (F.col("i") % 5 + 1).cast("int")).alias("text"))
    return vtt_cues(docs)


MULTIMODAL_VTT_SQL = """
WITH v_ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
v_cues AS (
  SELECT v, k AS cue_idx,
         CAST(v * 1000 + k * 2000 + 137 AS BIGINT) AS start_ms,
         CAST(v * 1000 + k * 2000 + 137 + 900 + 50 * v + 10 * k
              AS BIGINT) AS end_ms,
         CASE WHEN k = 2 THEN 'cue ' || v || ' ' || k
                   || chr(10) || 'line two'
              ELSE 'cue ' || v || ' ' || k END AS cue_text
  FROM (SELECT unnest(range(0, 5)) AS v),
       (SELECT unnest(range(0, 3)) AS k)
)
SELECT 'vtt://' || i AS doc, c.cue_idx, c.start_ms, c.end_ms,
       c.cue_text
FROM v_ids JOIN v_cues c ON c.v = i % 5
"""

QUERIES["multimodal_vtt_cues"] = (multimodal_vtt_cues,
                                  MULTIMODAL_VTT_SQL)


def multimodal_vtt_align(spark, sf_dir):
    """Cue->frame alignment (subtitles.align_cues_to_frames): frames
    at formula timestamps joined to the active cue via the bucketed
    point-in-interval path (media_ref as the chromosome — the
    genomic range-join machinery reused verbatim). The twin derives
    cue intervals from the formula and aligns with DuckDB's
    inequality join (IEJoin) — an independent range-join strategy."""
    from biocypher_metta_spark.operators.subtitles import (
        align_cues_to_frames,
        vtt_cues,
    )

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(t) for t in _VTT_VARIANTS])
    docs = ids.select(
        F.concat(F.lit("vtt://"), (F.col("i") % 5).cast("string"))
        .alias("doc_id"),
        F.element_at(variants,
                     (F.col("i") % 5 + 1).cast("int")).alias("text"))
    cues = vtt_cues(docs).distinct()
    frames = ids.select(
        F.concat(F.lit("vtt://"), (F.col("i") % 5).cast("string"))
        .alias("media_ref"),
        F.col("i").alias("frame_idx"),
        ((F.col("i") * 311) % 12_000).alias("frame_ms"))
    out = align_cues_to_frames(cues, frames, bucket=1000)
    return out.select("media_ref", "cue_idx", "frame_idx", "frame_ms")


MULTIMODAL_VTT_ALIGN_SQL = """
WITH a_ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
a_cues AS (
  SELECT v, k AS cue_idx,
         CAST(v * 1000 + k * 2000 + 137 AS BIGINT) AS start_ms,
         CAST(v * 1000 + k * 2000 + 137 + 900 + 50 * v + 10 * k
              AS BIGINT) AS end_ms
  FROM (SELECT unnest(range(0, 5)) AS v),
       (SELECT unnest(range(0, 3)) AS k)
),
a_frames AS (
  SELECT 'vtt://' || (i % 5) AS media_ref, i AS frame_idx,
         CAST((i * 311) % 12000 AS BIGINT) AS frame_ms
  FROM a_ids
)
SELECT f.media_ref, c.cue_idx, f.frame_idx, f.frame_ms
FROM a_frames f
JOIN a_cues c ON 'vtt://' || c.v = f.media_ref
  AND f.frame_ms >= c.start_ms AND f.frame_ms < c.end_ms
"""

QUERIES["multimodal_vtt_align"] = (multimodal_vtt_align,
                                   MULTIMODAL_VTT_ALIGN_SQL)


def web_cidr_filter(spark, sf_dir):
    """IPv4/CIDR containment join (web.ip_in_cidr_join): formula
    client IPs against a formula block list — the crawl
    allow/deny-list primitive. IPs and blocks parse to integer
    ranges (malformed rows drop: a planted octet-256 ip and a /33
    block) and containment rides the genomic bucketed
    point-in-interval equi-join with a constant chromosome. The twin
    parses with the generated SQL expressions and joins with
    DuckDB's BETWEEN (IEJoin) — an independent strategy."""
    from biocypher_metta_spark.operators.web import ip_in_cidr_join

    ids = _ids(spark, sf_dir)
    i = F.col("i")
    ips = ids.select(
        i.alias("ip_id"),
        F.when(i % 97 == 0, F.lit("256.1.1.1")).otherwise(
            F.concat(((i * 131) % 224).cast("string"), F.lit("."),
                     ((i * 17) % 256).cast("string"), F.lit("."),
                     ((i * 7) % 256).cast("string"), F.lit("."),
                     (i % 256).cast("string"))).alias("ip"))
    cidrs = ids.filter(i < 80).select(
        i.alias("cidr_id"),
        F.when(i % 37 == 0, F.lit("1.2.3.4/33")).otherwise(
            F.concat(((i * 131) % 224).cast("string"),
                     F.lit(".0.0.0/"),
                     (i % 3 * 8 + 8).cast("string"))).alias("cidr"))
    out = ip_in_cidr_join(ips, cidrs)
    return out.select("ip_id", "ip", "cidr_id", "cidr")


WEB_CIDR_SQL_PARTS = None  # built below from the expression twins


def _web_cidr_sql() -> str:
    from biocypher_metta_spark.operators.web import (
        cidr_bounds_sql,
        ipv4_to_long_sql,
    )

    lo, hi = cidr_bounds_sql("cidr")
    return f"""
WITH ci_ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
ci_ips AS (
  SELECT i AS ip_id,
         CASE WHEN i % 97 = 0 THEN '256.1.1.1'
              ELSE ((i * 131) % 224) || '.' || ((i * 17) % 256)
                   || '.' || ((i * 7) % 256) || '.' || (i % 256)
         END AS ip
  FROM ci_ids
),
ci_cidrs AS (
  SELECT i AS cidr_id,
         CASE WHEN i % 37 = 0 THEN '1.2.3.4/33'
              ELSE ((i * 131) % 224) || '.0.0.0/'
                   || CAST(i % 3 * 8 + 8 AS VARCHAR)
         END AS cidr
  FROM ci_ids WHERE i < 80
)
SELECT p.ip_id, p.ip, c.cidr_id, c.cidr
FROM (SELECT ip_id, ip, {ipv4_to_long_sql('ip')} AS n FROM ci_ips) p
JOIN (SELECT cidr_id, cidr, {lo} AS lo, {hi} AS hi FROM ci_cidrs) c
  ON p.n IS NOT NULL AND c.lo IS NOT NULL
     AND p.n BETWEEN c.lo AND c.hi
"""


QUERIES["web_cidr_filter"] = (web_cidr_filter, _web_cidr_sql())


# TIFF variants: formula pixels at five widths covering BOTH byte
# orders, both compressions, and multi-strip layouts (rows_per_strip
# 2 splits every variant into 3 strips), encoded driver-side and
# decoded through the sniffing chain.
from biocypher_metta_spark.operators.tiff import (  # noqa: E402
    tiff_encode as _tiff_encode,
)

_TIFF_H = 5
_TIFF_VARIANTS = [
    _tiff_encode(6 + v, _TIFF_H,
                 _png_formula_pixels(6 + v, _TIFF_H, 3, v),
                 packbits=(v % 2 == 1), big_endian=(v >= 3),
                 rows_per_strip=2)
    for v in range(5)
]


def multimodal_tiff_decode(spark, sf_dir):
    """Stdlib TIFF codec (operators/tiff.py) through image_stats via
    the sniffing chain: IFD tag walk in BOTH byte orders ('II' and
    'MM'), multi-strip assembly (rows_per_strip=2), and PackBits RLE
    on the odd variants. The twin recomputes pixel sums from the
    formula, proving header -> strips -> (de)compression -> RGB."""
    from biocypher_metta_spark.operators import multimodal as mm

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _TIFF_VARIANTS])
    media = ids.select(
        F.concat(F.lit("tiff://"),
                 F.col("i").cast("string")).alias("media_ref"),
        F.lit("image").alias("kind"),
        F.element_at(variants,
                     (F.col("i") % 5 + 1).cast("int")).alias("content"))
    return mm.image_stats(media).select(
        "media_ref", "width", "height", "channels", "pix_sum")


MULTIMODAL_TIFF_SQL = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
tf_e AS (
  SELECT v, 6 + v AS width, {_TIFF_H} AS height, 3 AS channels,
         CAST(list_sum(flatten(list_transform(range(0, {_TIFF_H}), y ->
           flatten(list_transform(range(0, 6 + v), x ->
             list_transform(range(0, 3), ch ->
               (x * 7 + y * 13 + ch * 29 + v * 101) % 256))))))
           AS BIGINT) AS pix_sum
  FROM (SELECT unnest(range(0, 5)) AS v)
)
SELECT 'tiff://' || i AS media_ref,
       CAST(e.width AS INTEGER) AS width,
       CAST(e.height AS INTEGER) AS height,
       CAST(e.channels AS INTEGER) AS channels,
       e.pix_sum
FROM ids JOIN tf_e e ON e.v = i % 5
"""

QUERIES["multimodal_tiff_decode"] = (multimodal_tiff_decode,
                                     MULTIMODAL_TIFF_SQL)


# script-detection variants: one text per major script family plus a
# mixed and a scriptless one; the numeric doc-id tail adds no script
# characters so the per-variant profile is exact at every sf.
_SCRIPT_TEXTS = [
    "The quick brown fox jumps over the lazy dog",
    "Съешь же ещё этих мягких французских булок",
    "汉字是世界上最古老的文字之一 with latin tail",
    "ひらがなとカタカナと漢字のテキスト",
    "12345 !!! ... ---",
]


def doc_script_detect(spark, sf_dir):
    """Unicode script profiling (text.script_profile): per-document
    dominant script by codepoint-range histogram — the multilingual
    routing gate BEFORE within-script language ID (doc_lang_trigram
    discriminates inside Latin; this routes Cyrillic/CJK/kana/...).
    Map-only higher-order functions (split -> ascii -> filter/size),
    no UDF, no shuffle. The twin is GENERATED from the same
    SCRIPT_RANGES table (unicode() + list_filter) so range tables
    cannot drift."""
    from biocypher_metta_spark.operators.text import script_profile

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(t) for t in _SCRIPT_TEXTS])
    docs = ids.select(
        F.concat(F.lit("sd://"), F.col("i").cast("string"))
        .alias("doc_id"),
        F.concat(F.element_at(variants,
                              (F.col("i") % 5 + 1).cast("int")),
                 F.lit(" "), F.col("i").cast("string")).alias("text"))
    return script_profile(docs)


def _script_detect_sql() -> str:
    from biocypher_metta_spark.operators.text import script_profile_sql

    cases = " ".join(
        f"WHEN i % 5 = {k} THEN '{t}'"
        for k, t in enumerate(_SCRIPT_TEXTS))
    docs = f"""SELECT 'sd://' || i AS doc_id,
       (CASE {cases} END) || ' ' || i AS text
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)"""
    return script_profile_sql(docs)


QUERIES["doc_script_detect"] = (doc_script_detect,
                                _script_detect_sql())


def rel_hilbert_key(spark, sf_dir):
    """Hilbert-curve layout key (zorder.hilbert_key_udf, bits=10) on
    a formula 2D scatter — the stronger-locality sibling of
    rel_zorder_key (consecutive keys are grid neighbors, no Morton
    seams). Kernel = vectorized Arrow numpy walk (the expression
    spelling would re-inline into ~3^bits Catalyst nodes — the
    documented CollapseProject hazard); twin = the SAME walk as a
    10-level materialized CTE chain generated from the same
    constants."""
    from biocypher_metta_spark.operators.zorder import hilbert_key_udf

    ids = _ids(spark, sf_dir)
    h = hilbert_key_udf(bits=10)
    pts = ids.select(((F.col("i") * 37) % 1024).alias("x"),
                     ((F.col("i") * 53) % 1024).alias("y")).distinct()
    return pts.select("x", "y", h(F.col("x"), F.col("y")).alias("hkey"))


from biocypher_metta_spark.operators.zorder import (  # noqa: E402
    hilbert_key_sql as _hilbert_sql,
)

REL_HILBERT_SQL = _hilbert_sql(
    """SELECT DISTINCT (i * 37) % 1024 AS x, (i * 53) % 1024 AS y
FROM (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)""",
    "x", "y", bits=10, out_cols="x, y")

QUERIES["rel_hilbert_key"] = (rel_hilbert_key, REL_HILBERT_SQL)


# ID3 variants: formula text frames encoded driver-side as v2.3
# (even variants: big-endian sizes, latin-1) and v2.4 (odd: syncsafe
# sizes, utf-8), plus a malformed v2.2 blob that must null out.
from biocypher_metta_spark.operators.id3 import (  # noqa: E402
    id3_encode as _id3_encode,
)

_ID3_VARIANTS = [
    _id3_encode([("TIT2", f"Track {v}"), ("TPE1", f"Artist {v % 3}"),
                 ("TRCK", str(v))], version=3 + v % 2)
    for v in range(4)
] + [b"ID3\x02\x00\x00\x00\x00\x00\x00"]


def multimodal_id3_tags(spark, sf_dir):
    """ID3v2 metadata parse (id3.id3_frames): text frames as typed
    (media_ref, frame_id, text) rows — both frame-size conventions
    (v2.3 big-endian, v2.4 syncsafe) exercised, and a planted
    unsupported-version blob that must emit the null row per the
    modality error contract. The twin derives the expected frame
    rows from the generation formula — no byte walking."""
    from biocypher_metta_spark.operators.id3 import id3_frames

    ids = _ids(spark, sf_dir)
    variants = F.array(*[F.lit(bytearray(b)) for b in _ID3_VARIANTS])
    media = ids.select(
        F.concat(F.lit("id3://"),
                 F.col("i").cast("string")).alias("media_ref"),
        F.lit("audio").alias("kind"),
        F.element_at(variants,
                     (F.col("i") % 5 + 1).cast("int")).alias("content"))
    return id3_frames(media)


MULTIMODAL_ID3_SQL = """
WITH i_ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
i_frames AS (
  SELECT v, 'TIT2' AS frame_id, 'Track ' || v AS text
  FROM (SELECT unnest(range(0, 4)) AS v)
  UNION ALL
  SELECT v, 'TPE1', 'Artist ' || (v % 3)
  FROM (SELECT unnest(range(0, 4)) AS v)
  UNION ALL
  SELECT v, 'TRCK', CAST(v AS VARCHAR)
  FROM (SELECT unnest(range(0, 4)) AS v)
  UNION ALL
  SELECT 4, NULL, NULL
)
SELECT 'id3://' || i AS media_ref, f.frame_id, f.text
FROM i_ids JOIN i_frames f ON f.v = i % 5
"""

QUERIES["multimodal_id3_tags"] = (multimodal_id3_tags,
                                  MULTIMODAL_ID3_SQL)


# ===========================================================================
# Checksum composites + the driver registry (50-row snapshot cap)
# ===========================================================================
# The driver adjudicates only the FIRST 50 entries of
# __spark_entry__.queries() (registry-insertion order). With 76 fine
# gates the newest operators never earned a driver-green row (r4 judge
# item #1). Fix: narrow single-operator gates are folded into checksum
# composites — each sub-operator contributes one (op, n_rows, checksum)
# row, where checksum = sum over rows of
#     portable_hash(concat_ws(US, sorted columns)) % 1000000007
# so ANY wrong value in ANY row of ANY sub-op perturbs the compare.
# Both sides derive mechanically from the fine gate's own (fn, sql), so
# the composite cannot drift from the row-level gate; the fine gates
# all stay in QUERIES and are checked row-by-row by
# tools/check_oracles.py and the test suite. DRIVER_QUERIES lists the
# 50 driver entries with the never-driver-adjudicated names FIRST.

_CK_MOD = 1_000_000_007  # sum of 60-bit-hash mods stays far below 2^63
_CK_NULL = "\x01NULL"    # NUL itself is not embeddable in DuckDB strings


def _ck_spark(name: str, df: DataFrame) -> DataFrame:
    cols = sorted(df.columns)
    s = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(f"`{c}`").cast("string"),
                             F.lit(_CK_NULL)) for c in cols])
    h = text_ops.portable_hash(s) % F.lit(_CK_MOD)
    return (df.select(h.alias("h"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.coalesce(F.sum("h"), F.lit(0)).cast("long")
                 .alias("checksum"))
            .select(F.lit(name).alias("op"), "n_rows", "checksum"))


def _ck_sql(name: str, cols: list, sql: str) -> str:
    concat = ", ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(1) || 'NULL')"
        for c in sorted(cols))
    body = sql.strip().rstrip(";")
    return (
        f"SELECT '{name}' AS op, count(*) AS n_rows,\n"
        f"  CAST(coalesce(sum(('0x' || substr(md5(concat_ws(chr(31), "
        f"{concat})), 1, 15))::BIGINT % {_CK_MOD}), 0) AS BIGINT)"
        f" AS checksum\nFROM (\n{body}\n)"
    )


# sub-op -> its sorted output columns (asserted against the live
# DataFrame schema in tests/test_driver_registry.py so the static SQL
# wrapper can never drift from the Spark side)
CK_COLUMNS = {
    "doc_dsir_scores": ["doc_id", "dsir_score", "n_grams",
                        "score_per_gram"],
    "rel_window_filter": ["l_linenumber", "l_orderkey", "qty"],
    "rel_composite_id": ["composite_id", "o_orderkey"],
    "rel_score_cutoff": ["event_id", "value_milli"],
    "rel_broadcast_left_join": ["cust_name", "o_orderkey"],
    "rel_double_inner_join": ["l_linenumber", "l_orderkey", "p_brand",
                              "s_name"],
    "rel_shuffle_join_agg": ["n_rows", "o_orderpriority",
                             "sum_price_cents"],
    "rel_collect_ordered": ["l_orderkey", "qty_seq"],
    "rel_distinct_dedup": ["c_mktsegment", "c_nationkey"],
    "rel_union_adapters": ["bal_floor", "name", "segment"],
    "rel_pricing_summary": ["count_order", "l_linestatus", "l_returnflag",
                            "sum_base_cents", "sum_disc_cents", "sum_qty"],
    "rel_window_rank": ["o_custkey", "o_orderkey", "rnk"],
    "rel_events_hourly": ["event_type", "hour", "n_events", "sum_value_c"],
    "rel_range_join": ["iid", "pid"],
    "rel_interval_overlap": ["lid", "rid"],
    "kg_peregrine_enhancers": ["chr", "data_source", "end", "enh_id", "id",
                               "start"],
    "kg_peregrine_edges": ["biological_context", "score", "src", "tgt"],
    "doc_token_stats": ["doc_id", "n_chars_obs", "n_subtokens", "n_tokens",
                        "n_unique_tokens"],
    "doc_tfidf_topk": ["doc_freq", "doc_id", "rank", "score", "tf",
                       "token"],
    "doc_repetition": ["doc_id", "dup2_permille", "dup3_permille",
                       "n_tokens", "top_tok_permille"],
    "doc_split": ["doc_id", "split", "split_bucket"],
    "multimodal_decode": ["channels", "height", "media_ref", "width"],
    "multimodal_png_decode": ["channels", "height", "media_ref",
                              "pix_sum", "width"],
    "multimodal_jpeg_decode": ["channels", "height", "media_ref",
                               "pix_sum", "width"],
    "multimodal_wav_decode": ["bits", "media_ref", "n_channels",
                              "n_samples", "peak_abs", "sample_rate",
                              "sum_sq"],
    "multimodal_frame_sample": ["frame_index", "height", "media_ref",
                                "pix_sum", "width"],
    "multimodal_resize": ["channels", "height", "media_ref", "pix_sum",
                          "width"],
    "multimodal_jpeg_resize": ["channels", "height", "media_ref",
                               "pix_sum", "width"],
    "kg_streaming_parity": ["obj", "pred", "subj"],
    "kg_streaming_window": ["event_type", "hour", "n_events",
                            "sum_value_c"],
    "kg_streaming_dedup": ["event_id", "event_type", "ts_s", "user_id",
                           "value_c"],
    "kg_streaming_join": ["click_c", "click_ts_s", "imp_c", "imp_id",
                          "imp_ts_s", "user_id"],
    "rel_interval_stab": ["peak", "peak_t", "user_id"],
    "rel_skyline": ["p_brand", "p_partkey", "price_c", "size"],
    "rel_asof_directions": ["event_id", "state", "user_id", "variant"],
    "rel_session_window": ["n_events", "session_end", "session_start",
                           "sum_value_c", "user_id"],
    "kg_streaming_sessions": ["n_events", "session_end", "session_start",
                              "sum_value_c", "user_id"],
    "rel_sketch_setops": ["inter_est", "k", "n_inter_k", "n_union_k",
                          "theta", "union_est"],
    "rel_histogram_quantiles": ["event_type", "n_rows", "q_lo",
                                "q_permille"],
    "rel_grouping_sets": ["gid", "linestatus", "n_rows", "returnflag",
                          "sum_cents"],
    "doc_simhash": ["doc_id", "simhash"],
    "doc_fingerprint": ["doc_id", "fingerprint"],
    "doc_hash_sample": ["doc_id", "lang"],
    "doc_stratified_sample": ["doc_id", "lang", "sample_rank"],
    "web_domain_cap": ["doc_id", "host", "sample_rank"],
    "doc_bm25_topk": ["doc_id", "rank", "score"],
    "doc_cms_topfreq": ["estimate", "value"],
    "doc_bm25_join": ["doc_id", "query_id", "rank", "score"],
    "doc_ngram_excise": ["clean_text", "doc_id", "n_removed", "n_tokens"],
    "doc_chunk_fixed": ["chunk_no", "chunk_text", "doc_id",
                        "n_chunk_tokens"],
    "web_canonical_url": ["canon", "doc_id", "url"],
    "kg_pagerank": ["id", "rank_fp"],
    "kg_triangles": ["id", "triangles"],
    "kg_kcore": ["core_deg", "id"],
    "rel_bloom_prefilter": ["o_custkey", "o_orderkey"],
    "rel_changelog_compact": ["l_orderkey", "op", "qty", "seq", "ts"],
    "rel_scd2_intervals": ["is_current", "l_orderkey", "qty", "seq",
                           "ts", "valid_from", "valid_to"],
    "rel_salted_join": ["n_rows", "p_brand", "sum_qty"],
    "kg_lpa": ["id", "label"],
    "rel_gapfill_locf": ["cents", "day", "grp", "is_gap"],
    "rel_ewma": ["day", "ewma", "ewma_num", "grp"],
    "kg_survivorship": ["acct_cents", "cluster", "n_members", "name"],
    "kg_entity_resolution": ["acct_cents", "entity_id", "n_members", "name"],
    "rel_funnel": ["stage", "user_id"],
    "rel_dq_profile": ["col_name", "max_v", "min_v", "n_distinct",
                       "n_empty", "n_null", "n_rows", "total_len"],
    "rel_retention": ["cohort", "n_users", "offset_p"],
    "rel_outlier_flags": ["cents", "grp", "n_grp", "rid"],
    "rel_fuzzy_join": ["dist", "id_a", "id_b"],
    "rel_event_transitions": ["from_step", "n", "to_step"],
    "rel_twap": ["dur_total", "twap", "user_id"],
    "rel_funnel_windowed": ["stage", "user_id"],
    "doc_bpe_train": ["merge_rank", "n", "sym_a", "sym_b"],
    "doc_bpe_encode": ["n", "token"],
    "rel_fk_check": ["cust_fk", "o_orderkey"],
    "rel_pivot": ["cents_f", "cents_o", "cents_p", "o_orderpriority"],
    "kg_cooccurrence": ["item_a", "item_b", "n_docs"],
    "doc_weighted_sample": ["doc_id", "lang", "sample_rank", "wt"],
    "rel_bucketed_join": ["c_mktsegment", "n_rows", "sum_cents"],
    "doc_strip_markup": ["clean_text", "doc_id"],
    "web_link_edges": ["doc", "n_links", "url"],
    "rel_interval_merge": ["end", "grp", "n_merged", "start"],
    "rel_snapshot_diff": ["cents_new", "cents_old", "change", "k",
                          "o_orderstatus_new", "o_orderstatus_old"],
    "kg_bfs": ["dist", "node"],
    "kg_sssp": ["cost", "node"],
    "kg_random_walks": ["node", "rep", "start", "step"],
    "kg_wl_colors": ["color", "node"],
    "kg_temporal_reach": ["arrival", "node"],
    "kg_ppr": ["id", "rank_fp"],
    "kg_schema_validate": ["edge_label", "reason", "src", "tgt"],
    "kg_ntriples": ["line"],
    "kg_scc": ["node", "scc"],
    "emb_random_projection": ["p0", "p1", "p2", "p3", "p4", "p5",
                              "p6", "p7", "vec_id"],
    "emb_ivfpq_topk": ["adc_dist", "vec_id"],
    "kg_jaccard_links": ["jaccard_permille", "n_common", "node_a",
                         "node_b"],
    "doc_lm_train": ["bigram", "n"],
    "kg_streaming_upsert": ["l_orderkey", "op", "qty", "seq", "ts"],
    "doc_set_similarity": ["id_a", "id_b", "jaccard_permille",
                           "n_common"],
    "emb_semantic_dedup": ["keep", "rep_id", "vec_id"],
    "emb_kmeans": ["cluster", "vec_id"],
    "emb_pq_topk": ["adc_dist", "vec_id"],
    "doc_rrf_fusion": ["doc_id", "rrf_score"],
    "kg_hits": ["auth_fp", "hub_fp", "id"],
    "rel_zorder_key": ["o_orderkey", "zkey"],
    "rel_itemsets": ["ante", "conf_permille", "cons", "lift_milli",
                     "n_ante", "n_pair"],
    "rel_hll_sketch": ["est_fp", "n_zero", "s", "scope"],
    "kg_link_predict": ["n_common", "node_a", "node_b", "ra_fp"],
    "doc_winnowing": ["doc_id", "h", "pos"],
    "web_anchor_text": ["anchor", "n", "rank", "url"],
    "rel_autocorr": ["ac_milli", "grp", "lag", "m"],
    "rel_attribution": ["channel", "credit_milli", "n_touches"],
    "kg_assortativity": ["n_stubs", "r_milli"],
    "rel_crosscorr": ["grp", "lag", "m", "xc_milli"],
    "kg_ktruss": ["a", "b", "support"],
    "rel_benford": ["grp", "mad_ppm", "n_obs"],
    "rel_gini": ["gini_ppm", "grp", "n_obs", "sum_v"],
    "rel_linreg": ["grp", "intercept_ppm", "n_obs", "slope_ppm"],
    "kg_four_cycles": ["c4", "id"],
    "kg_collab_weight": ["item_a", "item_b", "n_docs", "w_ppm"],
    "rel_chisq": ["chi2_ppm", "dof", "grp", "n_cells", "n_obs"],
    "rel_winsorize": ["cents", "grp", "is_clamped", "okey"],
    "rel_decile_lift": ["bucket", "conv", "cum_lift_ppm", "n",
                        "rate_ppm"],
    "doc_ngram_novelty": ["doc_id", "n_grams", "n_shared",
                          "novelty_ppm"],
    "doc_heavy_tokens": ["cnt", "value"],
    "kg_betweenness": ["bc_scaled", "node"],
    "kg_closeness": ["h_scaled", "n_seen", "node"],
    "rel_proximity_join": ["dist_sq", "id_a", "id_b"],
    "rel_cusum": ["alarm", "cusum_neg", "cusum_pos", "day", "grp",
                  "value"],
    "rel_ks_test": ["d_ppm", "d_scaled", "grp", "n_a", "n_b"],
    "rel_mannwhitney": ["auc_ppm", "grp", "n_a", "n_b", "u_a_x2"],
    "kg_modularity": ["contrib_ppm", "d_sum", "e_in", "label",
                      "n_nodes"],
    "multimodal_tar_members": ["byte_sum", "ext", "media_ref",
                               "member_name", "sample_key", "size"],
    "multimodal_samples": ["content_sum", "exts", "media_ref",
                           "n_members", "sample_key", "total_bytes"],
    "kg_anf": ["est", "hop", "n_sketch", "node"],
    "web_robots_filter": ["allowed", "host", "path", "rule_len",
                          "rule_path", "url"],
    "doc_pmi_collocations": ["n_pair", "pmi_ratio_ppm", "w1", "w2"],
    "doc_rake_keyphrases": ["n_occ", "n_words", "phrase", "score_ppm"],
    "doc_readability": ["doc_id", "fk_grade_milli", "n_sentences",
                        "n_syllables", "n_words"],
    "emb_mmr_rerank": ["mmr_rank", "mmr_score", "vec_id"],
    "doc_retrieval_ladder": ["mmr_rank", "mmr_score", "vec_id"],
    "rel_k_anonymity": ["cust_bucket", "k_size", "k_violation",
                        "l_distinct", "l_violation", "prio", "status",
                        "yr"],
    "rel_cohens_kappa": ["grp", "kappa_ppm", "n_agree", "n_obs"],
    "doc_rocchio": ["doc_id", "pred_label", "score_ppb"],
    "rel_spearman": ["grp", "n_obs", "rho_ppm"],
    "rel_theil_sen": ["grp", "n_pairs", "slope_ppm"],
    "rel_t_closeness": ["cust_bucket", "emd_ppm", "k_size", "prio",
                        "status"],
    "rel_kaplan_meier": ["d_events", "grp", "n_risk", "surv_ppm", "t"],
    "kg_eff_radius": ["eff_radius", "node", "reach_est"],
    "multimodal_audio_frames": ["energy", "frame_idx", "media_ref",
                                "n", "peak_abs", "zero_crossings"],
    "kg_dag_depth": ["depth", "node"],
    "multimodal_dhash": ["dhash", "height", "media_ref", "width"],
    "rel_bh_fdr": ["grp", "id", "m", "p_ppm", "rank", "reject"],
    "rel_seasonal": ["grp", "remainder", "seasonal", "t", "trend",
                     "value"],
    "multimodal_scene_cuts": ["diff_abs", "diff_sq", "f_next",
                              "f_prev", "media_ref", "n_px_bytes"],
    "doc_containment": ["containment_permille", "id_a", "id_b",
                        "n_a", "n_common"],
    "emb_hamming_topk": ["hamming", "vec_id"],
    "kg_clustering_coef": ["cc_permille", "deg", "id", "triangles"],
    "doc_skipgrams": ["center", "context", "n"],
    "multimodal_bmp_decode": ["channels", "height", "media_ref",
                              "pix_sum", "width"],
    "multimodal_ulaw_decode": ["bits", "media_ref", "n_channels",
                               "n_samples", "peak_abs", "sample_rate",
                               "sum_sq"],
    "web_sitemap": ["doc", "kind", "lastmod", "loc"],
    "kg_mst": ["a", "b", "w"],
    "multimodal_gif_decode": ["channels", "height", "media_ref",
                              "pix_sum", "width"],
    "kg_matching": ["a", "b", "w"],
    "kg_mis": ["h", "id"],
    "kg_go_upprop": ["item", "term"],
    "kg_resnik_mica": ["mica", "n_ann", "t1", "t2"],
    "kg_single_linkage": ["cluster", "id"],
    "multimodal_adpcm_decode": ["bits", "media_ref", "n_channels",
                                "n_samples", "peak_abs", "sample_rate",
                                "sum_sq"],
    "multimodal_vtt_cues": ["cue_idx", "cue_text", "doc", "end_ms",
                            "start_ms"],
    "multimodal_vtt_align": ["cue_idx", "frame_idx", "frame_ms",
                             "media_ref"],
    "web_cidr_filter": ["cidr", "cidr_id", "ip", "ip_id"],
    "multimodal_tiff_decode": ["channels", "height", "media_ref",
                               "pix_sum", "width"],
    "doc_script_detect": ["doc_id", "n_letters", "script",
                          "script_permille"],
    "rel_hilbert_key": ["hkey", "x", "y"],
    "multimodal_id3_tags": ["frame_id", "media_ref", "text"],
}

# composite -> ordered sub-op names (each a fine gate in QUERIES)
CK_COMPOSITES = {
    "rel_scalar_checks": ["rel_window_filter", "rel_composite_id",
                          "rel_score_cutoff", "rel_hilbert_key"],
    "rel_join_checks": ["rel_broadcast_left_join", "rel_double_inner_join",
                        "rel_shuffle_join_agg", "rel_bloom_prefilter",
                        "rel_salted_join", "rel_bucketed_join",
                        "rel_snapshot_diff", "rel_fk_check",
                        "rel_fuzzy_join", "rel_zorder_key",
                        "rel_asof_directions"],
    "rel_agg_checks": ["rel_collect_ordered", "rel_distinct_dedup",
                       "rel_union_adapters", "rel_pricing_summary",
                       "rel_histogram_quantiles", "rel_grouping_sets",
                       "rel_sketch_setops",
                       "rel_changelog_compact", "rel_pivot",
                       "rel_dq_profile", "rel_retention", "rel_skyline",
                       "rel_itemsets", "rel_hll_sketch",
                       "rel_benford", "rel_gini", "rel_linreg",
                       "rel_chisq", "rel_decile_lift",
                       "rel_k_anonymity", "rel_cohens_kappa",
                       "rel_spearman", "rel_theil_sen",
                       "rel_t_closeness"],
    "rel_window_checks": ["rel_window_rank", "rel_events_hourly",
                          "rel_session_window", "rel_scd2_intervals",
                          "rel_gapfill_locf", "rel_ewma",
                          "rel_funnel", "rel_outlier_flags",
                          "rel_event_transitions", "rel_twap",
                          "rel_funnel_windowed", "rel_autocorr",
                          "rel_attribution", "rel_crosscorr",
                          "rel_winsorize", "rel_cusum",
                          "rel_ks_test", "rel_mannwhitney",
                          "rel_kaplan_meier", "rel_bh_fdr",
                          "rel_seasonal"],
    "rel_range_family": ["rel_range_join", "rel_interval_overlap",
                         "rel_interval_merge", "rel_interval_stab",
                         "rel_proximity_join"],
    "kg_peregrine_checks": ["kg_peregrine_enhancers", "kg_peregrine_edges"],
    "doc_text_metrics": ["doc_token_stats", "doc_tfidf_topk",
                         "doc_repetition", "doc_split", "doc_simhash",
                         "doc_fingerprint", "doc_lm_train",
                         "doc_set_similarity", "doc_bpe_train",
                         "doc_bpe_encode", "doc_winnowing",
                         "doc_readability", "doc_pmi_collocations",
                         "doc_rake_keyphrases"],
    # round-5b training-data curation family (sampling / caps / BM25 /
    # CMS) and graph-analytics family (PageRank, SemDeDup) — folded so
    # the registry stays at the 50-row driver snapshot cap
    "doc_curation_checks": ["doc_hash_sample", "doc_stratified_sample",
                            "web_domain_cap", "doc_bm25_topk",
                            "doc_cms_topfreq", "doc_bm25_join",
                            "doc_ngram_excise", "doc_chunk_fixed",
                            "web_canonical_url", "doc_weighted_sample",
                            "doc_strip_markup", "web_link_edges",
                            "doc_rrf_fusion", "emb_mmr_rerank",
                            "doc_dsir_scores",
                            "doc_retrieval_ladder", "web_anchor_text",
                            "doc_ngram_novelty", "doc_heavy_tokens",
                            "web_robots_filter", "doc_rocchio",
                            "doc_containment", "doc_skipgrams",
                            "web_sitemap", "web_cidr_filter",
                            "doc_script_detect"],
    "kg_graph_checks": ["kg_pagerank", "kg_hits", "emb_semantic_dedup",
                        "emb_kmeans", "emb_pq_topk",
                        "kg_triangles", "kg_kcore",
                        "kg_lpa", "kg_cooccurrence", "kg_jaccard_links",
                        "kg_bfs", "kg_sssp", "kg_random_walks",
                        "kg_wl_colors", "kg_temporal_reach", "kg_ppr",
                        "kg_schema_validate", "kg_ntriples",
                        "kg_survivorship",
                        "kg_entity_resolution", "kg_scc",
                        "emb_random_projection", "emb_ivfpq_topk",
                        "kg_link_predict", "kg_assortativity",
                        "kg_ktruss", "kg_four_cycles",
                        "kg_collab_weight", "kg_betweenness",
                        "kg_closeness", "kg_modularity", "kg_anf",
                        "kg_eff_radius", "kg_dag_depth",
                        "emb_hamming_topk", "kg_clustering_coef",
                        "kg_mst", "kg_matching", "kg_mis",
                        "kg_go_upprop", "kg_resnik_mica",
                        "kg_single_linkage"],
    "multimodal_codecs": ["multimodal_decode", "multimodal_png_decode",
                          "multimodal_jpeg_decode",
                          "multimodal_wav_decode",
                          "multimodal_frame_sample",
                          "multimodal_tar_members",
                          "multimodal_samples",
                          "multimodal_audio_frames",
                          "multimodal_dhash",
                          "multimodal_scene_cuts",
                          "multimodal_bmp_decode",
                          "multimodal_ulaw_decode",
                          "multimodal_gif_decode",
                          "multimodal_adpcm_decode",
                          "multimodal_vtt_cues",
                          "multimodal_vtt_align",
                          "multimodal_tiff_decode",
                          "multimodal_id3_tags"],
    "multimodal_resize_family": ["multimodal_resize",
                                 "multimodal_jpeg_resize"],
    # both sub-gates run real checkpointed AvailableNow increments; the
    # composite gives the r5 windowed/watermark op a driver row without
    # growing the registry past the 50-row snapshot cap
    "kg_streaming_checks": ["kg_streaming_parity", "kg_streaming_window",
                            "kg_streaming_dedup", "kg_streaming_join",
                            "kg_streaming_upsert",
                            "kg_streaming_sessions"],
}


def _make_composite(subnames):
    def fn(spark, sf_dir, _subs=tuple(subnames)):
        parts = [_ck_spark(n, QUERIES[n][0](spark, sf_dir)) for n in _subs]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    sql = "\nUNION ALL\n".join(
        _ck_sql(n, CK_COLUMNS[n], QUERIES[n][1]) for n in subnames)
    return fn, sql


for _cname, _subs in CK_COMPOSITES.items():
    QUERIES[_cname] = _make_composite(_subs)


# The 50 driver rows. Order: everything never driver-adjudicated first
# (r4 operators, r3 composites the snapshot rotated out, and the new
# checksum composites), then the long-green standalones. Folded-away
# fine gates are covered either by their composite above or by the
# doc_pipeline capstone (scrub, exact_dedup, quality, lang_id, pack,
# c4_filter, perplexity) / doc_dup_clusters + doc_corpus_clean
# (minhash, lsh_pairs) / doc_lang_trigram (lang_dist); every fine gate
# remains individually checkable via tools/check_oracles.py.
DRIVER_ORDER = [
    # -- never driver-adjudicated ----------------------------------------
    "doc_curation_checks",
    "kg_graph_checks",
    "rel_scalar_checks",
    "rel_join_checks",
    "rel_agg_checks",
    "rel_window_checks",
    "rel_asof_join",
    "rel_range_family",
    "rel_hypertable_rollup",
    "doc_distinct_sketch",
    "kg_isa_closure",
    "kg_gaf_bed_scan",
    "kg_join_chains",
    "kg_motif_munge",
    "kg_peregrine_checks",
    "kg_finemap",
    "doc_lang_trigram",
    "doc_cdc",
    "doc_pipeline",
    "doc_contamination",
    "doc_line_dedup",
    "doc_text_metrics",
    "doc_dup_clusters",
    "emb_knn_join",
    "multimodal_codecs",
    "multimodal_resize_family",
    "kg_streaming_checks",
    # -- driver-green in CORRECTNESS_r04 ---------------------------------
    "kg_gtf_gene_nodes",
    "kg_gtf_gene_atoms",
    "kg_vcf_snp_nodes",
    "kg_transcribed_to_edges",
    "kg_node_dedup",
    "kg_hgvs_variant_ids",
    "kg_connected_components",
    "kg_span_fingerprints",
    "kg_prolog_facts",
    "kg_mention_link_counts",
    "kg_pattern_match",
    "kg_nested_annotation_atoms",
    "kg_alias_dimension",
    "kg_swiss_records",
    "kg_keyed_fanin",
    "kg_predicate_cache",
    "kg_neo4j_dedup",
    "kg_gwas_leads",
    "kg_liftover",
    # doc_simhash + doc_fingerprint folded into doc_text_metrics (r5b)
    "emb_dot_topk",
    "emb_near_dup",
    "expr_gene_corr",
    "doc_corpus_clean",
]

assert len(DRIVER_ORDER) == len(set(DRIVER_ORDER)) <= 50, len(DRIVER_ORDER)
DRIVER_QUERIES = {name: QUERIES[name] for name in DRIVER_ORDER}
