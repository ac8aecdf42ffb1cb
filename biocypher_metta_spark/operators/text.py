"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language-ID, document fingerprinting.

All pure Catalyst expressions (no Python in the hot path). Where a metric
is a ratio, it is emitted as an integer permille/scaled value computed
from exact integer operands — IEEE division of exact ints is bit-stable
across engines, which keeps the DuckDB oracle hashes equal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic, engine-portable 60-bit hash of a string: first 15 hex
# digits of md5, parsed base-16. Twin SQL (DuckDB): ('0x'||substr(md5(x),1,15))::BIGINT
def portable_hash(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


PUNCT_RE = r"[\.,;:!\?'\"\(\)-]"
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# marker-word sets for the stopword language-ID heuristic. Dict order is
# the deterministic tie-break (first listed wins on equal scores).
# ASCII-only markers on purpose: the token column is raw UTF-8 and keeping
# the dictionary ASCII removes any normalization divergence between the
# Spark plan and the DuckDB oracle (whose SQL is GENERATED from this dict
# — entry_queries._duck_lang_scores — so the two can never drift).
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "to", "in", "that", "it"],
    "de": ["und", "der", "die", "das", "nicht", "mit", "ein", "ist"],
    "fr": ["le", "la", "les", "et", "des", "une", "est", "dans"],
    "es": ["el", "los", "las", "y", "que", "por", "con", "para"],
    "pt": ["os", "uma", "ele", "isso", "mais", "muito", "sem", "como"],
    "it": ["il", "lo", "gli", "che", "per", "una", "sono", "di"],
    "nl": ["het", "een", "niet", "van", "voor", "naar", "zijn", "ook"],
    "sv": ["och", "att", "det", "som", "den", "inte", "har", "jag"],
}


def token_stats(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-doc token counting + surface stats (whitespace tokenizer plus a
    BPE-ish word/number/punct segmentation count)."""
    t = F.col(text_col)
    toks = tokens(t)
    bpe_ish = F.regexp_count(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars_obs"),
        F.size(toks).alias("n_tokens"),
        bpe_ish.cast("long").alias("n_subtokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality scoring: length band + punctuation density +
    stopword presence + repetition, as exact integers (permille scaling)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    punct = F.regexp_count(t, F.lit(PUNCT_RE)).cast("long")
    stop = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS)))
    uniq = F.size(F.array_distinct(toks))
    punct_permille = F.floor(punct * 1000.0 / F.greatest(n_chars, F.lit(1))).cast("long")
    stop_permille = F.floor(stop * 1000.0 / F.greatest(n_tok, F.lit(1))).cast("long")
    rep_permille = F.floor(uniq * 1000.0 / F.greatest(n_tok, F.lit(1))).cast("long")
    length_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(1)).otherwise(F.lit(0))
    score = (
        length_ok * 250
        + F.when(stop_permille >= 20, 250).otherwise(0)
        + F.when(rep_permille >= 300, 250).otherwise(0)
        + F.when(punct_permille <= 200, 250).otherwise(0)
    )
    return df.select(
        F.col(id_col),
        punct_permille.alias("punct_permille"),
        stop_permille.alias("stop_permille"),
        rep_permille.alias("rep_permille"),
        score.cast("long").alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Marker-word language ID over LANG_MARKERS with deterministic
    tie-break (dict declaration order, then 'unk' when no marker hits).
    Pure expressions — one filter/size per language, no Python."""
    toks = tokens(F.col(text_col))
    def _in(markers):
        # closure factory: a default-arg lambda would be read by Spark as
        # the 2-arg (element, index) higher-order form
        return lambda x: x.isin(markers)

    scores = [(lang, F.size(F.filter(toks, _in(markers))))
              for lang, markers in LANG_MARKERS.items()]
    best = F.greatest(*[s for _, s in scores])
    lang = F.when(best == 0, F.lit("unk"))
    for l, s in scores:
        lang = lang.when(s == best, F.lit(l))
    lang = lang.otherwise(F.lit("unk"))
    en = dict(scores)["en"]
    return df.select(F.col(id_col), en.cast("long").alias("en_score"),
                     lang.alias("lang_pred"))


# --------------------------------------------------------------------------
# char-trigram language ID (round 3): profiles DERIVED AT IMPORT from the
# per-language training snippets below — the Spark plan, the DuckDB twin
# (entry_queries generates its SQL from LANG_TRIGRAMS), and the accuracy
# test all consume the same dict, so nothing can drift. Unlike the
# marker-word heuristic above, trigram sets score every substring of the
# doc, so coverage doesn't depend on a handful of exact function words.
# --------------------------------------------------------------------------

LANG_TRIGRAM_SNIPPETS = {
    "en": ("the quick brown fox jumps over the lazy dog and then it runs "
           "through the fields where the children are playing with their "
           "friends because this is what happens when the weather is good "
           "and everyone wants to be outside in the sunshine together "
           "my brother said that he would bring the letters to the house "
           "of our neighbour in the evening after the shops had closed "
           "people often think that reading many books makes a person "
           "wise but understanding what you read matters much more"),
    "de": ("der schnelle braune fuchs springt ueber den faulen hund und "
           "laeuft dann durch die felder wo die kinder mit ihren freunden "
           "spielen weil das eben passiert wenn das wetter gut ist und "
           "alle zusammen draussen in der sonne sein wollen "
           "mein bruder sagte dass er die briefe am abend zum haus "
           "unseres nachbarn bringen wuerde nachdem die geschaefte "
           "geschlossen hatten viele leute denken dass das lesen vieler "
           "buecher einen menschen klug macht aber das verstehen zaehlt"),
    "fr": ("le rapide renard brun saute par dessus le chien paresseux et "
           "court ensuite dans les champs ou les enfants jouent avec "
           "leurs amis parce que cela arrive quand le temps est beau et "
           "que tout le monde veut etre dehors ensemble au soleil "
           "mon frere a dit qu'il apporterait les lettres a la maison de "
           "notre voisin le soir apres la fermeture des magasins les gens "
           "pensent souvent que lire beaucoup de livres rend une personne "
           "sage mais comprendre ce qu'on lit compte bien davantage"),
    "es": ("el rapido zorro marron salta sobre el perro perezoso y luego "
           "corre por los campos donde los ninos juegan con sus amigos "
           "porque esto es lo que pasa cuando hace buen tiempo y todos "
           "quieren estar fuera juntos bajo el sol "
           "mi hermano dijo que llevaria las cartas a la casa de nuestro "
           "vecino por la noche despues de que cerraran las tiendas la "
           "gente piensa a menudo que leer muchos libros hace sabia a una "
           "persona pero entender lo que se lee importa mucho mas"),
    "pt": ("a rapida raposa marrom pula sobre o cachorro preguicoso e "
           "depois corre pelos campos onde as criancas brincam com os "
           "seus amigos porque e isso que acontece quando o tempo esta "
           "bom e todos querem ficar fora juntos ao sol "
           "o meu irmao disse que levaria as cartas para a casa do nosso "
           "vizinho a noite depois de as lojas fecharem as pessoas pensam "
           "muitas vezes que ler muitos livros torna uma pessoa sabia mas "
           "entender o que se le importa muito mais"),
    "it": ("la veloce volpe marrone salta sopra il cane pigro e poi corre "
           "attraverso i campi dove i bambini giocano con i loro amici "
           "perche questo e quello che succede quando il tempo e bello e "
           "tutti vogliono stare fuori insieme al sole "
           "mio fratello ha detto che avrebbe portato le lettere alla "
           "casa del nostro vicino la sera dopo la chiusura dei negozi la "
           "gente pensa spesso che leggere molti libri renda saggia una "
           "persona ma capire cio che si legge conta molto di piu"),
    "nl": ("de snelle bruine vos springt over de luie hond en rent daarna "
           "door de velden waar de kinderen met hun vrienden spelen omdat "
           "dit is wat er gebeurt als het weer goed is en iedereen samen "
           "buiten in de zon wil zijn "
           "mijn broer zei dat hij de brieven in de avond naar het huis "
           "van onze buurman zou brengen nadat de winkels gesloten waren "
           "mensen denken vaak dat het lezen van veel boeken iemand wijs "
           "maakt maar begrijpen wat je leest is veel belangrijker"),
    "sv": ("den snabba bruna raeven hoppar oever den lata hunden och "
           "springer sedan genom faelten daer barnen leker med sina "
           "vaenner eftersom det aer vad som haender naer vaedret aer "
           "bra och alla vill vara ute tillsammans i solen "
           "min bror sa att han skulle ta med breven till vaar grannes "
           "hus paa kvaellen efter att butikerna hade staengt maanga "
           "maenniskor tror ofta att den som laeser maanga boecker blir "
           "klok men att foersta det man laeser betyder mycket mer"),
    # round 4 widening: six more languages, same parallel passage,
    # ASCII-transliterated like de/sv above (the normalizer strips
    # non-[a-z], so diacritics are dropped rather than transliterated
    # for languages where that is the common informal web form).
    "da": ("den hurtige brune raev springer over den dovne hund og "
           "loeber derefter gennem markerne hvor boernene leger med "
           "deres venner fordi det er hvad der sker naar vejret er godt "
           "og alle gerne vil vaere udenfor sammen i solskinnet "
           "min bror sagde at han ville bringe brevene hen til vores "
           "nabos hus om aftenen efter at butikkerne var lukket mange "
           "mennesker tror ofte at den der laeser mange boeger bliver "
           "klog men at forstaa det man laeser betyder meget mere"),
    "pl": ("szybki brazowy lis skacze nad leniwym psem a potem biegnie "
           "przez pola gdzie dzieci bawia sie ze swoimi przyjaciolmi "
           "poniewaz tak wlasnie dzieje sie kiedy pogoda jest dobra i "
           "wszyscy chca byc razem na zewnatrz w sloncu "
           "moj brat powiedzial ze przyniesie listy do domu naszego "
           "sasiada wieczorem po zamknieciu sklepow ludzie czesto mysla "
           "ze czytanie wielu ksiazek czyni czlowieka madrym ale "
           "zrozumienie tego co sie czyta znaczy znacznie wiecej"),
    "ro": ("vulpea maro si rapida sare peste cainele lenes si apoi "
           "alearga prin campuri unde copiii se joaca cu prietenii lor "
           "pentru ca asta se intampla cand vremea este buna si toata "
           "lumea vrea sa fie afara impreuna la soare "
           "fratele meu a spus ca va aduce scrisorile la casa vecinului "
           "nostru seara dupa inchiderea magazinelor oamenii cred "
           "adesea ca citirea multor carti face un om intelept dar "
           "intelegerea a ceea ce citesti conteaza mult mai mult"),
    "fi": ("nopea ruskea kettu hyppaa laiskan koiran yli ja juoksee "
           "sitten peltojen halki missa lapset leikkivat ystaviensa "
           "kanssa koska niin tapahtuu kun saa on hyva ja kaikki "
           "haluavat olla yhdessa ulkona auringossa "
           "veljeni sanoi etta han toisi kirjeet naapurimme taloon "
           "illalla kauppojen suljettua ihmiset ajattelevat usein etta "
           "monien kirjojen lukeminen tekee ihmisesta viisaan mutta sen "
           "ymmartaminen mita lukee merkitsee paljon enemman"),
    "tr": ("hizli kahverengi tilki tembel kopegin uzerinden atlar ve "
           "sonra cocuklarin arkadaslariyla oynadigi tarlalarda kosar "
           "cunku hava guzel oldugunda ve herkes gunes altinda birlikte "
           "disarida olmak istediginde boyle olur "
           "kardesim aksam dukkanlar kapandiktan sonra mektuplari "
           "komsumuzun evine goturecegini soyledi insanlar cogu zaman "
           "cok kitap okumanin insani bilge yaptigini dusunur ama "
           "okudugunu anlamak cok daha onemlidir"),
    "id": ("rubah coklat yang cepat melompati anjing malas lalu berlari "
           "melewati ladang tempat anak anak bermain dengan teman teman "
           "mereka karena itulah yang terjadi ketika cuaca bagus dan "
           "semua orang ingin berada di luar bersama di bawah sinar "
           "matahari saudara saya berkata bahwa dia akan membawa surat "
           "surat itu ke rumah tetangga kami pada malam hari setelah "
           "toko toko tutup orang sering berpikir bahwa membaca banyak "
           "buku membuat seseorang bijaksana tetapi memahami apa yang "
           "dibaca jauh lebih penting"),
}

LANG_TRIGRAM_K = 96
# rank-tier weights: the top slice of a language's frequency profile is
# far more discriminative than the tail (close Romance languages share
# most of the tail) — three InSet passes per language instead of a
# 96-branch per-element CASE keeps scoring in whole-stage codegen.
LANG_TRIGRAM_TIERS = ((24, 3), (24, 2), (48, 1))


def _norm_text_py(s: str) -> str:
    """Python twin of the normalization the Spark plan / DuckDB oracle
    apply: lowercase, non-[a-z] runs -> single space, trim, pad with one
    space each side (so word-boundary trigrams exist)."""
    import re

    return " " + re.sub(r"[^a-z]+", " ", s.lower()).strip() + " "


def _trigram_profile(snippet: str, k: int = LANG_TRIGRAM_K) -> list[str]:
    s = _norm_text_py(snippet)
    counts: dict[str, int] = {}
    for i in range(len(s) - 2):
        t = s[i:i + 3]
        counts[t] = counts.get(t, 0) + 1
    return [t for t, _ in sorted(counts.items(),
                                 key=lambda kv: (-kv[1], kv[0]))[:k]]


LANG_TRIGRAMS = {lang: _trigram_profile(sn)
                 for lang, sn in LANG_TRIGRAM_SNIPPETS.items()}


def char_trigrams(text: Column) -> Column:
    """Normalized character trigrams of a text column, pure expressions.
    Same guard pattern as shingles(): Spark sequence() is end-INCLUSIVE,
    so gate on k >= 1 instead of clamping."""
    s = F.concat(F.lit(" "),
                 F.trim(F.regexp_replace(F.lower(text), r"[^a-z]+", " ")),
                 F.lit(" "))
    k = F.length(s) - 2
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)) \
        .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.substring(s, i, 3))


def lang_tier_slices(profile: list[str]):
    """(trigram slice, weight) pairs per LANG_TRIGRAM_TIERS — shared by
    the Spark scorer and the generated DuckDB twin."""
    out = []
    lo = 0
    for width, weight in LANG_TRIGRAM_TIERS:
        sl = profile[lo:lo + width]
        if sl:
            out.append((sl, weight))
        lo += width
    return out


def lang_id_trigram(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Char-trigram language ID: per language, a rank-tier-weighted count
    of the doc's trigrams that fall in that language's frequency profile
    (InSet lookups, whole-stage codegen); argmax with dict-order
    tie-break, 'unk' when nothing hits. The trigram array is computed
    ONCE behind a Generate barrier — 8 language scores reference it, and
    projection collapse would otherwise re-extract it per language."""
    hashed = df.select(
        "*", F.explode(F.array(char_trigrams(F.col(text_col)))).alias("_tri"))
    tri = F.col("_tri")

    def _in(profile):
        return lambda x: x.isin(profile)

    def _score(prof):
        parts = [F.size(F.filter(tri, _in(sl))) * F.lit(w)
                 for sl, w in lang_tier_slices(prof)]
        s = parts[0]
        for p in parts[1:]:
            s = s + p
        return s

    # Plan-shape note (measured, 5k-doc corpus, local[32]): the argmax
    # below references each score expression several times (greatest +
    # one tie-break branch per language), but whole-stage codegen's
    # subexpression elimination keeps them single-eval — this raw form
    # measures 0.80s vs 0.97s for an explicit score-array Generate
    # barrier, so no barrier here (unlike dedup._compute_once, where the
    # reuse crosses PROJECTION boundaries that CSE doesn't span). A slow
    # caller symptom is almost always a one-partition scan upstream —
    # repartition the corpus, not the expression.
    scores = [(lang, _score(prof)) for lang, prof in LANG_TRIGRAMS.items()]
    best = F.greatest(*[s for _, s in scores])
    # confidence margin = best - runner-up (0 on ties/no-hits): sort the
    # score array desc once; downstream filters threshold on it to drop
    # ambiguous docs (e.g. margin < 2 between close Romance languages)
    ranked = F.sort_array(F.array(*[s for _, s in scores]), asc=False)
    margin = ranked[0] - ranked[1]
    lang = F.when(best == 0, F.lit("unk"))
    for l, s in scores:
        lang = lang.when(s == best, F.lit(l))
    lang = lang.otherwise(F.lit("unk"))
    return hashed.select(F.col(id_col), best.cast("long").alias("best_score"),
                         margin.cast("long").alias("margin"),
                         lang.alias("lang_pred"))


def tfidf_topk(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", k: int = 5,
               idf_scale: int = 1_000_000) -> DataFrame:
    """Per-doc top-k keyword extraction by tf*idf.

    idf is the engine-portable integer floor(idf_scale / doc_freq) —
    monotone in 1/df, so the ranking is the classic one without needing
    the corpus row count or a float log. Returns one row per kept
    (doc_id, token): (doc_id, token, tf, doc_freq, score, rank), rank
    deterministic via (score DESC, token ASC).

    Scale shape: tf is a groupBy on (doc_id, token) — uniform composite
    keys, map-side combine. doc_freq is vocabulary-sized (one row per
    distinct token); the tf-side join on token is skewed on stopwords but
    the build side has exactly one row per key — AQE skew-split territory,
    or broadcast doc_freq outright when the vocabulary fits. The top-k
    window partitions on doc_id, which is uniform. SIZE
    spark.sql.shuffle.partitions to the EXPLODED row count (~tokens, not
    docs): a 1G-token corpus through 32 partitions puts ~31M rows in each
    per-task window sort — measured GC-overhead OOM on an 8g heap; ~5M
    exploded rows per partition is comfortable (docs/100k; BENCH.md,
    "Round-3b text-operator rehearsal")."""
    from pyspark.sql.window import Window

    tf = (df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
          .filter(F.length("token") > 0)
          .groupBy(id_col, "token").agg(F.count("*").alias("tf")))
    doc_freq = tf.groupBy("token").agg(F.count("*").alias("doc_freq"))
    scored = tf.join(doc_freq, "token").select(
        F.col(id_col), F.col("token"), F.col("tf"), F.col("doc_freq"),
        (F.col("tf") * F.floor(F.lit(idf_scale) / F.col("doc_freq")))
        .cast("long").alias("score"))
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition filters: per doc, the n-gram duplicate
    fractions (share of 2-/3-gram occurrences that are repeats of an
    earlier identical n-gram) and the top-token fraction (occurrences of
    the single most frequent token over all tokens), as exact permille.

    The n-gram fractions are pure expressions (map-only). The top-token
    count is an explode + two groupBys keyed on (doc_id, token) then
    doc_id — both uniform — because a per-row expression scanning
    distinct x all tokens would be O(n_tokens^2) on 100k-token docs."""
    t = F.col(text_col)
    toks = tokens(t)

    def dup_permille(n):
        sh = shingles(t, n)
        total = F.size(sh)
        rep = total - F.size(F.array_distinct(sh))
        return F.floor(rep * 1000.0 / F.greatest(total, F.lit(1))).cast("long")

    base = df.select(
        F.col(id_col), F.size(toks).alias("n_tokens"),
        dup_permille(2).alias("dup2_permille"),
        dup_permille(3).alias("dup3_permille"))
    top = (df.select(F.col(id_col), F.explode(toks).alias("token"))
           .groupBy(id_col, "token").agg(F.count("*").alias("tf"))
           .groupBy(id_col).agg(F.max("tf").alias("top_tf")))
    return base.join(top, id_col).select(
        id_col, "n_tokens", "dup2_permille", "dup3_permille",
        F.floor(F.col("top_tf") * 1000.0 /
                F.greatest(F.col("n_tokens"), F.lit(1)))
        .cast("long").alias("top_tok_permille"))


# Redaction patterns restricted to the common RE2/Java-regex subset (no
# lookaround/backrefs) so the Spark plan and SQL oracles behave
# identically. Order matters for redaction (applied sequentially);
# counts are taken on the ORIGINAL text, so they are order-independent.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+\d[\d -]{7,}\d"),
)


def scrub_pii(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing pass: per-doc match counts plus the text with each
    pattern class replaced by its `<name>` placeholder. Map-only pure
    expressions — at corpus scale this is a scan-speed transform with
    zero shuffle."""
    t = F.col(text_col)
    counts = [F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
              for name, pat in PII_PATTERNS]
    red = t
    for name, pat in PII_PATTERNS:
        red = F.regexp_replace(red, pat, f"<{name}>")
    return df.select(F.col(id_col), *counts, red.alias("text"))


def pack_sequential(df: DataFrame, budget: int, text_col: str = "text",
                    id_col: str = "doc_id",
                    bucket_rows: int = 100_000) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard LLM training
    batch layout): docs in id order are laid head-to-tail in one token
    stream and each doc is assigned the pack its FIRST token falls in
    (pack_id = start_offset // budget). Returns (doc_id, n_tokens,
    start_offset, pack_id).

    Scale shape: the offsets are a corpus-wide prefix sum, and the naive
    `Window.orderBy(id)` form moves the ENTIRE corpus onto one reducer.
    This uses the classic two-level decomposition instead: bucket =
    id // bucket_rows, (1) per-bucket token totals (corpus_rows /
    bucket_rows rows — tiny), (2) cumulative bucket offsets via a window
    over just those totals (the only single-partition step, ~10^6 rows
    even at 10^11 docs), broadcast back, (3) within-bucket running sum
    windowed on the uniform bucket key. Requires nothing of the ids but
    a total order; contiguity only affects bucket balance."""
    from pyspark.sql.window import Window

    n_tok = F.size(tokens(F.col(text_col))).cast("long")
    base = df.select(F.col(id_col), n_tok.alias("n_tokens"),
                     F.floor(F.col(id_col) / bucket_rows).alias("_b"))
    bucket_totals = base.groupBy("_b").agg(F.sum("n_tokens").alias("_bt"))
    w_b = (Window.orderBy("_b")
           .rowsBetween(Window.unboundedPreceding, -1))
    bucket_offsets = bucket_totals.select(
        "_b", F.coalesce(F.sum("_bt").over(w_b), F.lit(0)).alias("_boff"))
    w_in = (Window.partitionBy("_b").orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, -1))
    start = (F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
             + F.col("_boff"))
    return (base.join(F.broadcast(bucket_offsets), "_b")
            .select(F.col(id_col), F.col("n_tokens"),
                    start.alias("start_offset"),
                    F.floor(start / budget).cast("long").alias("pack_id")))


SPLIT_BUCKETS = (("train", 900), ("val", 950), ("test", 1000))


def hash_split(df: DataFrame, id_col: str = "doc_id", salt: str = "split",
               buckets=SPLIT_BUCKETS) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = portable 60-bit
    md5 hash of salt:id mod 1000, split by cumulative thresholds
    (default 90/5/5). Map-only, reshuffle-free, stable across runs and
    engines — the property a training pipeline needs so that re-running
    ingestion never migrates a document across the eval boundary.
    Salting the hash keys the assignment to the experiment, not the raw
    id (two experiments can draw independent splits)."""
    b = portable_hash(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))) % 1000
    expr = None
    for name, hi in buckets:
        expr = F.when(b < hi, F.lit(name)) if expr is None \
            else expr.when(b < hi, F.lit(name))
    return df.select(F.col(id_col), b.cast("long").alias("split_bucket"),
                     expr.otherwise(F.lit(buckets[-1][0])).alias("split"))


def shingles(text: Column, n: int = 5) -> Column:
    """Word n-gram shingles as strings (token windows joined by ' ').
    Texts with fewer than n tokens yield an EMPTY list — Spark's
    `sequence` is end-INCLUSIVE (sequence(1, 0) = [1, 0], descending!),
    so the guard must gate on k >= 1 rather than clamp the end to 0;
    found by the randomized cross-engine sweep, where a <n-token doc
    crashed the stage with slice(start=0)."""
    toks = tokens(text)
    k = F.size(toks) - (n - 1)
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)) \
        .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", n: int = 5) -> DataFrame:
    """Document fingerprint: min portable-hash over word 5-gram shingles
    (a 1-permutation minhash — rolling-hash document signature)."""
    sh = shingles(F.col(text_col), n)
    h = F.array_min(
        F.transform(sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))
    )
    return df.select(F.col(id_col), h.alias("fingerprint"))


# --------------------------------------------------------------------------
# char-bigram LM perplexity scoring (round 4): the classic pretraining
# quality filter (KenLM-style fluency scoring, here a character bigram
# model small enough to embed). The model TABLE is derived at import
# from the English LANG_TRIGRAM_SNIPPETS passage with Laplace smoothing,
# and every probability is stored as an INTEGER negative-log-likelihood
# in milli-nats — floats never cross the engine boundary, so the Spark
# plan, the generated DuckDB twin (entry_queries) and the tests all
# agree bit-for-bit. Fluent English scores low; gibberish / other
# languages / random bytes score high; filter on nll_per_bigram.
# --------------------------------------------------------------------------

LM_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def _lm_bigram_table() -> dict[str, int]:
    import math

    src = _norm_text_py(LANG_TRIGRAM_SNIPPETS["en"])
    counts: dict[str, int] = {}
    ctx: dict[str, int] = {}
    for i in range(len(src) - 1):
        bg = src[i:i + 2]
        counts[bg] = counts.get(bg, 0) + 1
        ctx[src[i]] = ctx.get(src[i], 0) + 1
    v = len(LM_ALPHABET)
    table = {}
    for a in LM_ALPHABET:
        for b in LM_ALPHABET:
            p = (counts.get(a + b, 0) + 1) / (ctx.get(a, 0) + v)
            table[a + b] = round(-1000.0 * math.log(p))
    return table


LM_BIGRAM_NLL = _lm_bigram_table()
# unseen-context fallback = the worst in-table cost (uniform smoothing
# keeps every bigram present, so this only triggers on bigrams outside
# the normalized alphabet, which normalization makes impossible)
LM_MAX_NLL = max(LM_BIGRAM_NLL.values())


def lm_perplexity(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  table: dict[str, int] | None = None) -> DataFrame:
    """Per-doc char-bigram LM score: (doc_id, n_bigrams, nll_sum,
    nll_per_bigram), integers in milli-nats. nll_per_bigram is the
    perplexity proxy downstream filters threshold on (exp(nll/1000) =
    true perplexity; kept in log space to stay integer-portable).
    `table` swaps in a corpus-trained model
    (train_char_bigram_lm -> bigram_nll_from_counts) for the
    built-in snippet-trained LM_BIGRAM_NLL; same integer milli-nat
    contract, same all-literal create_map plan.

    Map-only pure expressions: normalize like the language-ID
    (lowercase, non-letters -> single space, padded), one create_map
    lookup per bigram position, aggregate sum. Docs with no bigrams
    (empty after normalization: n_bigrams counts the padded string's
    pairs, minimum 1 for '  ' -> always >= 1) never divide by zero.

    The normalized string is materialized ONCE per row behind a
    Generate barrier (see dedup._compute_once): without it,
    CollapseProject re-inlines the regexp_replace chain — and whatever
    upstream scrubbing composed into text_col — into every bigram
    position of the aggregate lambda, turning the scan O(len^2) in
    regex work (measured 29x on the doc_pipeline capstone at sf0.1).
    The bigram walk itself is a zip_with over the char array (adjacent
    pairs), not positional substring, so it is O(len) too: UTF8String
    substring at char index i costs an O(i) boundary scan, which summed
    over a sequence(1, n) loop is quadratic even with s computed once."""
    s = F.concat(F.lit(" "),
                 F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                         r"[^a-z]+", " ")),
                 F.lit(" "))
    model = LM_BIGRAM_NLL if table is None else table
    max_nll = LM_MAX_NLL if table is None else max(model.values())
    kv = []
    for bg, nll in model.items():
        kv.extend([F.lit(bg), F.lit(nll)])
    table = F.create_map(*kv)  # all-literal -> constant-folded once
    src = df.select(F.col(id_col),
                    F.explode(F.array(s)).alias("_s"))
    n = F.length("_s") - 1
    chars = F.split(F.col("_s"), "")
    # both slices are exactly n elements (len >= 2 by padding), so
    # zip_with never null-pads: pairs are (char_i, char_{i+1})
    pair_nll = F.zip_with(
        F.slice(chars, F.lit(1), n), F.slice(chars, F.lit(2), n),
        lambda a, b: F.coalesce(table[F.concat(a, b)],
                                F.lit(max_nll)))
    pre = src.select(
        F.col(id_col), n.alias("n_bigrams"),
        F.aggregate(pair_nll, F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("nll_sum"))
    return pre.select(
        id_col, F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "nll_sum",
        (F.col("nll_sum") / F.col("n_bigrams")).cast("long")
        .alias("nll_per_bigram"))


# C4's document-level drop markers and line-keep rules (the public
# recipe: Raffel et al. 2020 §2.2 "Colossal Clean Crawled Corpus"),
# shared one-source with the DuckDB twin in entry_queries.
C4_DOC_DROP_MARKERS = ["lorem ipsum", "{"]
C4_LINE_DROP_MARKER = "javascript"
C4_MIN_WORDS = 3


def c4_line_filter(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """C4-style boilerplate removal — the line-level cleaning pass that
    runs BEFORE line_dedup in the C4 recipe: keep only lines that end in
    terminal punctuation ('.', '!', '?', '"'), have >= 3 words, and do
    not mention javascript; drop entire documents containing a curly
    brace (code) or 'lorem ipsum' (placeholder).

    Returns (doc_id, n_lines, n_kept, doc_kept, text): original
    non-blank line count, surviving count, the document-level flag, and
    the re-joined surviving text ('' when the doc is dropped). Fully
    map-only — split, per-line predicate, array_join; the entire
    cleaning pass costs zero shuffles at any corpus size (contrast
    line_dedup, whose first-occurrence semantics force one)."""
    t = F.col(text_col)
    parts = F.split(t, sep)
    nonblank = F.filter(parts, lambda x: F.length(F.trim(x)) > 0)

    def keep(line):
        trimmed = F.trim(line)
        words = F.size(F.split(trimmed, r"\s+"))
        terminal = trimmed.rlike(r'[.!?"]$')
        js = F.lower(line).contains(C4_LINE_DROP_MARKER)
        return (words >= C4_MIN_WORDS) & terminal & ~js

    doc_drop = F.lit(False)
    for m in C4_DOC_DROP_MARKERS:
        doc_drop = doc_drop | F.lower(t).contains(m)
    pre = df.select(
        F.col(id_col), (~doc_drop).alias("doc_kept"),
        F.size(nonblank).alias("n_lines"),
        F.filter(nonblank, keep).alias("_kept"))
    return pre.select(
        id_col,
        F.col("n_lines").cast("long").alias("n_lines"),
        F.when(F.col("doc_kept"), F.size("_kept")).otherwise(F.lit(0))
        .cast("long").alias("n_kept"),
        "doc_kept",
        F.when(F.col("doc_kept"), F.array_join("_kept", sep))
        .otherwise(F.lit("")).alias("text"))


def chunk_tokens(df: DataFrame, chunk_size: int = 64, overlap: int = 16,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Fixed-window token chunking with overlap — the RAG-ingestion /
    context-packing complement to the content-defined CDC chunker
    (dedup.cdc_chunks): deterministic windows of `chunk_size` tokens
    starting every chunk_size - overlap tokens, so neighboring chunks
    share `overlap` tokens of context.

    Emission rule (the part worth pinning): starts run 0, stride,
    2*stride, ... and a start s > 0 is emitted only while the PREVIOUS
    chunk did not already reach the document end — i.e. keep s iff
    s == 0 or s + overlap < n_tokens (prev end = s - stride +
    chunk_size = s + overlap). This yields exactly one chunk for short
    docs and no trailing chunk that is pure overlap.

    Returns (id_col, chunk_no, n_chunk_tokens, chunk_text): chunk_no
    0-based in document order, chunk_text the window joined by single
    spaces (whitespace canonicalized, the tokens() convention).

    Scale shape: map-only — one transform + posexplode per doc, no
    shuffle, fully inside codegen; output volume is
    ~n_tokens/stride rows per doc (the point of the operator)."""
    if chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"overlap must be in [0, chunk_size), got {overlap}")
    stride = chunk_size - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: (s == 0) | (s + overlap < n))
    chunks = F.transform(
        starts, lambda s: F.slice(toks, s + 1, chunk_size))
    return (df.select(F.col(id_col),
                      F.posexplode(chunks).alias("chunk_no", "_c"))
            .select(id_col,
                    F.col("chunk_no").cast("long").alias("chunk_no"),
                    F.size("_c").cast("long").alias("n_chunk_tokens"),
                    F.array_join("_c", " ").alias("chunk_text")))


# Markup-stripping rule chain, applied IN ORDER. Restricted to the
# RE2/Java shared regex subset like PII_PATTERNS above; replacements
# are literals (no backrefs), so Java's '$' and RE2's '\\1' replacement
# dialects can't diverge. Both the Spark expression chain and the
# DuckDB twin are GENERATED from this one list (strip_markup /
# strip_markup_sql) so the engines cannot drift.
MARKUP_RULES = [
    # container elements whose CONTENT is noise, not text
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    # any remaining tag
    (r"(?s)<[^>]*>", " "),
    # the half-dozen entities that dominate real crawl text; a full
    # entity table is a data file, not a regex chain
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    # collapse the whitespace the removals left behind — but PRESERVE
    # newlines: downstream line-based filters (c4_line_filter) need
    # the line structure, and a crawl cleaner that flattens documents
    # to one line silently disables them. Horizontal runs collapse to
    # one space; newline runs (with surrounding spaces) to one '\n'.
    (r"[ \t\r\f]+", " "),
    (r"( ?\n ?)+", "\n"),
]


def strip_markup(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """HTML/markup stripping — the first cleaning pass of every crawl
    corpus: script/style/comment content dropped, tags removed, the
    common entities decoded, whitespace collapsed. Map-only pure
    regexp_replace chain (zero shuffle, stays in whole-stage codegen);
    a real extraction stack (boilerplate DOM scoring a la trafilatura)
    is a parser, not a regex — this is the scan-speed 90% pass that
    runs BEFORE c4_line_filter/quality gates in the pipeline.

    Entity decode runs AFTER tag removal, so '&lt;p&gt;' in the source
    text decodes to a literal '<p>' WITHOUT being stripped as a tag —
    escaped markup shown in a page is content, not structure."""
    out = F.col(text_col)
    for pat, repl in MARKUP_RULES:
        out = F.regexp_replace(out, pat, repl)
    return df.select(F.col(id_col), F.trim(out).alias("clean_text"))


def strip_markup_sql(text_expr: str) -> str:
    """DuckDB spelling of the same rule chain (nested regexp_replace
    with the global flag; Spark's regexp_replace is global already)."""
    out = text_expr
    for pat, repl in MARKUP_RULES:
        p = pat.replace("'", "''")
        r = repl.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return f"trim({out})"


def train_char_bigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed char-bigram counting over the normalized corpus —
    the TRAINING half of the lm_perplexity pair above (which embeds a
    table trained at import from a fixed snippet): (bigram, n) counts
    using the IDENTICAL normalization and padded-pair walk, so a
    model trained here scores exactly like the built-in path.

    The 100-TB flow this encodes: count bigrams distributively (one
    map-side explode + one groupBy over <= (len(alphabet)+1)^2
    surviving keys — the aggregate state is alphabet-bounded, the
    CMS/KMV property), collect the TINY count table on the driver,
    turn it into integer milli-nat NLLs with bigram_nll_from_counts,
    and ship that dict back into lm_perplexity(table=...) as an
    all-literal create_map. Floats never cross the engine boundary;
    the log() lives in driver-side Python where it is deterministic."""
    s = F.concat(F.lit(" "),
                 F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                         r"[^a-z]+", " ")),
                 F.lit(" "))
    # Generate barrier: materialize the normalized string once per row
    # (same CollapseProject re-inlining hazard as lm_perplexity)
    src = df.select(F.explode(F.array(s)).alias("_s"))
    n = F.length("_s") - 1
    chars = F.split(F.col("_s"), "")
    pairs = F.zip_with(F.slice(chars, F.lit(1), n),
                       F.slice(chars, F.lit(2), n),
                       lambda a, b: F.concat(a, b))
    return (src.select(F.explode(pairs).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def bigram_nll_from_counts(rows, alphabet: str = LM_ALPHABET,
                           scale: int = 1000) -> dict[str, int]:
    """Driver-side model build from collected train_char_bigram_lm
    counts (bounded by (len(alphabet))^2 rows — the same legitimacy
    class as the IVF centroid pull): Laplace-smoothed conditional
    probabilities as integer milli-nat NLLs, the same formula as the
    import-time _lm_bigram_table, so training on _lm's own snippet
    reproduces LM_BIGRAM_NLL bit-for-bit (pinned by test)."""
    import math

    counts = {}
    for r in rows:
        bg = r["bigram"] if not isinstance(r, tuple) else r[0]
        c = r["n"] if not isinstance(r, tuple) else r[1]
        counts[bg] = counts.get(bg, 0) + int(c)
    ctx: dict[str, int] = {}
    for bg, c in counts.items():
        ctx[bg[0]] = ctx.get(bg[0], 0) + c
    v = len(alphabet)
    return {a + b: round(-scale * math.log(
        (counts.get(a + b, 0) + 1) / (ctx.get(a, 0) + v)))
        for a in alphabet for b in alphabet}


# --------------------------------------------------------------------------
# DSIR-style importance scoring (round 5): data selection for language
# models via hashed n-gram importance weights [Xie et al., NeurIPS'23].
# INTEGER likelihood-ratio variant: DSIR proper sums log-ratios; logs of
# corpus-dependent probabilities cannot be made bit-identical across
# engines (libm ln + round at knife edges), so the weight here is the
# linear-domain per-gram likelihood ratio, milli-scaled — the mean
# ratio E_doc[p_target/p_raw] instead of the geometric mean. Rankings
# agree wherever one distribution dominates per-doc, and every
# intermediate is an exact integer in both engines.
# --------------------------------------------------------------------------


def _gram_buckets(text: Column, buckets: int) -> Column:
    """Hashed feature buckets of word unigrams + bigrams — the DSIR
    feature space, bucketed by the portable 60-bit hash."""
    grams = F.concat(tokens(text), shingles(text, 2))
    return F.transform(
        grams,
        lambda g: F.pmod(F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
                         .cast("long"), F.lit(buckets)))


def dsir_scores(raw: DataFrame, target: DataFrame,
                text_col: str = "text", id_col: str = "doc_id",
                buckets: int = 256, scale: int = 1000) -> DataFrame:
    """(id_col, n_grams, dsir_score, score_per_gram): per-document
    importance of each `raw` doc toward the `target` distribution.
    Per bucket b with Laplace smoothing,

        s_b = floor(scale * (t_b + 1) * (R + buckets)
                    / ((r_b + 1) * (T + buckets)))

    (t/r = target/raw bucket counts, T/R totals) — the milli-scaled
    likelihood ratio of bucket b under the two hashed-gram unigram
    models; a doc scores the SUM of s over its gram buckets, plus the
    floor-mean per gram for length-normalized selection (select by
    score_per_gram >= scale to mean "looks more target than raw").

    Scale shape: the model is TRAINED in two bucket-bounded groupBys
    (<= `buckets` rows each regardless of corpus size — the CMS/KMV
    bounded-state property) and pulled to the driver (same legitimacy
    class as the IVF centroid pull); the ratio arithmetic runs in
    driver Python on EXACT big ints (never floats), and scoring ships
    the <= buckets-entry table back as a literal create_map — one
    map-only corpus scan + one groupBy(doc). Nothing data-sized ever
    joins the model.

    Oracle twin (dsir_sql) recomputes counts AND ratios in SQL with
    HUGEINT arithmetic — fully independent of the driver-side fold."""
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")

    def _counts(df):
        return (df.select(F.explode(_gram_buckets(F.col(text_col),
                                                  buckets)).alias("b"))
                .groupBy("b").agg(F.count("*").alias("n")))

    t_rows = {int(r["b"]): int(r["n"])
              for r in _counts(target).collect()}
    r_rows = {int(r["b"]): int(r["n"]) for r in _counts(raw).collect()}
    big_t = sum(t_rows.values())
    big_r = sum(r_rows.values())
    table = {
        b: (scale * (t_rows.get(b, 0) + 1) * (big_r + buckets))
        // ((r_rows.get(b, 0) + 1) * (big_t + buckets))
        for b in range(buckets)}

    lut = F.create_map(*[F.lit(x) for b, s in sorted(table.items())
                         for x in (b, s)])
    scored = raw.select(
        F.col(id_col),
        F.explode(_gram_buckets(F.col(text_col), buckets)).alias("b"))
    return (scored
            .select(id_col, lut[F.col("b")].alias("s"))
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_grams"),
                 F.sum("s").cast("long").alias("dsir_score"))
            .select(id_col, "n_grams", "dsir_score",
                    F.floor(F.col("dsir_score") / F.col("n_grams"))
                    .cast("long").alias("score_per_gram")))


def dsir_sql(raw_sql: str, target_sql: str, text_col: str = "text",
             id_col: str = "doc_id", buckets: int = 256,
             scale: int = 1000) -> str:
    """DuckDB twin of dsir_scores: the same hashed-gram bucket spec and
    smoothing formula recomputed END-TO-END in SQL (counts, totals,
    HUGEINT ratio floors, per-doc sums) — no shared state with the
    driver-side model fold."""
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    grams = f"""
    SELECT {id_col}, g FROM (
      SELECT {id_col},
             unnest(list_concat(
               toks,
               list_transform(range(1, CAST(len(toks) AS BIGINT)),
                              i -> toks[CAST(i AS INT)] || ' ' ||
                                   toks[CAST(i AS INT) + 1]))) AS g
      FROM (SELECT {id_col},
                   regexp_split_to_array(trim({text_col}), '\\s+') AS toks
            FROM __SRC__))"""
    return f"""
WITH raw_grams AS ({grams.replace("__SRC__", f"({raw_sql.strip()})")}
), tgt_grams AS ({grams.replace("__SRC__", f"({target_sql.strip()})")}
), raw_b AS (
  SELECT CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {buckets}
           AS b, count(*) AS n
  FROM raw_grams GROUP BY 1
), tgt_b AS (
  SELECT CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {buckets}
           AS b, count(*) AS n
  FROM tgt_grams GROUP BY 1
), lut AS (
  SELECT bb.b,
         CAST(
           (CAST({scale} AS HUGEINT)
            * (coalesce(t.n, 0) + 1)
            * ((SELECT sum(n) FROM raw_b) + {buckets}))
           // (CAST(coalesce(r.n, 0) + 1 AS HUGEINT)
               * ((SELECT sum(n) FROM tgt_b) + {buckets}))
           AS BIGINT) AS s
  FROM (SELECT unnest(range({buckets})) AS b) bb
  LEFT JOIN tgt_b t ON t.b = bb.b
  LEFT JOIN raw_b r ON r.b = bb.b
), doc_b AS (
  SELECT {id_col},
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {buckets} AS b
  FROM raw_grams
)
SELECT {id_col},
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(lut.s) AS BIGINT) AS dsir_score,
       CAST(floor(sum(lut.s) / count(*)) AS BIGINT) AS score_per_gram
FROM doc_b JOIN lut USING (b)
GROUP BY {id_col}"""


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer-Wilkerson-Aiken 2003, the MOSS
# algorithm): the position-aware fingerprint family member next to
# fingerprint()'s single min-hash. Guarantees at least one selected
# shingle hash per w-window, so any shared substring longer than
# w + n - 1 tokens between two documents produces a shared
# fingerprint — the contamination/exact-overlap detection primitive
# that a single per-doc minimum cannot give.
# --------------------------------------------------------------------------

WINNOW_POS_BITS = 22  # shingle positions < 2^22 (~4M) per document


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 5,
                        w: int = 4) -> DataFrame:
    """(id, pos, h) winnowing fingerprints: word n-gram shingle hashes
    reduced to 40 bits, the RIGHTMOST minimum of each w-window of
    consecutive shingles selected, selections deduplicated. Documents
    with fewer than w shingles contribute their single overall
    (rightmost-tie) minimum.

    Cross-engine trick: argmin-with-rightmost-tie-break rides inside
    ONE integer key h40 * 2^22 + (2^22 - 1 - pos), so a windowed
    min() — identical semantics in Spark and DuckDB — returns both
    the hash and its position; no struct-ordering or min_by that the
    two engines might order differently. Documents longer than 2^22
    shingles would alias positions; chunk upstream (doc_chunk_fixed)
    — enforced with an explicit raise-on-overflow filter being
    unnecessary: pos is capped by assertion in the plan via the
    window count (the 100 TB corpus path chunks to <= 10^4 tokens).

    Scale shape: map-side shingle explode (output bounded by token
    count), then ONE shuffle on the document key: the selection
    window, the per-doc shingle count, and the final distinct all
    reuse that partitioning."""
    if w < 1:
        raise ValueError("window w must be >= 1")
    from pyspark.sql import Window

    sh = shingles(F.col(text_col), n)
    pos_hash = (df.select(
        F.col(id_col),
        F.posexplode(sh).alias("pos0", "sh"))
        .select(F.col(id_col), (F.col("pos0") + 1).alias("pos"),
                F.pmod(portable_hash(F.col("sh")),
                       F.lit(1 << 40)).alias("h40")))
    key = (F.col("h40") * F.lit(1 << WINNOW_POS_BITS)
           + (F.lit((1 << WINNOW_POS_BITS) - 1) - F.col("pos")))
    wsel = (Window.partitionBy(id_col).orderBy("pos")
            .rowsBetween(0, w - 1))
    wcnt = Window.partitionBy(id_col)
    sel = (pos_hash
           .withColumn("_key", key)
           .withColumn("_sel", F.min("_key").over(wsel))
           .withColumn("_n", F.count(F.lit(1)).over(wcnt))
           .filter(F.col("pos")
                   <= F.greatest(F.col("_n") - (w - 1), F.lit(1))))
    return (sel.select(
        F.col(id_col),
        (F.lit((1 << WINNOW_POS_BITS) - 1)
         - F.pmod(F.col("_sel"), F.lit(1 << WINNOW_POS_BITS)))
        .cast("long").alias("pos"),
        # `div`, NOT `/`: the packed key exceeds 2^53, where double
        # division is no longer exact (off-by-one hashes vs DuckDB's
        # integer `//` — caught by the randomized twin test)
        F.expr(f"_sel div {1 << WINNOW_POS_BITS}")
        .cast("long").alias("h"))
        .distinct())


def readability(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Flesch-Kincaid grade level per doc in milli-units,
    integer-exact: (doc_id, n_words, n_sentences, n_syllables,
    fk_grade_milli) — the classic curation signal next to
    quality_score/repetition (too-low grade = fragment lists and
    boilerplate, too-high = OCR garbage and run-ons).

    1000 * FK = (390*w^2 + 11800*syl*s - 15590*s*w) / (s*w) after
    clearing the two denominators — an integer ratio, floor-divided
    by the pmod form (numerator may be negative), DECIMAL(38,0) /
    HUGEINT so no int64 ceiling. Syllables are the standard vowel-
    group heuristic ([aeiouy]+ runs, same RE2/Java regex subset as
    the rest of text.py), clamped to >= 1 per word; sentences =
    [.!?]+ runs clamped to >= 1. Map-only, zero shuffles."""
    dec = "decimal(38,0)"
    t = F.col(text_col)
    w = F.greatest(F.size(tokens(t)).cast("long"), F.lit(1))
    s = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")).cast("long"),
                   F.lit(1))
    vg = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")).cast("long")
    syl = F.greatest(vg, w)
    wd, sd, yd = w.cast(dec), s.cast(dec), syl.cast(dec)
    num = (F.lit(390).cast(dec) * wd * wd
           + F.lit(11800).cast(dec) * yd * sd
           - F.lit(15590).cast(dec) * sd * wd)
    den = sd * wd
    fk = (num - ((num % den) + den) % den) / den
    return df.select(
        F.col(id_col),
        w.alias("n_words"), s.alias("n_sentences"),
        syl.alias("n_syllables"),
        fk.cast("long").alias("fk_grade_milli"))


READABILITY_SQL_BODY = r"""SELECT doc_id,
  w AS n_words, s AS n_sentences, syl AS n_syllables,
  CAST((num - (((num % den) + den) % den)) // den AS BIGINT)
    AS fk_grade_milli
FROM (
  SELECT doc_id, w, s, syl,
         390::HUGEINT * w * w + 11800::HUGEINT * syl * s
           - 15590::HUGEINT * s * w AS num,
         CAST(s * w AS HUGEINT) AS den
  FROM (
    SELECT doc_id,
      greatest(CAST(len(regexp_split_to_array(trim(text), '\s+'))
               AS BIGINT), 1) AS w,
      greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
               AS BIGINT), 1) AS s,
      greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT),
               greatest(CAST(len(regexp_split_to_array(trim(text),
                        '\s+')) AS BIGINT), 1)) AS syl
    FROM {src}
  )
)"""


def readability_sql(src: str = "documents") -> str:
    """DuckDB twin of readability (same regexes, HUGEINT ratio,
    same pmod floor)."""
    return READABILITY_SQL_BODY.replace("{src}", src)


_DEC38 = "decimal(38,0)"


def pmi_collocations(df: DataFrame, text_col: str = "text",
                     min_count: int = 5, k: int = 100,
                     scale: int = 1_000_000) -> DataFrame:
    """Corpus-level bigram collocation mining by pointwise mutual
    information — the phrase detector of the text-analysis family
    (feeds tokenizer phrase vocab and boilerplate-template discovery
    next to doc_lm_train / doc_winnowing).

    PMI's exp form is the pure integer ratio

        exp(pmi(x,y)) = c_xy * N / (c_x * c_y)

    (P(x,y)=c_xy/N with the token total as the pair normalizer — the
    word2vec convention, and monotone in the textbook bigram-total
    form since N fixes it per corpus). Reported as the exact pmod
    floor of the scale-multiplied ratio, so ranking equals the float
    ranking without ever computing a float log. DECIMAL(38,0) /
    HUGEINT: contract c_xy * N * scale within 38 digits (N = 10^12
    tokens with a 10^12-count pair at scale 10^6 is 10^30 — fine).

    Scale shape: tokenize map-side; one groupBy per n-gram order
    (unigrams, bigrams — uniform keys, map-side combine absorbs
    stopword heat into one partial row per task); the token total N
    rides a single-partition window over the ALREADY-AGGREGATED
    vocabulary-sized rows (never the corpus); two vocabulary joins
    onto the min_count-pruned bigram side (broadcast when the vocab
    fits, AQE otherwise); the final top-k is TakeOrderedAndProject
    with a total-order tie-break (ppm DESC, w1, w2), no global sort."""
    from pyspark.sql.window import Window

    toks = tokens(F.lower(F.col(text_col)))
    uni = (df.select(F.explode(toks).alias("w"))
           .filter(F.col("w") != "")
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    uni = uni.withColumn(
        "n_total", F.sum("c").over(Window.partitionBy()))
    pairs = (df.select(toks.alias("_t"))
             .select(F.explode(F.when(
                 F.size("_t") >= 2,
                 F.expr("transform(sequence(1, size(_t) - 1), "
                        "i -> struct(_t[i-1] AS w1, _t[i] AS w2))"))
                 .otherwise(F.array())).alias("bg"))
             .select(F.col("bg.w1").alias("w1"),
                     F.col("bg.w2").alias("w2"))
             .filter((F.col("w1") != "") & (F.col("w2") != ""))
             .groupBy("w1", "w2")
             .agg(F.count(F.lit(1)).alias("n_pair"))
             .filter(F.col("n_pair") >= min_count))
    j = (pairs
         .join(uni.select(F.col("w").alias("w1"),
                          F.col("c").alias("_c1"), "n_total"), "w1")
         .join(uni.select(F.col("w").alias("w2"),
                          F.col("c").alias("_c2")), "w2"))
    num = (F.col("n_pair").cast(_DEC38) * F.col("n_total").cast(_DEC38)
           * F.lit(scale).cast(_DEC38))
    den = F.col("_c1").cast(_DEC38) * F.col("_c2").cast(_DEC38)
    ppm = (num - ((num % den) + den) % den) / den
    return (j.select("w1", "w2", F.col("n_pair").cast("long")
                     .alias("n_pair"),
                     ppm.cast("long").alias("pmi_ratio_ppm"))
            .orderBy(F.col("pmi_ratio_ppm").desc(), "w1", "w2")
            .limit(k))


def pmi_collocations_sql(src: str = "documents",
                         text_col: str = "text", min_count: int = 5,
                         k: int = 100, scale: int = 1_000_000) -> str:
    """DuckDB twin of pmi_collocations: same tokenization regex,
    same counts, same HUGEINT pmod-floor ratio, same tie-break."""
    return f"""WITH pm_d AS MATERIALIZED (
  SELECT regexp_split_to_array(trim(lower({text_col})), '\\s+') AS a
  FROM {src}
), pm_uni AS (
  SELECT w, CAST(count(*) AS HUGEINT) AS c
  FROM (SELECT unnest(a) AS w FROM pm_d) WHERE w <> ''
  GROUP BY w
), pm_unit AS (
  SELECT w, c, sum(c) OVER () AS n_total FROM pm_uni
), pm_pairs AS (
  SELECT w1, w2, CAST(count(*) AS HUGEINT) AS n_pair
  FROM (
    SELECT a[i] AS w1, a[i + 1] AS w2
    FROM (SELECT a, unnest(range(1, len(a))) AS i
          FROM pm_d WHERE len(a) >= 2)
  ) WHERE w1 <> '' AND w2 <> ''
  GROUP BY w1, w2
  HAVING count(*) >= {min_count}
), pm_j AS (
  SELECT p.w1, p.w2, p.n_pair,
         p.n_pair * u1.n_total * {scale}::HUGEINT AS num,
         u1.c * u2.c AS den
  FROM pm_pairs p
  JOIN pm_unit u1 ON p.w1 = u1.w
  JOIN pm_uni  u2 ON p.w2 = u2.w
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
       CAST((num - (((num % den) + den) % den)) // den AS BIGINT)
         AS pmi_ratio_ppm
FROM pm_j
ORDER BY pmi_ratio_ppm DESC, w1, w2
LIMIT {k}"""


def rake_keyphrases(df: DataFrame, text_col: str = "text",
                    max_words: int = 4, k: int = 100,
                    scale: int = 1_000_000) -> DataFrame:
    """Corpus-level RAKE keyphrase extraction [Rose et al. 2010]:
    (phrase, n_words, n_occ, score_ppm) for the top-k candidate
    phrases — the multi-word complement to tfidf_topk (tf-idf ranks
    single tokens; RAKE surfaces the noun-phrase vocabulary a corpus
    is ABOUT, and the recurring boilerplate phrases worth excising).

    Candidate phrases are maximal runs of word tokens between
    boundaries; a token is a boundary unless it matches ^[a-z]+$
    after lowering AND is not a stopword (the shared STOPWORDS list
    — the mapping is per-token CASE logic over the split array, NOT
    a lookaround regex, which RE2 (the DuckDB side) does not
    support). Word score = floor(scale * deg(w) / freq(w)) with
    freq = occurrences and deg = sum of containing-phrase lengths
    (co-occurrence degree, RAKE's definition); phrase score = sum of
    its words' ALREADY-FLOORED scores, occurrence multiplicity
    included — per-word quantization is part of the operator
    definition, so both engines sum identical integers. Tie-break
    (score DESC, phrase ASC) totally orders the top-k.

    Scale shape: tokenize + boundary-map + phrase-split are all
    map-side; word stats are ONE mergeable groupBy on the exploded
    words (stopword heat is gone by construction — stopwords never
    enter phrases); the score join hits the vocabulary-sized word
    table (broadcast when it fits); phrase counts are a groupBy on
    phrase text with map-side combine; top-k is
    TakeOrderedAndProject. No window over raw rows, no self-join."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    mapped = F.expr(
        f"transform(split(trim(lower({text_col})), '\\\\s+'), "
        f"t -> CASE WHEN t rlike '^[a-z]+$' AND t NOT IN ({stop_list}) "
        f"THEN t ELSE '|' END)")
    phrases = (df.select(F.explode(F.split(F.array_join(mapped, " "),
                                           "\\|")).alias("_p"))
               .select(F.trim(F.col("_p")).alias("phrase"))
               .filter(F.col("phrase") != "")
               .withColumn("n_words",
                           F.size(F.split("phrase", " ")).cast("long"))
               .filter(F.col("n_words") <= max_words))
    words = (phrases.select("n_words",
                            F.explode(F.split("phrase", " "))
                            .alias("w"))
             .groupBy("w")
             .agg(F.count(F.lit(1)).alias("_freq"),
                  F.sum("n_words").alias("_deg")))
    wscore = words.select(
        "w", F.floor(F.lit(scale) * F.col("_deg") / F.col("_freq"))
        .cast("long").alias("_ws"))
    pcount = (phrases.groupBy("phrase", "n_words")
              .agg(F.count(F.lit(1)).cast("long").alias("n_occ")))
    pscore = (pcount.select("phrase",
                            F.explode(F.split("phrase", " "))
                            .alias("w"))
              .join(wscore, "w")
              .groupBy("phrase")
              .agg(F.sum("_ws").cast("long").alias("score_ppm")))
    return (pcount.join(pscore, "phrase")
            .select("phrase", "n_words", "n_occ", "score_ppm")
            .orderBy(F.col("score_ppm").desc(), "phrase")
            .limit(k))


def rake_keyphrases_sql(src: str = "documents",
                        text_col: str = "text", max_words: int = 4,
                        k: int = 100, scale: int = 1_000_000) -> str:
    """DuckDB twin of rake_keyphrases: same token CASE mapping, same
    split/trim phrase extraction, same per-word floor then sum."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""WITH rk_m AS MATERIALIZED (
  SELECT list_transform(
    regexp_split_to_array(trim(lower({text_col})), '\\s+'),
    t -> CASE WHEN regexp_matches(t, '^[a-z]+$')
              AND t NOT IN ({stop_list})
         THEN t ELSE '|' END) AS a
  FROM {src}
), rk_p AS MATERIALIZED (
  SELECT phrase, CAST(len(string_split(phrase, ' ')) AS BIGINT)
           AS n_words
  FROM (
    SELECT trim(unnest(string_split(array_to_string(a, ' '), '|')))
      AS phrase
    FROM rk_m
  ) WHERE phrase <> ''
    AND len(string_split(phrase, ' ')) <= {max_words}
), rk_w AS (
  SELECT w,
         CAST(floor({scale}.0 * sum(n_words) / count(*)) AS BIGINT)
           AS ws
  FROM (SELECT n_words, unnest(string_split(phrase, ' ')) AS w
        FROM rk_p)
  GROUP BY w
), rk_c AS (
  SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS n_occ
  FROM rk_p GROUP BY phrase, n_words
), rk_s AS (
  SELECT e.phrase, CAST(sum(rk_w.ws) AS BIGINT) AS score_ppm
  FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS w
        FROM rk_c) e
  JOIN rk_w ON e.w = rk_w.w
  GROUP BY e.phrase
)
SELECT c.phrase, c.n_words, c.n_occ, s.score_ppm
FROM rk_c c JOIN rk_s s ON c.phrase = s.phrase
ORDER BY s.score_ppm DESC, c.phrase
LIMIT {k}"""


def ngram_novelty(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 5) -> DataFrame:
    """Per-doc cross-corpus n-gram novelty: (doc_id, n_grams,
    n_shared, novelty_ppm) where n_shared counts the doc's word
    n-gram positions whose gram also appears in ANOTHER doc, and
    novelty_ppm = floor(1e6 * (n_grams - n_shared) / n_grams) — the
    cross-doc complement to the WITHIN-doc Gopher repetition
    screens: low novelty means the doc is assembled from corpus
    boilerplate (template farms, mirrored passages), the
    memorization-risk signal RefinedWeb-style pipelines threshold
    on. Distinct from doc_ngram_excise (which removes grams matching
    an EXTERNAL contamination list; here the corpus is its own
    reference).

    A gram occurring twice inside one doc only is NOT shared —
    sharing means distinct-doc count >= 2, computed on the distinct
    (gram, doc) pairs. Docs shorter than n words emit n_grams = 0
    with NULL novelty (no denominator to quantize).

    Scale shape: map-side gram explode; ONE distinct + groupBy on
    the gram key (map-side combine absorbs boilerplate heat);
    join back on the gram key (frequency-skewed but build side is
    one row per gram — AQE skew territory); final mergeable per-doc
    sum. Grams travel as 60-bit portable hashes, not strings — the
    shuffle carries 8 bytes per gram either side."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    toks = tokens(F.lower(F.col(text_col)))
    grams = (df.select(F.col(id_col), toks.alias("_t"))
             .select(F.col(id_col),
                     F.explode(F.when(
                         F.size("_t") >= n,
                         F.expr(f"transform(sequence(1, size(_t) - "
                                f"{n - 1}), i -> concat_ws(' ', "
                                f"slice(_t, i, {n})))"))
                         .otherwise(F.array())).alias("_g"))
             .select(F.col(id_col), portable_hash(F.col("_g"))
                     .alias("_h")))
    doc_freq = (grams.select(id_col, "_h").distinct()
                .groupBy("_h")
                .agg(F.count(F.lit(1)).alias("_df")))
    per_doc = (grams.join(doc_freq, "_h")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                    F.sum(F.when(F.col("_df") >= 2, 1).otherwise(0))
                    .cast("long").alias("n_shared")))
    short = (df.select(F.col(id_col), toks.alias("_t"))
             .filter(F.size("_t") < n)
             .select(F.col(id_col),
                     F.lit(0).cast("long").alias("n_grams"),
                     F.lit(0).cast("long").alias("n_shared")))
    out = per_doc.unionByName(short)
    return out.select(
        id_col, "n_grams", "n_shared",
        F.when(F.col("n_grams") == 0, F.lit(None)).otherwise(
            F.floor((F.col("n_grams") - F.col("n_shared"))
                    * 1_000_000.0 / F.col("n_grams")))
        .cast("long").alias("novelty_ppm"))


def ngram_novelty_sql(src: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text", n: int = 5) -> str:
    """DuckDB twin of ngram_novelty: same tokenization, same 60-bit
    gram hash, same distinct-doc sharing rule and floors."""
    if n < 2:
        raise ValueError("n must be >= 2")
    return f"""WITH nv_t AS MATERIALIZED (
  SELECT {id_col},
         regexp_split_to_array(trim(lower({text_col})), '\\s+') AS a
  FROM {src}
), nv_g AS MATERIALIZED (
  SELECT {id_col},
         ('0x' || substr(md5(array_to_string(
            a[CAST(i AS INT):CAST(i AS INT) + {n - 1}], ' ')),
            1, 15))::BIGINT AS h
  FROM (SELECT {id_col}, a, unnest(range(1, len(a) - {n - 2})) AS i
        FROM nv_t WHERE len(a) >= {n})
), nv_df AS (
  SELECT h, count(*) AS df
  FROM (SELECT DISTINCT {id_col}, h FROM nv_g) GROUP BY h
), nv_d AS (
  SELECT g.{id_col}, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared
  FROM nv_g g JOIN nv_df f ON g.h = f.h
  GROUP BY g.{id_col}
  UNION ALL
  SELECT {id_col}, 0, 0 FROM nv_t WHERE len(a) < {n}
)
SELECT {id_col}, n_grams, n_shared,
       CASE WHEN n_grams = 0 THEN NULL
            ELSE CAST(floor((n_grams - n_shared) * 1000000.0
                            / n_grams) AS BIGINT) END AS novelty_ppm
FROM nv_d"""


def skipgram_counts(df: DataFrame, window: int = 2,
                    min_count: int = 1, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide skip-gram co-occurrence counts — the (center,
    context, n) table word2vec-family embedding training consumes
    [Mikolov et al. 2013], and the raw material for PMI-style
    association mining beyond the bigram collocations operator:
    every ordered pair of tokens at distance 1..window within a
    document counts once per occurrence, in BOTH directions
    (symmetric context, the SGNS convention — so n(a,b) = n(b,a) by
    construction and the table doubles as an undirected
    co-occurrence matrix).

    Pair generation is MAP-ONLY: for each offset o in 1..window the
    token array zips with itself shifted by o (two slices of the
    same materialized array — no posexplode self-join, which would
    shuffle token-position rows just to rediscover adjacency), then
    one explode feeds the (center, context) groupBy with map-side
    combine. The offset loop unrolls at plan-build time (window is a
    small literal). Empty tokens drop; docs shorter than 2 tokens
    contribute nothing; `min_count` prunes the long tail (the
    word2vec vocabulary floor) AFTER counting, bounding output by
    the frequent-pair vocabulary.

    Skew note: stopword-stopword pairs are the hot keys; counting is
    a mergeable sum, so partial aggregation absorbs them — the same
    argument as exact dedup's hash groupBy."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    arr = F.col("_toks")
    n = F.size(arr)
    per_off = []
    for o in range(1, window + 1):
        # docs shorter than the offset have no pairs at this o; a raw
        # n - o would hand slice() a negative length and fail the task
        ln = F.greatest(n - F.lit(o), F.lit(0))
        fwd = F.zip_with(
            F.slice(arr, F.lit(1), ln),
            F.slice(arr, F.lit(o + 1), ln),
            lambda a, b: F.struct(a.alias("center"),
                                  b.alias("context")))
        rev = F.zip_with(
            F.slice(arr, F.lit(o + 1), ln),
            F.slice(arr, F.lit(1), ln),
            lambda a, b: F.struct(a.alias("center"),
                                  b.alias("context")))
        per_off.extend([fwd, rev])
    pairs = F.concat(*per_off)
    return (df.select(toks.alias("_toks"))
            .filter(n >= 2)
            .select(F.explode(pairs).alias("_p"))
            .groupBy(F.col("_p.center").alias("center"),
                     F.col("_p.context").alias("context"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .filter(F.col("n") >= min_count))


def skipgram_counts_sql(docs_sql: str, window: int = 2,
                        min_count: int = 1, text_col: str = "text",
                        id_col: str = "doc_id") -> str:
    """Oracle twin of skipgram_counts: an INDEPENDENT positional
    spelling — unnest tokens with their positions and self-join per
    doc on 1 <= pos_b - pos_a <= window (the slice-zip's semantics,
    rediscovered through a join instead of adjacency)."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    return rf"""WITH sg_d AS MATERIALIZED (
  SELECT {id_col} AS id,
         list_filter(regexp_split_to_array(trim({text_col}), '\s+'),
                     t -> t <> '') AS toks
  FROM (
{docs_sql.strip()}
  )
), sg_t AS MATERIALIZED (
  SELECT id, unnest(range(1, len(toks) + 1)) AS pos, toks
  FROM sg_d WHERE len(toks) >= 2
), sg_p AS (
  SELECT id, pos, toks[pos] AS tok FROM sg_t
), sg_pairs AS (
  SELECT a.tok AS center, b.tok AS context
  FROM sg_p a JOIN sg_p b
    ON a.id = b.id AND b.pos - a.pos BETWEEN 1 AND {window}
)
SELECT center, context, n FROM (
  SELECT center, context, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT center, context FROM sg_pairs
    UNION ALL
    SELECT context, center FROM sg_pairs
  ) GROUP BY center, context
) WHERE n >= {min_count}"""


# Unicode script profiling: the lang-ID ladder's missing rung for
# NON-Latin corpora (trigram/stopword ID discriminates languages
# within a script; the script itself is a codepoint-range histogram
# — the standard first gate of multilingual corpus routing).  Ranges
# are the core Unicode blocks per script (public Unicode block list);
# SCRIPT ORDER is the deterministic tie-break and the twin SQL is
# GENERATED from this same table so the two engines cannot drift.
SCRIPT_RANGES = {
    "latin": [(0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F)],
    "cyrillic": [(0x400, 0x4FF), (0x500, 0x52F)],
    "greek": [(0x370, 0x3FF)],
    "arabic": [(0x600, 0x6FF), (0x750, 0x77F)],
    "hebrew": [(0x590, 0x5FF)],
    "devanagari": [(0x900, 0x97F)],
    "cjk": [(0x4E00, 0x9FFF), (0x3400, 0x4DBF)],
    "kana": [(0x3040, 0x309F), (0x30A0, 0x30FF)],
    "hangul": [(0xAC00, 0xD7AF), (0x1100, 0x11FF)],
    "thai": [(0xE00, 0xE7F)],
}


def _script_pred(cp, ranges):
    cond = None
    for lo, hi in ranges:
        c = (cp >= lo) & (cp <= hi)
        cond = c if cond is None else (cond | c)
    return cond


def script_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document dominant Unicode script: (doc_id, n_letters,
    script, script_permille) where n_letters counts characters in ANY
    known script range, script is the range family with the most
    characters (ties broken by SCRIPT_RANGES order), and
    script_permille = floor(1000 * n_script / n_letters).  Documents
    with no script characters at all emit script 'none' with 0/0.

    Map-only: one codepoint array per row (split + ascii inside
    higher-order functions — JVM-side, no UDF), one size() per
    script; nothing shuffles."""
    cps = F.expr(
        f"transform(filter(split({text_col}, ''), c -> c <> ''), "
        f"c -> ascii(c))")
    counts = []
    row = df.select(F.col(id_col).alias("doc_id"),
                    cps.alias("_cps"))

    def _one_arg(ranges):
        # a 2-parameter lambda would make PySpark pass (element,
        # index) — the closure keeps the filter unary
        return lambda c: _script_pred(c, ranges)

    for name, ranges in SCRIPT_RANGES.items():
        counts.append(
            F.size(F.filter(F.col("_cps"), _one_arg(ranges)))
            .cast("long").alias(f"_n_{name}"))
    row = row.select("doc_id", *counts)
    n_letters = None
    for name in SCRIPT_RANGES:
        c = F.col(f"_n_{name}")
        n_letters = c if n_letters is None else (n_letters + c)
    # dominant script under (count DESC, declaration order) — realized
    # as a greatest(struct(count, rev_order, name)) pick
    pick = F.greatest(*[
        F.struct(F.col(f"_n_{name}").alias("n"),
                 F.lit(len(SCRIPT_RANGES) - i).alias("prio"),
                 F.lit(name).alias("s"))
        for i, name in enumerate(SCRIPT_RANGES)])
    return (row.select(
        "doc_id", n_letters.alias("n_letters"), pick.alias("_p"))
        .select(
            "doc_id", "n_letters",
            F.when(F.col("_p.n") > 0, F.col("_p.s"))
            .otherwise(F.lit("none")).alias("script"),
            F.when(F.col("n_letters") > 0,
                   (F.lit(1000) * F.col("_p.n")
                    - (F.lit(1000) * F.col("_p.n"))
                    % F.col("n_letters"))
                   / F.col("n_letters"))
            .otherwise(F.lit(0)).cast("long").alias("script_permille")))


def script_profile_sql(docs_sql: str, text_col: str = "text",
                       id_col: str = "doc_id") -> str:
    """DuckDB twin of script_profile, generated from SCRIPT_RANGES."""
    def pred(ranges):
        return " OR ".join(f"(cp >= {lo} AND cp <= {hi})"
                           for lo, hi in ranges)

    rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, '{name}' AS script, {i} AS ord,\n"
        f"       CAST(len(list_filter(cps, cp -> {pred(r)})) AS BIGINT)"
        f" AS n FROM sp_cp"
        for i, (name, r) in enumerate(SCRIPT_RANGES.items()))
    return f"""WITH sp_cp AS MATERIALIZED (
  SELECT {id_col} AS doc_id,
         list_transform(regexp_extract_all({text_col}, '[\\s\\S]'),
                        c -> unicode(c)) AS cps
  FROM (
{docs_sql.strip()}
  )
), sp_rows AS MATERIALIZED (
  {rows}
), sp_tot AS (
  SELECT doc_id, sum(n) AS n_letters FROM sp_rows GROUP BY doc_id
), sp_pick AS (
  SELECT doc_id, script, n FROM (
    SELECT doc_id, script, n, row_number() OVER (
      PARTITION BY doc_id ORDER BY n DESC, ord ASC) AS rk
    FROM sp_rows
  ) WHERE rk = 1
)
SELECT t.doc_id, CAST(t.n_letters AS BIGINT) AS n_letters,
       CASE WHEN p.n > 0 THEN p.script ELSE 'none' END AS script,
       CAST(CASE WHEN t.n_letters > 0
                 THEN (1000 * p.n) // t.n_letters ELSE 0 END
            AS BIGINT) AS script_permille
FROM sp_tot t JOIN sp_pick p USING (doc_id)"""
