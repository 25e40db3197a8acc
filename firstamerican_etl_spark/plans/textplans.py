"""Text-analysis operators over the ``documents`` table (training-data
pipeline extensions): quality scoring, token counting, language-ID
heuristic, document fingerprinting. All built-in ``F.*`` expressions —
JVM-side, codegen'd, no Python UDFs in the hot path — so they scale to
100 TB of text as a pure map stage (zero shuffles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from firstamerican_etl_spark.functions.stable import stable_round
from firstamerican_etl_spark.plans.registry import register
from firstamerican_etl_spark.sources.io import load_table

# Tiny per-language stopword anchors for the n-gram language heuristic.
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "que"],
    "fr": ["le", "la", "et"],
    "de": ["der", "und", "die"],
    "zh": ["de", "shi", "le"],
}


@register(
    "text_quality",
    oracle="""
SELECT doc_id,
       length(text) AS n_chars_calc,
       len(string_split(text, ' ')) AS n_tokens,
       length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS n_punct,
       floor(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) * 100 + 0.5) / 100 AS avg_token_len,
       CASE WHEN length(text) BETWEEN 50 AND 5000
             AND len(string_split(text, ' ')) >= 10 THEN 1 ELSE 0 END AS quality_pass
FROM documents
""",
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: char/token counts, punctuation density, and a
    length-window pass flag — the standard pre-training corpus filters."""
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_tokens = F.size(F.split(F.col("text"), " ", -1))
    return d.select(
        "doc_id",
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.length(F.regexp_replace(F.col("text"), r"[^.!?,;]", "")).alias("n_punct"),
        stable_round(n_chars.cast("double") / n_tokens).alias("avg_token_len"),
        F.when(
            n_chars.between(50, 5000) & (n_tokens >= 10), F.lit(1)
        ).otherwise(F.lit(0)).alias("quality_pass"),
    )


@register(
    "token_count",
    oracle="""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+'))  AS n_word_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_ish_tokens
FROM documents
""",
    tags=("text", "tokenize"),
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, alpha word regex,
    and a BPE-ish pre-tokenizer regex (words | single non-space
    punctuation) — the cheap proxy for LLM token budgeting."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+", -1)).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+"), 0)).alias(
            "n_word_tokens"
        ),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0
            )
        ).alias("n_bpe_ish_tokens"),
    )


def _marker_hits_spark(col, word: str):
    """Occurrences of ' word ' in ' text ' via length-delta — identical
    non-overlapping-count semantics in Spark and DuckDB replace()."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def _marker_hits_sql(word: str) -> str:
    needle = f" {word} "
    return (
        f"CAST((length(' ' || text || ' ') - "
        f"length(replace(' ' || text || ' ', '{needle}', ''))) / {len(needle)} AS INTEGER)"
    )


@register(
    "lang_id_heuristic",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_marker_hits_sql('the')} + {_marker_hits_sql('and')} + {_marker_hits_sql('of')}  AS score_en,
         {_marker_hits_sql('el')} + {_marker_hits_sql('la')} + {_marker_hits_sql('que')}   AS score_es,
         {_marker_hits_sql('le')} + {_marker_hits_sql('la')} + {_marker_hits_sql('et')}    AS score_fr,
         {_marker_hits_sql('der')} + {_marker_hits_sql('und')} + {_marker_hits_sql('die')} AS score_de
  FROM documents
)
SELECT doc_id, lang, score_en, score_es, score_fr, score_de,
       CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de THEN 'en'
            WHEN score_es >= score_fr AND score_es >= score_de THEN 'es'
            WHEN score_fr >= score_de THEN 'fr'
            ELSE 'de' END AS lang_pred
FROM scored
""",
    tags=("text", "langid"),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-anchor language ID: count per-language marker-word hits
    and argmax with a deterministic preference order (en>es>fr>de on
    ties). A real system swaps in fastText/CLD3 via a pandas UDF; the
    Spark-side shape (pure map, no shuffle) is identical."""
    d = load_table(spark, sf_dir, "documents")
    scores = {
        lang: sum(
            (_marker_hits_spark(F.col("text"), w) for w in words[1:]),
            _marker_hits_spark(F.col("text"), words[0]),
        )
        for lang, words in _LANG_MARKERS.items()
        if lang != "zh"
    }
    scored = d.select(
        "doc_id",
        "lang",
        scores["en"].alias("score_en"),
        scores["es"].alias("score_es"),
        scores["fr"].alias("score_fr"),
        scores["de"].alias("score_de"),
    )
    pred = (
        F.when(
            (F.col("score_en") >= F.col("score_es"))
            & (F.col("score_en") >= F.col("score_fr"))
            & (F.col("score_en") >= F.col("score_de")),
            F.lit("en"),
        )
        .when(
            (F.col("score_es") >= F.col("score_fr"))
            & (F.col("score_es") >= F.col("score_de")),
            F.lit("es"),
        )
        .when(F.col("score_fr") >= F.col("score_de"), F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    return scored.withColumn("lang_pred", pred)


@register(
    "doc_fingerprint",
    oracle="""
SELECT doc_id,
       substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 16) AS fingerprint
FROM documents
""",
    tags=("text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: whitespace-normalize → lowercase → md5
    prefix. The canonical exact-dedup key at corpus scale (16 hex chars
    = 64 bits; collisions ~ birthday bound 2^32 docs)."""
    d = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return d.select(
        "doc_id", F.substring(F.md5(normalized), 1, 16).alias("fingerprint")
    )


_GOPHER_STOPWORDS = ("the", "a", "and", "of", "data", "to")


@register(
    "quality_gopher_rules",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
sig AS (
  SELECT doc_id,
         len(words) AS n_words,
         CAST(list_sum(list_transform(words, x -> length(x))) AS BIGINT) AS sum_word_len,
         len(list_filter(words, x -> regexp_full_match(x, '[A-Za-z]+'))) AS n_alpha_words,
         {" + ".join(f"CAST(list_contains(words, '{w}') AS INTEGER)" for w in _GOPHER_STOPWORDS)} AS n_stop_distinct
  FROM w
)
SELECT doc_id, n_words, n_alpha_words, n_stop_distinct,
       floor(CAST(sum_word_len AS DOUBLE) / n_words * 100 + 0.5) / 100 AS mean_word_len,
       floor(CAST(n_alpha_words AS DOUBLE) / n_words * 1000000 + 0.5) / 1000000 AS alpha_frac,
       CASE WHEN CAST(sum_word_len AS DOUBLE) / n_words BETWEEN 3 AND 10
             AND n_words BETWEEN 10 AND 5000
             AND CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8
             AND n_stop_distinct >= 2
            THEN 1 ELSE 0 END AS gopher_pass
FROM sig
""",
    tags=("text", "quality", "gopher"),
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition-free quality gate (Rae et al. 2021 §A1.1
    subset, the rules most pre-training pipelines reimplement): mean
    word length in [3, 10], document word count in [10, 5000], ≥80% of
    words containing alphabetic characters, and at least two distinct
    stopwords present (the 'real prose' anchor). All signals are
    higher-order array expressions over ONE bound tokenization
    (dedupplans.exploded_words Generate barrier) — a pure map stage,
    zero shuffles, same plan shape at 100 TB."""
    from firstamerican_etl_spark.plans.dedupplans import exploded_words

    d = exploded_words(load_table(spark, sf_dir, "documents"))
    n_words = F.size("words")
    sum_word_len = F.aggregate(
        "words", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_alpha = F.size(F.filter("words", lambda x: x.rlike(r"^[A-Za-z]+$")))
    n_stop = None
    for w in _GOPHER_STOPWORDS:
        hit = F.array_contains("words", w).cast("int")
        n_stop = hit if n_stop is None else n_stop + hit
    mean_len = sum_word_len.cast("double") / n_words
    alpha_frac = n_alpha.cast("double") / n_words
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop_distinct"),
        stable_round(mean_len).alias("mean_word_len"),
        stable_round(alpha_frac, 6).alias("alpha_frac"),
        F.when(
            mean_len.between(3, 10)
            & n_words.between(10, 5000)
            & (alpha_frac >= 0.8)
            & (n_stop >= 2),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("gopher_pass"),
    )


def _doc_bigrams(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """(doc_id, ``name``) rows, one per word bigram of every document
    with >= 2 words, materialized map-side (explode of an index
    transform over the bound words array)."""
    from firstamerican_etl_spark.plans.dedupplans import exploded_words

    d = exploded_words(load_table(spark, sf_dir, "documents"))
    n = F.size("words")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("words"), i), F.element_at(F.col("words"), i + 1)
        ),
    )
    return d.filter(n >= 2).select("doc_id", F.explode(bigrams).alias(name))


@register(
    "repetition_top_bigram",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
b AS (
  SELECT doc_id, words[i] || ' ' || words[i + 1] AS bigram
  FROM (SELECT doc_id, words, unnest(generate_series(1, len(words) - 1)) AS i FROM w) t
),
c AS (
  SELECT doc_id, bigram, count(*) AS n FROM b GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_bigrams,
       count(*) AS n_distinct_bigrams,
       floor(CAST(max(n) AS DOUBLE) / sum(n) * 1000000 + 0.5) / 1000000 AS top_bigram_frac
FROM c GROUP BY 1
""",
    tags=("text", "quality", "repetition"),
)
def repetition_top_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition ratio (the other half of the Gopher gate): fraction
    of a document's word bigrams occupied by its single most frequent
    bigram — boilerplate and looped generations score high and get
    culled. Bigrams materialize map-side from the bound words array
    (explode of an index transform); the only shuffle is the
    (doc_id, bigram) count — keyed by document, so 100 TB spreads
    evenly and no all-document state ever concentrates."""
    counts = (
        _doc_bigrams(spark, sf_dir, "bigram")
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        stable_round(F.max("n").cast("double") / F.sum("n"), 6).alias(
            "top_bigram_frac"
        ),
    )


@register(
    "repetition_dup_ngram_coverage",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
long AS (SELECT doc_id, words FROM w WHERE len(words) >= 5),
g AS (
  SELECT doc_id, i, array_to_string(words[i:i+4], ' ') AS gram
  FROM (
    SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i
    FROM long
  ) t
),
c AS (
  SELECT doc_id, gram, count(*) AS n, list(i) AS starts
  FROM g GROUP BY 1, 2
),
cov AS (
  SELECT doc_id, count(DISTINCT pos) AS covered
  FROM (
    SELECT doc_id, s + off AS pos
    FROM (SELECT doc_id, unnest(starts) AS s FROM c WHERE n >= 2) d,
         unnest(generate_series(0, 4)) AS t(off)
  ) GROUP BY 1
),
tot AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_tokens,
         CAST(greatest(len(words) - 4, 0) AS BIGINT) AS n_5grams
  FROM w
),
dup AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_dup_5grams
  FROM c WHERE n >= 2 GROUP BY 1
)
SELECT t.doc_id, t.n_tokens, t.n_5grams,
       coalesce(d.n_dup_5grams, 0) AS n_dup_5grams,
       coalesce(CAST(c2.covered AS BIGINT), 0) AS covered_tokens
FROM tot t
LEFT JOIN dup d ON t.doc_id = d.doc_id
LEFT JOIN cov c2 ON t.doc_id = c2.doc_id
""",
    tags=("text", "quality", "repetition", "training-data"),
)
def repetition_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's remaining repetition gate (Rae et al. 2021, Table A1
    'duplicated n-gram fraction'): per document, how many tokens sit
    inside a 5-gram that occurs MORE THAN ONCE within the same
    document — loops, chorus-like boilerplate, and degenerate
    generations light up this signal while staying invisible to the
    top-bigram share (which only sees the single hottest bigram) and
    to cross-doc span dedup (which ignores intra-doc repeats).

    Everything is an integer count (tokens, 5-grams, duplicated
    5-gram occurrences, covered token positions) — no float
    quantization, so the oracle comparison is exact by construction
    (the PSI/DSIR floor-boundary risk class is designed out).

    Scale shape: grams materialize map-side from the bound words
    array; the (doc_id, gram) count and every later hop are keyed by
    doc_id — a 100 TB corpus spreads by document and no stage ever
    holds cross-document state. Coverage positions explode only from
    DUPLICATED grams (rare in clean text), not the whole corpus."""
    # DOC-LOCAL rewrite (r14, guide §2.4 "remove shuffles outright"):
    # every output column is a pure function of ONE document, but the
    # previous plan expressed it as a (doc_id, gram) groupBy + a
    # position-explode + distinct + two doc-keyed joins — 3 Exchanges
    # carrying every 5-gram STRING of the corpus, for state that never
    # crosses documents (plans/r14/repetition_dup_ngram_coverage_
    # before.txt). This plan computes the duplicated-gram set per doc
    # with a sorted-adjacency scan over an in-row array (O(m log m)
    # per doc, the same asymptotics the hash aggregate paid) and emits
    # the report straight off the scan: ZERO Exchanges, no joins, no
    # gram bytes on the wire at any scale. Results are bit-identical
    # (integer counts; the oracle is unchanged).
    from firstamerican_etl_spark.plans.dedupplans import exploded_words

    w = exploded_words(load_table(spark, sf_dir, "documents"))
    n = F.size("words")
    # 5-gram structs (gram, start): built over a ≥1-length sequence so
    # sequence() never sees stop < start (it would count DOWN), then
    # sliced back to the true m = n-4 (empty for n < 5).
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 4, F.lit(1))),
        lambda i: F.struct(
            F.concat_ws(" ", F.slice(F.col("words"), i, 5)).alias("g"),
            i.alias("i"),
        ),
    )
    # array_sort orders by (g, i); duplicated grams become adjacent
    # runs. explode(array(...)) is the 1:1 Generate barrier that binds
    # the sorted array as a real attribute (exploded_words' trick), so
    # the adjacency probes below reference it instead of re-sorting
    # per element.
    g = w.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.greatest(n - 4, F.lit(0)).cast("long").alias("n_5grams"),
        F.explode(
            F.array(F.array_sort(F.slice(grams, 1, F.greatest(n - 4, F.lit(0)))))
        ).alias("srt"),
    )
    m = F.size("srt")
    srt = F.col("srt")

    def _is_dup(j):
        prev_eq = F.when(
            j > 1, F.element_at(srt, j - 1)["g"] == F.element_at(srt, j)["g"]
        ).otherwise(F.lit(False))
        next_eq = F.when(
            j < m, F.element_at(srt, j + 1)["g"] == F.element_at(srt, j)["g"]
        ).otherwise(F.lit(False))
        return prev_eq | next_eq

    # start positions of every duplicated-gram occurrence (sorted-run
    # adjacency: an element is duplicated iff it equals a neighbor)
    starts = F.transform(
        F.filter(
            F.slice(
                F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
                1,
                F.greatest(m, F.lit(0)),
            ),
            _is_dup,
        ),
        lambda j: F.element_at(srt, j)["i"],
    )
    s = g.select(
        "doc_id",
        "n_tokens",
        "n_5grams",
        F.explode(F.array(starts)).alias("starts"),
    )
    covered = F.size(
        F.array_distinct(
            F.flatten(F.transform("starts", lambda st: F.sequence(st, st + 4)))
        )
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "n_5grams",
        F.size("starts").cast("long").alias("n_dup_5grams"),
        F.when(F.size("starts") > 0, covered)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("covered_tokens"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^\s]+"


def redact_pii(text: Column) -> Column:
    """Emails, then URLs, replaced by ``<EMAIL>`` / ``<URL>``: ONE
    definition, run by text_redact_pii (oracled) and by the corpus
    build's redaction stage."""
    return F.regexp_replace(
        F.regexp_replace(text, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )


@register(
    "text_redact_pii",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@example.com or http://site' || doc_id ||
         '.org/page today' AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(
             regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'), '{_URL_RE}'))
         AS n_urls,
       md5(regexp_replace(
             regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_URL_RE}', '<URL>', 'g')) AS redacted_md5
FROM seeded
ORDER BY doc_id
""",
    tags=("text", "pii", "redaction"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — email and URL redaction with placeholder
    substitution, the pre-training privacy pass. The contract tables
    carry no PII, so each doc is SEEDED with a deterministic fake
    email + URL derived from doc_id (identically on both sides) and
    the redaction is verified end-to-end by match counts plus md5 of
    the fully redacted text — a full value check that the substitution
    is byte-identical across engines. Patterns stay in the
    Java-regex ∩ RE2 common dialect (character classes, bounded
    quantifiers — no backrefs/lookarounds), which is also the subset
    that compiles in every distributed engine. Pure map stage, zero
    shuffles, codegen'd end-to-end — at 100 TB this runs at scan
    speed. Emails redact FIRST so the URL count can never double-count
    an address's domain."""
    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or http://site"),
            F.col("doc_id").cast("string"),
            F.lit(".org/page today"),
        ).alias("t"),
    )
    emails_gone = F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>")
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(emails_gone, F.lit(_URL_RE), 0)).alias(
            "n_urls"
        ),
        F.md5(redact_pii(F.col("t")).cast("binary")).alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "quality_classifier_score",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
grams AS (
  SELECT doc_id,
         words[i] || ' ' || words[i + 1] AS gram
  FROM (
    SELECT doc_id, words,
           unnest(generate_series(1, len(words) - 1)) AS i
    FROM w WHERE len(words) >= 2
  ) t
),
scored AS (
  SELECT doc_id,
         (CAST(concat('0x', substr(md5(gram), 1, 2)) AS BIGINT)
            * 2654435761 % 1009) - 504 AS wgt
  FROM grams
)
SELECT doc_id,
       count(*) AS n_grams,
       CAST(sum(wgt) AS BIGINT) AS score_raw,
       CAST(floor(CAST(sum(wgt) AS DOUBLE) / count(*) * 10000 + 0.5)
            AS BIGINT) AS score_scaled,
       sum(wgt) > 0 AS keep
FROM scored
GROUP BY doc_id
""",
    tags=("text", "quality", "classifier", "hashed-features"),
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, the fastText/CCNet serving shape
    (Wenzek et al. 2020; the GPT-3 data pipeline's quality classifier):
    hash every word bigram into a 256-bucket feature space, score the
    doc as the sum of per-bucket linear weights, keep docs scoring > 0.
    The weights here are a FIXED deterministic stand-in (Knuth
    multiplicative hash of the md5 bucket id into ±504) — training the
    real weights is a separate offline concern; what the engine owns,
    and what this query proves end-to-end, is the SERVING plan: feature
    hashing, weight lookup (a pure expression — no 256-row join
    needed), per-doc reduction, thresholding. Swapping learned weights
    in changes one literal-generating function, not the plan.

    Exactness: bucket = first md5 byte of the bigram (the DSIR hashing
    recipe); weight arithmetic is int64 throughout (max |score| ≈
    504·|grams| ≪ 2⁶³); the mean is quantized. Scale shape: one
    Generate (bigram explode) + one doc-keyed hash aggregate with
    map-side combine — no join, no window, the same single-exchange
    class as token_count. Docs with <2 words have no bigram evidence
    and are absent, same as DSIR."""
    grams = _doc_bigrams(spark, sf_dir, "gram")
    bucket = F.conv(F.substring(F.md5("gram"), 1, 2), 16, 10).cast("long")
    wgt = (bucket * F.lit(2654435761)) % F.lit(1009) - F.lit(504)
    return grams.select("doc_id", wgt.alias("wgt")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("wgt").alias("score_raw"),
        F.floor(
            F.sum("wgt").cast("double") / F.count(F.lit(1)) * F.lit(10000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("score_scaled"),
        (F.sum("wgt") > 0).alias("keep"),
    )


@register(
    "unigram_logprob_score",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT term, count(*) AS c FROM words GROUP BY 1),
n AS (SELECT sum(c) AS total FROM tf),
lp AS (
  SELECT term,
         floor(-ln(c / total) * 1000000 + 0.5) / 1000000 AS nll
  FROM tf CROSS JOIN n
)
SELECT doc_id,
       count(*) AS n_tokens,
       floor(CAST(sum(CAST(floor(nll * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 / count(*) * 10000 + 0.5) / 10000 AS avg_nll
FROM words JOIN lp USING (term)
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("text", "quality", "lm"),
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's
    own unigram model — the (KenLM-style) perplexity quality filter in
    its exactly-verifiable form: docs whose avg_nll is far above the
    corpus norm are gibberish/outliers, far below are boilerplate.

    Scale shape: one aggregate builds the term → count model (the
    model table is |vocabulary| rows), the corpus total is one row,
    and the per-token nll comes back onto the exploded term table via
    BROADCAST join — the corpus is shuffled once, on doc_id, for the
    final mean. Per-term -ln(p) is stably rounded to 6 decimals on
    both sides (last-ulp ln() drift can't cross a quantization
    boundary), summed on the quantized-int64 path, and the mean is
    rounded to 4 — partitioning- and engine-exact."""
    from firstamerican_etl_spark.functions.stable import fast_sum

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ", -1)).alias("term")
    )
    tf = words.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n = tf.agg(F.sum("c").alias("total"))
    lp = tf.crossJoin(F.broadcast(n)).select(
        "term",
        stable_round(-F.log(F.col("c") / F.col("total")), 6).alias("nll"),
    )
    per_doc = (
        words.join(F.broadcast(lp), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            fast_sum(F.col("nll"), round_to=6).alias("_sum_nll"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        stable_round(F.col("_sum_nll") / F.col("n_tokens"), 4).alias("avg_nll"),
    ).orderBy("doc_id")


@register(
    "bpe_pair_counts",
    oracle="""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
p AS (
  SELECT substring(word, i, 2) AS pair
  FROM (SELECT word, unnest(generate_series(1, len(word) - 1)) AS i FROM w) t
)
SELECT pair, count(*) AS n
FROM p GROUP BY 1
ORDER BY n DESC, pair
LIMIT 20
""",
    tags=("text", "tokenizer", "bpe"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training: corpus-wide counts of
    adjacent CHARACTER pairs within words (the statistic each merge
    round maximizes), top-20 with a deterministic tie-break. A full
    training loop repeats this count after applying the best merge;
    one round is the representative Spark shape — the rest is the same
    plan re-run on re-segmented words.

    Scale shape: pair extraction is map-side array work behind the
    words Generate barrier (no per-row Python, no shuffle); the only
    exchange carries (pair, partial count) — at most |alphabet|² rows
    per partition after map-side combine, i.e. metadata, regardless of
    corpus size. TakeOrdered for the top-20, no global sort."""
    from firstamerican_etl_spark.plans.dedupplans import exploded_words

    d = exploded_words(load_table(spark, sf_dir, "documents"))
    char_pairs = lambda w: F.when(  # noqa: E731
        F.length(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(w) - 1), lambda i: w.substr(i, F.lit(2))
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = d.select(
        F.explode(F.flatten(F.transform(F.col("words"), char_pairs))).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


_VOCAB_V = 1000  # "tokenizer vocabulary" size (top-V corpus terms)


def _staged_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE corpus tokenize pass collapsed to staged (lang, term, n)
    counts — shared by ``vocab_oov_rate`` and ``zipf_rank_frequency``
    (both audits derive from it; unstaged, Catalyst re-exploded the
    corpus once per consumer branch). Defined EXACTLY ONCE: the two
    queries share the stage_once (prefix, reuse_key) cache, so a
    second inline copy that drifted (different split pattern, an added
    filter) would silently serve whichever generation staged first."""
    from firstamerican_etl_spark.operators.scale import stage_once
    from firstamerican_etl_spark.sources.io import staging_tag

    d = load_table(spark, sf_dir, "documents")
    return stage_once(
        d.select(
            "lang", F.explode(F.split(F.col("text"), " ", -1)).alias("term")
        )
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n")),
        "vocab_oov_termcounts",
        reuse_key=staging_tag(sf_dir, "documents"),
    )


@register(
    "vocab_oov_rate",
    oracle=f"""
WITH words AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS n FROM words GROUP BY 1
    ORDER BY n DESC, term LIMIT {_VOCAB_V}
  )
),
flagged AS (
  SELECT w.lang,
         CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
  FROM words w LEFT JOIN vocab v ON w.term = v.term
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       CAST(floor(sum(oov) * 1000000.0 / count(*) + 0.5) AS BIGINT) AS oov_ppm
FROM flagged GROUP BY 1
""",
    tags=("text", "vocab", "oov", "tokenizer", "qa"),
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-V=1000
    corpus terms as the stand-in vocabulary (deterministic count-desc,
    term-asc order — production would broadcast the real tokenizer's
    vocab file) and report per-language token counts, OOV counts and
    the OOV rate in ppm. The per-language OOV rate is the QA number a
    multilingual pre-training mix is gated on: a language whose rate
    spikes is being mis-tokenized (wrong script, mojibake, vocabulary
    trained on a different mix) and will train badly at full cost.

    Exactness: counts are integers and the rate is floor-quantized
    from integer totals — bit-identical under any partitioning.

    Scale shape: one term-count aggregate (map-side combined) feeds a
    top-V sort-limit whose |V| rows broadcast back onto the exploded
    token stream; the only other shuffle is the |langs|-row report
    aggregate. The corpus is never joined by anything bigger than the
    broadcast vocabulary."""
    tc = _staged_term_counts(spark, sf_dir)
    vocab = (
        tc.groupBy("term")
        .agg(F.sum("n").alias("nt"))
        .orderBy(F.col("nt").desc(), "term")
        .limit(_VOCAB_V)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    flagged = tc.join(F.broadcast(vocab), "term", "left").select(
        "lang",
        "n",
        F.when(F.col("in_vocab").isNull(), F.col("n")).otherwise(F.lit(0)).alias(
            "oov_n"
        ),
    )
    return flagged.groupBy("lang").agg(
        F.sum("n").alias("n_tokens"),
        F.sum("oov_n").alias("n_oov"),
        F.floor(
            F.sum("oov_n") * F.lit(1000000.0) / F.sum("n") + F.lit(0.5)
        )
        .cast("long")
        .alias("oov_ppm"),
    )


_ZIPF_K = 100  # spectrum head size


@register(
    "zipf_rank_frequency",
    oracle=f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
counts AS (SELECT term, count(*) AS n FROM words GROUP BY 1),
total AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM counts),
top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT {_ZIPF_K}),
ranked AS (
  SELECT term, n,
         row_number() OVER (ORDER BY n DESC, term) AS rank,
         sum(n) OVER (ORDER BY n DESC, term ROWS UNBOUNDED PRECEDING) AS cum_n
  FROM top
)
SELECT term,
       CAST(rank AS BIGINT) AS rank,
       CAST(n AS BIGINT) AS n,
       CAST(cum_n AS BIGINT) AS cum_n,
       CAST(floor(cum_n * 1000000.0 / tot + 0.5) AS BIGINT) AS cum_share_ppm,
       CAST(n * rank AS BIGINT) AS zipf_product
FROM ranked, total
""",
    tags=("text", "vocab", "zipf", "profile"),
)
def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token rank-frequency spectrum (the Zipf head): the top-100 corpus
    terms with rank, count, cumulative count, cumulative token coverage
    in ppm, and the rank·frequency product (Zipf's law predicts it
    roughly constant — a head whose product collapses signals boilerplate
    domination; one that explodes signals tokenizer breakage). This is
    the first profile a tokenizer-training or corpus-mix audit draws.

    Exactness: every output column is an integer derived from integer
    counts (coverage floor-quantized from integer totals) — bit-identical
    under any partitioning.

    Scale shape: reuses the SAME staged (lang, term) count frame as
    ``vocab_oov_rate`` (one corpus tokenize pass serves both audits);
    the head is a TakeOrdered top-K, and rank/cumulative-sum are computed
    by packing the K survivors into ONE array row (sort_array +
    posexplode + prefix aggregate) — no global-ORDER-BY window, so no
    single-partition WindowExec at any corpus size. The corpus never
    shuffles by anything wider than (lang, term) partial counts."""
    tc = _staged_term_counts(spark, sf_dir)
    counts = tc.groupBy("term").agg(F.sum("n").alias("n"))
    total = tc.agg(F.sum("n").alias("tot"))
    top = counts.orderBy(F.col("n").desc(), "term").limit(_ZIPF_K)
    # Pack the K-row head into one array sorted by (n desc, term asc) —
    # struct sort is lexicographic ascending, so sort on (-n, term).
    packed = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct((-F.col("n")).alias("neg_n"), F.col("term").alias("term"))
            )
        ).alias("arr")
    )
    exploded = packed.select(
        F.col("arr"), F.posexplode("arr").alias("pos", "s")
    )
    cum_n = F.aggregate(
        F.slice("arr", 1, F.col("pos") + 1),
        F.lit(0).cast("long"),
        lambda acc, x: acc - x["neg_n"],
    )
    ranked = exploded.select(
        F.col("s.term").alias("term"),
        (F.col("pos") + 1).cast("long").alias("rank"),
        (-F.col("s.neg_n")).alias("n"),
        cum_n.alias("cum_n"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "term",
        "rank",
        "n",
        "cum_n",
        F.floor(F.col("cum_n") * F.lit(1000000.0) / F.col("tot") + F.lit(0.5))
        .cast("long")
        .alias("cum_share_ppm"),
        (F.col("n") * F.col("rank")).alias("zipf_product"),
    )


@register(
    "char_entropy_quality",
    oracle="""
WITH chars AS (
  SELECT doc_id, length(text) AS n, g.c AS ch
  FROM documents, LATERAL unnest(string_split(text, '')) AS g(c)
  WHERE length(text) > 0
),
hist AS (
  SELECT doc_id, any_value(n) AS n, ch, count(*) AS cnt
  FROM chars GROUP BY doc_id, ch
),
terms AS (
  SELECT doc_id, n,
         CAST(floor((CAST(cnt AS DOUBLE) / n)
              * log2(CAST(n AS DOUBLE) / cnt)
              * 1000000000 + 0.5) AS BIGINT) AS t
  FROM hist
)
SELECT doc_id,
       CAST(any_value(n) AS BIGINT) AS n_chars,
       CAST(count(*) AS BIGINT) AS n_distinct_chars,
       CAST(sum(t) AS BIGINT) AS entropy_scaled,
       CAST(sum(t) AS BIGINT) < 3000000000 AS is_low_entropy
FROM terms
GROUP BY doc_id
""",
    tags=("text", "quality", "entropy"),
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document, in scaled-int64 bits —
    the information-theoretic quality gate: natural prose sits ~4-4.5
    bits/char, repeated boilerplate / single-char floods / truncated
    binary junk fall well below, and the is_low_entropy flag (< 3.0
    bits) is the CCNet-adjacent cheap filter that catches degenerate
    docs n-gram repetition rules miss (e.g. 'aaaa…' has ZERO repeated
    5-grams of distinct words but ~0 bits of char entropy).

    Quantization discipline (the PSI/DSIR pattern): each histogram
    term (c/n)·log2(n/c) quantizes to int64 units of 1e-9 BEFORE the
    per-doc sum, so the reduction is exact integer addition under any
    partitioning. The one cross-engine float risk is log2's last ULP
    at a floor boundary — pinned closed on the shipped corpora by
    tests/test_quantization_boundaries.py, same as PSI/DSIR.

    Scale shape: one explode to (doc, char) rows, one map-side-
    combined histogram aggregate keyed (doc_id, ch) (≤ |alphabet|
    rows per doc), one per-doc sum — both aggregates share the doc_id
    hash distribution, so AQE coalesces to effectively one wide
    shuffle of alphabet-bounded rows. No joins, no windows."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    chars = d.select(
        "doc_id",
        F.length("text").alias("n"),
        F.explode(F.split("text", "")).alias("ch"),
    )
    hist = chars.groupBy("doc_id", "ch").agg(
        F.any_value("n").alias("n"), F.count(F.lit(1)).alias("cnt")
    )
    term = F.floor(
        (F.col("cnt").cast("double") / F.col("n"))
        * F.log2(F.col("n").cast("double") / F.col("cnt"))
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("long")
    ent = F.sum(term)
    return hist.groupBy("doc_id").agg(
        F.any_value("n").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        ent.alias("entropy_scaled"),
        (ent < 3000000000).alias("is_low_entropy"),
    )


def _bpe_oracle(rounds: int = 3) -> str:
    """Unrolled BPE merge rounds as chained CTEs mirroring the Spark
    plan: pair-count → argmax winner (count desc, pair asc) →
    left-to-right non-overlapping replace (both engines' replace())."""
    ctes = ["""
w0 AS (
  SELECT wd, count(*) AS cnt FROM (
    SELECT g.wd FROM documents,
           LATERAL unnest(string_split(text, ' ')) AS g(wd)
  ) WHERE wd <> '' GROUP BY 1
),
r0 AS (
  SELECT array_to_string(
           list_transform(string_split(wd, ''), c -> chr(1) || c || chr(2)),
           ' ') AS repr, cnt FROM w0
)""".strip()]
    for k in range(1, rounds + 1):
        prev = f"r{k-1}"
        ctes.append(f"""
p{k} AS (
  SELECT translate(s[g.i], chr(1) || chr(2), '') AS a,
         translate(s[g.i + 1], chr(1) || chr(2), '') AS b,
         CAST(sum(cnt) AS BIGINT) AS pc
  FROM (SELECT string_split(repr, ' ') AS s, cnt FROM {prev}) t,
       LATERAL unnest(range(1, len(s))) AS g(i)
  GROUP BY 1, 2
),
win{k} AS (SELECT a, b, pc FROM p{k} ORDER BY pc DESC, a, b LIMIT 1),
r{k} AS (
  SELECT replace(repr,
                 (SELECT chr(1) || a || chr(2) || ' ' || chr(1) || b || chr(2)
                  FROM win{k}),
                 (SELECT chr(1) || a || b || chr(2) FROM win{k})) AS repr, cnt
  FROM {prev}
)""".strip())
    selects = " UNION ALL ".join(
        f"SELECT {k} AS merge_round, a AS left_sym, b AS right_sym, pc AS pair_count FROM win{k}"
        for k in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


def _bpe_fertility_oracle(rounds: int = 3) -> str:
    """Train CTEs (global word types) + per-language application +
    fertility aggregate, mirroring bpe_apply_fertility."""
    base = _bpe_oracle(rounds)
    # everything before the train query's SELECT tail = the WITH body
    train_with = base[: base.rfind("SELECT 1 AS merge_round")].rstrip()
    apply_ctes = ["""
lw AS (
  SELECT lang, g.wd AS wd, count(*) AS cnt
  FROM documents, LATERAL unnest(string_split(text, ' ')) AS g(wd)
  WHERE g.wd <> '' GROUP BY 1, 2
),
lr0 AS (
  SELECT lang,
         array_to_string(
           list_transform(string_split(wd, ''), c -> chr(1) || c || chr(2)),
           ' ') AS repr, cnt FROM lw
)""".strip()]
    for k in range(1, rounds + 1):
        apply_ctes.append(f"""
lr{k} AS (
  SELECT lang,
         replace(repr,
                 (SELECT chr(1) || a || chr(2) || ' ' || chr(1) || b || chr(2)
                  FROM win{k}),
                 (SELECT chr(1) || a || b || chr(2) FROM win{k})) AS repr, cnt
  FROM lr{k-1}
)""".strip())
    tail = f"""
SELECT lang,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(sum(cnt * len(string_split(repr, ' '))) AS BIGINT) AS n_symbols,
       CAST(floor(CAST(sum(cnt * len(string_split(repr, ' '))) AS DOUBLE)
            * 1000000 / sum(cnt) + 0.5) AS BIGINT) AS fertility_ppm
FROM lr{rounds}
GROUP BY 1
"""
    return train_with + ",\n" + ",\n".join(apply_ctes) + "\n" + tail


@register(
    "bpe_train_unrolled",
    oracle=_bpe_oracle(),
    tags=("text", "bpe", "tokenizer", "iterative"),
)
def bpe_train_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING as a distributed dataflow: three merge
    rounds over the corpus word-frequency table, emitting each round's
    winning symbol pair and its count — the actual Sennrich et al.
    algorithm, not just its pass-1 statistic (bpe_pair_counts). Every
    production tokenizer (GPT-2 BPE, SentencePiece-BPE) is this loop
    run ~50k rounds; three rounds unrolled carry the full mechanics
    (count → argmax → re-segment) under an exact oracle.

    Cross-engine exactness leans on a measured primitive: replace()
    substitutes non-overlapping occurrences LEFT-TO-RIGHT identically
    in Spark and DuckDB (verified: 'a a a' → 'aa a'), which is
    precisely BPE's greedy merge order; symbols are space-joined and
    sentinel-wrapped (``\\x01sym\\x02``) so a merge is one string
    replace that can only match whole-symbol boundaries (a bare
    'a b' replace also matched where 'a' was the suffix of a longer
    symbol — fixed round 7). Pair counts are integer sums over
    word-type frequencies; the argmax tie-breaks (count desc, pair
    asc) — fully deterministic.

    Scale shape: the corpus collapses to the word-TYPE frequency table
    once (the shuffle that matters; BPE training cost is independent
    of corpus size beyond it). Each round: one map-side-combined pair
    aggregate over |types| rows, a 1-row TakeOrdered winner broadcast
    back as a literal, one map-stage re-segmentation. Per-round
    localCheckpoint keeps the unrolled lineage O(1) deep (Catalyst
    doesn't CSE the shared prefix across the three winner branches —
    the connected_components pattern). At 50k rounds you'd batch
    non-conflicting merges per round (SentencePiece's trick); the
    round body is identical."""
    winners = _bpe_merge_rounds(_bpe_word_freqs(spark, sf_dir))
    out = winners[0]
    for w in winners[1:]:
        out = out.unionAll(w)
    return out


#: Per-symbol boundary sentinels: every symbol in a BPE repr is stored
#: as ``\x01<sym>\x02`` so a merge's string replace can only match
#: WHOLE adjacent symbols — without them, pattern "a b" also matched
#: where "a" was merely the suffix (or "b" the prefix) of a longer
#: symbol, silently merging pairs the count stage never counted (not
#: Sennrich BPE). Precondition: corpus text contains neither control
#: char (true of any sane text corpus; both are stripped from the
#: symbol columns before they are reported or compared).
_BPE_L, _BPE_R = "\x01", "\x02"


def _bpe_symbolize(col) -> "F.Column":
    """word → sentinel-wrapped space-joined character repr."""
    return F.array_join(
        F.transform(
            F.split(col, ""),
            lambda c: F.concat(F.lit(_BPE_L), c, F.lit(_BPE_R)),
        ),
        " ",
    )


def _bpe_word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global word-type frequency table with space-joined
    character representations — BPE training's only corpus-sized pass."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("wd"))
        .filter(F.col("wd") != "")
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(_bpe_symbolize("wd").alias("repr"), "cnt")
        .localCheckpoint(eager=True)
    )


def _bpe_adjacent_pairs(repr_col: str = "repr"):
    """Adjacent symbol pairs as a zip of shifted slices — no index
    arithmetic, so single-symbol words yield an empty array instead of
    an out-of-bounds element_at under ANSI."""
    s = F.split(repr_col, " ")
    n1 = F.greatest(F.size(s) - 1, F.lit(0))
    return F.zip_with(
        F.slice(s, 1, n1),
        F.slice(s, 2, n1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )


def _bpe_apply_merge(df: DataFrame, win: DataFrame) -> DataFrame:
    """Apply one winning merge to every repr (greedy left-to-right
    non-overlapping replace — both engines' replace() semantics).
    The pattern re-wraps the clean winner symbols in the per-symbol
    sentinels, so it matches only a WHOLE symbol followed by a WHOLE
    symbol — boundary-aware, never a suffix/prefix of a longer one."""
    keep = [c for c in df.columns if c != "repr"]
    return df.crossJoin(F.broadcast(win)).select(
        F.replace(
            F.col("repr"),
            F.concat(
                F.lit(_BPE_L), "left_sym", F.lit(_BPE_R + " " + _BPE_L),
                "right_sym", F.lit(_BPE_R),
            ),
            F.concat(F.lit(_BPE_L), "left_sym", "right_sym", F.lit(_BPE_R)),
        ).alias("repr"),
        *keep,
    )


def _bpe_merge_rounds(words: DataFrame, rounds: int = 3) -> list[DataFrame]:
    """Run ``rounds`` BPE merge rounds over the word-frequency table;
    returns the per-round 1-row winner frames (checkpointed). The
    shared primitive of bpe_train_unrolled and bpe_apply_fertility."""
    winners = []
    strip = _BPE_L + _BPE_R
    for k in range(1, rounds + 1):
        pairs = (
            words.select(F.explode(_bpe_adjacent_pairs()).alias("p"), "cnt")
            # strip sentinels BEFORE grouping/ordering so the argmax
            # tie-break compares the same clean strings as the oracle
            .groupBy(
                F.translate(F.col("p.a"), strip, "").alias("a"),
                F.translate(F.col("p.b"), strip, "").alias("b"),
            )
            .agg(F.sum("cnt").alias("pc"))
        )
        win = (
            pairs.orderBy(F.col("pc").desc(), "a", "b")
            .limit(1)
            .select(
                F.lit(k).alias("merge_round"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("pc").alias("pair_count"),
            )
            .localCheckpoint(eager=True)
        )
        winners.append(win)
        words = _bpe_apply_merge(words, win).localCheckpoint(eager=True)
    return winners


@register(
    "bpe_apply_fertility",
    oracle=_bpe_fertility_oracle(),
    tags=("text", "bpe", "tokenizer", "fertility", "eval"),
)
def bpe_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train → APPLY: run the same 3 corpus-global BPE merge rounds as
    bpe_train_unrolled, then segment every language's word stream with
    the learned merges and report per-language FERTILITY (symbols per
    token, ppm) — the number tokenizer teams track per language,
    because a vocabulary trained on the corpus mix over-segments
    minority languages (high fertility = more compute per word for
    that language, the classic multilingual-tokenizer equity metric).

    Exactness: merges are the train query's deterministic argmax
    winners; application is the same measured-identical replace()
    chain per language's word types; token and symbol counts are
    exact integers weighted by word frequencies; fertility is one
    ppm-quantized division.

    Scale shape: training collapses the corpus to global word TYPES
    (one shuffle); application runs over per-(lang, type) rows — three
    broadcast-literal replaces, no corpus re-scan; the fertility
    aggregate is |langs| rows. Nothing here grows with raw corpus
    size beyond the two type tables."""
    winners = _bpe_merge_rounds(_bpe_word_freqs(spark, sf_dir))
    d = load_table(spark, sf_dir, "documents")
    lang_words = (
        d.select("lang", F.explode(F.split("text", " ")).alias("wd"))
        .filter(F.col("wd") != "")
        .groupBy("lang", "wd")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("lang", _bpe_symbolize("wd").alias("repr"), "cnt")
    )
    for win in winners:
        lang_words = _bpe_apply_merge(lang_words, win)
    n_sym = F.size(F.split("repr", " "))
    return lang_words.groupBy("lang").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * n_sym).alias("n_symbols"),
        F.floor(
            F.sum(F.col("cnt") * n_sym).cast("double")
            * F.lit(1000000.0)
            / F.sum("cnt")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("fertility_ppm"),
    )


@register(
    "pmi_collocations",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
uni AS (
  SELECT unnest(words) AS tok FROM w
),
cu AS (
  SELECT tok, count(*) AS c FROM uni GROUP BY 1
),
nu AS (SELECT count(*) AS n_uni FROM uni),
bi AS (
  SELECT words[i] AS w1, words[i + 1] AS w2
  FROM (SELECT words, unnest(generate_series(1, len(words) - 1)) AS i
        FROM w WHERE len(words) >= 2) t
),
cb AS (
  SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY 1, 2
),
nb AS (SELECT count(*) AS n_bi FROM bi),
scored AS (
  SELECT cb.w1, cb.w2, cb.n_pair,
         floor(ln((CAST(cb.n_pair AS DOUBLE) / nb.n_bi)
                  / ((CAST(c1.c AS DOUBLE) / nu.n_uni)
                     * (CAST(c2.c AS DOUBLE) / nu.n_uni)))
               * 10000 + 0.5) / 10000 AS pmi
  FROM cb
  JOIN cu c1 ON cb.w1 = c1.tok
  JOIN cu c2 ON cb.w2 = c2.tok
  CROSS JOIN nu CROSS JOIN nb
  WHERE cb.n_pair >= 5
)
SELECT w1, w2, n_pair, pmi
FROM scored
ORDER BY pmi DESC, w1, w2
LIMIT 20
""",
    tags=("text", "collocations", "pmi", "topk"),
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus collocations by pointwise mutual information —
    PMI(x,y) = ln(P(xy) / (P(x)·P(y))) over adjacent word pairs with a
    min-count-5 support floor (raw PMI without a floor surfaces
    hapax noise). The collocation dashboard row next to the Zipf
    spectrum and distinct-n ratios: a corpus whose top PMI pairs are
    template fragments ("click here", "terms conditions") has a
    boilerplate problem that per-doc gates miss.

    Shape: bigrams materialize map-side from the words array (index
    transform + explode, never a self-join); shuffle #1 counts pairs,
    shuffle #2 counts unigrams (vocab-sized). The unigram side joins
    back TWICE (w1, w2) as broadcasts, the two scalar totals ride a
    broadcast single-row crossJoin (no driver collect), and the final
    top-20 is a TakeOrdered — per-partition heads, K rows to the
    driver. Ranking uses the stably-ROUNDED pmi (+ pair tie-break) so
    the row set survives last-ulp ln() drift across engines."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ", -1).alias("words")
    )
    uni = d.select(F.explode("words").alias("tok"))
    cu = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = F.size("words")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.element_at(F.col("words"), i).alias("w1"),
            F.element_at(F.col("words"), i + 1).alias("w2"),
        ),
    )
    bi = d.filter(n >= 2).select(F.explode(bigrams).alias("p")).select("p.w1", "p.w2")
    cb = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    totals = uni.agg(F.count(F.lit(1)).alias("n_uni")).crossJoin(
        bi.agg(F.count(F.lit(1)).alias("n_bi"))
    )
    scored = (
        cb.filter(F.col("n_pair") >= 5)
        .join(F.broadcast(cu.withColumnRenamed("tok", "w1").withColumnRenamed("c", "c1")), "w1")
        .join(F.broadcast(cu.withColumnRenamed("tok", "w2").withColumnRenamed("c", "c2")), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_pair",
            stable_round(
                F.log(
                    (F.col("n_pair").cast("double") / F.col("n_bi"))
                    / (
                        (F.col("c1").cast("double") / F.col("n_uni"))
                        * (F.col("c2").cast("double") / F.col("n_uni"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(20)


@register(
    "lang_id_confusion",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_marker_hits_sql('the')} + {_marker_hits_sql('and')} + {_marker_hits_sql('of')}  AS score_en,
         {_marker_hits_sql('el')} + {_marker_hits_sql('la')} + {_marker_hits_sql('que')}   AS score_es,
         {_marker_hits_sql('le')} + {_marker_hits_sql('la')} + {_marker_hits_sql('et')}    AS score_fr,
         {_marker_hits_sql('der')} + {_marker_hits_sql('und')} + {_marker_hits_sql('die')} AS score_de
  FROM documents
),
pred AS (
  SELECT lang,
         CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de THEN 'en'
              WHEN score_es >= score_fr AND score_es >= score_de THEN 'es'
              WHEN score_fr >= score_de THEN 'fr'
              ELSE 'de' END AS lang_pred
  FROM scored
),
cm AS (
  SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2
),
tot AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS n_true FROM cm GROUP BY 1
)
SELECT cm.lang, cm.lang_pred, cm.n,
       floor((CAST(cm.n AS DOUBLE) / tot.n_true) * 10000 + 0.5) / 10000
         AS frac_of_true
FROM cm JOIN tot USING (lang)
""",
    tags=("text", "langid", "eval", "confusion-matrix"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-anchor language ID against the
    labeled `lang` column — the eval harness every classifier-shaped
    gate needs before it is trusted to drop data: per (true,
    predicted) cell count plus its share of the true class (row-
    normalized recall diagonal). The zh column has no Latin markers by
    construction, so its row shows exactly where unmodeled languages
    land — the honest failure-mode readout.

    Shape: the scoring is the same pure map as lang_id_heuristic (no
    shuffle), the matrix is a |langs|² aggregate, and the per-class
    totals broadcast back — the eval costs one scan regardless of
    corpus size."""
    pred = lang_id_heuristic(spark, sf_dir).select("lang", "lang_pred")
    cm = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    tot = cm.groupBy("lang").agg(F.sum("n").alias("n_true"))
    return cm.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_pred",
        "n",
        stable_round(F.col("n").cast("double") / F.col("n_true"), 4).alias(
            "frac_of_true"
        ),
    )
