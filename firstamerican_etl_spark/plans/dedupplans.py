"""Deduplication operators over ``documents`` (training-data pipeline
extensions): exact hash dedup (SQL-oracled), MinHash+LSH, SimHash, and
n-gram Jaccard near-dup (deterministic, rows-only checks where the
semantics aren't ANSI-SQL-expressible).

Scale design: every variant is shuffle-bounded by design —
- exact: one groupBy on a 128-bit hash (map-side partial agg);
- MinHash/LSH: signatures are a pure map; candidate generation
  shuffles on (band_id, band_hash) buckets only, never all-pairs;
- SimHash: pure map to a 64-bit key, then bucket groupBy.
All-pairs O(n²) comparison never happens; that is the entire point of
LSH at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from firstamerican_etl_spark.plans.registry import register
from firstamerican_etl_spark.sources.io import (
    load_table,
    load_table_spread,
    staging_tag,
)

_NORM = lambda c: F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))  # noqa: E731


@register(
    "dedup_exact",
    oracle="""
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
       min(doc_id) AS keep_id,
       count(*)    AS n_copies
FROM documents
GROUP BY 1
""",
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on a normalized content hash, keep the
    smallest doc_id per group. At scale this is one hash-partitioned
    groupBy on a 128-bit key — no text comparison, no skew (hashes are
    uniform)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(_NORM(F.col("text"))).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_exact_keep_first",
    oracle="""
SELECT doc_id, lang, source
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           ORDER BY doc_id
         ) AS rn
  FROM documents
) WHERE rn = 1
""",
    tags=("dedup", "exact", "W1"),
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, survivor form: the W1 window idiom applied to
    content hashes — keep the lowest-id copy of each distinct text."""
    from firstamerican_etl_spark.operators.relational import dedup_top1_per_group

    d = load_table(spark, sf_dir, "documents").withColumn(
        "content_hash", F.md5(_NORM(F.col("text")))
    )
    return dedup_top1_per_group(
        d, partition_by=["content_hash"], order_by=[F.col("doc_id")]
    ).select("doc_id", "lang", "source")


@register(
    "ngram_shingles",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) - 4 AS n_shingles,
       md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS first_shingle_hash
FROM documents
WHERE len(string_split(text, ' ')) >= 5
""",
    tags=("dedup", "shingle"),
)
def ngram_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram word shingling (the input representation for MinHash /
    Jaccard): per-doc shingle count + hash of the first shingle.
    Pure map stage; shingle arrays stay distributed, never collected."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ", -1)
    return (
        d.filter(F.size(F.split(F.col("text"), " ", -1)) >= 5)
        .select(
            "doc_id",
            (F.size(words) - 4).alias("n_shingles"),
            F.md5(F.concat_ws(" ", F.slice(words, 1, 5))).alias("first_shingle_hash"),
        )
    )


# Permutations are the classic Carter–Wegman affine hash a·h+b over the
# Mersenne prime p = 2^31-1, with the base hash first reduced mod p and
# a, b < p derived from golden-ratio / murmur-finalizer constants. The
# 31-bit bound is load-bearing for ANSI mode (the driver's Spark 4
# default session): (p-1)·a + b < 2^62 never overflows int64, so the
# aggregate is exact under BOTH ANSI-on (would throw on overflow) and
# ANSI-off (would silently wrap) sessions. The earlier full-range
# formulation relied on signed-64 wraparound and threw
# ARITHMETIC_OVERFLOW under ANSI.
_M64 = 1 << 64
_P31 = (1 << 31) - 1  # Mersenne prime 2^31-1

#: Version of the MinHash signature SCHEME (shingle hash + permutation
#: formula + banding layout). Bump on ANY change that alters band
#: hashes — persisted dedup indexes stamp this at build time so an
#: incremental delta against an index built under a different scheme
#: fails loudly instead of silently missing cross-batch near-dups.
#: v1 = pre-r7 monotone affine map (no outer mod); v2 = r7 outer-pmod
#: Carter–Wegman fix (firstamerican_etl_spark/plans/dedupplans.py:205).
MINHASH_SCHEME_VERSION = 2

#: LSH buckets larger than this expand as a STAR (member ↔ min-id hub,
#: O(bucket) candidate rows) instead of a full clique (O(bucket²)) —
#: the mega-bucket guard for degenerate signatures at corpus scale.
_CLIQUE_CAP = 64


def _perm_consts(i: int) -> tuple[int, int]:
    a = (((2 * i + 1) * 0x9E3779B97F4A7C15) % _M64) % _P31 or 1
    b = ((i * 0xC2B2AE3D27D4EB4F + 0x165667B19E3779F9) % _M64) % _P31
    return a, b


def shingle_hashes_col(wh_col, shingle_len: int = 5):
    """Hash every ``shingle_len``-word shingle into array<long>, from
    an array of per-word hashes: shingle hash = xxhash64 of the 5
    consecutive word hashes (element_at lookups). ~2.4x faster than
    hashing concat_ws(slice(words)) — higher-order lambdas run
    interpreted, and 5 int64 array reads beat building a string from 5
    words per shingle. Any injective deterministic shingle→int64 map
    serves MinHash/Jaccard equally.

    ``wh_col`` MUST be a bound attribute (a real column), not an
    inline expression: interpreted lambdas get no subexpression
    elimination, so an inline word-hash transform would re-hash every
    word once per shingle. Use ``exploded_word_hashes`` to bind it.

    TOTAL by construction: a doc with fewer than ``shingle_len`` words
    yields an EMPTY array (no shingles exist), via a lazily-evaluated
    branch — the old greatest(n, 1) floor emitted one pseudo-shingle
    whose element_at lookups ran past the array end, which is an
    INVALID_ARRAY_INDEX error under the driver's ANSI-on session for
    any caller that forgot the pre-filter (minhash_signatures had no
    such filter). CASE branches evaluate per-row only when taken, so
    the out-of-bounds lookups never execute for short docs."""
    w = F.col(wh_col) if isinstance(wh_col, str) else wh_col
    n = F.size(w) - (shingle_len - 1)
    shingles = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.xxhash64(*[F.element_at(w, i + k) for k in range(shingle_len)]),
    )
    return F.when(n >= 1, shingles).otherwise(
        F.array().cast("array<bigint>")
    )


def exploded_words(df: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Tokenize once and bind the words array as a real attribute.

    ``explode(array(split(...)))`` is a 1:1 Generate — a no-op on rows,
    but a projection-collapse *barrier*: downstream higher-order
    lambdas then reference a bound array instead of re-inlining (and
    re-evaluating) the split per array element. Zero shuffle."""
    return df.select(
        *keep, F.explode(F.array(F.split(F.col(text_col), " ", -1))).alias("words")
    )


def exploded_word_hashes(df: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Tokenize and xxhash64 each word ONCE, binding array<long> ``wh``
    behind the same Generate barrier as ``exploded_words`` (word count
    == size(wh), so length filters apply unchanged)."""
    return df.select(
        *keep,
        F.explode(
            F.array(
                F.transform(
                    F.split(F.col(text_col), " ", -1), lambda w: F.xxhash64(w)
                )
            )
        ).alias("wh"),
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", key: str = "doc_id",
                       num_hashes: int = 32) -> DataFrame:
    """MinHash signatures as columns mh0..mh{k-1}, one row per key.

    Formulation matters for throughput: higher-order array functions
    (aggregate/zip_with lambdas) are *interpreted* in Spark — no
    whole-stage codegen, boxing per element. So instead of folding
    arrays, explode the shingle hashes to rows and compute
    ``min(a_i·h + b_i)`` as plain aggregates: fully codegen'd hash
    aggregation. All shingles of a doc sit in the same input partition,
    so map-side partial aggregation reduces to one row per doc before
    the shuffle — at scale the exchange carries |docs| rows, not
    |shingles|.
    """
    wh = exploded_word_hashes(df, text_col, keep=(key,))
    # Reduce the full-range shingle hash to [0, p) ONCE (pmod keeps it
    # non-negative, matching numpy's % on a positive modulus), then each
    # permutation-min is a plain overflow-free affine aggregate
    # (hp, a < 2^31 ⇒ hp·a + b < 2^63).
    #
    # The OUTER ``pmod .. _P31`` is load-bearing: without it the affine
    # map is strictly increasing in hp, so every permutation's argmin
    # collapses to the doc's single smallest shingle hash — 32
    # "independent" hash functions degenerate to one, and band
    # collisions fire all-or-nothing per pair instead of following the
    # 1-(1-J⁴)⁸ S-curve (caught round 7 by an anti-correlation probe:
    # a concat doc A+B could never band-match A on one band and B on
    # another). The mod makes each permutation a genuine
    # Carter–Wegman hash over Z_p with its own argmin.
    exploded = wh.select(
        key, F.explode(shingle_hashes_col("wh")).alias("h")
    ).select(key, F.pmod(F.col("h"), F.lit(_P31)).alias("hp"))
    aggs = []
    for i in range(num_hashes):
        a, b = _perm_consts(i)
        aggs.append(
            F.min(
                F.pmod(F.col("hp") * F.lit(a) + F.lit(b), F.lit(_P31))
            ).alias(f"mh{i}")
        )
    return exploded.groupBy(key).agg(*aggs)


@register(
    "dedup_minhash_lsh",
    oracle=None,  # xxhash64-based signatures aren't ANSI-SQL-expressible
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates over the documents
    table — thin wrapper around ``minhash_lsh_pairs`` (which the
    corpus-build pipeline reuses on already-filtered frames)."""
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def minhash_bands(d: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band_id, band_hash) LSH band rows for every doc: the
    32-hash MinHash signature split into 8 bands × 4 rows, each band
    xxhash64-compressed. Shared by minhash_lsh_pairs (intra-corpus
    candidate gen) and the incremental corpus index (cross-batch
    candidate gen joins NEW batch bands against INDEXED bands on
    (band_id, band_hash) — same collision rule, so a delta build sees
    exactly the pairs a full rebuild would). Band hash = xxhash64 over
    the band's 4 signature columns (plain column refs — trivially
    re-inlinable, no recomputation concern).

    r15 (guide §4.2): signatures come from the numpy permutation-min
    path — BIT-IDENTICAL to ``minhash_signatures`` (parity pinned by
    tests/test_multimodal.py + test_ansi_parity.py keeps proving the
    JVM form), measured −24% min / −21% med on the full LSH pipeline
    in an interleaved 5-sweep A/B (jvm min 1.500/med 1.551 vs numpy
    1.138/1.220), the same win class as the r15 SimHash vote pass: 32
    codegen'd aggregate updates per shingle row beaten by one
    vectorized batch pass, and the signature groupBy exchange
    disappears. Index compatibility is untouched (same values ⇒ same
    band hashes ⇒ same MINHASH_SCHEME_VERSION semantics)."""
    with_sig = minhash_signatures_np(d, text_col)  # doc_id, mh0..mh31
    return with_sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            *[F.col(f"mh{i}") for i in range(b * 4, b * 4 + 4)]
                        ).alias("band_hash"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


def minhash_lsh_pairs(
    d: DataFrame, text_col: str = "text", key: str = "doc_id"
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates.

    32-hash signature split into 8 bands × 4 rows; docs sharing any
    band hash become a candidate pair. The only shuffle is the
    groupBy on (band_id, band_hash) — O(n·bands) rows, never O(n²).
    Returns candidate pairs (doc_a < doc_b) with the number of
    colliding bands. Exact-dup texts collide on all 8 bands. Buckets
    past ``_CLIQUE_CAP`` expand as a star around the min doc_id
    instead of a clique (the mega-bucket guard — see the comment at
    the expansion site).
    """
    if key != "doc_id":
        d = d.withColumnRenamed(key, "doc_id")
    return minhash_lsh_pairs_from_bands(minhash_bands(d, text_col))


def minhash_lsh_pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Candidate-pair expansion from precomputed (doc_id, band_id,
    band_hash) rows — split out so callers that already materialized
    the bands (the incremental corpus index, the full build's index
    write) don't pay the signature pipeline twice. See
    ``minhash_lsh_pairs`` for the bucket/star expansion contract."""
    # Join-free candidate generation: bucket docs per (band, hash) and
    # expand intra-bucket pairs with an indexed transform. One shuffle,
    # and the signature pipeline runs ONCE (a self-join would recompute
    # it for each side). Typical bucket sizes are near-dup cluster
    # sizes — small — so the quadratic clique expansion is bounded per
    # bucket; for the degenerate mega-bucket (e.g. millions of empty /
    # boilerplate docs sharing one signature — guaranteed to appear
    # somewhere in a 100 TB corpus) the clique is O(bucket²) and would
    # OOM a single task, so buckets past _CLIQUE_CAP switch to a STAR
    # expansion: every member pairs with the bucket's min doc_id only
    # — O(bucket) rows, and downstream connected-components clustering
    # (dedup_cluster_components) still groups the whole bucket, so no
    # duplicate escapes; only the per-pair n_bands tally coarsens.
    buckets = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    clique = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(
                    F.col("ids"), i + 2, F.greatest(F.size("ids") - i - 1, F.lit(0))
                ),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    star = F.transform(
        F.slice(F.col("ids"), 2, F.size("ids") - 1),
        lambda b: F.struct(
            F.element_at(F.col("ids"), 1).alias("doc_a"), b.alias("doc_b")
        ),
    )
    pair_structs = F.when(F.size("ids") <= _CLIQUE_CAP, clique).otherwise(star)
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    return pairs


def _simhash_vote_kernel():
    """``dedup_simhash``'s mapInPandas kernel, built by a factory so the
    closure ships to Python workers by value (no import of this module)."""
    import numpy as np
    import pandas as pd

    def _vote(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = [np.asarray(x, dtype=np.int64) for x in pdf["hs"]]
            lens = np.array([a.shape[0] for a in arrs], dtype=np.int64)
            if not lens.all():
                # reduceat would silently give the next doc's votes
                raise ValueError(
                    "simhash vote: empty token-hash array for doc_id "
                    f"{pdf['doc_id'].values[lens == 0][0]}"
                )
            flat = np.concatenate(arrs)
            # bit b of each little-endian int64 → column b of a
            # (n_tokens, 64) 0/1 matrix; reduceat sums per-doc segments
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            starts = np.zeros(len(arrs), dtype=np.int64)
            if len(arrs) > 1:
                starts[1:] = np.cumsum(lens)[:-1]
            votes = np.add.reduceat(bits.astype(np.int64), starts, axis=0)
            # majority rule identical to the aggregate form:
            # bit set iff count_b * 2 > n_tok
            simbits = votes * 2 > lens[:, None]
            packed = np.packbits(simbits, axis=1, bitorder="little")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    # uint64 → int64 view reproduces the signed two's-
                    # complement long (bit 63 = sign) of the JVM form
                    "simhash": packed.view(np.int64).ravel(),
                }
            )

    return _vote


@register(
    "dedup_simhash",
    oracle=None,  # bit-level simhash over xxhash64 → rows-only check
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64: per-token 64-bit hashes vote per bit position; the
    sign of each vote forms the fingerprint. Near-dups differ in few
    bits (Hamming). Output: doc_id, simhash, plus a 16-bit prefix
    bucket (the blocking key for Hamming-neighbor search at scale).

    Formulation (r15, guide §4.2): token hashes stay JVM-side
    (xxhash64 inside a higher-order ``transform`` — bit-identical to
    the exploded form), and the 64 bit-vote counters run as ONE
    vectorized numpy pass per Arrow batch (``unpackbits`` →
    ``add.reduceat`` over doc boundaries → majority → ``packbits``) in
    a ``mapInPandas`` map stage. This replaces the r14 shape — explode
    to token rows + a 65-aggregate groupBy(doc_id) — whose per-token
    cost was the slowest non-e2e bench row: the 65 codegen'd aggregate
    updates per token row were measured at ~1.4 s on one task, and
    every packed-lane JVM reformulation came out flat
    (OPTIMIZATION_r14.md). The numpy vote pass is a pure per-doc map
    (ZERO exchanges for the fingerprint; the old groupBy's counter
    shuffle disappears), and vectorized bit-unpacking does the 64
    votes at memory speed. Interleaved 6-sweep A/B at sf0.1:
    min 1.86 → 1.25 s, median 1.99 → 1.68 s on the full pairs
    pipeline; fingerprints and pair sets verified bit-identical.

    Null texts: the exploded form dropped null-text docs (explode of a
    null array emits nothing); the isNotNull filter keeps that
    semantics exactly.
    """
    # cpu_spread (r15, guide §2.5): normalize+tokenize+hash AND the
    # numpy vote pass all run on the scan partitioning, and the
    # driver's single-row-group tables plan ONE scan task — measured
    # pathological under ambient load (interleaved 6-sweep A/B:
    # no-spread med 5.86 s with 1.8-7.3 s swings vs spread med 1.58 s
    # steady; results verified identical). Scale-gated: a no-op when
    # the input splits to >= one task per core.
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    hs = d.select(
        "doc_id",
        F.transform(
            F.split(_NORM(F.col("text")), " ", -1), lambda w: F.xxhash64(w)
        ).alias("hs"),
    ).filter(F.col("hs").isNotNull())

    sim_df = hs.mapInPandas(_simhash_vote_kernel(), "doc_id bigint, simhash bigint")
    return sim_df.select(
        "doc_id",
        "simhash",
        F.shiftrightunsigned(F.col("simhash"), 48).alias("bucket16"),
    )


# Jaccard is hash-independent (distinct shingles ↔ distinct shingle
# hashes, collisions aside), so the oracle recomputes it over the raw
# string shingles — a full value check despite the xxhash64 impl.
# Shared by ngram_jaccard_pairs AND jaccard_prefix_filter_pairs: prefix
# filtering is LOSSLESS at the threshold, so two different physical
# candidate strategies must produce the identical exact pair set.
_JACCARD_PAIRS_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
dist AS (
  SELECT DISTINCT doc_id, array_to_string(ws[g.i:g.i+4], ' ') AS s
  FROM w, LATERAL unnest(range(1, len(ws) - 3)) AS g(i)
),
sizes AS (SELECT doc_id, count(*) AS n FROM dist GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM dist a JOIN dist b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.5
"""


@register(
    "ngram_jaccard_pairs",
    oracle=_JACCARD_PAIRS_ORACLE,
    tags=("dedup", "jaccard"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard on LSH-blocked candidates: inverted-index
    join on shingle hashes → |A∩B| per pair → Jaccard via
    |A∪B| = |A|+|B|-|A∩B|. The shuffle is bounded by shingle-hash
    buckets (inverted index), not all pairs. Returns pairs with
    jaccard >= 0.5.
    """
    d = load_table(spark, sf_dir, "documents")
    wdf = exploded_word_hashes(d).filter(F.size("wh") >= 5)
    # second explode(array(...)) barrier binds sh so n_sh doesn't
    # re-evaluate the shingle hashing
    docs = wdf.select(
        "doc_id",
        F.explode(F.array(F.array_distinct(shingle_hashes_col("wh")))).alias("sh"),
    ).select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    # inverted index: posting list per shingle, join-free pair
    # expansion (same pattern as dedup_minhash_lsh — the upstream
    # shingle pipeline runs once, not per join side)
    postings = (
        docs.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ps"))
        .filter(F.size("ps") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda a, i: F.transform(
                F.slice(
                    F.col("ps"), i + 2, F.greatest(F.size("ps") - i - 1, F.lit(0))
                ),
                lambda b: F.struct(
                    F.least(a["doc_id"], b["doc_id"]).alias("doc_a"),
                    F.greatest(a["doc_id"], b["doc_id"]).alias("doc_b"),
                    F.when(a["doc_id"] < b["doc_id"], a["n_sh"])
                    .otherwise(b["n_sh"])
                    .alias("n_a"),
                    F.when(a["doc_id"] < b["doc_id"], b["n_sh"])
                    .otherwise(a["n_sh"])
                    .alias("n_b"),
                ),
            ),
        )
    )
    pairs = (
        postings.select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.n_a").alias("n_a"),
            F.col("p.n_b").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return pairs.select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    ).filter(F.col("jaccard") >= 0.5)


def minhash_signatures_np(
    df: DataFrame, text_col: str = "text", key: str = "doc_id", num_hashes: int = 32
) -> DataFrame:
    """MinHash signatures, Arrow/numpy path: shingle hashing stays
    JVM-side (xxhash64 over word-hash windows), the 32 permutation-mins run as one
    vectorized ``min(((h mod p)·a + b) mod p)`` per doc batch in numpy —
    the same Mersenne-31 Carter–Wegman permutations as the JVM path
    (numpy's ``%`` on a positive modulus matches Spark's ``pmod``, and
    products stay < 2^62, so no wraparound on either engine; the outer
    mod is what keeps the 32 permutations independent — see
    ``minhash_signatures``). Bit-identical signatures to
    ``minhash_signatures``; trades the 32 codegen'd aggregates + doc
    shuffle for zero shuffle + one Arrow hop."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    a = np.array([_perm_consts(i)[0] for i in range(num_hashes)], dtype=np.int64)
    b = np.array([_perm_consts(i)[1] for i in range(num_hashes)], dtype=np.int64)

    out_schema = T.StructType(
        [T.StructField(key, T.LongType())]
        + [T.StructField(f"mh{i}", T.LongType()) for i in range(num_hashes)]
    )

    def fn(batches):
        for pdf in batches:
            rows = []
            for k, hs in zip(pdf[key], pdf["hashes"]):
                h = np.asarray(hs, dtype=np.int64) % _P31
                if h.size == 0:
                    # mirror the aggregate form exactly: a doc with no
                    # shingles produces no exploded rows, hence NO
                    # signature row (and min() over empty would throw)
                    continue
                sig = ((h[:, None] * a[None, :] + b[None, :]) % _P31).min(axis=0)
                rows.append((k, *sig.tolist()))
            if not rows:
                continue
            yield pd.DataFrame(rows, columns=[key] + [f"mh{i}" for i in range(num_hashes)])

    wh = exploded_word_hashes(df, text_col, keep=(key,))
    hashed = wh.select(key, shingle_hashes_col("wh").alias("hashes"))
    return hashed.mapInPandas(fn, schema=out_schema)


@register(
    "dedup_simhash_pairs",
    oracle=None,  # xxhash64-derived fingerprints → rows-only determinism
    tags=("dedup", "simhash", "hamming"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-neighbor pairs: 4-band blocking over the 64-bit
    fingerprint (any pair within Hamming distance 3 shares at least one
    of the four 16-bit bands — pigeonhole), candidate pairs from
    same-band buckets, exact popcount(xor) <= 3 verification.

    Scale shape: the only shuffle is the groupBy on (band_id, band16);
    Hamming verification is bit arithmetic on two longs — no text
    revisited. Buckets past ``_CLIQUE_CAP`` expand as a star around
    the min-doc_id member (same mega-bucket guard as the LSH path: a
    16-bit band over a boilerplate-heavy corpus WILL concentrate, and
    O(bucket²) in one task is the failure; the star keeps every member
    reachable from the hub for downstream clustering). This completes
    the SimHash pipeline: fingerprint (dedup_simhash) -> blocked
    candidate generation -> exact verify."""
    sims = dedup_simhash(spark, sf_dir).select("doc_id", "simhash")
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band16"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bd"),
    ).select("doc_id", "simhash", "bd.band_id", "bd.band16")
    # array_sort on (doc_id, simhash) structs orders members by doc_id,
    # so clique emission is naturally doc_a < doc_b and the star hub is
    # element 1 — both deterministic under any partitioning.
    buckets = (
        bands.groupBy("band_id", "band16")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )

    def _pair(a: Column, b: Column, star: bool) -> Column:
        return F.struct(
            a["doc_id"].alias("doc_a"),
            b["doc_id"].alias("doc_b"),
            F.bit_count(a["simhash"].bitwiseXOR(b["simhash"])).alias("hamming"),
            F.lit(star).alias("star"),
        )

    clique = F.flatten(
        F.transform(
            F.col("ds"),
            lambda a, i: F.transform(
                F.slice(
                    F.col("ds"), i + 2, F.greatest(F.size("ds") - i - 1, F.lit(0))
                ),
                lambda b: _pair(a, b, star=False),
            ),
        )
    )
    star = F.transform(
        F.slice(F.col("ds"), 2, F.size("ds") - 1),
        lambda b: _pair(F.element_at(F.col("ds"), 1), b, star=True),
    )
    pair_structs = F.when(F.size("ds") <= _CLIQUE_CAP, clique).otherwise(star)
    # star rows are CONNECTIVITY edges, exempt from the hamming
    # verification: filtering them at <= 3 would sever hub links and
    # orphan near-dup pairs whose members are both far from the hub
    # (X~Y at distance 2, both at distance 5 from the hub — the star
    # emits only (hub,X),(hub,Y), and dropping those loses X~Y
    # entirely). Downstream clustering regroups the bucket through the
    # unfiltered hub links; hamming rides along for transparency.
    # collapse to ONE row per (doc_a, doc_b): the same pair can surface
    # both as a clique edge (star=false) in a small bucket and as a hub
    # edge (star=true) in a mega-bucket, and a plain distinct() would
    # keep both rows — double-counting for any consumer tallying unique
    # pairs (r9 ADVICE). min(hamming) is the true distance either way;
    # bool_or(star) records that at least one sighting was a
    # connectivity-only hub edge.
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming", "p.star")
        .filter((F.col("hamming") <= 3) | F.col("star"))
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"), F.max("star").alias("star"))
    )


@register(
    "dedup_incremental_ingest",
    oracle="""
WITH fp AS (
  SELECT doc_id, lang, source,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
         doc_id % 10 = 9 AS is_new
  FROM documents
),
corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE NOT is_new),
fresh AS (
  SELECT b.doc_id, b.lang, b.source, b.fingerprint
  FROM fp b LEFT JOIN corpus c USING (fingerprint)
  WHERE b.is_new AND c.fingerprint IS NULL
)
SELECT doc_id, lang, source, fingerprint
FROM (SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM fresh)
WHERE rn = 1
""",
    tags=("dedup", "incremental", "ingest"),
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the shape a CONTINUOUSLY growing
    corpus actually needs (full-corpus re-dedup per batch is a 100 TB
    non-starter): the new batch (deterministic doc_id % 10 == 9 slice)
    anti-joins its content fingerprints against the existing corpus'
    fingerprint set, then W1-dedups within itself. At scale the corpus
    side is a compact fingerprint index (16 bytes/doc, not the text);
    the anti join shuffles both sides by fingerprint — uniform hash
    keys, no skew — and the batch-side window is keyed the same way,
    so one exchange serves both steps."""
    from firstamerican_etl_spark.operators.relational import dedup_top1_per_group

    d = load_table(spark, sf_dir, "documents").withColumn(
        "fingerprint", F.md5(_NORM(F.col("text")))
    )
    is_new = F.col("doc_id") % 10 == 9
    corpus = d.filter(~is_new).select("fingerprint")
    batch = d.filter(is_new)
    fresh = batch.join(corpus, "fingerprint", "left_anti")
    return dedup_top1_per_group(
        fresh, partition_by=["fingerprint"], order_by=[F.col("doc_id")]
    ).select("doc_id", "lang", "source", "fingerprint")


def _mh32_sql(i: int) -> str:
    """Hash i of a shingle string in SQL: the first 32 bits of
    md5(s ‖ ':' ‖ i) — the same value the Spark side computes with
    conv(substr(md5(..), 1, 8), 16, 10)."""
    return (
        f"CAST(concat('0x', substr(md5(s || ':' || '{i}'), 1, 8)) "
        f"AS UBIGINT)"
    )


def _band_sql(b: int) -> str:
    cols = ", ".join(f"CAST(mh{i} AS VARCHAR)" for i in range(b * 4, b * 4 + 4))
    return f"md5(concat_ws(',', {cols}))"


@register(
    "dedup_minhash_lsh_oracled",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
sh AS (
  SELECT doc_id,
         array_to_string(words[i : least(i + 2, len(words))], ' ') AS s
  FROM (
    SELECT doc_id, words,
           unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
    FROM w
  ) t
),
sig AS (
  SELECT doc_id,
         {", ".join(f"min({_mh32_sql(i)}) AS mh{i}" for i in range(32))}
  FROM sh GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band_id, {_band_sql(b)} AS band_hash FROM sig"
      for b in range(8)
  )}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS n_bands
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
    tags=("dedup", "minhash", "lsh", "verification-twin"),
)
def dedup_minhash_lsh_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VERIFICATION TWIN of ``dedup_minhash_lsh``: the identical
    MinHash + 8×4 LSH banding pipeline with every hash swapped from
    xxhash64 to an md5 32-bit slice — which makes the whole thing
    SQL-recomputable, so the flagship near-dup family carries a FULL
    value oracle (signatures, band hashes, candidate pairs, collision
    counts all hash-checked against DuckDB). The xxhash64 path stays
    the production default (~3-5× cheaper per token and the same
    collision behavior — its recall/soundness is pinned in
    tests/test_scale.py); this twin exists so correctness of the
    *algorithm* is provable end-to-end, not just its determinism.

    Same scale shape as the fast path: min-aggregates after map-side
    combine (the exchange carries |docs|·32 values, not shingles), one
    band groupBy; candidate generation here is the band self-join —
    equivalent to the fast path's intra-bucket expansion, and the
    form the SQL oracle can mirror exactly."""
    d = load_table(spark, sf_dir, "documents")
    w = exploded_words(d)
    n = F.size("words")
    shingle = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(F.col("words"), i, 3)),
        )
    )
    sh = w.select("doc_id", shingle.alias("s"))
    h32 = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(F.col("s"), F.lit(f":{i}"))), 1, 8), 16, 10
    ).cast("long")
    sig = sh.groupBy("doc_id").agg(
        *[F.min(h32(i)).alias(f"mh{i}") for i in range(32)]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh{i}").cast("string")
                                    for i in range(b * 4, b * 4 + 4)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


@register(
    "dedup_simhash_oracled",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
tok AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(word), 1, 8)) AS UBIGINT) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(words) AS word FROM w) t
),
bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM tok, (SELECT unnest(generate_series(0, 31)) AS j) g
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS fp
  FROM bits GROUP BY 1
),
bands AS (
  SELECT doc_id, fp, b, (fp >> (b * 8)) & 255 AS bv
  FROM fp, (SELECT unnest(generate_series(0, 3)) AS b) gb
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.fp AS fa, b.fp AS fb
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(fa, fb)) AS hamming
FROM cand
WHERE bit_count(xor(fa, fb)) <= 6
""",
    tags=("dedup", "simhash", "verification-twin"),
)
def dedup_simhash_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash VERIFICATION TWIN (companion to the
    ``dedup_minhash_lsh_oracled`` pattern): the same
    32-bit-fingerprint + 4-band-pigeonhole + Hamming-verify pipeline
    as ``dedup_simhash_pairs``, with token hashes swapped to md5
    32-bit slices so EVERY stage is SQL-recomputable — per-bit
    majority sums, fingerprints, band buckets, candidate pairs and
    popcount distances all value-check against DuckDB. The xxhash64
    64-bit fast path stays the production default; this twin proves
    the algorithm, not just its determinism.

    Completeness contract: with 4 bands the pigeonhole GUARANTEE
    covers Hamming <= 3 only; the <= 6 filter reports the band-
    colliding candidates in the 4..6 range as best-effort extra signal
    (a distance-4..6 pair whose differing bits spread across all four
    bands is legitimately absent). Both engines compute the identical
    candidate set, so the value oracle is exact over exactly this
    semantics.

    The per-bit majority here takes the relational route (explode
    32 bit positions per token — |tokens|·32 rows into a map-side
    combined aggregate) because that is the route SQL can mirror; the
    fast path folds bits JVM-side without the explode."""
    d = load_table(spark, sf_dir, "documents")
    w = exploded_words(d)
    tokens = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.col("words"),
                lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast(
                    "long"
                ),
            )
        ).alias("h"),
    )
    bits = (
        tokens.select(
            "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j")
        )
        .selectExpr(
            "doc_id",
            "j",
            "CASE WHEN (shiftright(h, j) & 1) = 1 THEN 1 ELSE -1 END AS c",
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("c").alias("s"))
    )
    fp = (
        bits.selectExpr(
            "doc_id",
            "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), j) "
            "ELSE CAST(0 AS BIGINT) END AS bit_val",
        )
        .groupBy("doc_id")
        .agg(F.sum("bit_val").alias("fp"))
    )
    bands = fp.select(
        "doc_id",
        "fp",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
    ).selectExpr("doc_id", "fp", "b", "shiftright(fp, CAST(b * 8 AS INT)) & 255 AS bv")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fa"),
            F.col("b.fp").alias("fb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return cand.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= 6)


_SPAN_L = 8  # duplicate-span window length (tokens)


def _wins_of(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Every overlapping ``_SPAN_L``-token window of every document
    long enough to have one: (doc_id, i, h) with i 1-based and h the
    md5 of the space-joined slice. Materializes map-side from the
    bound words array — zero shuffle."""
    w = exploded_words(docs, text_col=text_col)
    n = F.size("words")
    return (
        w.filter(n >= _SPAN_L)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - (_SPAN_L - 1)),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.md5(
                            F.concat_ws(" ", F.slice(F.col("words"), i, _SPAN_L))
                        ).alias("h"),
                    ),
                )
            ).alias("win"),
        )
        .select("doc_id", F.col("win.i").alias("i"), F.col("win.h").alias("h"))
    )


def _span_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wins_of(load_table(spark, sf_dir, "documents"))


def _mark_spans(wins: DataFrame) -> DataFrame:
    """(doc_id, i, dup, rem) for every window — dup: the hash recurs
    in another document; rem: removable (recurs AND this is not the
    canonical min-doc_id occurrence). One shuffle by h."""
    from pyspark.sql.window import Window

    hw = Window.partitionBy("h")
    mind = F.min("doc_id").over(hw)
    maxd = F.max("doc_id").over(hw)
    return wins.select(
        "doc_id",
        "i",
        (mind != maxd).cast("long").alias("dup"),
        ((mind != maxd) & (F.col("doc_id") != mind)).cast("long").alias("rem"),
    )


def span_cut_clean(docs: DataFrame, marked: DataFrame | None = None) -> DataFrame:
    """Frame-level duplicate-span removal (see duplicate_span_cut for
    semantics): returns (doc_id, n_words, n_cut, text_clean) for every
    row of ``docs``. ``marked`` lets the registered query hand in its
    staged marked-windows frame; pipeline callers leave it None and
    get a single lazy plan."""
    if marked is None:
        marked = _mark_spans(_wins_of(docs))
    cutpos = (
        marked.filter(F.col("rem") == 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (_SPAN_L - 1))
            ).alias("pos"),
        )
        .distinct()
        .withColumn("cut", F.lit(1))
    )
    wordpos = exploded_words(docs).select(
        "doc_id", F.posexplode("words").alias("p0", "word")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "word")
    kept = wordpos.join(cutpos, ["doc_id", "pos"], "left")
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.when(F.col("cut") == 1, 1).otherwise(0)).alias("n_cut"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("cut").isNull(),
                            F.struct(F.col("pos"), F.col("word")),
                        )
                    )
                ),
                lambda x: x.word,
            ),
        ).alias("text_clean"),
    )


def _span_marked_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (doc_id, i, dup, rem) for every window — the shared
    substrate of duplicate_span_report (reads ``dup``) and
    duplicate_span_cut (reads ``rem``).

    Cross-doc recurrence as ONE window pass instead of agg + join: a
    window hash recurs in another document iff min(doc_id) ≠
    max(doc_id) over its hash partition; the same pass yields the
    canonical-keeper rule ``rem`` — a recurring window occurrence is
    removable unless it lives in the min-doc_id document (the one
    canonical occurrence Lee et al. 2022 keeps). This halves the
    corpus-wide exchanges (one shuffle by h total) and removes the
    join entirely. Skew on hot hashes is the same exposure the join
    variant had on its probe side; AQE's skew handling applies.

    Staged (4 narrow columns — no text, no hashes) because both the
    run-merge branch and the per-doc report consume it, the cut query
    reuses the identical frame under the same content key, and without
    staging each branch re-runs the whole corpus pass."""
    from firstamerican_etl_spark.operators.scale import stage_once

    return stage_once(
        _mark_spans(_span_wins(spark, sf_dir)),
        "span_marked",
        reuse_key=staging_tag(sf_dir, "documents"),
    )


@register(
    "duplicate_span_report",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE len(string_split(text, ' ')) >= {_SPAN_L}
),
wins AS (
  SELECT doc_id, i,
         md5(array_to_string(words[i:i+{_SPAN_L - 1}], ' ')) AS h
  FROM (
    SELECT doc_id, words,
           unnest(generate_series(1, len(words) - {_SPAN_L - 1})) AS i
    FROM w
  ) t
),
dupset AS (
  SELECT h FROM (
    SELECT h, count(DISTINCT doc_id) AS nd FROM wins GROUP BY 1
  ) f WHERE nd > 1
),
marked AS (
  SELECT wi.doc_id, wi.i,
         CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END AS dup
  FROM wins wi LEFT JOIN dupset d ON wi.h = d.h
),
runs AS (
  SELECT doc_id, i, dup,
         i - row_number() OVER (
           PARTITION BY doc_id, dup ORDER BY i
         ) AS grp
  FROM marked
),
run_lens AS (
  SELECT doc_id, count(*) AS run_len
  FROM runs WHERE dup = 1 GROUP BY doc_id, grp
)
SELECT m.doc_id,
       count(*) AS n_windows,
       CAST(sum(m.dup) AS BIGINT) AS n_dup_windows,
       coalesce(any_value(r.longest), 0) AS longest_dup_run,
       floor(sum(m.dup) / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS dup_window_frac
FROM marked m
LEFT JOIN (SELECT doc_id, max(run_len) AS longest FROM run_lens GROUP BY 1) r
  ON m.doc_id = r.doc_id
GROUP BY 1
""",
    tags=("dedup", "substring", "span", "training-data"),
)
def duplicate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN detection — the windowed form of suffix-
    array substring dedup (Lee et al. 2022, arXiv:2107.06499): hash
    every overlapping 8-token window, mark windows whose hash recurs
    in another document, and merge consecutive duplicated windows into
    maximal runs per document. Reports per-doc window counts, the
    longest duplicated run (in windows; +L−1 gives tokens covered) and
    the duplicated-window fraction — the signal a span-removal pass
    cuts on, where boilerplate_segment_dedup's non-overlapping
    segments would miss duplicates straddling segment boundaries.

    Scale shape: windows materialize map-side from the bound words
    array; the corpus shuffles once into the window-hash frequency
    aggregate (map-side partials first). The mark-back join is keyed
    on window hash with NO broadcast assumption — the duplicated-span
    set of a web corpus is huge, that is the point of the operator —
    so AQE picks broadcast only when the measured build side is small.
    Run-merging is a per-doc window function over doc-keyed exchanges:
    nothing document-sized ever moves on anything but doc_id/hash."""
    from pyspark.sql.window import Window

    marked = _span_marked_windows(spark, sf_dir)
    grp_w = Window.partitionBy("doc_id", "dup").orderBy("i")
    runs = marked.withColumn("grp", F.col("i") - F.row_number().over(grp_w))
    run_lens = (
        runs.filter(F.col("dup") == 1)
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    longest = run_lens.groupBy("doc_id").agg(F.max("run_len").alias("longest"))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("dup").alias("n_dup_windows"),
            (
                F.floor(
                    F.sum("dup") / F.count(F.lit(1)).cast("double") * 1000000
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("dup_window_frac"),
        )
        .join(longest, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.coalesce(F.col("longest"), F.lit(0).cast("long")).alias(
                "longest_dup_run"
            ),
            "dup_window_frac",
        )
    )


@register(
    "duplicate_span_cut",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
long AS (SELECT doc_id, words FROM w WHERE len(words) >= {_SPAN_L}),
wins AS (
  SELECT doc_id, i,
         md5(array_to_string(words[i:i+{_SPAN_L - 1}], ' ')) AS h
  FROM (
    SELECT doc_id, words,
           unnest(generate_series(1, len(words) - {_SPAN_L - 1})) AS i
    FROM long
  ) t
),
hstat AS (
  SELECT h, min(doc_id) AS mind, max(doc_id) AS maxd FROM wins GROUP BY 1
),
rem AS (
  SELECT wi.doc_id, wi.i
  FROM wins wi JOIN hstat s ON wi.h = s.h
  WHERE s.mind <> s.maxd AND wi.doc_id <> s.mind
),
cutpos AS (
  SELECT DISTINCT doc_id, i + off AS pos
  FROM rem, unnest(generate_series(0, {_SPAN_L - 1})) AS t(off)
),
wordpos AS (
  SELECT doc_id, unnest(generate_series(1, len(words))) AS pos, words
  FROM w
),
kept AS (
  SELECT wp.doc_id, wp.pos, wp.words[wp.pos] AS word,
         (c.pos IS NOT NULL) AS cut
  FROM wordpos wp LEFT JOIN cutpos c
    ON wp.doc_id = c.doc_id AND wp.pos = c.pos
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
       coalesce(
         string_agg(CASE WHEN NOT cut THEN word END, ' ' ORDER BY pos),
         ''
       ) AS text_clean
FROM kept GROUP BY 1
""",
    tags=("dedup", "substring", "span", "remediation", "training-data"),
)
def duplicate_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-SPAN REMOVAL — the remediation step of exact
    substring dedup (Lee et al. 2022, arXiv:2107.06499 §3.1), not just
    the report: every {_SPAN_L}-token window whose hash recurs in
    another document is excised from all but ONE canonical occurrence
    corpus-wide (the min-doc_id holder), and the surviving words are
    re-joined into ``text_clean``. Word positions covered by at least
    one removable window are cut; overlapping removable windows merge
    naturally into maximal runs. Emits (doc_id, n_words, n_cut,
    text_clean) for every document — short docs (< window length) pass
    through uncut with their whitespace normalized, same as the kept
    text.

    Scale shape: reuses duplicate_span_report's staged marked-windows
    frame (one corpus shuffle by window hash, content-keyed — running
    report then cut pays the marking pass once). The cut-position set
    explodes ONLY removable windows (×L), dedups on (doc_id, pos), and
    joins back to the position-exploded corpus on (doc_id, pos) — a
    hash join keyed on (doc, position) with NO broadcast assumption
    (the duplicated-span set of a web corpus is huge; that is the
    point). Reassembly is one groupBy doc_id with an array_sort over
    (pos, word) structs: per-doc data only, nothing document-sized
    ever moves on anything but doc_id/hash keys."""
    docs = load_table(spark, sf_dir, "documents")
    return span_cut_clean(docs, marked=_span_marked_windows(spark, sf_dir))


@register(
    "jaccard_prefix_filter_pairs",
    oracle=_JACCARD_PAIRS_ORACLE,
    tags=("dedup", "jaccard", "prefix-filter", "scale"),
)
def jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard ≥ 0.5 pairs via PREFIX FILTERING (Bayardo
    et al. 2007, "Scaling Up All Pairs Similarity Search") — the same
    result set as ``ngram_jaccard_pairs``, proven by sharing its exact
    oracle, from a different (and at corpus scale, far cheaper)
    candidate generator: order every document's distinct shingles by
    global rarity (document frequency asc, hash asc) and index ONLY
    each doc's first p = n − ⌈t·n⌉ + 1 shingles. If J(A,B) ≥ t the two
    prefixes must share a shingle, so recall is lossless while the
    inverted index shrinks from Σ|doc| postings to roughly (1−t)·Σ|doc|
    — and, decisively, the pair-expansion cost concentrates in RARE
    shingles' short posting lists (stopword-shingle mega-postings never
    enter the index; the all-shingles variant needs a star-expansion
    guard exactly because of them).

    Shuffle shape: one shingle-keyed exchange for document frequency,
    one doc-keyed window to rank shingles within each doc, one
    shingle-keyed exchange of the (1−t)-prefix postings, then exact
    verification joins the two candidate docs' bounded shingle-hash
    arrays (array_intersect in the JVM — no Python). Candidate pairs,
    not all pairs, flow through verification."""
    from pyspark.sql.window import Window

    # Prefix sizing uses a threshold slightly BELOW the reported 0.5:
    # the output filter is round(J, 4) >= 0.5, which admits true J in
    # [0.49995, 0.5). Prefix filtering at exactly t = 1/2 is only
    # lossless for true J >= 1/2, so sizing at t' = 4999/10000 keeps
    # the index lossless for every pair the (shared, rounded) oracle
    # emits — at the cost of prefixes one shingle longer.
    t_num, t_den = 4999, 10000
    d = load_table(spark, sf_dir, "documents")
    wdf = exploded_word_hashes(d).filter(F.size("wh") >= 5)
    # Stage the exploded shingle frame ONCE: four branches consume it
    # (document frequency, the ranked prefix, and both verification
    # sides) and Catalyst would re-run the corpus explode per branch —
    # measured 15.4× wall per 10× data unstaged, linear after.
    from firstamerican_etl_spark.operators.scale import stage_once

    docs = stage_once(
        wdf.select(
            "doc_id",
            F.explode(
                F.array(F.array_distinct(shingle_hashes_col("wh")))
            ).alias("sh"),
        ).select(
            "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
        ),
        "jaccard_prefix_shingles",
        reuse_key=staging_tag(sf_dir, "documents"),
    )
    dfreq = docs.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = docs.join(dfreq, "shingle").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")
        ),
    )
    # p = n - ceil(t*n) + 1, in exact integer arithmetic:
    # ceil(n*t_num/t_den) = (n*t_num + t_den - 1) div t_den.
    # n_sh is LONG-cast before the multiply: int32 n_sh * 4999 wraps
    # past 2^31 for docs with >= ~430k distinct shingles (silent
    # garbage prefix under ANSI-off, ARITHMETIC_OVERFLOW under the
    # driver's ANSI-on session — graphplans.py:216's bug class)
    plen = (
        F.col("n_sh").cast("long")
        - F.floor(
            (F.col("n_sh").cast("long") * t_num + (t_den - 1)) / t_den
        ).cast("long")
        + 1
    )
    prefix = ranked.filter(F.col("pos") <= plen).select("doc_id", "shingle")
    cand = (
        prefix.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ds"),
                        lambda a, i: F.transform(
                            F.slice(
                                F.col("ds"),
                                i + 2,
                                F.greatest(F.size("ds") - i - 1, F.lit(0)),
                            ),
                            lambda b: F.struct(
                                F.least(a, b).alias("doc_a"),
                                F.greatest(a, b).alias("doc_b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sets = docs.groupBy("doc_id").agg(
        F.any_value("n_sh").alias("n"), F.collect_set("shingle").alias("ss")
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        F.col("ss").alias("sa"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("ss").alias("sb"),
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# Exact 3-gram Jaccard truth for grading the LSH twin: SAME shingle
# definition as dedup_minhash_lsh_oracled (3-word shingles), so the
# recall number measures the banding scheme, not a representation gap.
_JACCARD3_TRUTH_SQL = """
w3 AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
dist3 AS (
  SELECT DISTINCT doc_id, array_to_string(ws[g.i:g.i+2], ' ') AS s
  FROM w3, LATERAL unnest(generate_series(1, len(ws) - 2)) AS g(i)
),
sizes3 AS (SELECT doc_id, count(*) AS n FROM dist3 GROUP BY 1),
truth AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
    FROM dist3 a JOIN dist3 b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) i JOIN sizes3 sa ON sa.doc_id = i.doc_a JOIN sizes3 sb ON sb.doc_id = i.doc_b
  WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.5
)
"""


def _minhash_eval_oracle() -> str:
    from firstamerican_etl_spark.plans.registry import REGISTRY

    twin = REGISTRY["dedup_minhash_lsh_oracled"].oracle
    return f"""
WITH pred AS (SELECT doc_a, doc_b FROM ({twin})),
{_JACCARD3_TRUTH_SQL.strip().rstrip()},
hit AS (SELECT count(*) AS c FROM pred JOIN truth USING (doc_a, doc_b)),
np AS (SELECT count(*) AS c FROM pred),
nt AS (SELECT count(*) AS c FROM truth)
SELECT CAST(np.c AS BIGINT) AS n_candidates,
       CAST(nt.c AS BIGINT) AS n_true_pairs,
       CAST(hit.c AS BIGINT) AS n_hits,
       CAST(floor(hit.c * 1000000.0 / greatest(np.c, 1) + 0.5) AS BIGINT) AS precision_ppm,
       CAST(floor(hit.c * 1000000.0 / greatest(nt.c, 1) + 0.5) AS BIGINT) AS recall_ppm
FROM np, nt, hit
"""


@register(
    "minhash_lsh_recall_eval",
    oracle=_minhash_eval_oracle(),
    tags=("dedup", "minhash", "lsh", "eval", "recall"),
)
def minhash_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grade the MinHash+LSH banding IN-PLAN against exact ground
    truth (the knn_ivf_recall_eval / heavy_hitters_cms pattern applied
    to the dedup flagship): candidate pairs from the md5 verification
    twin vs exact 3-gram Jaccard ≥ 0.5 pairs over the SAME shingle
    definition — one row of candidate/truth/hit counts with ppm
    precision and recall. This is the measurement that justifies the
    8×4 banding choice: the S-curve says J=0.5 pairs collide in ≥1 of
    8 bands with p = 1-(1-0.5⁴)⁸ ≈ 0.40, rising steeply (J=0.7 →
    ≈ 0.90, J=0.9 → ≈ 1.0), and the eval reports where the corpus
    actually lands instead of trusting the formula.

    Scale shape: both sides are the already-bounded candidate
    generators (banded buckets; shingle inverted index) — the eval
    adds only |pairs|-sized joins and three scalar counts. Everything
    deterministic → full value oracle."""
    from firstamerican_etl_spark.operators.scale import stage_once

    tag = staging_tag(sf_dir, "documents")
    # Stage BOTH expensive sides: pred feeds two branches (count + hit
    # join) and docs feeds three (both pair sides + truth) — unstaged,
    # Catalyst re-ran the 32-hash md5 twin twice and the corpus shingle
    # explode four times (the no-CSE class the 10× probe flags).
    pred = stage_once(
        dedup_minhash_lsh_oracled(spark, sf_dir).select("doc_a", "doc_b"),
        "minhash_eval_pred",
        reuse_key=tag,
    )

    # exact 3-gram truth, same machinery as ngram_jaccard_pairs but at
    # the twin's shingle length; docs with <3 words carry no full
    # 3-gram window and are excluded on BOTH sides (under ANSI an
    # element_at past the array end throws, so the filter is also what
    # keeps the driver's ANSI session green)
    wdf = exploded_word_hashes(load_table(spark, sf_dir, "documents")).filter(
        F.size("wh") >= 3
    )
    docs = stage_once(
        wdf.select(
            "doc_id",
            F.explode(
                F.array(F.array_distinct(shingle_hashes_col("wh", shingle_len=3)))
            ).alias("sh"),
        ).select(
            "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
        ),
        "minhash_eval_shingles",
        reuse_key=tag,
    )
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.any_value("na").alias("na"),
            F.any_value("nb").alias("nb"),
        )
    )
    jac = F.round(
        F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c")), 4
    )
    truth = stage_once(
        inter.filter(jac >= 0.5).select("doc_a", "doc_b"),
        "minhash_eval_truth",
        reuse_key=tag,
    )

    n_pred = pred.agg(F.count(F.lit(1)).alias("np"))
    n_true = truth.agg(F.count(F.lit(1)).alias("nt"))
    n_hit = pred.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("nh")
    )
    return (
        n_pred.crossJoin(n_true)
        .crossJoin(n_hit)
        .select(
            F.col("np").alias("n_candidates"),
            F.col("nt").alias("n_true_pairs"),
            F.col("nh").alias("n_hits"),
            F.floor(
                F.col("nh") * F.lit(1000000.0) / F.greatest(F.col("np"), F.lit(1))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("precision_ppm"),
            F.floor(
                F.col("nh") * F.lit(1000000.0) / F.greatest(F.col("nt"), F.lit(1))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("recall_ppm"),
        )
    )


@register(
    "doc_containment_pairs",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
dist AS (
  SELECT DISTINCT doc_id, array_to_string(ws[g.i:g.i+4], ' ') AS s
  FROM w, LATERAL unnest(range(1, len(ws) - 3)) AS g(i)
),
sizes AS (SELECT doc_id, count(*) AS n FROM dist GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM dist a JOIN dist b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       CAST(c AS BIGINT) AS n_common,
       CAST(floor(c * 1000000.0 / sa.n + 0.5) AS BIGINT) AS cont_a_in_b_ppm,
       CAST(floor(c * 1000000.0 / sb.n + 0.5) AS BIGINT) AS cont_b_in_a_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE greatest(floor(c * 1000000.0 / sa.n + 0.5),
               floor(c * 1000000.0 / sb.n + 0.5)) >= 600000
""",
    tags=("dedup", "containment", "jaccard"),
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT pairs: C(A→B) = |S(A)∩S(B)| / |S(A)| over
    distinct 5-gram shingles, reported for both directions of every
    candidate pair with either direction ≥ 0.6. Jaccard misses the
    quote/near-superset case — a short doc wholly embedded in a long
    one has tiny Jaccard but containment ≈ 1 — and containment is what
    quote detection, license-text stripping, and version-supersession
    dedup actually gate on (Broder's original resemblance/containment
    pairing).

    Exactness: shingle-set sizes and intersection counts are integers
    (hash-level counting is hash-independent, same argument as
    ngram_jaccard_pairs); the ppm ratios floor-quantize integer
    counts — bit-identical to the oracle.

    Scale shape: identical candidate machinery to ngram_jaccard_pairs —
    ONE tokenize+shingle pass (exploded_word_hashes Generate barrier),
    inverted-index postings with join-free in-array pair expansion, the
    shuffle bounded by posting lists, never all-pairs. Production runs
    cap posting-list df (CCNet-style hot-shingle drop) before the
    expansion; kept exact here because the oracle demands the lossless
    pair set."""
    # cpu_spread (r14, guide §2.5): tokenize/hash/shingle is per-doc
    # CPU on a low-split scan — spread docs across cores first
    # (measured −32% at sf0.1; no-op at scale). Shingle sets and
    # intersection counts are integers over per-doc content:
    # partitioning cannot change any result bit.
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    wdf = exploded_word_hashes(d).filter(F.size("wh") >= 5)
    docs = wdf.select(
        "doc_id",
        F.explode(F.array(F.array_distinct(shingle_hashes_col("wh")))).alias("sh"),
    ).select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    postings = (
        docs.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ps"))
        .filter(F.size("ps") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda a, i: F.transform(
                F.slice(
                    F.col("ps"), i + 2, F.greatest(F.size("ps") - i - 1, F.lit(0))
                ),
                lambda b: F.struct(
                    F.least(a["doc_id"], b["doc_id"]).alias("doc_a"),
                    F.greatest(a["doc_id"], b["doc_id"]).alias("doc_b"),
                    F.when(a["doc_id"] < b["doc_id"], a["n_sh"])
                    .otherwise(b["n_sh"])
                    .alias("n_a"),
                    F.when(a["doc_id"] < b["doc_id"], b["n_sh"])
                    .otherwise(a["n_sh"])
                    .alias("n_b"),
                ),
            ),
        )
    )
    pairs = (
        postings.select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.n_a").alias("n_a"),
            F.col("p.n_b").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cont_ab = F.floor(
        F.col("n_common") * F.lit(1000000.0) / F.col("n_a") + F.lit(0.5)
    )
    cont_ba = F.floor(
        F.col("n_common") * F.lit(1000000.0) / F.col("n_b") + F.lit(0.5)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "n_common",
        cont_ab.cast("long").alias("cont_a_in_b_ppm"),
        cont_ba.cast("long").alias("cont_b_in_a_ppm"),
    ).filter(F.greatest(cont_ab, cont_ba) >= 600000)


@register(
    "cdc_chunk_dedup",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
pos AS (
  SELECT doc_id, ws, g.i AS i, ws[g.i] AS word
  FROM w, LATERAL unnest(range(1, len(ws) + 1)) AS g(i)
),
b AS (
  SELECT doc_id, i, word,
         CASE WHEN i >= 3 AND substr(md5(ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i]), 1, 1) = '0'
              THEN 1 ELSE 0 END AS is_boundary
  FROM pos
),
c AS (
  SELECT doc_id, i, word,
         COALESCE(sum(is_boundary) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM b
),
chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(word, ' ' ORDER BY i)) AS chunk_hash,
         count(*) AS n_words
  FROM c GROUP BY 1, 2
)
SELECT chunk_hash,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(doc_id) AS min_doc
FROM chunks
GROUP BY 1, 2
HAVING count(DISTINCT doc_id) > 1
""",
    tags=("dedup", "cdc", "chunking"),
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: cut every document into
    variable-size chunks at CONTENT-DEFINED boundaries (a boundary
    falls after word i when the hash of the 3-word window ending at i
    lands in 1/16 of the hash space — expected chunk ≈ 16 words), then
    report chunks recurring across documents. Because boundaries
    depend only on a local content window, an insertion re-cuts just
    its neighborhood and every other chunk keeps its identity — the
    property fixed-size blocking lacks and the reason storage dedup
    (LBFS/Venti lineage) and incremental corpus sync use CDC. Sits
    between doc_fingerprint (whole-doc) and duplicate_span_report
    (every 8-token window): chunk-granular, position-independent.

    Exactness: the boundary rule is an md5-prefix test computed
    identically in both engines (the split-twin discipline), chunk
    reassembly is position-ordered string agg, and all report columns
    are integer counts over md5 keys.

    Scale shape: one tokenize pass; the boundary flags are per-row
    array lookups behind the Generate barrier (no join); chunk ids are
    a per-doc running sum (doc-keyed window — uniformly sized
    partitions, no global window); chunk reassembly is one doc-keyed
    aggregate; the final report shuffles (chunk_hash, n_words) partial
    aggregates — map-side combined, uniform keys. The corpus never
    joins itself."""
    # cpu_spread (r14, guide §2.5): boundary md5s + chunk hashing are
    # per-doc CPU on a low-split scan — spread docs across cores first
    # (measured −30% at sf0.1; no-op at scale). Chunk hashes are pure
    # per-doc functions and the report aggregates integers:
    # partitioning cannot change any result bit.
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    w = exploded_words(d)
    n = F.size("words")
    wa = F.col("words")
    flags = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.when(
            (i >= 3)
            & (
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.element_at(wa, i - 2),
                            F.element_at(wa, i - 1),
                            F.element_at(wa, i),
                        )
                    ),
                    1,
                    1,
                )
                == "0"
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    # DOC-LOCAL chunk assembly (r14, guide §2.4): chunk boundaries,
    # membership and hashes are pure functions of one document, but
    # the previous plan exploded every WORD to a row, ran a doc-keyed
    # running-sum window, then re-assembled chunks with a doc-keyed
    # collect_list groupBy — two full word-granular Exchanges before
    # the actual cross-doc report (plans/r14/cdc_chunk_dedup_
    # before.txt). Here chunks are cut and hashed inside the row with
    # array functions (boundary positions → [start, end) slices →
    # md5 per chunk), so the ONLY exchange left is the final
    # (chunk_hash, n_words) report aggregate — chunk hashes on the
    # wire, never words. Byte-identical chunks: same boundary rule,
    # same position-ordered reassembly, same report columns.
    # bind the md5 boundary-flag array behind a 1:1 Generate barrier
    # FIRST (exploded_words' trick): the position filter below indexes
    # into it per element, and an unbound `flags` expression would be
    # re-evaluated for every index probed — O(n) md5 per position =
    # O(n²) md5 per document (measured: 1.6 s → 28 s at sf0.1 before
    # this barrier). Bound as an attribute it is computed once per row.
    wf = w.select(
        "doc_id", "words", F.explode(F.array(flags)).alias("fl")
    )
    # and the boundary-position array behind a second barrier: starts
    # AND ends both read it
    bpos_expr = F.filter(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.element_at(F.col("fl"), i) == 1,
    )
    wb = wf.select(
        "doc_id", "words", F.explode(F.array(bpos_expr)).alias("bpos")
    )
    bpos = F.col("bpos")
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda b: b + 1))
    ends = F.concat(bpos, F.array(n))
    chunk_structs = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.struct(
                F.md5(F.concat_ws(" ", F.slice(wa, s, e - s + 1))).alias(
                    "chunk_hash"
                ),
                (e - s + 1).cast("long").alias("n_words"),
            ),
        ),
        # a boundary on the LAST word would open an empty trailing
        # chunk (start = n+1); the word-row formulation never created
        # it, so drop it here too
        lambda c: c["n_words"] > 0,
    )
    chunks = wb.select("doc_id", F.explode(chunk_structs).alias("c")).select(
        "doc_id",
        F.col("c.chunk_hash").alias("chunk_hash"),
        F.col("c.n_words").alias("n_words"),
    )
    return (
        chunks.groupBy("chunk_hash", "n_words")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


#: CCNet-style hot-shingle document-frequency cap: shingles appearing
#: in more than this many documents are dropped BEFORE pair expansion.
#: At corpus scale boilerplate shingles (headers, licence blocks) have
#: df ~ |corpus| and their posting lists alone generate the quadratic
#: blow-up the 10× probe shows for the exact pair queries (2.2× slope,
#: SCALING.md); a constant cap bounds every posting list's expansion
#: at cap² pairs, restoring a near-linear slope at the cost of
#: UNDER-counting intersections on boilerplate-heavy pairs. Sized to
#: the synthetic corpus's duplicate multiplicity (max shingle df is 3
#: at sf0.01 / 4 at sf0.1) so the drop path is genuinely EXERCISED at
#: oracle scale — production corpora would run this at O(100).
_JACCARD_DF_CAP = 2


@register(
    "jaccard_df_capped_pairs",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
dist AS (
  SELECT DISTINCT doc_id, array_to_string(ws[g.i:g.i+4], ' ') AS s
  FROM w, LATERAL unnest(range(1, len(ws) - 3)) AS g(i)
),
sizes AS (SELECT doc_id, count(*) AS n FROM dist GROUP BY 1),
rare AS (SELECT s FROM dist GROUP BY s HAVING count(*) <= {_JACCARD_DF_CAP}),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM dist a JOIN rare r ON a.s = r.s
              JOIN dist b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard_lb
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.5
""",
    tags=("dedup", "jaccard", "df-cap", "scale"),
)
def jaccard_df_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-CAPPED twin of ``ngram_jaccard_pairs`` — the production
    posting-list guard registered as its own oracled query (VERDICT r7
    #3). Shingles with document frequency > {cap} are dropped before
    the in-array pair expansion, so every posting list expands at most
    cap²/2 pairs and total candidate work is Σ min(df, cap)² — LINEAR
    in corpus growth once duplicated-content density saturates,
    versus the exact query's df² term (the measured 2.2× slope).

    Semantics: intersections count only RARE (df ≤ cap) shingles while
    set sizes stay full, so the reported ``jaccard_lb`` is a LOWER
    BOUND of true Jaccard — pairs held together purely by boilerplate
    fall below the threshold, which is precisely CCNet's intent. The
    oracle applies the identical cap in SQL (``HAVING count(*) <=
    cap``), keeping the check a full value oracle."""
    d = load_table(spark, sf_dir, "documents")
    wdf = exploded_word_hashes(d).filter(F.size("wh") >= 5)
    docs = wdf.select(
        "doc_id",
        F.explode(F.array(F.array_distinct(shingle_hashes_col("wh")))).alias("sh"),
    ).select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    postings = (
        docs.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ps"))
        # the df cap: hot posting lists never reach the expansion
        .filter(
            (F.size("ps") > 1) & (F.size("ps") <= F.lit(_JACCARD_DF_CAP))
        )
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda a, i: F.transform(
                F.slice(
                    F.col("ps"), i + 2, F.greatest(F.size("ps") - i - 1, F.lit(0))
                ),
                lambda b: F.struct(
                    F.least(a["doc_id"], b["doc_id"]).alias("doc_a"),
                    F.greatest(a["doc_id"], b["doc_id"]).alias("doc_b"),
                    F.when(a["doc_id"] < b["doc_id"], a["n_sh"])
                    .otherwise(b["n_sh"])
                    .alias("n_a"),
                    F.when(a["doc_id"] < b["doc_id"], b["n_sh"])
                    .otherwise(a["n_sh"])
                    .alias("n_b"),
                ),
            ),
        )
    )
    pairs = (
        postings.select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.n_a").alias("n_a"),
            F.col("p.n_b").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return pairs.select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard_lb")
    ).filter(F.col("jaccard_lb") >= 0.5)
