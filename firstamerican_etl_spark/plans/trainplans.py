"""Training-data pipeline operators, round 2: TF-IDF term weighting,
deterministic hash-based sampling (uniform + stratified), duplicate
CLUSTERING (connected components over near-dup pairs — the step after
pair-finding that an actual dedup pipeline needs to pick one survivor
per cluster), and percent_rank/cume_dist analytics.

Scale notes baked into each plan:
- TF-IDF is two aggregates over the exploded term table plus one
  broadcast of the (tiny) doc-frequency side — no per-row Python.
- Hash sampling uses md5 (bit-identical across engines and executors),
  so the sample is reproducible under any partitioning/retry — the
  property that matters for lineage at 100 TB; rand()-based sampling
  is not re-executable.
- Connected components runs label propagation as a driver-side loop of
  DataFrame joins with localCheckpoint() per iteration to truncate
  lineage (the alternating large-star/small-star trick would cut the
  iteration count at web scale; near-dup clusters are tiny and dense,
  so plain min-label propagation converges in a handful of rounds).
  The oracle is a DuckDB recursive CTE over the same edge set — a full
  value check on an iterative algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from firstamerican_etl_spark.functions.stable import stable_round
from firstamerican_etl_spark.plans import dedupplans
from firstamerican_etl_spark.plans.registry import REGISTRY, register
from firstamerican_etl_spark.sources.io import load_table

# dedupplans is imported above, so its @register calls have run and the
# Jaccard pair query + oracle are available for composition here.
_JACCARD_ORACLE = REGISTRY["ngram_jaccard_pairs"].oracle


@register(
    "tfidf_top_terms",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tfidf FROM (
  SELECT tf.doc_id, tf.term,
         floor((tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)) * 10000 + 0.5) / 10000 AS tfidf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY floor((tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)) * 10000 + 0.5) / 10000 DESC,
                    tf.term
         ) AS rn
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
) WHERE rn <= 3
""",
    tags=("text", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1)) + 1, sklearn's convention). Shape: explode →
    per-(doc,term) count → per-term doc frequency; the term→df side is
    |vocabulary| rows, broadcast back onto the tf table, so the only
    big shuffles are the two aggregates on the exploded terms. Ranking
    uses the stably-ROUNDED weight (+ term as tie-break) so the row
    set is identical across engines despite last-ulp ln() drift."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split(F.col("text"), " ", -1)).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # one scalar; the oracle's CROSS JOIN n
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0
    weighted = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id", "term", stable_round(F.col("tf") * idf, 4).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        weighted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "sample_hash_deterministic",
    oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
""",
    tags=("sampling", "deterministic"),
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% sample (md5 hex prefix < '20' = 32/256).
    Unlike df.sample()/rand(), the predicate is a pure function of the
    key: stable under repartitioning, task retries, and engine choice,
    and it pushes down to the scan as a cheap filter — the only sound
    way to take a reproducible sample of a 100 TB table."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return d.filter(bucket < "20").select("doc_id", "lang", "source")


@register(
    "sample_stratified_hash",
    oracle="""
SELECT lang, count(*) AS n_sampled
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      CASE lang WHEN 'en' THEN '10' WHEN 'es' THEN '40' ELSE '80' END
GROUP BY 1
""",
    tags=("sampling", "stratified"),
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language rates (en 1/16,
    es 1/4, rest 1/2) — the downsample-the-majority-class recipe for
    balancing a pre-training mix, still a single pushed-down filter
    (no shuffle until the audit count)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thresh = (
        F.when(F.col("lang") == "en", F.lit("10"))
        .when(F.col("lang") == "es", F.lit("40"))
        .otherwise(F.lit("80"))
    )
    return (
        d.filter(bucket < thresh)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


# Shared connected-components oracle core: symmetrized edges from a
# `pairs` CTE, recursive min-label reachability, per-node cluster
# label. All three cluster-consuming oracles (dedup_cluster_components,
# leakage_safe_split_assign, dedup_survivorship_report) interpolate
# this ONE string after their own `pairs` definition, so the labeling
# semantics can never drift between them (r10 review — the exact-pair
# star-edge change that only leakage_safe_split_assign received showed
# how a triplicated block invites a missed site).
_CC_LABELS_SQL = """\
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, root) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
labels AS (
  SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY 1
)"""


@register(
    "dedup_cluster_components",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE})
),
{_CC_LABELS_SQL}
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
""",
    tags=("dedup", "connected-components", "iterative"),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over the n-gram
    Jaccard >= 0.5 near-dup pairs, labeling every involved doc with
    the min doc_id of its component (+ component size). The min-label
    propagation loop lives in ``operators/graph.py
    connected_components`` (shared with the corpus-build pipeline) —
    see its docstring for the convergence/scale analysis."""
    from firstamerican_etl_spark.operators.graph import connected_components

    pairs = dedupplans.ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).withColumn("cluster_size", F.count(F.lit(1)).over(w))


@register(
    "window_percent_rank",
    oracle="""
SELECT o_orderkey,
       o_orderpriority,
       floor(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) * 1000000 + 0.5) / 1000000 AS pct_rank,
       floor(cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) * 1000000 + 0.5) / 1000000 AS cume
FROM orders
""",
    tags=("window", "percent-rank"),
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of order value within each priority
    class — relative-position analytics (the remaining SQL:2003 rank
    family after rank/dense_rank/ntile elsewhere). One exchange on
    o_orderpriority serves both functions; o_orderkey tie-break makes
    the ranks a pure function of the data."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        stable_round(F.percent_rank().over(w), 6).alias("pct_rank"),
        stable_round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "corpus_clean_pipeline",
    oracle="""
WITH survivors AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT d.doc_id, d.lang, d.source,
       len(string_split(d.text, ' ')) AS n_tokens
FROM documents d
JOIN survivors s ON d.doc_id = s.doc_id
WHERE length(d.text) BETWEEN 50 AND 5000
  AND len(string_split(d.text, ' ')) >= 10
  AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < '80'
""",
    tags=("text", "pipeline", "composition"),
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-training corpus-prep pipeline as ONE plan: exact-dedup
    survivor selection (min doc_id per content hash) → quality window
    (length + token floor) → deterministic 50% downsample. One shuffle
    total (the content-hash aggregate); the survivor set joins back
    left-semi, and both filters are scan-side. At 100 TB this is the
    template the individual operators (dedup_exact_keep_first,
    text_quality, sample_hash_deterministic) compose into — proving
    the pieces fuse into one Catalyst plan rather than three passes
    over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    survivors = d.groupBy(F.md5(F.col("text")).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    n_tokens = F.size(F.split(F.col("text"), " ", -1))
    return (
        d.join(survivors.select("doc_id"), "doc_id", "left_semi")
        .filter(
            F.length("text").between(50, 5000)
            & (n_tokens >= 10)
            & (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "80")
        )
        .select("doc_id", "lang", "source", n_tokens.alias("n_tokens"))
    )


@register(
    "sample_fixed_k_per_group",
    oracle="""
SELECT o_orderpriority, o_orderkey FROM (
  SELECT o_orderpriority, o_orderkey,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
         ) AS rn
  FROM orders
) t WHERE rn <= 5
""",
    tags=("sampling", "deterministic", "training-data"),
)
def sample_fixed_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sample: order each group by the md5 of
    its key (a uniform, engine-agnostic pseudo-rank) and keep the
    first k. The class-balancing primitive fraction-based
    sample_stratified_hash can't give you — k is exact per group, and
    the SAME rows come back under repartition, retry, or engine swap
    (md5 of the key is input-determined, unlike rand()). One
    window-per-group shuffle; at scale, groups are independent so
    skew only ever costs what the largest stratum costs."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    return (
        orders.select("o_orderpriority", "o_orderkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("o_orderpriority", "o_orderkey")
    )



# Shared 90/5/5 hash-range split ('e6' = 230/256 ≈ 0.898, 'f3' =
# 243/256 ≈ 0.051): ONE definition, consumed by train_split_assign,
# leakage_safe_split_assign, their oracles and the corpus build
# (pipeline/corpus_build, full and delta) — retuning the ratio is a
# one-site edit and the queries and the build can never disagree on
# what "train" means.
_SPLIT_TRAIN_HI, _SPLIT_VAL_HI = "e6", "f3"


def split_sql_case(key_expr: str) -> str:
    return (
        f"CASE WHEN substr(md5(CAST({key_expr} AS VARCHAR)), 1, 2) < '{_SPLIT_TRAIN_HI}' THEN 'train' "
        f"WHEN substr(md5(CAST({key_expr} AS VARCHAR)), 1, 2) < '{_SPLIT_VAL_HI}' THEN 'val' "
        f"ELSE 'test' END"
    )


def split_col(key):
    prefix = F.substring(F.md5(key.cast("string")), 1, 2)
    return (
        F.when(prefix < _SPLIT_TRAIN_HI, "train")
        .when(prefix < _SPLIT_VAL_HI, "val")
        .otherwise("test")
    )


@register(
    "train_split_assign",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, lang,
         {split_sql_case('doc_id')} AS split
  FROM documents
)
SELECT split, lang, count(*) AS n_docs,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM assigned GROUP BY 1, 2
""",
    tags=("sampling", "split", "training-data"),
)
def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: the first md5 byte of
    the document key partitions the hash space ~90/5/5 ('e6' = 230/256,
    'f3' = 243/256). Like sample_hash_deterministic, the split is a
    pure function of the key — the same document lands in the same
    split under repartition, retry, engine swap, or incremental
    re-ingest (the property rand()/ntile splits lack, and the reason
    leakage audits can re-derive membership without a stored manifest).
    Assignment is scan-side expression work; the only shuffle is the
    small (split, lang) report aggregate."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(split_col(F.col("doc_id")).alias("split"), "lang", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@register(
    "contamination_ngram_overlap",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
s AS (
  SELECT DISTINCT doc_id, md5(array_to_string(words[i:i+4], ' ')) AS sh
  FROM (SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i FROM w) t
),
bench AS (SELECT DISTINCT sh FROM s WHERE doc_id % 50 = 0),
corpus AS (SELECT doc_id, sh FROM s WHERE doc_id % 50 <> 0)
SELECT c.doc_id,
       count(*) AS n_shingles,
       count(b.sh) AS n_matched,
       floor(CAST(count(b.sh) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS contamination
FROM corpus c LEFT JOIN bench b USING (sh)
GROUP BY 1
""",
    tags=("dedup", "contamination", "training-data"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: fraction of each training
    document's distinct 5-gram shingles that also occur anywhere in the
    held-out set (here the deterministic doc_id % 50 == 0 slice stands
    in for an eval benchmark). The decontamination step every serious
    pre-training pipeline runs before training. Scale shape: the
    benchmark's distinct shingle hashes are SMALL (eval suites are MBs,
    not TBs) and broadcast; the corpus side streams through a map-side
    hash probe — the 100 TB corpus is never shuffled by shingle, and
    nothing all-pairs ever happens."""
    from firstamerican_etl_spark.plans.dedupplans import exploded_words

    d = exploded_words(load_table(spark, sf_dir, "documents"))
    n = F.size("words")
    shingle = F.transform(
        F.sequence(F.lit(1), n - 4),
        lambda i: F.md5(
            F.concat_ws(
                " ", *[F.element_at(F.col("words"), i + k) for k in range(5)]
            )
        ),
    )
    s = (
        d.filter(n >= 5)
        .select("doc_id", F.explode(shingle).alias("sh"))
        .distinct()
    )
    bench = s.filter(F.col("doc_id") % 50 == 0).select("sh").distinct()
    corpus = s.filter(F.col("doc_id") % 50 != 0)
    hit = F.col("bench_sh").isNotNull().cast("long")
    return (
        corpus.join(
            F.broadcast(bench.select(F.col("sh").alias("bench_sh"))),
            corpus.sh == F.col("bench_sh"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(hit).alias("n_matched"),
            stable_round(
                F.sum(hit).cast("double") / F.count(F.lit(1)), 6
            ).alias("contamination"),
        )
    )


@register(
    "mixture_temperature_resample",
    oracle="""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
m AS (SELECT min(n) AS n_min FROM c),
r AS (
  SELECT lang, n,
         CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n) * 65536) AS BIGINT) AS thresh,
         floor(sqrt(CAST(n_min AS DOUBLE) / n) * 1000000 + 0.5) / 1000000 AS target_rate
  FROM c, m
)
SELECT d.lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN '0' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                     < printf('%05x', r.thresh) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       any_value(r.target_rate) AS target_rate
FROM documents d JOIN r USING (lang)
GROUP BY 1
""",
    tags=("sampling", "mixture", "temperature", "training-data"),
)
def mixture_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture rebalancing (the multilingual-corpus
    recipe: sample language l with probability ∝ n_l^α, α=0.5, so
    head languages are flattened toward the tail). Keep-rate per
    language is sqrt(n_min/n_l) — the smallest language keeps 100%,
    a language 4× its size keeps 50%. Rates are DATA-DEPENDENT,
    computed in the same plan from the per-language counts, then
    membership is the deterministic md5-prefix predicate (compare the
    4-hex-char prefix against the rate as a 16-bit threshold, both
    zero-extended to 5 chars so rate=1.0 → '10000' orders above every
    prefix) — reproducible under retry/repartition/engine swap, unlike
    rand().

    Scale shape: the count aggregate ships |langs| rows; the rate
    table is broadcast back onto the corpus (never a shuffle of the
    corpus itself); the final report is a second |langs|-row
    aggregate. At 100 TB this is two metadata aggregates + one
    broadcast joined map pass."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    n_min = counts.agg(F.min("n").alias("n_min"))
    rate = F.sqrt(F.col("n_min").cast("double") / F.col("n"))
    rates = (
        counts.crossJoin(F.broadcast(n_min))
        .select(
            "lang",
            F.lpad(
                F.lower(F.hex(F.floor(rate * F.lit(65536)).cast("long"))),
                5,
                "0",
            ).alias("cut"),
            (
                F.floor(rate * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
            ).alias("target_rate"),
        )
    )
    keep = (
        F.concat(
            F.lit("0"), F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        )
        < F.col("cut")
    ).cast("long")
    return (
        d.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep).alias("n_kept"),
            F.any_value(F.col("target_rate")).alias("target_rate"),
        )
    )


_DSIR_B = 256  # hashed n-gram feature buckets
_DSIR_TARGET_LANG = "en"  # the "target distribution" corpus slice


def dsir_logweights(
    docs: DataFrame,
    target_lang: str = _DSIR_TARGET_LANG,
    reuse_key: str | None = None,
) -> DataFrame:
    """Reusable core of ``dsir_importance_weights``: per-document
    hashed-bigram importance weights over any (doc_id, lang, text)
    frame — the registered query applies it to the ``documents`` table;
    ``pipeline/corpus_build.py`` applies it mid-pipeline to annotate
    survivors. Returns (doc_id, lang, n_grams, logweight_scaled);
    docs with <2 words are absent (no bigram evidence). See the
    registered query's docstring for exactness and scale analysis.
    Without a ``reuse_key`` (a mid-pipeline frame has no content tag)
    every call restages under a fresh key."""
    import uuid

    from firstamerican_etl_spark.operators.scale import stage_once
    from firstamerican_etl_spark.plans.dedupplans import exploded_words

    d = exploded_words(docs, keep=("doc_id", "lang"))
    n = F.size("words")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("words"), i), F.element_at(F.col("words"), i + 1)
        ),
    )
    grams = (
        d.filter(n >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("gram"))
        .select(
            "doc_id",
            "lang",
            F.conv(F.substring(F.md5("gram"), 1, 2), 16, 10)
            .cast("long")
            .alias("bucket"),
        )
    )
    # ONE corpus pass: collapse to per-(doc, bucket) counts first and
    # stage that (≤256 rows/doc — ~100× smaller than the exploded
    # grams), then derive both distribution frames from the staged
    # counts. Unstaged, Catalyst re-exploded the corpus three times
    # (raw, target, and per-doc branches).
    dc = stage_once(
        grams.groupBy("doc_id", "bucket").agg(
            F.any_value("lang").alias("lang"), F.count(F.lit(1)).alias("n")
        ),
        "dsir_doc_buckets",
        reuse_key=reuse_key or uuid.uuid4().hex,
    )
    raw = dc.groupBy("bucket").agg(F.sum("n").alias("cr"))
    tgt = (
        dc.filter(F.col("lang") == target_lang)
        .groupBy("bucket")
        .agg(F.sum("n").alias("ct"))
    )
    stats = raw.join(tgt, "bucket", "left")
    tot = stats.agg(
        F.sum("cr").alias("r"),
        F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"),
    )
    lr = (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.floor(
                F.log(
                    ((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0)) * (F.col("r") + _DSIR_B))
                    / ((F.col("cr") + F.lit(1.0)) * (F.col("tt") + _DSIR_B))
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lr"),
        )
    )
    return (
        dc.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.sum("n").alias("n_grams"),
            F.sum(F.col("n") * F.col("lr")).alias("logweight_scaled"),
        )
    )


@register(
    "dsir_importance_weights",
    oracle=f"""
WITH w AS (
  SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
grams AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(words[i] || ' ' || words[i + 1]), 1, 2)) AS BIGINT) AS bucket
  FROM (SELECT doc_id, lang, words, unnest(generate_series(1, len(words) - 1)) AS i FROM w) t
),
raw AS (SELECT bucket, count(*) AS cr FROM grams GROUP BY 1),
tgt AS (SELECT bucket, count(*) AS ct FROM grams WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY 1),
tot AS (
  SELECT CAST(sum(cr) AS BIGINT) AS r,
         CAST(coalesce(sum(CASE WHEN t.bucket IS NOT NULL THEN ct END), 0) AS BIGINT) AS tt
  FROM raw LEFT JOIN tgt t USING (bucket)
),
lr AS (
  SELECT raw.bucket,
         CAST(floor(ln(((coalesce(ct, 0) + 1.0) * (r + {_DSIR_B}))
                       / ((cr + 1.0) * (tt + {_DSIR_B}))) * 1000000 + 0.5) AS BIGINT) AS lr
  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot
),
dc AS (SELECT doc_id, lang, bucket, count(*) AS n FROM grams GROUP BY 1, 2, 3)
SELECT dc.doc_id,
       any_value(dc.lang) AS lang,
       CAST(sum(n) AS BIGINT) AS n_grams,
       CAST(sum(n * lr) AS BIGINT) AS logweight_scaled
FROM dc JOIN lr USING (bucket)
GROUP BY 1
""",
    tags=("sampling", "dsir", "importance", "training-data"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    score every raw document by its hashed-bigram importance weight
    log(p_target/p_raw), where both distributions are bag-of-hashed-
    bigram models with Laplace smoothing — target = the 'en' slice,
    raw = the whole corpus. High-weight docs look like the target
    domain and get preferentially sampled into the training mix.

    Exactness: the per-bucket log-ratio is quantized ONCE to an int64
    (1e-6 units) on a 256-row frame; the per-document score is then an
    integer dot product Σ count·lr — associative, so ANY partitioning
    gives bit-identical results, and the oracle matches exactly (no
    float summation over data-sized frames, the same discipline as
    PageRank's scaled-int ranks).

    Scale shape: bigrams materialize map-side from the bound words
    array; the corpus shuffles only on document-keyed groupBys
    ((doc_id, bucket) counts, then the per-doc sum). Both distribution
    frames collapse to ≤256 rows before they move, and the log-ratio
    table re-joins the corpus via broadcast — at 100 TB nothing
    document-sized is ever exchanged by anything but doc_id."""
    from firstamerican_etl_spark.sources.io import staging_tag

    return dsir_logweights(
        load_table(spark, sf_dir, "documents"),
        target_lang=_DSIR_TARGET_LANG,
        reuse_key=staging_tag(sf_dir, "documents"),
    )


@register(
    "leakage_safe_split_assign",
    oracle=f"""
WITH RECURSIVE jac_pairs AS (
  SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE})
),
fp AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
  FROM documents
),
exact_pairs AS (
  -- star edges to each fingerprint group's min id: byte-identical
  -- duplicates connect regardless of length (the n-gram graph skips
  -- docs under 5 words — without these edges two identical 4-word
  -- docs could still straddle splits)
  SELECT k.keep AS doc_a, d.doc_id AS doc_b
  FROM fp d JOIN (SELECT f, min(doc_id) AS keep FROM fp GROUP BY 1) k
    ON d.f = k.f
  WHERE d.doc_id > k.keep
),
pairs AS (
  SELECT doc_a, doc_b FROM jac_pairs
  UNION
  SELECT doc_a, doc_b FROM exact_pairs
),
{_CC_LABELS_SQL},
assigned AS (
  SELECT d.doc_id,
         coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
)
SELECT doc_id, cluster_id,
       {split_sql_case('cluster_id')} AS split
FROM assigned
""",
    tags=("sampling", "split", "leakage", "dedup", "training-data"),
)
def leakage_safe_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: split by NEAR-DUP
    CLUSTER, not by document. Hash-range splitting on doc_id
    (train_split_assign) puts two near-identical documents on opposite
    sides of the train/test boundary — the classic contamination that
    inflates eval scores. Here every document inherits its connected-
    component label from the n-gram-Jaccard near-dup graph (singletons
    label themselves) and the md5 hash-range 90/5/5 split is taken on
    the CLUSTER id, so a whole duplicate cluster lands in exactly one
    split, reproducibly under any partitioning/retry. The edge set is
    the n-gram near-dup graph UNION exact-duplicate star edges
    (normalized-md5 fingerprint groups) — the latter are length-
    independent, closing the gap where two byte-identical docs under
    the 5-word shingling floor would otherwise split apart. Near-dups
    below that floor with non-identical bytes remain unclustered by
    construction of the shingle representation.

    Scale shape: the component labeling runs over the (tiny, banded)
    near-dup edge set — the corpus itself only does one broadcast-able
    left join against the |clustered docs|-sized label frame, then a
    pure-map hash split. The invariant 'no near-dup pair straddles
    splits' is pinned by a dedicated pytest property."""
    from firstamerican_etl_spark.operators.graph import connected_components

    jac = dedupplans.ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # exact-duplicate star edges (fingerprint-group member -> group min):
    # length-independent, so identical short docs cluster too
    docs_fp = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(dedupplans._NORM(F.col("text"))).alias("f")
    )
    keep = docs_fp.groupBy("f").agg(F.min("doc_id").alias("keep"))
    exact = (
        docs_fp.join(keep, "f")
        .filter(F.col("doc_id") > F.col("keep"))
        .select(F.col("keep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    pairs = jac.unionByName(exact).distinct()
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    assigned = d.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    return assigned.withColumn("split", split_col(F.col("cluster_id")))


@register(
    "dedup_survivorship_report",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE})
),
{_CC_LABELS_SQL},
members AS (
  SELECT l.cluster_id, d.doc_id,
         len(string_split(d.text, ' ')) AS n_words
  FROM labels l JOIN documents d ON l.doc_id = d.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id, n_words,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY n_words DESC, doc_id
         ) AS rn
  FROM members
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       min(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
       CAST(min(CASE WHEN rn = 1 THEN n_words END) AS BIGINT) AS survivor_words,
       CAST(sum(CASE WHEN rn > 1 THEN n_words ELSE 0 END) AS BIGINT) AS dropped_words
FROM ranked
GROUP BY 1
""",
    tags=("dedup", "survivorship", "cluster", "training-data"),
)
def dedup_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the step AFTER near-dup clustering that an
    actual dedup pipeline runs: per cluster, keep the member with the
    MOST CONTENT (word count desc, doc_id asc tie-break — min-doc_id
    survivorship throws away the longest copy whenever the shortest
    happens to have the smaller id) and report members, the survivor,
    and how many words the drop forfeits. The W1 window idiom applied
    on top of connected components.

    Scale shape: the component labeling runs over the banded near-dup
    edge set; members joins the |clustered docs|-sized label frame
    back to the corpus (broadcast — near-dup clusters are a small
    fraction of a deduped corpus), and the survivor window partitions
    by cluster_id, so no unpartitioned window and nothing corpus-sized
    shuffles on anything but the label join."""
    from firstamerican_etl_spark.operators.graph import connected_components
    from firstamerican_etl_spark.operators.relational import top_k_per_group

    pairs = dedupplans.ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ", -1)).alias("n_words")
    )
    members = d.join(F.broadcast(labels), "doc_id")
    ranked = top_k_per_group(
        members,
        partition_by=["cluster_id"],
        order_by=[F.col("n_words").desc(), F.col("doc_id")],
        k=1 << 30,  # rank all members; rn=1 is the survivor
        rank_col="rn",
    )
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("survivor_id"),
        F.min(F.when(F.col("rn") == 1, F.col("n_words"))).alias("survivor_words"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_words")).otherwise(F.lit(0))).alias(
            "dropped_words"
        ),
    )


_TOKEN_BUDGET = 5000  # per-language token budget for the subsample


@register(
    "token_budget_sample",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
ordered AS (
  SELECT doc_id, lang, n_tokens,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS pick_order,
         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM docs
)
SELECT doc_id, lang, n_tokens, pick_order, cum_tokens
FROM ordered
WHERE cum_tokens - n_tokens < {_TOKEN_BUDGET}
""",
    tags=("sampling", "token-budget", "training-data"),
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language TOKEN-budget subsampling: take documents in
    deterministic md5(doc_id) order within each language until the
    language's token budget is reached (the boundary-crossing doc is
    included, packing-style). Training mixes are specified in tokens,
    not documents — "200B tokens of English, 30B of German" — and this
    is the operator that realizes such a spec reproducibly: membership
    is a pure function of (doc_id, budget), so the same docs are picked
    under repartition, retry, or incremental re-ingest, and the
    selection can be re-derived without a stored manifest (the
    train_split_assign property, extended from counts to token mass).

    Exactness: every column is an integer (token counts, cumulative
    sums, pick order over a collision-free md5 order) — bit-identical
    to the oracle under any partitioning.

    Scale shape: the naive plan is a running sum over
    ``PARTITION BY lang ORDER BY hash`` — ~5 language partitions at
    100 TB means 5 tasks each sorting billions of rows (the W1 skew
    faceplant). Instead the md5 PREFIX (first byte) splits each
    language into 256 ordered sub-buckets: per-(lang, bucket) token
    totals aggregate map-side into a ≤|langs|·256-row frame whose
    running offsets broadcast back, and the within-bucket cumulative
    window runs partitioned by (lang, bucket) — uniformly sized by
    hash, ~256× the parallelism of the naive plan, no single hot task.
    Same recipe as operators/scale.global_row_index, expressed on an
    ordered hash prefix."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("bkt", F.substring("h", 1, 2))
    # per-(lang, bucket) totals: metadata-sized (|langs| x 256)
    bsums = docs.groupBy("lang", "bkt").agg(
        F.sum("n_tokens").alias("bsum"), F.count(F.lit(1)).alias("bn")
    )
    w_off = (
        Window.partitionBy("lang")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bsums.select(
        "lang",
        "bkt",
        F.coalesce(F.sum("bsum").over(w_off), F.lit(0).cast("long")).alias("tok_off"),
        F.coalesce(F.sum("bn").over(w_off), F.lit(0).cast("long")).alias("cnt_off"),
    )
    w_in = Window.partitionBy("lang", "bkt").orderBy("h", "doc_id")
    cum = docs.join(F.broadcast(offs), ["lang", "bkt"]).select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.col("cnt_off") + F.row_number().over(w_in)).alias("pick_order"),
        (
            F.col("tok_off")
            + F.sum("n_tokens").over(
                w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        ).alias("cum_tokens"),
    )
    return cum.filter(F.col("cum_tokens") - F.col("n_tokens") < _TOKEN_BUDGET)


@register(
    "sample_weighted_maxhash",
    oracle="""
WITH d AS (
  SELECT doc_id,
         least(greatest(CAST(floor(len(string_split(text, ' ')) / 64) AS BIGINT)
                        + 1, 1), 16) AS n_tickets
  FROM documents
),
keyed AS (
  SELECT doc_id, n_tickets,
         list_max([md5(doc_id::VARCHAR || ':' || j::VARCHAR)
                   for j in range(1, n_tickets + 1)]) AS skey
  FROM d
)
SELECT doc_id, n_tickets, skey
FROM keyed
ORDER BY skey DESC, doc_id
LIMIT 25
""",
    tags=("sampling", "weighted", "deterministic", "topk"),
)
def sample_weighted_maxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, integer-exact (no float
    RNG): each doc gets w ∈ [1,16] tickets proportional to length, its
    key is max(md5(doc:j), j=1..w) — the max of w iid uniforms has CDF
    u^w, which is EXACTLY the Efraimidis–Spirakis A-ES key u^(1/w)
    ranking, but computed on hex strings (bit-identical everywhere)
    instead of pow()/ln() doubles whose last-ulp drift could flip the
    top-k cutoff between engines/executors. Take the 25 largest keys.

    Scale shape: the key is a pure per-row projection (transform over
    sequence — no explode, no join, no shuffle), then ONE TakeOrdered
    (per-partition top-25, combine on the driver). At 100 TB that is a
    full scan plus K rows per partition — the minimum possible; and
    because the key is a pure function of (doc_id, length), the sample
    is reproducible under retries and re-runs, unlike rand()-weighted
    reservoir approaches."""
    d = load_table(spark, sf_dir, "documents")
    w = F.least(
        F.greatest(
            F.floor(F.size(F.split(F.col("text"), " ", -1)) / F.lit(64)).cast("long")
            + F.lit(1),
            F.lit(1).cast("long"),
        ),
        F.lit(16).cast("long"),
    )
    keyed = d.select(
        "doc_id",
        w.alias("n_tickets"),
        F.array_max(
            F.transform(
                F.sequence(F.lit(1), w.cast("int")),
                lambda j: F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":"), j.cast("string"))
                ),
            )
        ).alias("skey"),
    )
    return keyed.orderBy(F.col("skey").desc(), "doc_id").limit(25)


@register(
    "rendezvous_shard_assign",
    oracle="""
WITH assign AS (
  SELECT doc_id,
         CAST(right(list_max([md5(doc_id::VARCHAR || '|' || s::VARCHAR)
                              || s::VARCHAR for s in range(0, 8)]), 1)
              AS INT) AS shard8,
         CAST(right(list_max([md5(doc_id::VARCHAR || '|' || s::VARCHAR)
                              || s::VARCHAR for s in range(0, 9)]), 1)
              AS INT) AS shard9
  FROM documents
)
SELECT shard8 AS shard,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved
FROM assign
GROUP BY 1
ORDER BY 1
""",
    tags=("sharding", "deterministic", "rendezvous"),
)
def rendezvous_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: doc →
    argmax_s md5(doc|s) over 8 shards, plus the 9-shard assignment and
    the per-shard count of docs that MOVE when a shard is added. HRW's
    guarantee — only ~1/(N+1) of keys move on resize, and they move
    FROM every old shard evenly, never between surviving shards — is
    what makes it the right way to pin training-data shards to workers
    (consistent-hash rings need virtual nodes to balance; HRW is
    balanced by construction). argmax is computed as max over
    (hash ‖ shard_digit) strings — the 32-hex-char hash dominates the
    comparison, the appended digit rides along for extraction — so the
    whole assignment is string ops, bit-identical across engines.

    Scale shape: pure per-row projection (16 md5 calls inside one
    whole-stage-codegen pass, no explode) followed by a GROUP BY on an
    8-value key — a metadata-sized aggregate. At 100 TB: one scan, one
    8-row shuffle."""
    d = load_table(spark, sf_dir, "documents")

    def shard(n: int) -> F.Column:
        return F.substring(
            F.array_max(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n - 1)),
                    lambda s: F.concat(
                        F.md5(
                            F.concat(
                                F.col("doc_id").cast("string"),
                                F.lit("|"),
                                s.cast("string"),
                            )
                        ),
                        s.cast("string"),
                    ),
                )
            ),
            -1,
            1,
        ).cast("int")

    assign = d.select(shard(8).alias("shard8"), shard(9).alias("shard9"))
    return (
        assign.groupBy(F.col("shard8").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("shard9") != F.col("shard8"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_moved"),
        )
        .orderBy("shard")
    )


_EPOCH_SHARDS = 8
_EPOCHS = 2
# the shard id maps ONE hex digit through floor(d / (16 // SHARDS)),
# which yields exactly SHARDS balanced shards only when SHARDS divides
# 16 — any other value silently produces a different, unbalanced count
# in BOTH engines (parity would not catch it). A raise, not an assert:
# python -O strips asserts, and prod spark-submit wrappers commonly
# set PYTHONOPTIMIZE (r10 review, seventh pass)
if 16 % _EPOCH_SHARDS != 0:
    raise ValueError("_EPOCH_SHARDS must divide 16 (hex-digit bucketing)")


@register(
    "epoch_shuffle_shards",
    oracle=f"""
WITH e AS (SELECT unnest(generate_series(0, {_EPOCHS - 1})) AS epoch),
k AS (
  SELECT doc_id, epoch,
         md5('ep' || CAST(epoch AS VARCHAR) || ':'
             || CAST(doc_id AS VARCHAR)) AS key
  FROM documents CROSS JOIN e
),
s AS (
  SELECT doc_id, epoch, key,
         CAST(floor((instr('0123456789abcdef', substring(key, 1, 1)) - 1)
                    / {16 // _EPOCH_SHARDS}) AS BIGINT) AS shard
  FROM k
)
SELECT epoch, shard, doc_id,
       CAST(row_number() OVER (
         PARTITION BY epoch, shard ORDER BY key, doc_id
       ) AS BIGINT) AS pos
FROM s
""",
    tags=("training-data", "sampling", "shuffle", "deterministic"),
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-EPOCH training-data shuffle WITHOUT a global
    sort — the reader-side recipe every large-scale training loop
    needs: each epoch e re-orders the corpus by md5('ep'||e||':'||id),
    docs land on one of {_EPOCH_SHARDS} reader shards by the key's
    first hex char (range bucketing — no modulo-on-BigInteger
    parsing), and the read position within a shard is a row_number
    over a (epoch, shard)-PARTITIONED window. Properties that matter:

    - a NEW permutation per epoch (the key mixes the epoch in), yet
      bit-reproducible under retries, partitioning, and resume — no
      RNG state anywhere;
    - NO global ORDER BY: at 100 TB a total sort per epoch is the
      anti-pattern; per-shard windows shuffle once on (epoch, shard)
      and each shard's order is independent — exactly how concurrent
      readers consume it;
    - shard skew is bounded by md5 uniformity (16 hex chars / 2 per
      shard), and the plan is ONE exchange per epoch·shard partition.

    The oracle replays the identical arithmetic (md5, instr range
    bucket, partitioned row_number with the same (key, doc_id)
    tie-break), so the full (epoch, shard, doc_id, pos) assignment is
    value-checked."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    k = d.crossJoin(F.broadcast(epochs)).select(
        "doc_id",
        "epoch",
        F.md5(
            F.concat(
                F.lit("ep"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("key"),
    )
    shard = F.floor(
        (F.instr(F.lit("0123456789abcdef"), F.substring("key", 1, 1)) - 1)
        / F.lit(16 // _EPOCH_SHARDS)
    ).cast("long")
    w = Window.partitionBy("epoch", "shard").orderBy("key", "doc_id")
    return (
        k.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("epoch", "shard", "doc_id", "pos")
    )
