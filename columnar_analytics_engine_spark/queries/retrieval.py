"""Keyword retrieval + statistical-LM scoring + marketing analytics.

The retrieval pair (inverted index, BM25 top-k) is the keyword twin of
the ANN surface in ``operators/similarity.py``: a training-data platform
needs both embedding search and classic term search (contamination
forensics, targeted corpus probes, eval-set leakage checks).  The
unigram-LM scorer is the statistical-quality signal (pretraining-corpus
filtering à la CCNet) expressed without transcendental functions so the
DuckDB oracle matches bit-for-bit.  The events entries (cohort
retention, touch attribution, EWMA) round out the product-analytics
workload every events warehouse runs.

Reference scope note: the reference engine (C++ columnar scan/agg,
src/query.cpp) has none of this surface; these are extension operators
in the same Spark-first style as queries/pipeline.py.

Cross-engine float strategy (see queries/_util.py): no order-dependent
double aggregation anywhere.  BM25 uses the rational idf surrogate
(N - df + 0.5)/(df + 0.5) instead of its log — identical per-term
monotonicity, zero transcendental-libm risk — and sums a FIXED number
of per-term columns in a fixed textual order, so both engines execute
the identical IEEE expression tree.  The unigram LM reports the mean
token probability (an exact integer ratio) rather than perplexity
(a log): same ordering of documents, exact in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from columnar_analytics_engine_spark.functions import text as X
from columnar_analytics_engine_spark.queries._util import (
    SQL_TOKENS,
    QuerySpec,
    exact_sum,
    sql_exact_sum,
    t,
)


# Fixed benchmark query for the BM25 entry (literal terms so the scoring
# pivot has a static column set; a parameterized search passes its own).
BM25_TERMS: tuple[str, ...] = ("table", "join", "stream")
BM25_K1 = 1.2
BM25_B = 0.75


def _tok(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(X.tokens("text")).alias("token")
    )


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list construction: token -> document frequency + the
    sorted doc-id posting list (comma-joined, so the oracle comparison
    stays scalar).

    One explode + one token-key shuffle — the classic distributed
    index build.  At 100 TB the posting list for a stopword-grade token
    is itself huge; production shards postings by (token, doc_id range)
    — i.e. keep this exact plan but write ``write_sorted``-style
    range-partitioned output instead of one array row — and the hot-key
    handling mirrors the LSH hot-bucket cap (operators/dedup.py).
    """
    docs = t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id", F.explode(X.distinct_tokens("text")).alias("token")
    )
    return (
        per_doc.groupBy("token")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .orderBy("token")
    )


def retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for the fixed query ``BM25_TERMS``.

    Classic Okapi shape: tf saturation ``tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))``
    and per-term idf, summed over query terms.  The idf is the rational
    surrogate ``(N - df + 0.5)/(df + 0.5)`` (monotone in df exactly like
    the log form; see module doc).  Per-term scores are pivoted into
    static columns and added in fixed order, so the sum is a fixed IEEE
    expression tree, not an order-dependent aggregation.

    Scale shape: one token-key shuffle for tf, a broadcast of the
    3-row df table and the 1-row corpus stats, then a TakeOrdered
    top-k — no global sort, no driver loop.
    """
    from columnar_analytics_engine_spark.functions.caching import persist_once as _persist_once

    docs = t(spark, sf_dir, "documents")
    tok = _tok(docs)
    hits = tok.filter(F.col("token").isin(*BM25_TERMS))
    # one explode over the corpus, memoized; df derives from the tf
    # table (rows are distinct (doc, token)) instead of a second explode
    tf = _persist_once(
        hits.groupBy("doc_id", "token").agg(
            F.count("*").cast("double").alias("tf")
        )
    )
    df_ = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    dl = docs.select(
        "doc_id", X.token_count("text").cast("double").alias("dl")
    )
    stats = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum(X.token_count("text")).cast("double").alias("total_tokens"),
    )

    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    avgdl = F.col("total_tokens") / F.col("n_docs")
    denom = F.col("tf") + F.lit(BM25_K1) * (
        (F.lit(1.0) - F.lit(BM25_B)) + (F.lit(BM25_B) * F.col("dl")) / avgdl
    )
    score = idf * ((F.col("tf") * F.lit(BM25_K1 + 1.0)) / denom)

    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", "token", score.alias("s"))
    )
    pivoted = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("token") == term, F.col("s"))).alias(f"s_{i}")
            for i, term in enumerate(BM25_TERMS)
        ]
    )
    total = F.coalesce(F.col("s_0"), F.lit(0.0))
    for i in range(1, len(BM25_TERMS)):
        total = total + F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
    n_hit = sum(
        F.when(F.col(f"s_{i}").isNotNull(), 1).otherwise(0)
        for i in range(len(BM25_TERMS))
    )
    return (
        pivoted.select(
            "doc_id",
            total.alias("bm25"),
            n_hit.cast("long").alias("n_query_terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


def text_unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality score: mean add-one-smoothed unigram
    probability of each document's tokens under the corpus-wide unigram
    model — the CCNet-style "how typical is this text" filter signal.

    mean_tok_prob(d) = (sum_t c(t) + n_d) / (n_d * (T + V)) where c(t)
    is the corpus count of token t, summed over d's token INSTANCES,
    n_d = |d|, T = total corpus tokens, V = vocabulary size.  The
    numerator and denominator are exact integer sums (see module doc),
    so the single final division is bit-identical in both engines;
    unusual/rare-token documents score low, template-like documents
    score high.  ``min_tok_count`` (the rarest token's corpus count) is
    the companion rarity signal.

    Scale shape: token-key shuffle for counts, broadcast of the 1-row
    (T, V) stats, doc-key shuffle for per-doc sums.  The scaled-integer
    products stay below 2^53 up to ~10^15 corpus tokens per the
    decimal-switch note in queries/_util.py.
    """
    from columnar_analytics_engine_spark.functions.caching import persist_once as _persist_once

    docs = t(spark, sf_dir, "documents")
    # One explode into the word-count-scale (doc, token, tf) table,
    # memoized because three consumers derive from it (vocabulary
    # counts, corpus totals, per-doc sums) — left lazy the explode runs
    # per consumer and the probe was measured 17× slower at 10× docs.
    dtf = _persist_once(
        _tok(docs)
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # vocabulary-sized and consumed twice (corpus totals + the per-doc
    # join) — persisted so the dtf groupBy runs once, not per consumer
    counts = _persist_once(
        dtf.groupBy(F.col("token").alias("ctoken")).agg(
            F.sum("tf").cast("long").alias("c")
        )
    )
    # corpus totals come from the vocabulary table (tiny), never from a
    # rescan of the token stream
    stats = counts.agg(
        F.sum("c").cast("long").alias("t_tokens"),
        F.count("*").cast("long").alias("v_size"),
    )
    # vocabulary-keyed join: AQE converts it to broadcast while the
    # vocabulary is small; a web-scale vocabulary falls back to a
    # sort-merge join on the token key (deliberately NOT a hard
    # broadcast — distinct-token counts grow with corpus size)
    per_doc = (
        dtf.join(counts, dtf.token == F.col("ctoken"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("c")).cast("long").alias("corpus_hits"),
            F.min("c").cast("long").alias("min_tok_count"),
        )
    )
    mean_prob = (F.col("corpus_hits") + F.col("n_tokens")).cast("double") / (
        F.col("n_tokens") * (F.col("t_tokens") + F.col("v_size"))
    ).cast("double")
    return (
        per_doc.join(F.broadcast(stats))
        .select(
            "doc_id",
            "n_tokens",
            "corpus_hits",
            "min_tok_count",
            mean_prob.alias("mean_tok_prob"),
        )
        .orderBy("doc_id")
    )


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen day, counted per
    week offset — the standard retention triangle.

    Two shuffles (user-key min, then cohort-cell count-distinct); the
    first-seen table is user-keyed and reusable across all cohort
    reports at scale.
    """
    ev = t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    joined = ev.select("user_id", day.alias("day")).join(firsts, "user_id")
    week_offset = F.floor(
        F.datediff(F.col("day"), F.col("cohort_day")) / 7
    ).cast("long")
    return (
        joined.groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            week_offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_day", "week_offset")
    )


_TOUCH_TYPES = ("click", "view", "signup")


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution of purchase revenue.

    For every purchase, the first and most recent non-purchase touch
    event in the user's history (running first/last over a user-keyed
    window — one shuffle, no self-join), then revenue rolled up by the
    (first_touch, last_touch) channel pair with the exact-sum
    accumulator.  Purchases with no prior touch are attributed to
    'none' rather than dropped (funnel accounting must add up).
    """
    ev = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    touch = F.when(F.col("event_type").isin(*_TOUCH_TYPES), F.col("event_type"))
    enriched = ev.select(
        "user_id",
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
            F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
        )
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            exact_sum("value", "revenue"),
        )
        .orderBy("first_touch", "last_touch")
    )


# Truncated binary-weight EWMA: weights over the last 8 observations,
# newest first.  2^-1 .. 2^-7, with the tail weight duplicated so the
# total is exactly 1.  Every weight is a power of two, so weight*cents
# is an exact double product and the 8-term fixed-order sum is exact —
# no order dependence, no rounding drift, identical in DuckDB.
_EWMA_WEIGHTS: tuple[float, ...] = (
    0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125, 0.0078125,
)


def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of the event value (cents-exact, truncated at 8
    lags — see ``_EWMA_WEIGHTS``).  The smoothing pass behind rate
    limiting / anomaly baselines; one user-key window shuffle, emitted
    only where the full window exists so every output is exact.
    """
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    df = ev.select(
        "user_id",
        "event_id",
        "value",
        cents.alias("c0"),
        F.row_number().over(w).alias("_rn"),
        *[F.lag(cents, j).over(w).alias(f"c{j}") for j in range(1, 8)],
    )
    ewma_cents = F.col("c0") * F.lit(_EWMA_WEIGHTS[0])
    for j in range(1, 8):
        ewma_cents = ewma_cents + F.col(f"c{j}") * F.lit(_EWMA_WEIGHTS[j])
    return (
        df.filter(F.col("_rn") >= 8)
        .select(
            "user_id",
            "event_id",
            "value",
            (ewma_cents / F.lit(100.0)).alias("ewma_value"),
        )
        .orderBy("user_id", "event_id")
    )


def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch cardinality report: per-event-type HLL sketches
    of the user set, plus their union — the shard-mergeable pattern a
    1000-executor distinct-count runs (partial sketches merge
    associatively; no exact distinct shuffle).

    Rows-only for the driver (DuckDB's approx_distinct is a different
    sketch); accuracy and merge-associativity are pinned against exact
    counts in tests/test_retrieval.py.
    """
    ev = t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    by_type = per_type.select(
        "event_type", F.hll_sketch_estimate("sk").cast("long").alias("est_users")
    )
    union_row = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est_users")
    ).select(F.lit("ALL").alias("event_type"), "est_users")
    return by_type.unionByName(union_row).orderBy("event_type")


_CMS_DEPTH = 4    # hash rows
_CMS_WIDTH = 256  # counters per row


def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates vs exact counts for the top
    20 users by event volume.

    The CMS is the frequency twin of the HLL cardinality sketch
    (``sketch_distinct_users``): d×w counters, each event incrementing
    one counter per hash row; a key's estimate is the MIN over its d
    counters (always ≥ the true count).  Counters merge by addition, so
    1000 executors build partial sketches map-side and one tiny reduce
    combines them — the shuffle carries d·w = 1024 counters, not user
    cardinality.  Unlike Spark's built-in HLL/approx sketches, the hash
    family here is the engine's own md5-derived h60, so the ORACLE
    REBUILDS THE EXACT SKETCH and the estimates hash-match bit-for-bit.
    """
    from columnar_analytics_engine_spark.functions.caching import persist_once
    from columnar_analytics_engine_spark.functions.hashing import h60

    rows = F.array(*[F.lit(i) for i in range(_CMS_DEPTH)])
    # Counter (row, bucket) totals are SUMS over the users hashing into
    # the bucket, so the sketch builds exactly from the per-user
    # aggregate: one events scan (vs two), and the d md5s are paid per
    # DISTINCT USER, not per event — at 100 TB the hash cost tracks user
    # cardinality while the scan stays a map-side-combined count.
    exact = persist_once(
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
    )
    hashed = exact.select(
        "exact_n", F.explode(rows).alias("row_id"), F.col("user_id").cast("string").alias("u")
    ).select(
        "row_id",
        "exact_n",
        F.pmod(
            h60("cms", "CONCAT(CAST(row_id AS STRING), ':', u)"),
            F.lit(_CMS_WIDTH),
        ).alias("bucket"),
    )
    counters = hashed.groupBy("row_id", "bucket").agg(F.sum("exact_n").alias("c"))
    top = exact.orderBy(F.col("exact_n").desc(), "user_id").limit(20)
    probes = top.select(
        "user_id",
        "exact_n",
        F.explode(rows).alias("row_id"),
    ).select(
        "user_id",
        "exact_n",
        "row_id",
        F.pmod(
            h60("cms", "CONCAT(CAST(row_id AS STRING), ':', CAST(user_id AS STRING))"),
            F.lit(_CMS_WIDTH),
        ).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(counters), ["row_id", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
        .orderBy(F.col("exact_n").desc(), "user_id")
    )


_SQL_HEAVY_HITTERS = f"""
WITH rows_t(row_id) AS (VALUES (0), (1), (2), (3)),
counters AS (
  SELECT row_id,
         CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms', CAST(row_id AS VARCHAR), ':',
              CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % {_CMS_WIDTH} AS bucket,
         COUNT(*) AS c
  FROM events CROSS JOIN rows_t
  GROUP BY 1, 2
),
exact AS (
  SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
),
top AS (
  SELECT user_id, exact_n FROM exact
  ORDER BY exact_n DESC, user_id LIMIT 20
),
probes AS (
  SELECT t.user_id, t.exact_n, r.row_id,
         CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms', CAST(r.row_id AS VARCHAR), ':',
              CAST(t.user_id AS VARCHAR))), 1, 15)) AS BIGINT) % {_CMS_WIDTH} AS bucket
  FROM top t CROSS JOIN rows_t r
)
SELECT p.user_id, p.exact_n, MIN(c.c) AS cms_estimate
FROM probes p JOIN counters c ON p.row_id = c.row_id AND p.bucket = c.bucket
GROUP BY p.user_id, p.exact_n
ORDER BY p.exact_n DESC, p.user_id
"""


_SQL_BM25_HITS = ",".join(f"'{t_}'" for t_ in BM25_TERMS)


QUERIES: dict[str, QuerySpec] = {
    "text_inverted_index": QuerySpec(
        text_inverted_index,
        f"""
        WITH tok AS (
          SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS token
          FROM documents
        )
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS df,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        FROM tok GROUP BY token ORDER BY token
        """,
        "posting-list inverted index over document tokens",
        ("retrieval", "text"),
    ),
    "retrieval_bm25_topk": QuerySpec(
        retrieval_bm25_topk,
        f"""
        WITH tok AS (
          SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
        ),
        hits AS (SELECT * FROM tok WHERE token IN ({_SQL_BM25_HITS})),
        tf AS (
          SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
          FROM hits GROUP BY 1, 2
        ),
        df AS (
          SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
          FROM hits GROUP BY 1
        ),
        dl AS (
          SELECT doc_id, CAST(len({SQL_TOKENS}) AS DOUBLE) AS dl FROM documents
        ),
        stats AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 CAST(SUM(len({SQL_TOKENS})) AS DOUBLE) AS total_tokens
          FROM documents
        ),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 ((n_docs - df + 0.5) / (df + 0.5))
                 * ((tf * {BM25_K1 + 1.0}) /
                    (tf + {BM25_K1} * ((1.0 - {BM25_B}) + ({BM25_B} * dl) / (total_tokens / n_docs))))
                 AS s
          FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        ),
        pivoted AS (
          SELECT doc_id,
                 {", ".join(f"MAX(CASE WHEN token = '{t_}' THEN s END) AS s_{i}" for i, t_ in enumerate(BM25_TERMS))}
          FROM scored GROUP BY doc_id
        )
        SELECT doc_id,
               {" + ".join(f"COALESCE(s_{i}, 0.0)" for i in range(len(BM25_TERMS)))} AS bm25,
               CAST({" + ".join(f"(CASE WHEN s_{i} IS NOT NULL THEN 1 ELSE 0 END)" for i in range(len(BM25_TERMS)))} AS BIGINT)
                 AS n_query_terms_hit
        FROM pivoted
        ORDER BY bm25 DESC, doc_id
        LIMIT 10
        """,
        "Okapi BM25 top-10 for a fixed keyword query (rational idf)",
        ("retrieval", "text", "topk"),
    ),
    "text_unigram_lm_quality": QuerySpec(
        text_unigram_lm_quality,
        f"""
        WITH tok AS (
          SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
        ),
        counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS t_tokens,
                 CAST(COUNT(DISTINCT token) AS BIGINT) AS v_size
          FROM tok
        ),
        per_doc AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 CAST(SUM(c) AS BIGINT) AS corpus_hits,
                 CAST(MIN(c) AS BIGINT) AS min_tok_count
          FROM tok JOIN counts USING (token) GROUP BY 1
        )
        SELECT doc_id, n_tokens, corpus_hits, min_tok_count,
               CAST(corpus_hits + n_tokens AS DOUBLE)
                 / CAST(n_tokens * (t_tokens + v_size) AS DOUBLE) AS mean_tok_prob
        FROM per_doc CROSS JOIN stats
        ORDER BY doc_id
        """,
        "add-one unigram-LM mean token probability (corpus-typicality score)",
        ("text", "quality"),
    ),
    "events_cohort_retention": QuerySpec(
        events_cohort_retention,
        """
        WITH firsts AS (
          SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
          FROM events GROUP BY 1
        )
        SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
               CAST(floor(date_diff('day', cohort_day, date_trunc('day', ts)) / 7)
                    AS BIGINT) AS week_offset,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM events e JOIN firsts USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "cohort retention triangle (first-seen day x week offset)",
        ("events", "analytics"),
    ),
    "events_attribution": QuerySpec(
        events_attribution,
        f"""
        WITH enriched AS (
          SELECT user_id, event_type, value,
                 first_value(CASE WHEN event_type IN ('click','view','signup')
                                  THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_touch,
                 last_value(CASE WHEN event_type IN ('click','view','signup')
                                 THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_touch
          FROM events
        )
        SELECT COALESCE(first_touch, 'none') AS first_touch,
               COALESCE(last_touch, 'none') AS last_touch,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               {sql_exact_sum('value', 'revenue')}
        FROM enriched WHERE event_type = 'purchase'
        GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "first/last-touch purchase attribution with exact revenue",
        ("events", "analytics", "window"),
    ),
    "events_ewma_value": QuerySpec(
        events_ewma_value,
        f"""
        WITH lagged AS (
          SELECT user_id, event_id, value,
                 CAST(ROUND(value * 100) AS BIGINT) AS c0,
                 ROW_NUMBER() OVER w AS _rn,
                 {", ".join(f"lag(CAST(ROUND(value * 100) AS BIGINT), {j}) OVER w AS c{j}" for j in range(1, 8))}
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id, value,
               ({" + ".join(f"c{j} * {_EWMA_WEIGHTS[j]!r}" for j in range(8))}) / 100.0
                 AS ewma_value
        FROM lagged WHERE _rn >= 8
        ORDER BY user_id, event_id
        """,
        "per-user binary-weight EWMA of event value (cents-exact)",
        ("events", "window", "timeseries"),
    ),
    "sketch_distinct_users": QuerySpec(
        sketch_distinct_users,
        None,  # DuckDB's approx sketch differs; accuracy pinned in pytest
        "mergeable HLL distinct-user sketches per type + union",
        ("sketch", "approx"),
    ),
    "sketch_heavy_hitters": QuerySpec(
        sketch_heavy_hitters,
        _SQL_HEAVY_HITTERS,
        "count-min-sketch frequency estimates vs exact counts (own hash family — oracle rebuilds the sketch)",
        ("sketch", "approx", "events"),
    ),
}


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch
# ---------------------------------------------------------------------------

_HQ_WIDTH = 1000.0  # value-space bin width for l_extendedprice
_HQ_QUANTILES = (0.5, 0.9, 0.99)


def approx_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed-width histogram sketch: bin
    counts (one map-side-combined groupBy), then linear interpolation
    inside the first bin whose cumulative count reaches ``q*n``.

    This is the mergeable-quantile pattern for a 1000-executor cluster:
    each shard's histogram is an O(bins) integer vector, merged
    associatively — unlike exact percentile (global sort) the data is
    touched once and never re-shuffled.  The cumulative window runs on
    the ~100-row bin table, not the data, so its single-partition
    window is bounded by the bin count, not the corpus.  Accuracy is
    bounded by the bin width (pinned in tests/test_approx.py); the
    estimate itself is deterministic, so the DuckDB oracle replays it
    exactly.
    """
    df = t(spark, sf_dir, "lineitem")
    binned = df.select(
        F.floor(F.col("l_extendedprice") / F.lit(_HQ_WIDTH)).cast("long").alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count("*").alias("cnt"))
    w_cum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.select(
        "bin", "cnt", F.sum("cnt").over(w_cum).alias("cum")
    ).withColumn("n", F.sum("cnt").over(W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing)))
    qs = spark.createDataFrame([(q,) for q in _HQ_QUANTILES], "q double")
    target = F.col("q") * F.col("n").cast("double")
    hit = (
        cum.join(F.broadcast(qs))
        .filter(F.col("cum").cast("double") >= target)
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("q").orderBy("bin")
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    est = (
        F.col("bin").cast("double") * F.lit(_HQ_WIDTH)
        + F.lit(_HQ_WIDTH)
        * (target - (F.col("cum") - F.col("cnt")).cast("double"))
        / F.col("cnt").cast("double")
    )
    return hit.select(
        "q", F.round(est, 6).alias("approx_value"), F.col("n").alias("n_rows")
    ).orderBy("q")


_SQL_HQ = f"""
WITH hist AS (
  SELECT CAST(FLOOR(l_extendedprice / {_HQ_WIDTH!r}) AS BIGINT) AS bin,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS n
  FROM hist
),
qs AS (SELECT unnest([{", ".join(repr(q) for q in _HQ_QUANTILES)}]) AS q),
hit AS (
  SELECT q, bin, cnt, cum, n,
         ROW_NUMBER() OVER (PARTITION BY q ORDER BY bin) AS _rn
  FROM cum CROSS JOIN qs
  WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
)
SELECT q,
       ROUND(CAST(bin AS DOUBLE) * {_HQ_WIDTH!r}
             + {_HQ_WIDTH!r} * (q * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
               / CAST(cnt AS DOUBLE), 6) AS approx_value,
       CAST(n AS BIGINT) AS n_rows
FROM hit WHERE _rn = 1
ORDER BY q
"""

QUERIES["approx_quantile_histogram"] = QuerySpec(
    approx_quantile_histogram,
    _SQL_HQ,
    "mergeable fixed-bin histogram quantiles (p50/p90/p99, interpolated)",
    ("sketch", "approx"),
)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical + vector rankings
# ---------------------------------------------------------------------------

_RRF_K = 60  # standard RRF dampening constant
_RRF_TOPK = 10


def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse the BM25 lexical top-10 (query
    ``BM25_TERMS``) with the embedding-cosine top-10 (query vector
    ``vec_id = 0``; ``vec_id`` is the embedding of document ``doc_id``)
    by reciprocal-rank fusion ``score = Σ 1/(60 + rank)`` — the
    standard fusion rule dense+sparse retrieval stacks use, robust to
    the two scores living on incomparable scales.

    Scale shape: each ranking is already top-k (TakeOrdered / per-query
    window), so fusion joins two ≤k-row tables — broadcast territory
    regardless of corpus size.  The rank windows below run on ≤10-row
    inputs, bounded by k, not the corpus.
    """
    from columnar_analytics_engine_spark.operators.similarity import cosine_topk

    lex = retrieval_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("long")
        .alias("lex_rank"),
    )
    emb = t(spark, sf_dir, "embeddings")
    sem = cosine_topk(emb.filter(F.col("vec_id") == 0), emb, k=_RRF_TOPK).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("lex_rank").cast("double")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("sem_rank").cast("double")),
        F.lit(0.0),
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(_RRF_TOPK)
    )


_SQL_HYBRID_RRF = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
),
hits AS (SELECT * FROM tok WHERE token IN ({_SQL_BM25_HITS})),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM hits GROUP BY 1, 2
),
df AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM hits GROUP BY 1
),
dl AS (
  SELECT doc_id, CAST(len({SQL_TOKENS}) AS DOUBLE) AS dl FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(len({SQL_TOKENS})) AS DOUBLE) AS total_tokens
  FROM documents
),
scored AS (
  SELECT tf.doc_id, tf.token,
         ((n_docs - df + 0.5) / (df + 0.5))
         * ((tf * {BM25_K1 + 1.0}) /
            (tf + {BM25_K1} * ((1.0 - {BM25_B}) + ({BM25_B} * dl) / (total_tokens / n_docs))))
         AS s
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
),
pivoted AS (
  SELECT doc_id,
         {", ".join(f"MAX(CASE WHEN token = '{t_}' THEN s END) AS s_{i}" for i, t_ in enumerate(BM25_TERMS))}
  FROM scored GROUP BY doc_id
),
lex AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
           AS lex_rank
  FROM (
    SELECT doc_id,
           {" + ".join(f"COALESCE(s_{i}, 0.0)" for i in range(len(BM25_TERMS)))} AS bm25
    FROM pivoted ORDER BY bm25 DESC, doc_id LIMIT 10
  ) top_lex
),
n AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                          list_transform(embedding, x -> CAST(x AS DOUBLE))) AS sq_norm
  FROM embeddings
),
sem AS (
  SELECT neighbor_id AS doc_id, sem_rank FROM (
    SELECT c.vec_id AS neighbor_id,
           CAST(ROW_NUMBER() OVER (ORDER BY
             ROUND(list_dot_product(q.v, c.v)
                   / (SQRT(q.sq_norm) * SQRT(c.sq_norm)), 4) DESC,
             c.vec_id) AS BIGINT) AS sem_rank
    FROM n q JOIN n c ON q.vec_id != c.vec_id
    WHERE q.vec_id = 0) sub
  WHERE sem_rank <= {_RRF_TOPK}
)
SELECT doc_id, lex_rank, sem_rank,
       COALESCE(1.0 / ({_RRF_K}.0 + CAST(lex_rank AS DOUBLE)), 0.0)
       + COALESCE(1.0 / ({_RRF_K}.0 + CAST(sem_rank AS DOUBLE)), 0.0) AS rrf_score
FROM lex FULL OUTER JOIN sem USING (doc_id)
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_TOPK}
"""

QUERIES["retrieval_hybrid_rrf"] = QuerySpec(
    retrieval_hybrid_rrf,
    _SQL_HYBRID_RRF,
    "reciprocal-rank fusion of BM25 lexical and embedding-cosine rankings",
    ("retrieval", "similarity", "topk"),
)


def approx_quantile_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped quantiles from per-group histogram sketches: p50/p90 of
    ``l_extendedprice`` per ``l_returnflag``, interpolated inside the
    first bin whose per-group cumulative count reaches ``q*n_g``.

    The grouped form of :func:`approx_quantile_histogram` — and the
    reason the histogram beats exact percentile at scale: every window
    below is partitioned by the group key, so NOTHING in the plan is
    single-partition.  Each group's sketch is an O(bins) vector built
    with map-side combine; a 100 TB table with millions of group keys
    runs this as one well-distributed shuffle on (group, bin).
    """
    df = t(spark, sf_dir, "lineitem")
    hist = (
        df.select(
            F.col("l_returnflag").alias("grp"),
            F.floor(F.col("l_extendedprice") / F.lit(_HQ_WIDTH)).cast("long").alias("bin"),
        )
        .groupBy("grp", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    w_cum = W.partitionBy("grp").orderBy("bin").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy("grp").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        "grp", "bin", "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    qs = spark.createDataFrame([(q,) for q in (0.5, 0.9)], "q double")
    target = F.col("q") * F.col("n").cast("double")
    hit = (
        cum.join(F.broadcast(qs))
        .filter(F.col("cum").cast("double") >= target)
        .withColumn(
            "_rn", F.row_number().over(W.partitionBy("grp", "q").orderBy("bin"))
        )
        .filter(F.col("_rn") == 1)
    )
    est = (
        F.col("bin").cast("double") * F.lit(_HQ_WIDTH)
        + F.lit(_HQ_WIDTH)
        * (target - (F.col("cum") - F.col("cnt")).cast("double"))
        / F.col("cnt").cast("double")
    )
    return hit.select(
        "grp", "q", F.round(est, 6).alias("approx_value"),
        F.col("n").alias("n_rows"),
    ).orderBy("grp", "q")


_SQL_HQ_GRP = f"""
WITH hist AS (
  SELECT l_returnflag AS grp,
         CAST(FLOOR(l_extendedprice / {_HQ_WIDTH!r}) AS BIGINT) AS bin,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT grp, bin, cnt,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY grp) AS n
  FROM hist
),
qs AS (SELECT unnest([0.5, 0.9]) AS q),
hit AS (
  SELECT grp, q, bin, cnt, cum, n,
         ROW_NUMBER() OVER (PARTITION BY grp, q ORDER BY bin) AS _rn
  FROM cum CROSS JOIN qs
  WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
)
SELECT grp, q,
       ROUND(CAST(bin AS DOUBLE) * {_HQ_WIDTH!r}
             + {_HQ_WIDTH!r} * (q * CAST(n AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
               / CAST(cnt AS DOUBLE), 6) AS approx_value,
       CAST(n AS BIGINT) AS n_rows
FROM hit WHERE _rn = 1
ORDER BY grp, q
"""

QUERIES["approx_quantile_by_group"] = QuerySpec(
    approx_quantile_by_group,
    _SQL_HQ_GRP,
    "per-group histogram-sketch quantiles (p50/p90 per return flag, fully partitioned)",
    ("sketch", "approx", "agg"),
)


# ---------------------------------------------------------------------------
# positional index + exact phrase search
# ---------------------------------------------------------------------------

_PHRASE = ("data", "query")


def retrieval_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("data query") via positional postings: the
    capability a doc-level inverted index (text_inverted_index) cannot
    express — phrase match needs token POSITIONS and an adjacency join
    (pos_b = pos_a + 1), the classic search-engine phrase plan.

    Scale shape: the positional explode filters to the phrase's terms
    IMMEDIATELY (in production the phrase terms' posting lists are the
    only index rows read — term-keyed pruning), so the adjacency join
    is doc-keyed over two slim posting sets, never the whole index.
    Output: per-doc occurrence count, ranked.
    """
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(X.tokens("text")).alias("pos", "token")
    ).filter(F.col("token").isin(*_PHRASE))
    a = tok.filter(F.col("token") == _PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = tok.filter(F.col("token") == _PHRASE[1]).select(
        "doc_id", F.col("pos").alias("pb")
    )
    return (
        a.join(b, "doc_id")
        .filter(F.col("pb") == F.col("pa") + 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .orderBy(F.col("n_hits").desc(), "doc_id")
    )


QUERIES["retrieval_phrase_search"] = QuerySpec(
    retrieval_phrase_search,
    f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(generate_subscripts({SQL_TOKENS}, 1) - 1 AS INT) AS pos,
             unnest({SQL_TOKENS}) AS token
      FROM documents
    ),
    a AS (SELECT doc_id, pos AS pa FROM tok WHERE token = '{_PHRASE[0]}'),
    b AS (SELECT doc_id, pos AS pb FROM tok WHERE token = '{_PHRASE[1]}')
    SELECT a.doc_id, COUNT(*) AS n_hits
    FROM a JOIN b ON a.doc_id = b.doc_id AND b.pb = a.pa + 1
    GROUP BY 1 ORDER BY n_hits DESC, a.doc_id
    """,
    "exact phrase search via positional postings (adjacency join on term positions)",
    ("retrieval", "text"),
)


# ---------------------------------------------------------------------------
# interpolated bigram LM quality score
# ---------------------------------------------------------------------------

_BG_LAMBDA = 0.7  # bigram weight; 1-lambda backs off to add-one unigram


def text_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score: mean log-probability of each document's
    token transitions under an interpolated corpus bigram model —
    P(w2|w1) = λ·c(w1,w2)/c(w1·) + (1-λ)·(c(w2)+1)/(T+V).  Where the
    unigram score (text_unigram_lm_quality) measures vocabulary
    typicality, this measures SEQUENCE typicality: shuffled or
    boilerplate-spliced text scores low even when its token mix is
    normal — the next quality gate after unigram filtering.

    Exactness: every count is an exact integer; each position's P is a
    fixed chain of IEEE ops on those integers, and ln(P) is rounded to
    micro-nats per position before the associative integer sum (the
    `_util`/KL strategy).  Scale shape: bigram instances come from an
    arrays_zip (no self-join); model joins are bigram- and token-keyed
    shuffles; corpus totals are a broadcast 1-row aggregate.
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokens("text").alias("l")).filter(
        F.size("l") >= 2
    )
    from columnar_analytics_engine_spark.functions.caching import persist_once as _persist_once

    # the bigram-instance table feeds model counts AND per-doc scoring;
    # the model tables each feed two consumers — all plan-keyed
    # persisted so each explode/groupBy executes once, not per consumer
    # (same memoization pattern as text_unigram_lm_quality's dtf)
    pairs = _persist_once(
        toks.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("l"), 1, F.size("l") - 1).alias("w1"),
                    F.slice(F.col("l"), 2, F.size("l") - 1).alias("w2"),
                )
            ).alias("bg"),
        ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    bg_counts = _persist_once(
        pairs.groupBy(F.col("w1").alias("b1"), F.col("w2").alias("b2")).agg(
            F.count("*").alias("cb")
        )
    )
    ctx = bg_counts.groupBy(F.col("b1").alias("cw")).agg(
        F.sum("cb").alias("cctx")
    )
    uni = _persist_once(
        docs.select(F.explode(X.tokens("text")).alias("u"))
        .groupBy("u")
        .agg(F.count("*").alias("cu"))
    )
    stats = uni.agg(
        F.sum("cu").alias("t_tokens"), F.count("*").alias("v_size")
    )
    p = F.lit(_BG_LAMBDA) * (
        F.col("cb").cast("double") / F.col("cctx").cast("double")
    ) + F.lit(1.0 - _BG_LAMBDA) * (
        (F.col("cu") + 1).cast("double")
        / (F.col("t_tokens") + F.col("v_size")).cast("double")
    )
    term = F.round(F.log(p) * F.lit(1e6)).cast("long")
    scored = (
        pairs.join(bg_counts, (F.col("w1") == F.col("b1")) & (F.col("w2") == F.col("b2")))
        .join(ctx, F.col("w1") == F.col("cw"))
        .join(uni, F.col("w2") == F.col("u"))
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum(term).alias("_s"))
    )
    mean_logp = (F.col("_s").cast("double") / F.lit(1e6)) / F.col("n_bigrams").cast(
        "double"
    )
    return scored.select(
        "doc_id", "n_bigrams", F.round(mean_logp, 6).alias("bigram_logprob")
    ).orderBy("doc_id")


QUERIES["text_bigram_lm_quality"] = QuerySpec(
    text_bigram_lm_quality,
    f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS} AS l FROM documents
      WHERE len({SQL_TOKENS}) >= 2
    ),
    pairs AS (
      SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM toks) x
    ),
    bg AS (SELECT w1 AS b1, w2 AS b2, COUNT(*) AS cb FROM pairs GROUP BY 1, 2),
    ctx AS (SELECT b1 AS cw, SUM(cb) AS cctx FROM bg GROUP BY 1),
    uni AS (
      SELECT token AS u, COUNT(*) AS cu FROM (
        SELECT unnest({SQL_TOKENS}) AS token FROM documents) y
      GROUP BY 1
    ),
    stats AS (SELECT SUM(cu) AS t_tokens, COUNT(*) AS v_size FROM uni),
    scored AS (
      SELECT p.doc_id, COUNT(*) AS n_bigrams,
             SUM(CAST(ROUND(LN({_BG_LAMBDA} * (CAST(cb AS DOUBLE) / CAST(cctx AS DOUBLE))
                     + {1.0 - _BG_LAMBDA} * (CAST(cu + 1 AS DOUBLE)
                        / CAST(t_tokens + v_size AS DOUBLE))) * 1e6) AS BIGINT)) AS s
      FROM pairs p
      JOIN bg ON p.w1 = bg.b1 AND p.w2 = bg.b2
      JOIN ctx ON p.w1 = ctx.cw
      JOIN uni ON p.w2 = uni.u
      CROSS JOIN stats
      GROUP BY 1
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           ROUND((CAST(s AS DOUBLE) / 1e6) / CAST(n_bigrams AS DOUBLE), 6)
             AS bigram_logprob
    FROM scored ORDER BY doc_id
    """,
    "interpolated bigram-LM sequence-typicality score (micro-nat exact)",
    ("text", "quality"),
)


# ---------------------------------------------------------------------------
# sparse TF-IDF cosine retrieval (more-like-this)
# ---------------------------------------------------------------------------

def retrieval_tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most similar documents per query doc (doc_id < 3) by
    SPARSE TF-IDF cosine — the "more like this" retrieval shape, and
    the sparse complement of the dense ANN surface: similarity flows
    through an inverted-index join on shared terms (token-keyed
    shuffle, cost ∝ co-occurring postings), never through dense
    vectors or pairwise comparison.

    Exactness: smoothed idf ln((N+1)/df) is 1e-4-quantized to an
    integer; per-(doc,term) weight w = tf·idf_q is exact int64 (≤ ~4e7
    at plausible tf), so dots and squared norms are exact integer sums
    (≤ ~1e17 at this vocabulary — switch to DECIMAL(38) accumulators
    past ~10^5-term documents); the cosine is one double division
    rounded to 4 places, both engines identical.
    """
    from columnar_analytics_engine_spark.functions.caching import persist_once as _persist_once

    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("token"))
    tf = _persist_once(tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    idf_q = F.round(
        F.log((F.col("n_docs") + 1).cast("double") / F.col("df").cast("double"))
        * F.lit(1e4)
    ).cast("long")
    wtab = (
        tf.join(df_, "token")
        .join(F.broadcast(n_docs))
        .select("doc_id", "token", (F.col("tf") * idf_q).alias("w"))
    )
    # eager localCheckpoint, not persist: the weight table feeds three
    # branches (norms, query side, candidate side); checkpointing both
    # guarantees one build AND truncates the lineage, so downstream
    # plans don't re-embed the build's 1-row n_docs exchange (a
    # persist's InMemoryTableScan reprints it per reference, which made
    # plan-shape linting depend on cache materialization order)
    wtab = wtab.localCheckpoint()
    norms = wtab.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("nn"))
    q = wtab.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "token", F.col("w").alias("wq")
    )
    dots = (
        q.join(wtab, "token")
        .filter(F.col("query_id") != F.col("doc_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("wq") * F.col("w")).alias("dot"))
    )
    scored = (
        dots.join(norms.select(F.col("doc_id").alias("query_id"), F.col("nn").alias("qn")), "query_id")
        .join(norms.select("doc_id", F.col("nn").alias("cn")), "doc_id")
        .filter((F.col("qn") > 0) & (F.col("cn") > 0))
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("cn").cast("double"))),
                4,
            ).alias("cos_sim"),
        )
    )
    w_rank = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


QUERIES["retrieval_tfidf_cosine_topk"] = QuerySpec(
    retrieval_tfidf_cosine_topk,
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    wtab AS (
      SELECT t.doc_id, t.token,
             t.tf * CAST(ROUND(LN(CAST(n_docs + 1 AS DOUBLE)
                                  / CAST(df AS DOUBLE)) * 1e4) AS BIGINT) AS w
      FROM tf t JOIN dfx USING (token), nd
    ),
    norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nn FROM wtab GROUP BY 1),
    dots AS (
      SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
             CAST(SUM(q.w * c.w) AS BIGINT) AS dot
      FROM wtab q JOIN wtab c ON q.token = c.token AND q.doc_id != c.doc_id
      WHERE q.doc_id < 3
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.doc_id AS neighbor_id,
             ROUND(CAST(d.dot AS DOUBLE)
                   / (SQRT(CAST(qn.nn AS DOUBLE)) * SQRT(CAST(cn.nn AS DOUBLE))), 4)
               AS cos_sim
      FROM dots d
      JOIN norms qn ON qn.doc_id = d.query_id
      JOIN norms cn ON cn.doc_id = d.doc_id
      WHERE qn.nn > 0 AND cn.nn > 0
    )
    SELECT query_id, neighbor_id, cos_sim, "rank" FROM (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
      FROM scored) sub
    WHERE "rank" <= 5
    """,
    "sparse TF-IDF cosine more-like-this (inverted-index join, top-5 per query doc)",
    ("retrieval", "similarity", "text"),
)
