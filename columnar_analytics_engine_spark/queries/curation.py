"""Corpus-curation operators: passage-level dedup, mixture weighting,
PII scrubbing, and trajectory building.

Extends the training-data surface (``queries/llm.py``,
``queries/training.py``) with four passes a production corpus build runs
between raw documents and training shards:

* **duplicated-passage detection** — the passage-granularity analogue of
  exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
  Language Models Better"): find every 8-token span that occurs in more
  than one document and report, per document, the fraction of its spans
  that are cross-document duplicates.  Catches boilerplate and quoted
  blocks that document-level MinHash (operators/dedup.py) scores as
  unique.
* **mixture weighting** — per-source token budgets: compare each
  source's natural token share against a uniform target mixture and emit
  the sampling rate / epoch count that rebalances the corpus.
* **PII scrubbing** — regex detection counts (emails, URLs, IPv4,
  phones) plus the redacted text, all JVM-side ``regexp_*`` calls.
* **user journeys** — per-user ordered event-type trajectories from the
  events stream (the "session replay" shape used to build agent/chat
  training sequences), capped per user so row width stays bounded.

Scale shapes (the 100 TB contract):
- passage dedup is an inverted-index on hashed shingles: explode →
  count-distinct-docs per shingle → join back — two key shuffles, never
  a pairwise comparison;
- mixture weighting is one groupBy + a broadcast of a 1-row totals
  table (kept lazy, in-plan);
- PII scrubbing is a pure projection (scan speed, whole-stage codegen);
- journeys cap fan-in with a per-user row_number window BEFORE the
  collect, so a hot user cannot blow up a single task.

All queries here are hash-verified against the DuckDB oracle; hashing
uses the cross-engine ``h60`` (functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions import text as X
from columnar_analytics_engine_spark.functions.caching import persist_once
from columnar_analytics_engine_spark.functions.hashing import (
    gram_hash_array,
    h60,
    token_hash_structs,
)
from columnar_analytics_engine_spark.functions.kernels import render
from columnar_analytics_engine_spark.queries._util import (
    SQL_FINGERPRINT,
    SQL_TOKENS,
    QuerySpec,
    t,
)


# ---------------------------------------------------------------------------
# duplicated-passage detection (exact-substring dedup at passage granularity)
# ---------------------------------------------------------------------------

_PASSAGE_W = 8  # tokens per span


def dedup_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-passage report: the fraction of a doc's
    8-token spans that occur verbatim in at least one OTHER document.

    Inverted-index shape: every span position becomes one (doc, span-
    hash) row, pre-aggregated to distinct (doc, span) with a count; a
    COUNT window over the span hash attaches how many documents carry
    each span; re-grouping by doc yields the coverage fraction.  The
    plan is LINEAR — three key shuffles (doc+hash agg → hash window →
    doc rollup), one scan of documents, no self-join and no persist
    (the former pairs⋈per_span diamond re-shuffled the same rows and
    needed a plan-keyed persist to avoid scanning documents twice).
    Span hashing is numeric: one md5 per TOKEN, then a dual polynomial
    rolling hash per position (functions/hashing.gram_hash_array) — no
    per-position string build, ~8× fewer digests than hashing each
    window string.  A span repeated only WITHIN one document does not
    count (that is ``quality_repetition_filters``' job); ≥ 50% cross-doc
    coverage flags the doc as a near-copy.
    """
    docs = t(spark, sf_dir, "documents")
    # token array materialized once per row — lambda args would re-inline
    toks = docs.select("doc_id", X.tokens("text").alias("l")).filter(
        F.size("l") >= _PASSAGE_W
    )
    hashed = toks.select("doc_id", token_hash_structs("l").alias("hl"))
    spans = hashed.select(
        "doc_id", F.explode(gram_hash_array("hl", _PASSAGE_W)).alias("gh")
    )
    pairs = spans.groupBy("doc_id", "gh").agg(F.count("*").alias("cnt"))
    # rows are distinct (doc, gh), so COUNT over the gh partition is the
    # number of docs carrying the span — no join-back needed
    with_n = pairs.withColumn(
        "n_docs_with_span", F.count("*").over(W.partitionBy("gh"))
    )
    per_doc = with_n.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_spans"),
        F.sum(
            F.when(F.col("n_docs_with_span") >= 2, F.col("cnt")).otherwise(
                F.lit(0)
            )
        ).alias("n_dup_spans"),
    )
    frac = F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double")
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        frac.alias("dup_span_frac"),
        (frac >= F.lit(0.5)).alias("is_near_copy"),
    ).orderBy("doc_id")


_SQL_DUPLICATE_PASSAGES = f"""
WITH f AS (
  SELECT doc_id, {SQL_TOKENS} AS l FROM documents
  WHERE len({SQL_TOKENS}) >= {_PASSAGE_W}
),
h AS (
  SELECT doc_id, {render('token_hashes', 'duckdb', 'l')} AS hl FROM f
),
spans AS (
  SELECT doc_id, unnest({render('gram_hashes', 'duckdb', 'hl', _PASSAGE_W)}) AS gh FROM h
),
pairs AS (
  SELECT doc_id, gh, COUNT(*) AS cnt FROM spans GROUP BY doc_id, gh
),
with_n AS (
  SELECT doc_id, gh, cnt, COUNT(*) OVER (PARTITION BY gh) AS n_docs_with_span
  FROM pairs
),
per_doc AS (
  SELECT doc_id,
         SUM(cnt) AS n_spans,
         SUM(CASE WHEN n_docs_with_span >= 2 THEN cnt ELSE 0 END) AS n_dup_spans
  FROM with_n
  GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_spans AS BIGINT) AS n_spans,
       CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
       CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_span_frac,
       CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE) >= 0.5 AS is_near_copy
FROM per_doc
ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# mixture weighting (per-source token budgets)
# ---------------------------------------------------------------------------


def training_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture report: natural token share vs a uniform
    target mixture, and the sampling rate / epoch count that achieves
    the target.

    ``weight`` > 1 means the source must be upsampled (multiple epochs);
    ``sampling_rate`` is the keep-probability for a single-epoch build.
    One groupBy shuffle on ``source`` (a handful of groups) plus a
    broadcast join of the 1-row totals aggregate — the totals stay
    in-plan (no eager count; cf. VERDICT r01 on text_term_stats).
    The per-source aggregate feeds both the totals and the join's left
    side; persisted once (source-cardinality rows) so the documents
    scan + tokenize pass runs exactly once (duplicate_expensive_subtrees
    class).  Every double is a single IEEE division of exact integer
    counts, so the oracle reproduces it bit-for-bit.
    """
    docs = t(spark, sf_dir, "documents")
    per_src = persist_once(
        docs.select("source", X.token_count("text").alias("n_tok"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("_total_tokens"),
        F.count("*").alias("_n_sources"),
    )
    j = per_src.join(F.broadcast(totals))
    natural_share = F.col("n_tokens").cast("double") / F.col("_total_tokens").cast(
        "double"
    )
    weight = F.col("_total_tokens").cast("double") / (
        F.col("_n_sources") * F.col("n_tokens")
    ).cast("double")
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        natural_share.alias("natural_share"),
        weight.alias("weight"),
        F.least(F.lit(1.0), weight).alias("sampling_rate"),
        (weight > F.lit(1.0)).alias("needs_upsampling"),
    ).orderBy("source")


_SQL_MIXTURE_WEIGHTS = f"""
WITH per_src AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(CAST(len({SQL_TOKENS}) AS BIGINT)) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_sources FROM per_src)
SELECT source,
       n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS natural_share,
       CAST(total_tokens AS DOUBLE) / CAST(n_sources * n_tokens AS DOUBLE) AS weight,
       LEAST(1.0, CAST(total_tokens AS DOUBLE) / CAST(n_sources * n_tokens AS DOUBLE))
         AS sampling_rate,
       CAST(total_tokens AS DOUBLE) / CAST(n_sources * n_tokens AS DOUBLE) > 1.0
         AS needs_upsampling
FROM per_src CROSS JOIN tot
ORDER BY source
"""

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround, ASCII classes.
_PII_URL = r"https?://\S+"
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{9,14}\b|\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def scrub_pii(text, with_counts: bool = True):  # noqa: ANN001 - Column in
    """(clean_text, counts) for a text Column: detection counts on the
    original text, then a redaction chain URL → EMAIL → IP → PHONE.

    Counts overlap deliberately (an IP inside a URL counts as both): the
    counts are audit metrics, the redaction chain is the ground truth.
    """
    counts = {}
    if with_counts:
        counts = {
            "n_urls": F.regexp_count(text, F.lit(_PII_URL)).cast("long"),
            "n_emails": F.regexp_count(text, F.lit(_PII_EMAIL)).cast("long"),
            "n_ipv4": F.regexp_count(text, F.lit(_PII_IPV4)).cast("long"),
            "n_phones": F.regexp_count(text, F.lit(_PII_PHONE)).cast("long"),
        }
    clean = F.regexp_replace(text, _PII_URL, "<URL>")
    clean = F.regexp_replace(clean, _PII_EMAIL, "<EMAIL>")
    clean = F.regexp_replace(clean, _PII_IPV4, "<IP>")
    clean = F.regexp_replace(clean, _PII_PHONE, "<PHONE>")
    return clean, counts


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the documents table — a pure
    projection (regexp_count / regexp_replace, whole-stage codegen), so
    it runs at scan speed with zero shuffles at any corpus size.

    The synthetic corpus contains no PII, so the driver check mostly
    asserts the zero-count/no-op-redaction path; tests/test_curation.py
    verifies detection and redaction on PII-laden fixtures against the
    same DuckDB oracle expressions.
    """
    docs = t(spark, sf_dir, "documents")
    clean, counts = scrub_pii(F.col("text"))
    pii_total = sum(counts.values(), F.lit(0).cast("long"))
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        pii_total.alias("pii_total"),
        (pii_total > 0).alias("has_pii"),
        clean.alias("clean_text"),
    ).orderBy("doc_id")


def sql_pii_scrub(table: str = "documents") -> str:
    """DuckDB twin of :func:`text_pii_scrub` (parameterized so tests can
    run it on a fixture table)."""
    # RE2 needs the same escapes; patterns are shared literals
    counts = {
        "n_urls": _PII_URL,
        "n_emails": _PII_EMAIL,
        "n_ipv4": _PII_IPV4,
        "n_phones": _PII_PHONE,
    }
    cnt_cols = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS {n}"
        for n, p in counts.items()
    )
    total = " + ".join(
        f"len(regexp_extract_all(text, '{p}'))" for p in counts.values()
    )
    return f"""
SELECT doc_id,
       {cnt_cols},
       CAST({total} AS BIGINT) AS pii_total,
       ({total}) > 0 AS has_pii,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{_PII_URL}', '<URL>', 'g'),
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_IPV4}', '<IP>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g') AS clean_text
FROM {table}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# user journeys (trajectory building from the event stream)
# ---------------------------------------------------------------------------

_JOURNEY_CAP = 20  # steps kept per user


def events_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type trajectory — the sequence-building
    pass that turns an event log into agent/chat-style training records.

    The row_number window (partitioned by user, ordered by ts with
    event_id as the deterministic tie-break) caps each user at 20 steps
    BEFORE the collect_list, so a pathological hot user costs 20 rows,
    not its full history — the skew guard that makes the collect safe at
    100 TB.  One shuffle total: the window and the groupBy share the
    user_id partitioning, so Catalyst reuses the exchange.
    """
    df = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    capped = (
        df.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_events", F.count("*").over(W.partitionBy("user_id")))
        .filter(F.col("rn") <= _JOURNEY_CAP)
    )
    steps = F.array_sort(
        F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
    )
    return (
        capped.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.count("*").alias("n_steps"),
            F.unix_micros(F.min("ts")).alias("first_ts_us"),
            F.array_join(
                F.transform(steps, lambda s: s["event_type"]), ">"
            ).alias("journey"),
        )
        .orderBy("user_id")
    )


_PATH_LEN = 3  # journey-prefix length for path analysis


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step event-type paths: every user's first three
    events (by time) become a '>'-joined path; paths are counted and
    ranked — the "what do users do first" analysis run on every product
    event stream, and the prefix-distribution signal trajectory-building
    pipelines use to balance agent training data.

    One user_id window capped at 3 rows per user, one path groupBy —
    both shuffles are key-bounded; a hot user still contributes exactly
    one path.
    """
    df = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        df.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PATH_LEN)
    )
    path = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
            lambda s: s["event_type"],
        ),
        ">",
    )
    per_user = firsts.groupBy("user_id").agg(
        path.alias("path"), F.count("*").alias("n_steps")
    )
    return (
        per_user.filter(F.col("n_steps") == _PATH_LEN)
        .groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
    )


_SQL_TOP_PATHS = f"""
WITH r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
per_user AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path,
         COUNT(*) AS n_steps
  FROM r WHERE rn <= {_PATH_LEN}
  GROUP BY user_id
)
SELECT path, COUNT(*) AS n_users
FROM per_user WHERE n_steps = {_PATH_LEN}
GROUP BY path
ORDER BY n_users DESC, path
"""


_SQL_USER_JOURNEY = f"""
WITH r AS (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id,
       CAST(MAX(n_events) AS BIGINT) AS n_events,
       COUNT(*) AS n_steps,
       epoch_us(MIN(ts)) AS first_ts_us,
       string_agg(event_type, '>' ORDER BY rn) AS journey
FROM r
WHERE rn <= {_JOURNEY_CAP}
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# BPE-ish token budgeting
# ---------------------------------------------------------------------------


def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LLM-token budget estimate: whitespace tokens vs the
    GPT-2-style pretokenizer count (functions/text.BPE_ISH_PATTERN) and
    their ratio — the number a training-cost forecast multiplies, at
    scan speed (pure regexp projection, no shuffle)."""
    docs = t(spark, sf_dir, "documents")
    txt = F.col("text")
    n_ws = X.token_count("text")
    n_bpe = X.bpe_ish_token_count(txt)
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        (n_bpe.cast("double") / n_ws.cast("double")).alias("bpe_per_ws_token"),
    ).orderBy("doc_id")


# DuckDB doubles single quotes inside the literal; the pattern is the
# same RE2/Java-compatible source as BPE_ISH_PATTERN
_SQL_BPE_PAT = (
    "''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9'']+"
)

_SQL_BPE_TOKEN_STATS = f"""
SELECT doc_id,
       CAST(len({SQL_TOKENS}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_SQL_BPE_PAT}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '{_SQL_BPE_PAT}')) AS DOUBLE)
         / CAST(len({SQL_TOKENS}) AS DOUBLE) AS bpe_per_ws_token
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# pipeline attrition funnel (per-stage row accounting)
# ---------------------------------------------------------------------------


def pipeline_attrition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage attrition of the canonical cleaning pass
    (pipeline_clean_corpus): input → exact dedup → near-dup removal →
    quality gate, with docs dropped and drop fraction per stage — the
    operational audit a production corpus build publishes next to its
    output (you don't ship a corpus without knowing where the other 40%
    went).

    Each stage count is a 1-row aggregate; the four are combined by
    broadcast cross-joins and exploded into the funnel — all lazy,
    in-plan, no driver-side counts.  Fractions are single IEEE
    divisions of exact longs (oracle-identical).
    """
    from columnar_analytics_engine_spark.operators import dedup as D

    docs = t(spark, sf_dir, "documents")
    w_fp = W.partitionBy("fp").orderBy("doc_id")
    s1 = persist_once(
        docs.withColumn("fp", X.fingerprint("text"))
        .withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("fp", "_rn")
    )
    pairs = D.minhash_near_duplicates(s1, threshold=0.8)
    # one-pass funnel: chaining s2 = s1 ⟍ drops, s3 = filter(s2) and
    # counting each stage separately re-executes every upstream stage
    # (incl. the whole near-dup pipeline) once per downstream count
    # (duplicate_join_subtrees class).  Instead each s1 doc gets stage
    # survival FLAGS and one reduce emits all counts: the near-dup
    # pipeline runs once, the corpus is scanned once past the window.
    drops = pairs.select(F.col("d2").alias("doc_id")).distinct()
    flags = (
        s1.join(drops.withColumn("_nd", F.lit(1)), "doc_id", "left")
        .select(
            F.col("_nd").isNull().alias("k2"),
            (
                F.col("_nd").isNull()
                & (X.token_count("text") >= 10)
            ).alias("k3"),
        )
    )
    stage_counts = flags.agg(
        F.count("*").alias("c1"),
        F.sum(F.when(F.col("k2"), 1).otherwise(0)).cast("long").alias("c2"),
        F.sum(F.when(F.col("k3"), 1).otherwise(0)).cast("long").alias("c3"),
    )
    row = docs.agg(F.count("*").alias("c0")).join(F.broadcast(stage_counts))

    names = ["input", "exact_dedup", "near_dup", "quality_gate"]

    def stage(i: int) -> F.Column:
        n = F.col(f"c{i}")
        if i == 0:
            dropped = F.lit(0).cast("long")
            frac = F.lit(0.0)
        else:
            prev = F.col(f"c{i-1}")
            dropped = (prev - n).cast("long")
            frac = dropped.cast("double") / prev.cast("double")
        return F.struct(
            F.lit(i).cast("int").alias("stage_id"),
            F.lit(names[i]).alias("stage"),
            n.cast("long").alias("n_docs"),
            dropped.alias("n_dropped"),
            frac.alias("drop_frac"),
        )

    return (
        row.select(F.explode(F.array(*[stage(i) for i in range(4)])).alias("s"))
        .select("s.*")
        .orderBy("stage_id")
    )


def _sql_attrition() -> str:
    from columnar_analytics_engine_spark.operators import dedup as D
    from columnar_analytics_engine_spark.queries.llm import _minhash_lsh_sql

    return f"""
WITH s1 AS (
  SELECT * FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY {SQL_FINGERPRINT} ORDER BY doc_id) AS _rn
    FROM documents d) x
  WHERE _rn = 1
),
pr AS ({_minhash_lsh_sql(0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND)}),
s2 AS (
  SELECT * FROM s1 WHERE doc_id NOT IN (
    SELECT d2 FROM pr
    WHERE d1 IN (SELECT doc_id FROM s1) AND d2 IN (SELECT doc_id FROM s1))
),
s3 AS (SELECT * FROM s2 WHERE len({SQL_TOKENS}) >= 10),
c AS (
  SELECT (SELECT COUNT(*) FROM documents) AS c0,
         (SELECT COUNT(*) FROM s1) AS c1,
         (SELECT COUNT(*) FROM s2) AS c2,
         (SELECT COUNT(*) FROM s3) AS c3
)
SELECT * FROM (
  SELECT 0 AS stage_id, 'input' AS stage, CAST(c0 AS BIGINT) AS n_docs,
         CAST(0 AS BIGINT) AS n_dropped, 0.0 AS drop_frac FROM c
  UNION ALL
  SELECT 1, 'exact_dedup', CAST(c1 AS BIGINT), CAST(c0 - c1 AS BIGINT),
         CAST(c0 - c1 AS DOUBLE) / CAST(c0 AS DOUBLE) FROM c
  UNION ALL
  SELECT 2, 'near_dup', CAST(c2 AS BIGINT), CAST(c1 - c2 AS BIGINT),
         CAST(c1 - c2 AS DOUBLE) / CAST(c1 AS DOUBLE) FROM c
  UNION ALL
  SELECT 3, 'quality_gate', CAST(c3 AS BIGINT), CAST(c2 - c3 AS BIGINT),
         CAST(c2 - c3 AS DOUBLE) / CAST(c2 AS DOUBLE) FROM c
) ORDER BY stage_id
"""


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs historical corpus)
# ---------------------------------------------------------------------------

_INC_MOD = 5  # doc_id % 5 == 0 stands in for the incoming batch


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: classify each incoming document (stand-
    in: ``doc_id % 5 == 0``) against the historical corpus — the shape a
    continuously-updated corpus runs on every new crawl drop, where
    re-deduplicating 100 TB of history per batch is not an option.

    Status precedence: ``dup_of_history`` (fingerprint exists in the
    historical corpus — matched to the minimum historical doc_id) >
    ``dup_in_batch`` (first occurrence within the batch wins) > ``new``.

    Scale shape: history is reduced to (fingerprint → min doc_id), a
    digest-keyed aggregate that in production is a maintained index, not
    a rescan; the batch hash-joins it on the digest.  Everything keys on
    the 32-byte fingerprint — no token explosion, no pairwise work.
    """
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", X.fingerprint("text").alias("fp")
    )
    hist = (
        docs.filter(F.col("doc_id") % _INC_MOD != 0)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("hist_id"))
    )
    w = W.partitionBy("fp").orderBy("doc_id")
    inc = (
        docs.filter(F.col("doc_id") % _INC_MOD == 0)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("keeper", F.min("doc_id").over(W.partitionBy("fp")))
    )
    j = inc.join(hist, "fp", "left")
    status = (
        F.when(F.col("hist_id").isNotNull(), "dup_of_history")
        .when(F.col("rn") > 1, "dup_in_batch")
        .otherwise("new")
    )
    matched = (
        F.when(F.col("hist_id").isNotNull(), F.col("hist_id"))
        .when(F.col("rn") > 1, F.col("keeper"))
        .otherwise(F.lit(None).cast("long"))
    )
    return j.select(
        "doc_id", status.alias("status"), matched.alias("matched_id")
    ).orderBy("doc_id")


_SQL_INCREMENTAL = f"""
WITH fp AS (
  SELECT doc_id,
         {SQL_FINGERPRINT} AS fp
  FROM documents
),
hist AS (
  SELECT fp, MIN(doc_id) AS hist_id FROM fp
  WHERE doc_id % {_INC_MOD} != 0 GROUP BY fp
),
inc AS (
  SELECT doc_id, fp,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
         MIN(doc_id) OVER (PARTITION BY fp) AS keeper
  FROM fp WHERE doc_id % {_INC_MOD} = 0
)
SELECT i.doc_id,
       CASE WHEN h.hist_id IS NOT NULL THEN 'dup_of_history'
            WHEN i.rn > 1 THEN 'dup_in_batch'
            ELSE 'new' END AS status,
       CASE WHEN h.hist_id IS NOT NULL THEN h.hist_id
            WHEN i.rn > 1 THEN i.keeper
            ELSE NULL END AS matched_id
FROM inc i LEFT JOIN hist h USING (fp)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# anomaly detection (per-type z-score)
# ---------------------------------------------------------------------------


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is > 2σ from their event type's mean — the
    monitoring-style outlier screen, with cross-engine-exact moments.

    All moments accumulate as exact integers on the cent grid (z-scores
    are scale-invariant, so no unscaling is ever needed): Σx and Σx² are
    long sums, the variance numerator n·Σx² − (Σx)² and denominator
    n·(n−1) are exact longs, and only the final three IEEE ops
    (divide, sqrt, divide) run in floating point — the identical op
    sequence the oracle executes, so even the rounded z-values match
    bit-for-bit.

    Scale shape: one tiny per-type aggregate (5 rows) broadcast back
    onto the scan; the flagging pass is a pure projection.
    """
    df = t(spark, sf_dir, "events")
    xq = F.round(F.col("value") * 100).cast("long")
    ev = df.select("event_id", "event_type", "value", xq.alias("xq"))
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("xq").alias("s"),
        F.sum(F.col("xq") * F.col("xq")).alias("q"),
    )
    var_num = (F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast("long")
    var_den = (F.col("n") * (F.col("n") - 1)).cast("long")
    sigma = F.sqrt(var_num.cast("double") / var_den.cast("double"))
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    z = (F.col("xq").cast("double") - mean) / sigma
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 4).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > 2.0)
        .orderBy("event_id")
    )


_SQL_ANOMALY_ZSCORE = """
WITH ev AS (
  SELECT event_id, event_type, value,
         CAST(ROUND(value * 100) AS BIGINT) AS xq
  FROM events
),
stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(xq) AS s,
         SUM(xq * xq) AS q
  FROM ev GROUP BY event_type
),
scored AS (
  SELECT e.event_id, e.event_type, e.value,
         ROUND(
           (CAST(e.xq AS DOUBLE) - CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
           / sqrt(CAST(s.n * s.q - s.s * s.s AS DOUBLE)
                  / CAST(s.n * (s.n - 1) AS DOUBLE)),
           4) AS zscore
  FROM ev e JOIN stats s USING (event_type)
)
SELECT event_id, event_type, value, zscore
FROM scored WHERE ABS(zscore) > 2.0
ORDER BY event_id
"""


_SOURCE_CAP = 15


def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap with deterministic hash priority — the
    domain-cap pass every crawl-derived corpus runs (no single domain
    may dominate the mixture).

    Priority is ``h60`` of the doc id, so the "random" K survivors per
    source are engine-independent and stable across runs/backends.  One
    source-key window shuffle.  At 100 TB a mega-domain makes its
    window partition hot; the scale variant computes each source's
    K-th-smallest hash with a per-source aggregate (approx or exact
    two-pass) and keeps ``hash <= threshold`` as a scan-speed filter —
    same semantics, no single-partition window.
    """
    docs = t(spark, sf_dir, "documents")
    pri = h60("cap:", "CAST(doc_id AS STRING)")
    w = W.partitionBy("source").orderBy(pri, "doc_id")
    return (
        docs.select("source", "doc_id", pri.alias("priority"))
        .withColumn("cap_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("cap_rank") <= _SOURCE_CAP)
        .select("source", "doc_id", "cap_rank")
        .orderBy("source", "cap_rank")
    )


_SQL_SOURCE_CAP = f"""
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {render('h60', 'duckdb', 'cap:', 'CAST(doc_id AS VARCHAR)')}, doc_id
         ) AS cap_rank
  FROM documents
)
SELECT source, doc_id, CAST(cap_rank AS BIGINT) AS cap_rank
FROM ranked WHERE cap_rank <= {_SOURCE_CAP}
ORDER BY source, cap_rank
"""


# ---------------------------------------------------------------------------
# content-defined chunking dedup (shift-robust shared-content detection)
# ---------------------------------------------------------------------------

_CDC_BITS = 4  # expected chunk length = 2^4 = 16 tokens


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document shared content via content-defined chunking.

    Unlike fixed 8-token spans (``dedup_duplicate_passages``), CDC
    boundaries are picked by a rolling content hash, so a passage copied
    into another document at a different offset still yields identical
    chunks — the shift-robust half of exact-substring dedup.  See
    ``operators/cdc.py`` for the scale argument.
    """
    from columnar_analytics_engine_spark.operators.cdc import shared_chunks

    docs = t(spark, sf_dir, "documents")
    return shared_chunks(docs, boundary_bits=_CDC_BITS).orderBy("chunk_hash")


_SQL_CDC_CHUNKS = f"""
WITH tok AS (
  SELECT doc_id,
         CAST(generate_subscripts({SQL_TOKENS}, 1) - 1 AS BIGINT) AS pos,
         unnest({SQL_TOKENS}) AS token
  FROM documents
),
flagged AS (
  SELECT doc_id, pos, token,
         CASE WHEN ({render('h60', 'duckdb', 'cdc:', 'token')}) % {1 << _CDC_BITS} = 0
              THEN 1 ELSE 0 END AS flag
  FROM tok
),
chunked AS (
  SELECT doc_id, pos, token,
         COALESCE(SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id
  FROM flagged
),
chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash,
         COUNT(*) AS n_tokens
  FROM chunked GROUP BY doc_id, chunk_id
)
SELECT chunk_hash,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       COUNT(*) AS n_occurrences,
       MIN(doc_id) AS first_doc,
       CAST(MIN(n_tokens) AS BIGINT) AS n_tokens
FROM chunks
GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY chunk_hash
"""


def dedup_cdc_doc_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shared-content coverage from the CDC chunk table:
    for each doc, the fraction of its chunks (and of its tokens) whose
    exact content also appears in another document — the per-doc signal
    a cleaning pass thresholds on, robust to content shifts unlike the
    fixed-window passage coverage.

    Shape: the chunk table joins the chunk-level doc-count aggregate on
    the 32-byte digest (two digest-keyed shuffles), then re-groups by
    doc.  No pairwise work anywhere.
    """
    from columnar_analytics_engine_spark.operators.cdc import cdc_chunks

    docs = t(spark, sf_dir, "documents")
    chunks = cdc_chunks(docs, boundary_bits=_CDC_BITS)
    counts = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    j = chunks.join(counts, "chunk_hash")
    shared = (F.col("n_docs") >= 2).cast("long")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(shared).alias("n_shared_chunks"),
            (
                F.sum(shared * F.col("n_tokens")).cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("shared_token_frac"),
        )
        .orderBy("doc_id")
    )


_SQL_CDC_DOC_COVERAGE = f"""
WITH tok AS (
  SELECT doc_id,
         CAST(generate_subscripts({SQL_TOKENS}, 1) - 1 AS BIGINT) AS pos,
         unnest({SQL_TOKENS}) AS token
  FROM documents
),
flagged AS (
  SELECT doc_id, pos, token,
         CASE WHEN ({render('h60', 'duckdb', 'cdc:', 'token')}) % {1 << _CDC_BITS} = 0
              THEN 1 ELSE 0 END AS flag
  FROM tok
),
chunked AS (
  SELECT doc_id, pos, token,
         COALESCE(SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id
  FROM flagged
),
chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash,
         COUNT(*) AS n_tokens
  FROM chunked GROUP BY doc_id, chunk_id
),
counts AS (
  SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs
  FROM chunks GROUP BY chunk_hash
)
SELECT c.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN n_tokens ELSE 0 END) AS DOUBLE)
         / CAST(SUM(n_tokens) AS DOUBLE) AS shared_token_frac
FROM chunks c JOIN counts USING (chunk_hash)
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_cdc_doc_coverage": QuerySpec(
        dedup_cdc_doc_coverage,
        _SQL_CDC_DOC_COVERAGE,
        "Per-doc CDC shared-content coverage (chunk + token fractions)",
        ("llm", "dedup"),
    ),
    "dedup_cdc_chunks": QuerySpec(
        dedup_cdc_chunks,
        _SQL_CDC_CHUNKS,
        "Shift-robust shared content via content-defined chunking",
        ("llm", "dedup"),
    ),
    "source_cap_sample": QuerySpec(
        source_cap_sample,
        _SQL_SOURCE_CAP,
        "Per-source doc cap via deterministic hash priority (domain caps)",
        ("llm", "curation", "sampling"),
    ),
    "dedup_duplicate_passages": QuerySpec(
        dedup_duplicate_passages,
        _SQL_DUPLICATE_PASSAGES,
        "Cross-document duplicated 8-token-span coverage per document",
        ("llm", "dedup"),
    ),
    "training_mixture_weights": QuerySpec(
        training_mixture_weights,
        _SQL_MIXTURE_WEIGHTS,
        "Per-source sampling rates for a uniform target token mixture",
        ("llm", "training"),
    ),
    "text_pii_scrub": QuerySpec(
        text_pii_scrub,
        sql_pii_scrub(),
        "PII detection counts + redacted text (regex, scan-speed)",
        ("llm", "text"),
    ),
    "events_user_journey": QuerySpec(
        events_user_journey,
        _SQL_USER_JOURNEY,
        "Per-user capped ordered event trajectories (sequence building)",
        ("events",),
    ),
    "events_top_paths": QuerySpec(
        events_top_paths,
        _SQL_TOP_PATHS,
        "Most common 3-step event-type paths (first-touch path analysis)",
        ("events",),
    ),
    "pipeline_attrition_report": QuerySpec(
        pipeline_attrition_report,
        _sql_attrition(),
        "Per-stage funnel of the cleaning pass (input→dedup→quality)",
        ("pipeline", "dedup"),
    ),
    "dedup_incremental": QuerySpec(
        dedup_incremental,
        _SQL_INCREMENTAL,
        "New-batch vs historical-corpus dedup classification",
        ("llm", "dedup"),
    ),
    "text_bpe_token_stats": QuerySpec(
        text_bpe_token_stats,
        _SQL_BPE_TOKEN_STATS,
        "Whitespace vs GPT-2-style pretokenizer token budgets per doc",
        ("llm", "text"),
    ),
    "events_anomaly_zscore": QuerySpec(
        events_anomaly_zscore,
        _SQL_ANOMALY_ZSCORE,
        "Per-type >2-sigma outlier events (exact integer moments)",
        ("events",),
    ),
}


def corpus_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the first and second half of the
    corpus (by doc_id): per-token probability ratio summarized as KL
    divergence KL(P‖Q) with add-one smoothing over the union
    vocabulary, plus the token mass of each half — the check a
    continuously-ingested corpus runs to detect a source going stale or
    a scraper change shifting the token mix.

    Exactness: each KL term p·ln(p/q) is computed from integer counts
    and rounded to micro-nats BEFORE the sum (the `_util` scaled-sum
    strategy), so the order-dependent double sum becomes an exact
    integer sum.  One token-key shuffle with map-side combine; the KL
    reduce is O(vocabulary).
    """
    docs = t(spark, sf_dir, "documents")
    mid = docs.agg(
        F.percentile_approx("doc_id", 0.5, 2147483647).alias("mid")
    )
    tok = (
        docs.join(F.broadcast(mid))
        .select(
            (F.col("doc_id") <= F.col("mid")).alias("first_half"),
            F.explode(X.tokens("text")).alias("token"),
        )
    )
    # vocabulary-sized reduce persisted: it feeds both its own totals
    # and the KL join — unpersisted, each branch re-tokenizes the corpus
    counts = persist_once(
        tok.groupBy("token").agg(
            F.sum(F.when(F.col("first_half"), 1).otherwise(0)).alias("c_p"),
            F.sum(F.when(F.col("first_half"), 0).otherwise(1)).alias("c_q"),
        )
    )
    totals = counts.agg(
        F.sum("c_p").alias("n_p"),
        F.sum("c_q").alias("n_q"),
        F.count("*").alias("v"),
    )
    j = counts.join(F.broadcast(totals))
    # add-one smoothed probabilities as exact rationals:
    #   p = (c_p+1)/(n_p+v),  q = (c_q+1)/(n_q+v)
    # term = p * ln(p/q); ln of a ratio of exact doubles, micro-nat rounded
    p = (F.col("c_p") + 1).cast("double") / (F.col("n_p") + F.col("v")).cast("double")
    q = (F.col("c_q") + 1).cast("double") / (F.col("n_q") + F.col("v")).cast("double")
    term_micro = F.round(p * F.log(p / q) * F.lit(1e6)).cast("long")
    return (
        j.agg(
            F.round(F.sum(term_micro).cast("double") / F.lit(1e6), 6).alias("kl_p_q"),
            F.max("n_p").cast("long").alias("tokens_first_half"),
            F.max("n_q").cast("long").alias("tokens_second_half"),
            F.max("v").cast("long").alias("vocab_union"),
        )
    )


QUERIES["corpus_drift_report"] = QuerySpec(
    corpus_drift_report,
    f"""
    WITH mid AS (SELECT quantile_disc(doc_id, 0.5) AS mid FROM documents),
    tok AS (
      SELECT (doc_id <= mid) AS first_half,
             unnest({SQL_TOKENS}) AS token
      FROM documents CROSS JOIN mid
    ),
    counts AS (
      SELECT token,
             SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS c_p,
             SUM(CASE WHEN first_half THEN 0 ELSE 1 END) AS c_q
      FROM tok GROUP BY token
    ),
    tot AS (SELECT SUM(c_p) AS n_p, SUM(c_q) AS n_q, COUNT(*) AS v FROM counts),
    terms AS (
      SELECT CAST(ROUND(
               (CAST(c_p + 1 AS DOUBLE) / CAST(n_p + v AS DOUBLE))
               * ln((CAST(c_p + 1 AS DOUBLE) / CAST(n_p + v AS DOUBLE))
                    / (CAST(c_q + 1 AS DOUBLE) / CAST(n_q + v AS DOUBLE)))
               * 1e6) AS BIGINT) AS term_micro,
             n_p, n_q, v
      FROM counts CROSS JOIN tot
    )
    SELECT ROUND(CAST(SUM(term_micro) AS DOUBLE) / 1e6, 6) AS kl_p_q,
           CAST(MAX(n_p) AS BIGINT) AS tokens_first_half,
           CAST(MAX(n_q) AS BIGINT) AS tokens_second_half,
           CAST(MAX(v) AS BIGINT) AS vocab_union
    FROM terms
    """,
    "KL-divergence drift report between corpus halves (micro-nat exact)",
    ("text", "quality", "agg"),
)


def corpus_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(source ‖ rest-of-corpus) over
    token distributions with add-one smoothing, summed over the tokens
    the source actually contains — ranks which ingestion source is most
    atypical, the per-feed refinement of :func:`corpus_drift_report`.

    The zero-count terms (tokens the source never emits) are omitted
    deliberately: including them means materializing the full
    |sources| × |vocabulary| grid, which explodes at web scale, while
    each omitted term is O(ln(v)/n_s) — the ranking is unaffected.
    Same micro-nat-exact KL arithmetic as the corpus report; the
    per-(source, token) counts come from ONE token shuffle, and the KL
    reduce is per source key — fully partitioned beyond the 1-row
    corpus totals."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(X.tokens("text")).alias("token"))
    st_counts = tok.groupBy("source", "token").agg(F.count("*").alias("c_s"))
    tot_counts = tok.groupBy("token").agg(F.count("*").alias("c_all"))
    vocab = tot_counts.agg(F.count("*").alias("v"), F.sum("c_all").alias("n_all"))
    src_totals = st_counts.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    j = (
        tot_counts.join(st_counts, "token", "left")  # every (token, source) with c_s>0
        .join(F.broadcast(src_totals), "source")
        .join(F.broadcast(vocab))
    )
    # p = source distribution (add-one over union vocab);
    # q = rest-of-corpus distribution
    p = (F.col("c_s") + 1).cast("double") / (F.col("n_s") + F.col("v")).cast("double")
    c_rest = F.col("c_all") - F.col("c_s")
    n_rest = F.col("n_all") - F.col("n_s")
    q = (c_rest + 1).cast("double") / (n_rest + F.col("v")).cast("double")
    term_micro = F.round(p * F.log(p / q) * F.lit(1e6)).cast("long")
    return (
        j.groupBy("source")
        .agg(
            F.round(F.sum(term_micro).cast("double") / F.lit(1e6), 6).alias("kl_vs_rest"),
            F.max("n_s").cast("long").alias("n_tokens"),
        )
        .orderBy(F.desc("kl_vs_rest"), "source")
    )


QUERIES["corpus_drift_by_source"] = QuerySpec(
    corpus_drift_by_source,
    f"""
    WITH tok AS (
      SELECT source, unnest({SQL_TOKENS}) AS token
      FROM documents
    ),
    st_counts AS (
      SELECT source, token, COUNT(*) AS c_s FROM tok GROUP BY 1, 2
    ),
    tot_counts AS (SELECT token, COUNT(*) AS c_all FROM tok GROUP BY 1),
    vocab AS (SELECT COUNT(*) AS v, SUM(c_all) AS n_all FROM tot_counts),
    src_totals AS (SELECT source, SUM(c_s) AS n_s FROM st_counts GROUP BY 1),
    j AS (
      SELECT s.source, s.c_s, t.c_all, st.n_s, vb.v, vb.n_all
      FROM tot_counts t
      JOIN st_counts s USING (token)
      JOIN src_totals st USING (source)
      CROSS JOIN vocab vb
    ),
    terms AS (
      SELECT source, n_s,
             CAST(ROUND(
               (CAST(c_s + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE))
               * ln((CAST(c_s + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE))
                    / (CAST(c_all - c_s + 1 AS DOUBLE)
                       / CAST(n_all - n_s + v AS DOUBLE)))
               * 1e6) AS BIGINT) AS term_micro
      FROM j
    )
    SELECT source,
           ROUND(CAST(SUM(term_micro) AS DOUBLE) / 1e6, 6) AS kl_vs_rest,
           CAST(MAX(n_s) AS BIGINT) AS n_tokens
    FROM terms GROUP BY source
    ORDER BY kl_vs_rest DESC, source
    """,
    "per-source KL drift vs rest of corpus (most-atypical-feed ranking)",
    ("text", "quality", "agg"),
)


# ---------------------------------------------------------------------------
# duplicated-passage REMOVAL (keep-one-copy text rewrite)
# ---------------------------------------------------------------------------


def dedup_passage_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage *removal*: rewrite every document with its
    cross-document duplicated 8-token spans cut out, keeping exactly one
    copy corpus-wide (the lowest-doc_id carrier) — the Dolma/RefinedWeb
    rewrite step that follows :func:`dedup_duplicate_passages`'s report.

    Policy (deterministic, order-free): a span occurrence is removable
    iff its span hash occurs in >= 2 documents AND this document is not
    the minimum-doc_id carrier; every token position covered by at
    least one removable span is dropped; remaining tokens rejoin with
    single spaces (whitespace is normalized by construction — the
    tokenizer contract).  Short docs (< 8 tokens) and null-text docs
    pass through with ``n_removed = 0``.

    Scale shape (the linear plan, no doc-pair join): span stats are a
    span-hash-keyed aggregation (the inverted index), removability is a
    span-hash join back, coverage expansion is a bounded x8 explode,
    and the rebuild is a doc-keyed sort-free ``array_sort(collect_list)``
    — shuffle keys are span hash and doc_id only, so the plan scales
    with corpus size, never with pair count.  Span hashing is numeric
    (one md5 per token + dual polynomial rolling hash), as everywhere.
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.coalesce(X.tokens("text"), F.array().cast("array<string>")).alias("l"),
    )
    hashed = toks.select(
        "doc_id", token_hash_structs("l").alias("hl")
    )
    spans = hashed.select(
        "doc_id", F.posexplode(gram_hash_array("hl", _PASSAGE_W))
    ).select("doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("gh"))
    stats = spans.groupBy("gh").agg(
        F.count_distinct("doc_id").alias("n_docs"), F.min("doc_id").alias("min_doc")
    )
    removable = spans.join(stats, "gh").filter(
        (F.col("n_docs") >= 2) & (F.col("doc_id") != F.col("min_doc"))
    )
    covered = removable.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + _PASSAGE_W - 1)).alias(
            "tpos"
        ),
    ).distinct()
    tokens = toks.select(
        "doc_id", F.posexplode(F.col("l"))
    ).select("doc_id", (F.col("pos") + 1).alias("tpos"), F.col("col").alias("token"))
    kept = tokens.join(covered, ["doc_id", "tpos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("tpos"), F.col("token")))
                ),
                lambda s: s.getField("token"),
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    # n_removed derives from the SAME aggregation as clean_text
    # (n_tokens − n_kept): a separate covered.groupBy would re-execute
    # the spans⋈stats join a second time (duplicate_join_subtrees class)
    return (
        toks.select("doc_id", F.size("l").cast("long").alias("n_tokens"))
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


QUERIES["dedup_passage_removal"] = QuerySpec(
    dedup_passage_removal,
    f"""
    WITH d AS (
      SELECT doc_id,
             COALESCE({SQL_TOKENS}, []::VARCHAR[]) AS l
      FROM documents
    ),
    h AS (SELECT doc_id, {render('token_hashes', 'duckdb', 'l')} AS hl FROM d),
    g AS (SELECT doc_id, {render('gram_hashes', 'duckdb', 'hl', _PASSAGE_W)} AS ga FROM h),
    spans AS (
      SELECT doc_id, CAST(generate_subscripts(ga, 1) AS INT) AS pos,
             unnest(ga) AS gh
      FROM g
    ),
    stats AS (
      SELECT gh, COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS min_doc
      FROM spans GROUP BY 1
    ),
    removable AS (
      SELECT s.doc_id, s.pos
      FROM spans s JOIN stats st USING (gh)
      WHERE st.n_docs >= 2 AND s.doc_id <> st.min_doc
    ),
    covered AS (
      SELECT DISTINCT doc_id,
             CAST(unnest(range(pos, pos + {_PASSAGE_W})) AS INT) AS tpos
      FROM removable
    ),
    tokens AS (
      SELECT doc_id, CAST(generate_subscripts(l, 1) AS INT) AS tpos,
             unnest(l) AS token
      FROM d
    ),
    kept AS (
      SELECT t.doc_id, t.tpos, t.token
      FROM tokens t ANTI JOIN covered c
        ON t.doc_id = c.doc_id AND t.tpos = c.tpos
    ),
    clean AS (
      SELECT doc_id, string_agg(token, ' ' ORDER BY tpos) AS clean_text
      FROM kept GROUP BY 1
    ),
    rem AS (SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY 1)
    SELECT d.doc_id,
           CAST(len(d.l) AS BIGINT) AS n_tokens,
           CAST(COALESCE(rem.n_removed, 0) AS BIGINT) AS n_removed,
           COALESCE(clean.clean_text, '') AS clean_text
    FROM d
    LEFT JOIN rem USING (doc_id)
    LEFT JOIN clean USING (doc_id)
    ORDER BY d.doc_id
    """,
    "keep-one-copy duplicated-passage removal (text rewrite, linear inverted-index plan)",
    ("llm", "dedup"),
)


# ---------------------------------------------------------------------------
# temperature-based mixture sampling (p^alpha, the multilingual recipe)
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.3  # mT5/XLM-R temperature exponent


def training_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights: target share of source i is
    p_i^alpha / sum_j p_j^alpha with alpha = 0.3 — the multilingual
    sampling recipe (mT5/XLM-R) that upweights small sources without
    flattening to uniform (alpha=0 is uniform, alpha=1 is natural;
    :func:`training_mixture_weights` is the uniform-target sibling).

    Cross-engine exactness: p_i is a single IEEE division of exact
    token counts; p_i^alpha is one libm pow of that double, rounded to
    integer MICRO-units before the normalizing sum (the `_util`
    scaled-sum strategy — the sum is associative integer addition, so
    partition order cannot flip the result); the final shares and
    weights are single IEEE divisions of exact values.  Same plan shape
    as the uniform report: one tiny source groupBy + a broadcast 1-row
    totals join.
    """
    docs = t(spark, sf_dir, "documents")
    # persist the tiny per-source reduce: it feeds both its own total
    # and the join, and unpersisted each consumer re-scans + re-tokenizes
    # the whole corpus (duplicate_join_subtrees class); same below for j2
    per_src = persist_once(
        docs.select("source", X.token_count("text").alias("n_tok"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    totals = per_src.agg(F.sum("n_tokens").alias("_total_tokens"))
    j = per_src.join(F.broadcast(totals))
    p = F.col("n_tokens").cast("double") / F.col("_total_tokens").cast("double")
    pow_micro = F.round(F.pow(p, F.lit(_TEMP_ALPHA)) * F.lit(1e6)).cast("long")
    j2 = persist_once(
        j.select("source", "n_docs", "n_tokens", p.alias("natural_share"),
                 pow_micro.alias("_pm"))
    )
    norm = j2.agg(F.sum("_pm").alias("_pm_sum"))
    out = j2.join(F.broadcast(norm))
    temp_share = F.col("_pm").cast("double") / F.col("_pm_sum").cast("double")
    weight = temp_share / F.col("natural_share")
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        "natural_share",
        temp_share.alias("temp_share"),
        weight.alias("weight"),
        (weight > F.lit(1.0)).alias("needs_upsampling"),
    ).orderBy("source")


QUERIES["training_mixture_temperature"] = QuerySpec(
    training_mixture_temperature,
    f"""
    WITH per_src AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len({SQL_TOKENS})) AS n_tokens
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per_src),
    p AS (
      SELECT source, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS natural_share,
             CAST(ROUND(POWER(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE),
                              {_TEMP_ALPHA}) * 1e6) AS BIGINT) AS pm
      FROM per_src, tot
    ),
    norm AS (SELECT SUM(pm) AS pm_sum FROM p)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           natural_share,
           CAST(pm AS DOUBLE) / CAST(pm_sum AS DOUBLE) AS temp_share,
           (CAST(pm AS DOUBLE) / CAST(pm_sum AS DOUBLE)) / natural_share AS weight,
           (CAST(pm AS DOUBLE) / CAST(pm_sum AS DOUBLE)) / natural_share > 1.0
             AS needs_upsampling
    FROM p, norm ORDER BY source
    """,
    "temperature-based (p^0.3) mixture sampling weights — the multilingual upsampling recipe",
    ("llm", "sampling"),
)


# ---------------------------------------------------------------------------
# URL / domain-level curation stats
# ---------------------------------------------------------------------------

# host capture: scheme, optional credentials, then the host run.  ASCII
# classes only — identical semantics in Java regex (Spark) and RE2
# (DuckDB), same discipline as BPE_ISH_PATTERN.
_URL_HOST = r"https?://(?:[^/\s@]*@)?([A-Za-z0-9.-]+)"


def text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL statistics over the corpus: distinct linking docs
    and total URL mentions per (lowercased, www-stripped) host — the
    domain-level signal behind crawl curation policies (domain caps,
    blocklists, per-domain quality priors all key on this table).

    Scale shape: ``regexp_extract_all`` runs at scan speed inside
    codegen; one explode and one (domain)-keyed aggregation with
    map-side combine — the same linear class as the token stats.  On
    the synthetic fixture corpus (no URLs) the result is empty; the
    regex semantics are pinned against DuckDB on a URL-laden fixture in
    tests/test_curation.py (the PII-scrub precedent).
    """
    docs = t(spark, sf_dir, "documents")
    hosts = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(_URL_HOST), F.lit(1))
        ).alias("host"),
    )
    domain = F.regexp_replace(F.lower(F.col("host")), r"^www\.", "")
    return (
        hosts.select("doc_id", domain.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_urls"),
        )
        .orderBy(F.col("n_urls").desc(), "domain")
    )


def sql_url_domains() -> str:
    """DuckDB twin of :func:`text_url_domains` (shared by the oracle
    entry and the URL-fixture test)."""
    return f"""
    WITH hosts AS (
      SELECT doc_id,
             unnest(regexp_extract_all(text, '{_URL_HOST}', 1)) AS host
      FROM documents
    )
    SELECT regexp_replace(lower(host), '^www\\.', '') AS domain,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_urls
    FROM hosts
    GROUP BY 1 ORDER BY n_urls DESC, domain
    """


QUERIES["text_url_domains"] = QuerySpec(
    text_url_domains,
    sql_url_domains(),
    "per-domain URL stats (lowercased www-stripped hosts — the domain-cap/blocklist key table)",
    ("text", "curation"),
)
