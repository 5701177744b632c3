"""Composed LLM training-data pipeline passes.

The individual operators (dedup, quality, language-ID, sampling) exist
as separate queries; these compose them into the passes a real corpus
build runs end-to-end, with DuckDB oracles reproducing every stage —
the proof that the whole pipeline, not just its pieces, is
deterministic across engines.

Scale shape: every stage is a narrow projection, hash-shuffle, or
broadcast semi-join over doc_id; composition adds no new shuffle class.
The exact-dedup survivor set and near-dup pair restriction commute
(MinHash collisions are pairwise), so the oracle can filter the global
pair list instead of re-running LSH on the survivor subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions import text as X
from columnar_analytics_engine_spark.functions.kernels import render
from columnar_analytics_engine_spark.operators import dedup as D
from columnar_analytics_engine_spark.queries._util import (
    SQL_FINGERPRINT,
    SQL_TOKENS,
    QuerySpec,
    t,
)
from columnar_analytics_engine_spark.queries.llm import _minhash_lsh_sql


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical corpus-cleaning pass:

    1. exact dedup — keep the minimum doc_id per normalized fingerprint
    2. near-dup removal — MinHash+LSH pairs among survivors; a doc is
       dropped when any smaller-id survivor is its near-duplicate
    3. quality gate — keep 'good'/'fair' docs (≥10 tokens)
    4. language ID — tag the survivor with its predicted language

    Output: (doc_id, pred_lang, quality, n_tokens) for every document
    that survives all gates.
    """
    docs = t(spark, sf_dir, "documents")

    # 1. exact dedup by canonical fingerprint.  The survivor frame
    # feeds BOTH the near-dup signature build and the anti-join's left
    # side, so it is plan-keyed persisted: unpersisted, the
    # fingerprint+window pass over the whole corpus re-executes per
    # consumer (and per repeated invocation)
    from columnar_analytics_engine_spark.functions.caching import persist_once

    w_fp = W.partitionBy("fp").orderBy("doc_id")
    s1 = persist_once(
        docs.withColumn("fp", X.fingerprint("text"))
        .withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("fp", "_rn")
    )

    # 2. near-dup pairs among survivors: MinHash bands/Jaccard are
    # pairwise, so pairs(s1) == pairs(docs) restricted to s1×s1 — but
    # computing directly on s1 also shrinks the signature/verify work
    pairs = D.minhash_near_duplicates(s1, threshold=0.8)
    s2 = s1.join(
        pairs.select(F.col("d2").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )

    # 3 + 4. quality gate and language tag
    n_tokens = X.token_count("text")
    stop_ratio = X.stopword_hits("text", "en").cast("double") / n_tokens.cast("double")
    diversity = X.distinct_token_count("text").cast("double") / n_tokens.cast("double")
    quality = (
        F.when((n_tokens >= 30) & (stop_ratio >= 0.05) & (diversity >= 0.3), "good")
        .when(n_tokens >= 10, "fair")
        .otherwise("poor")
    )
    return (
        s2.withColumn("quality", quality)
        .filter(F.col("quality") != "poor")
        .select(
            "doc_id",
            X.predict_language("text").alias("pred_lang"),
            "quality",
            n_tokens.alias("n_tokens"),
        )
    )


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by TF-IDF weight.

    The IDF uses the rational surrogate N/df instead of ln(N/df):
    monotone in the same argument (identical ranking) while staying a
    single exact IEEE division — ln() is transcendental and libm
    implementations may differ in the last bit across engines.
    """
    from columnar_analytics_engine_spark.functions.caching import persist_once as _persist_once

    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("token"))
    # one explode, memoized: df is derived from the tf table (rows are
    # distinct (doc, token), so count(*) == countDistinct(doc_id)) —
    # left lazy the explode would run once per consumer
    tf = _persist_once(
        tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * (F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "term_rank")
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column, long form.

    scale = max(|v|)/127 per vector; q = round(v/scale) ∈ [-127, 127].
    The compression step every large-scale ANN/embedding store runs
    before indexing; long-form output (vec_id, dim, q, scale) keeps the
    oracle comparison scalar.  All arithmetic is single IEEE ops, so
    both engines produce identical doubles and identical rounded ints.
    """
    emb = t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "val")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    mx = exploded.groupBy(F.col("vec_id").alias("mk")).agg(
        F.max(F.abs(F.col("val"))).alias("max_abs")
    )
    scale = F.col("max_abs") / F.lit(127.0)
    return (
        exploded.join(mx, exploded.vec_id == F.col("mk"))
        .select(
            "vec_id",
            "dim",
            scale.alias("scale"),
            F.when(F.col("max_abs") == 0.0, F.lit(0))
            .otherwise(F.round(F.col("val") / scale))
            .cast("long")
            .alias("q"),
        )
    )


def corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus governance report: volume, exact-duplicate
    rate, token mass, and language mix — the dataset card every corpus
    build publishes per ingest source.

    One groupBy(source) pass; the dup rate compares distinct normalized
    fingerprints against row counts, and the dominant language is the
    max-count argmax with an alphabetical tie-break (deterministic).
    """
    docs = t(spark, sf_dir, "documents")
    per_src_lang = (
        docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("source").orderBy(F.col("n").desc(), "lang")
    dominant = (
        per_src_lang.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("source", F.col("lang").alias("dominant_lang"))
    )
    stats = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(X.fingerprint("text")).alias("n_unique"),
        F.sum(X.token_count("text")).alias("total_tokens"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
    )
    dup_rate = (
        (F.col("n_docs") - F.col("n_unique")).cast("double")
        / F.col("n_docs").cast("double")
    )
    return (
        stats.join(F.broadcast(dominant), "source")
        .select(
            "source",
            "n_docs",
            "n_unique",
            dup_rate.alias("dup_rate"),
            "total_tokens",
            "total_chars",
            "dominant_lang",
        )
        .orderBy("source")
    )


QUERIES: dict[str, QuerySpec] = {
    "pipeline_clean_corpus": QuerySpec(
        pipeline_clean_corpus,
        f"""
        WITH s1 AS (
          SELECT * FROM (
            SELECT d.*,
                   ROW_NUMBER() OVER (
                     PARTITION BY {SQL_FINGERPRINT}
                     ORDER BY doc_id) AS _rn
            FROM documents d) x
          WHERE _rn = 1
        ),
        pr AS ({_minhash_lsh_sql(0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND)}),
        s2 AS (
          SELECT * FROM s1 WHERE doc_id NOT IN (
            SELECT d2 FROM pr
            WHERE d1 IN (SELECT doc_id FROM s1) AND d2 IN (SELECT doc_id FROM s1))
        ),
        feats AS (
          SELECT doc_id,
                 CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
                 {render('stopword_hits', 'duckdb', 'text', 'en')} AS stop_hits,
                 CAST(len(list_distinct({SQL_TOKENS})) AS BIGINT) AS n_distinct,
                 {', '.join(render('stopword_hits', 'duckdb', 'text', lang) + f' AS s_{lang}' for lang in X.LANG_PRIORITY)}
          FROM s2
        )
        SELECT doc_id,
               {render('langid', 'duckdb', {lang: f's_{lang}' for lang in X.LANG_PRIORITY})} AS pred_lang,
               CASE WHEN n_tokens >= 30
                         AND CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.05
                         AND CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.3
                    THEN 'good'
                    WHEN n_tokens >= 10 THEN 'fair'
                    ELSE 'poor' END AS quality,
               n_tokens
        FROM feats
        WHERE n_tokens >= 10
        """,
        "end-to-end corpus cleaning: exact dedup → near-dup → quality → lang",
        ("pipeline", "dedup", "text"),
    ),
    "text_tfidf_top_terms": QuerySpec(
        text_tfidf_top_terms,
        f"""
        WITH tok AS (
          SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
        ),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        idf AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, tf.token, tf, df,
                 CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
          FROM tf JOIN idf ON tf.token = idf.token CROSS JOIN n
        )
        SELECT doc_id, token, tf, df, tfidf, term_rank FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY tfidf DESC, token) AS BIGINT) AS term_rank
          FROM scored) r
        WHERE term_rank <= 3
        """,
        "top-3 TF-IDF terms per document (rational-IDF surrogate)",
        ("pipeline", "text"),
    ),
    "embedding_quantize": QuerySpec(
        embedding_quantize,
        """
        WITH e AS (
          SELECT vec_id,
                 CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS val
          FROM embeddings
        ),
        mx AS (SELECT vec_id AS mk, MAX(ABS(val)) AS max_abs FROM e GROUP BY 1)
        SELECT vec_id, dim,
               max_abs / 127.0 AS scale,
               CASE WHEN max_abs = 0.0 THEN 0
                    ELSE CAST(ROUND(val / (max_abs / 127.0)) AS BIGINT) END AS q
        FROM e JOIN mx ON vec_id = mk
        """,
        "symmetric int8 embedding quantization (long form)",
        ("pipeline", "similarity"),
    ),

    "corpus_source_stats": QuerySpec(
        corpus_source_stats,
        f"""
        WITH per AS (
          SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
        ),
        dom AS (
          SELECT source, lang AS dominant_lang FROM (
            SELECT source, lang,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n DESC, lang) AS _r
            FROM per) x
          WHERE _r = 1
        ),
        st AS (
          SELECT source,
                 COUNT(*) AS n_docs,
                 COUNT(DISTINCT {SQL_FINGERPRINT}) AS n_unique,
                 CAST(SUM(len({SQL_TOKENS})) AS BIGINT) AS total_tokens,
                 CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
          FROM documents GROUP BY 1
        )
        SELECT st.source, n_docs, n_unique,
               CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
               total_tokens, total_chars, dominant_lang
        FROM st JOIN dom ON st.source = dom.source
        ORDER BY st.source
        """,
        "per-source corpus governance report (volume, dup rate, lang mix)",
        ("pipeline", "text", "agg"),
    ),
}
