"""LLM training-data pipeline queries: dedup, similarity, text analysis.

These are first-class engine operators (not demos): each has a Spark
implementation from ``operators/`` / ``functions/`` and a DuckDB oracle
that reproduces the algorithm bit-for-bit — including the MinHash/SimHash
hash family (md5-derived 60-bit integers, functions/hashing.py), so even
LSH's probabilistic candidate misses are identical on both sides.

Scale notes: all dedup/similarity operators avoid cross joins — LSH
candidates come from band-key equality (a hash shuffle), brute-force
cosine is reserved for small query sets / verification, and the IVF
variant (operators/similarity.py) is the 100 TB search path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.hashing import (
    gram_hash_array,
    h60,
    token_hash_structs,
)
from columnar_analytics_engine_spark.functions import text as X
from columnar_analytics_engine_spark.functions.kernels import render
from columnar_analytics_engine_spark.operators import dedup as D
from columnar_analytics_engine_spark.operators import similarity as S
from columnar_analytics_engine_spark.queries._util import (
    SQL_FINGERPRINT,
    SQL_NON_WS_CHARS,
    SQL_TOKENS,
    QuerySpec,
    t,
)

# shared oracle fragments -----------------------------------------------------

_SQL_TOK_CTE = f"""
tok AS (
  SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS token
  FROM documents
)"""


def _minhash_lsh_sql(threshold: float, k: int, bands: int, rows: int) -> str:
    # integer-exact threshold boundary, mirroring jaccard_pairs (see
    # operators/dedup.py: (den+num)*|A∩B| >= num*(|A|+|B|))
    num, den = D._rational_threshold(threshold)
    mins = ",\n         ".join(
        f"MIN({render('affine_member', 'duckdb', 'token', i)}) AS h{i}" for i in range(k)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {j} AS band_id, md5(CONCAT_WS(',', {cols})) AS band_key FROM sig".format(
            j=j,
            cols=", ".join(f"CAST(h{j * rows + r} AS VARCHAR)" for r in range(rows)),
        )
        for j in range(bands)
    )
    return f"""
    WITH {_SQL_TOK_CTE},
    sig AS (
      SELECT doc_id,
         {mins}
      FROM tok GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sets AS (
      SELECT doc_id, list_distinct({SQL_TOKENS}) AS toks FROM documents
    )
    SELECT c.d1, c.d2,
           CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
             / CAST(len(sa.toks) + len(sb.toks)
                    - len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) AS jaccard
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.d1
    JOIN sets sb ON sb.doc_id = c.d2
    WHERE {den + num} * len(list_intersect(sa.toks, sb.toks))
            >= {num} * (len(sa.toks) + len(sb.toks))
    """


def _simhash_pairs_sql(max_hamming: int, bits: int, band_bits: int) -> str:
    h = render("h60", "duckdb", "s:", "token")
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN cnt ELSE -cnt END) AS b{b}"
        for b in range(bits)
    )
    fp_terms = "\n           + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, simhash, {j} AS band_id, (simhash >> {j * band_bits}) & {mask} AS band_key FROM fps"
        for j in range(n_bands)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
    ),
    tokcnt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
    bitsums AS (
      SELECT doc_id,
         {bit_sums}
      FROM tokcnt GROUP BY doc_id
    ),
    fps AS (
      SELECT doc_id,
             ({fp_terms}) AS simhash
      FROM bitsums
    ),
    bands AS (
      {band_selects}
    )
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) <= {max_hamming}
    """


_SQL_EMB_NORM = """
    e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, label, v, list_dot_product(v, v) AS sq_norm FROM e)
"""


# -- queries -------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(t(spark, sf_dir, "documents"))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_near_duplicates(t(spark, sf_dir, "documents"), threshold=0.8)


# -- persistent MinHash index: build-once / probe-many ------------------------
#
# ``dedup_minhash_lsh`` rebuilds signatures for the whole corpus every
# invocation — correct for a one-shot pass, wasteful for the production
# deployment where an append-only corpus deduplicates each incoming
# batch against everything already ingested.  The persistent index
# (same artifact pattern as the IVF-PQ index, queries/training.py, and
# the batch twin of the STREAMING band index, streaming/neardup.py):
#
#   {index_dir}/bands.parquet  (doc_id, band_id, band_key) — LSH bands
#   {index_dir}/sets.parquet   (doc_id, toks array<long>)  — h60 token
#                              sets for the verify join
#
# built over the "history" docs (doc_id % 4 != 0); the probe batch is
# doc_id % 4 == 0.  Keyed by corpus identity so a regenerated corpus
# rebuilds automatically.  At deployment scale the band table is
# written bucketed by band_key (io.write_bucketed; shuffle-free probe
# join asserted in tests/test_scale_ops.py) and appended per ingested
# batch — exactly what streaming/neardup.py does with foreachBatch.

_MH_INDEX_VERSION = "v1"
_MH_PROBE_MOD = 4  # history: doc_id % 4 != 0; probe batch: == 0


def _minhash_index_dir(sf_dir: str) -> str:
    import hashlib
    import os

    p = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    st = os.stat(p)
    key = hashlib.md5(
        f"{p}:{st.st_mtime_ns}:{st.st_size}:{_MH_INDEX_VERSION}".encode()
    ).hexdigest()[:16]
    root = os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            ".cache",
        ),
    )
    return os.path.join(root, f"minhash_{key}")


def ensure_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    """Path of the (built-if-absent) MinHash band index over the
    history half of the corpus.  Built through ``io.atomic_build_dir``:
    a private staging dir + one atomic rename, so two concurrent
    builders (bench and pytest on the same corpus — the pair that
    races in practice) can never interleave writes into the keyed
    path; the loser discards its build and reads the winner's."""
    from columnar_analytics_engine_spark.io import atomic_build_dir, write_table

    def _build(staging: str) -> None:
        history = t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % _MH_PROBE_MOD != 0
        )
        bands_df, sets_df = D.minhash_index_frames(history)
        write_table(bands_df, f"{staging}/bands.parquet")
        write_table(sets_df, f"{staging}/sets.parquet")

    return atomic_build_dir(
        _minhash_index_dir(sf_dir), _build, token=_MH_INDEX_VERSION
    )


def compact_minhash_index(
    spark: SparkSession,
    index_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    vacuum_keep: int | None = None,
) -> dict:
    """Small-file compaction for the persisted MinHash index (VERDICT
    r10 item 7 — the batch twin of streaming/maintenance.py's state
    compaction): production appends add one file set to
    ``bands.parquet``/``sets.parquet`` per ingested batch, and after
    enough batches every probe pays a task + footer read per small
    file.  Each table is rewritten to ~``target_file_bytes`` files and
    published as the next GENERATION behind an atomic pointer
    (``artifacts.publish_generation`` — VERDICT r12 item 1): a probe
    that resolved the artifact before the compaction keeps scanning
    its intact generation; a fresh probe resolves the compacted one.
    Prior generations persist until ``artifacts.vacuum_generations``
    (run here when ``vacuum_keep`` is given, else on the maintenance
    owner's schedule) — no in-place swap, no no-directory window, no
    rmtree under a reader.

    Returns {table: {"files_before": n, "files_after": n,
    "generation": g}}.
    """
    import os

    from columnar_analytics_engine_spark.artifacts import (
        publish_generation,
        resolve_artifact,
        vacuum_generations,
    )
    from columnar_analytics_engine_spark.io import compact_files

    def _count_files(path: str) -> int:
        return sum(
            1
            for _root, _d, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    out: dict = {}
    for table in ("bands.parquet", "sets.parquet"):
        src = os.path.join(index_dir, table)
        live = resolve_artifact(src)
        before = _count_files(live)

        def _build(gen_dir: str, live=live) -> None:
            # append into the freshly CLAIMED (empty) generation dir:
            # overwrite would delete-and-recreate it, reopening the
            # allocation race
            compact_files(
                spark, live, gen_dir,
                target_file_bytes=target_file_bytes, mode="append",
            )

        gen = publish_generation(src, _build)
        if vacuum_keep is not None:
            vacuum_generations(src, keep_last=vacuum_keep)
        out[table] = {
            "files_before": before,
            "files_after": _count_files(resolve_artifact(src)),
            "generation": gen,
        }
    return out


def dedup_minhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs between the incoming batch (doc_id % 4 == 0) and
    the PERSISTED MinHash index over history (doc_id % 4 != 0) — the
    build-once/probe-many production shape: only batch signatures are
    computed; history bands and token sets are read as stored.

    The oracle replays signature construction for BOTH halves from the
    documents table — probing a correctly built index must reproduce
    the from-scratch cross-half LSH pairs exactly (signatures are
    deterministic md5-affine values, operators/dedup.py).
    """
    from columnar_analytics_engine_spark.artifacts import resolve_artifact

    index_dir = ensure_minhash_index(spark, sf_dir)
    batch = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _MH_PROBE_MOD == 0
    )
    # resolve ONCE at plan time: the resolved generation dir stays
    # intact through any concurrent compaction (artifacts.py)
    index_bands = spark.read.schema(
        "doc_id long, band_id int, band_key string"
    ).parquet(resolve_artifact(f"{index_dir}/bands.parquet"))
    index_sets = spark.read.schema("doc_id long, toks array<bigint>").parquet(
        resolve_artifact(f"{index_dir}/sets.parquet")
    )
    return D.minhash_probe(batch, index_bands, index_sets, threshold=0.8)


def _minhash_probe_sql(threshold: float, k: int, bands: int, rows: int, mod: int) -> str:
    """From-scratch SQL replay of :func:`dedup_minhash_probe`: both
    halves' signatures recomputed, candidates restricted to
    (batch, history) pairs."""
    num, den = D._rational_threshold(threshold)
    mins = ",\n         ".join(
        f"MIN({render('affine_member', 'duckdb', 'token', i)}) AS h{i}" for i in range(k)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {j} AS band_id, md5(CONCAT_WS(',', {cols})) AS band_key FROM sig".format(
            j=j,
            cols=", ".join(f"CAST(h{j * rows + r} AS VARCHAR)" for r in range(rows)),
        )
        for j in range(bands)
    )
    return f"""
    WITH {_SQL_TOK_CTE},
    sig AS (
      SELECT doc_id,
         {mins}
      FROM tok GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
      FROM bands n JOIN bands h
        ON n.band_id = h.band_id AND n.band_key = h.band_key
      WHERE n.doc_id % {mod} = 0 AND h.doc_id % {mod} != 0
    ),
    sets AS (
      SELECT doc_id, list_distinct({SQL_TOKENS}) AS toks FROM documents
    )
    SELECT c.new_id, c.hist_id,
           CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
             / CAST(len(sa.toks) + len(sb.toks)
                    - len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) AS jaccard
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.new_id
    JOIN sets sb ON sb.doc_id = c.hist_id
    WHERE {den + num} * len(list_intersect(sa.toks, sb.toks))
            >= {num} * (len(sa.toks) + len(sb.toks))
    """


def dedup_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.8)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_duplicates(t(spark, sf_dir, "documents"), max_hamming=6)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.near_duplicate_pairs(t(spark, sf_dir, "embeddings"), threshold=0.45)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.5, n=3)


def text_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: document frequency + total
    occurrences per term (the inputs to TF-IDF weighting)."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(X.tokens("text")).alias("token")
    )
    # corpus size stays IN the plan (1-row agg broadcast-joined in) so
    # building this DataFrame is fully lazy — no job fires until an action
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    return (
        tok.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count("*").alias("total_occurrences"),
        )
        .join(F.broadcast(n_docs))
        .orderBy("token")
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors, long form (label, dim, centroid).

    Vector aggregation with order-independent exactness: positions are
    exploded, each component summed as a scaled integer, then unscaled —
    the vector analog of the exact-sum trick.  One shuffle on
    (label, dim); at scale this is the canonical embedding-pool job.
    """
    df = t(spark, sf_dir, "embeddings")
    exploded = df.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "val")
    )
    cents = F.round(F.col("val").cast("double") * F.lit(1_000_000.0)).cast("long")
    return (
        exploded.groupBy("label", F.col("pos").cast("long").alias("dim"))
        .agg(
            (
                (F.sum(cents).cast("double") / F.count("*").cast("double"))
                / F.lit(1_000_000.0)
            ).alias("centroid"),
            F.count("*").alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.cosine_topk(queries, emb, k=10)


def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate ANN.  Every stage is deterministic (lowest-id
    seeds, 6-decimal rounded assignment/probe sims with list_id
    tie-break), so the full probe pipeline is replayed in the SQL oracle;
    recall-vs-brute-force is additionally measured in
    tests/test_similarity.py."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ivf_topk(queries, emb, k=10, n_lists=16, n_probe=4)


def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based 10% sample — reproducible across engines, runs, and
    cluster sizes (unlike rng-based TABLESAMPLE).  The standard way to
    carve stable train/eval splits out of a 100 TB corpus."""
    df = t(spark, sf_dir, "lineitem")
    key = "concat_ws(':', CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING))"
    return df.filter((h60("smp:", key) % 100) < 10).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def dedup_keeper_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keeper assignment from MinHash near-dup pairs:
    keeper(d) = min(d1) over pairs (d1 < d), else d itself.

    Single-pass greedy clustering (not transitive closure — a doc whose
    only link is through an intermediate keeps its direct minimum); the
    deterministic one-shuffle assignment used to drop duplicates at
    scale without an iterative connected-components job.
    """
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(docs, threshold=0.8)
    min_link = pairs.groupBy("d2").agg(F.min("d1").alias("min_d1"))
    return (
        docs.select("doc_id")
        .join(min_link, F.col("doc_id") == F.col("d2"), "left")
        .select(
            "doc_id",
            F.coalesce("min_d1", F.col("doc_id")).alias("keeper_id"),
            (F.col("min_d1").isNotNull()).alias("is_duplicate"),
        )
    )


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    txt = F.col("text")
    return df.select(
        "doc_id",
        X.char_count(txt).alias("n_chars"),
        X.token_count("text").alias("n_tokens"),
        X.distinct_token_count("text").alias("n_distinct_tokens"),
        (
            X.non_ws_char_count("text").cast("double") / X.token_count("text").cast("double")
        ).alias("avg_token_len"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    txt = F.col("text")
    n_tokens = X.token_count("text")
    stop_ratio = X.stopword_hits("text", "en").cast("double") / n_tokens.cast("double")
    diversity = X.distinct_token_count("text").cast("double") / n_tokens.cast("double")
    punct_ratio = X.punct_count(txt).cast("double") / X.char_count(txt).cast("double")
    quality = (
        F.when((n_tokens >= 30) & (stop_ratio >= 0.05) & (diversity >= 0.3), "good")
        .when(n_tokens >= 10, "fair")
        .otherwise("poor")
    )
    return df.select(
        "doc_id",
        stop_ratio.alias("stopword_ratio"),
        diversity.alias("token_diversity"),
        punct_ratio.alias("punct_ratio"),
        quality.alias("quality"),
    )


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    txt = F.col("text")
    scores = X.language_scores("text")
    return df.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        X.predict_language("text").alias("pred_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in X.LANG_PRIORITY],
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        X.fingerprint("text").alias("fingerprint"),
        F.sha2(F.col("text"), 256).alias("sha256"),
    )


def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-column plumbing: payload as binary + typed metadata.

    The text column stands in for an encoded media blob (the real
    decode path is the stubbed Pandas-UDF pipeline in
    streaming/multimodal — see operators tests); here we verify the
    schema/metadata side: byte length, fixed-size chunk count, digest.
    """
    df = t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    n_bytes = F.length(payload).cast("long")
    return df.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.ceil(n_bytes.cast("double") / F.lit(1024.0)).cast("long").alias("n_chunks"),
        F.sha2(F.col("text"), 256).alias("digest"),
    )


QUERIES: dict[str, QuerySpec] = {
    "dedup_exact": QuerySpec(
        dedup_exact,
        """
        SELECT md5(trim(text)) AS content_hash,
               MIN(doc_id) AS keeper_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY md5(trim(text))
        """,
        "exact dedup via content digest",
        ("dedup",),
    ),
    "dedup_minhash_lsh": QuerySpec(
        dedup_minhash_lsh,
        _minhash_lsh_sql(0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND),
        "MinHash(32) + LSH(8×4) + exact-Jaccard verify, threshold 0.8",
        ("dedup",),
    ),
    "dedup_minhash_probe": QuerySpec(
        dedup_minhash_probe,
        _minhash_probe_sql(
            0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND, _MH_PROBE_MOD
        ),
        "incoming batch probed against the persisted MinHash band index",
        ("dedup", "index"),
    ),
    "dedup_jaccard_exact": QuerySpec(
        dedup_jaccard_exact,
        f"""
        WITH {_SQL_TOK_CTE},
        sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        common AS (
          SELECT ta.doc_id AS d1, tb.doc_id AS d2, COUNT(*) AS n_common
          FROM tok ta JOIN tok tb ON ta.token = tb.token AND ta.doc_id < tb.doc_id
          GROUP BY 1, 2
        )
        SELECT c.d1, c.d2,
               CAST(c.n_common AS DOUBLE)
                 / CAST(s1.n + s2.n - c.n_common AS DOUBLE) AS jaccard
        FROM common c
        JOIN sz s1 ON s1.doc_id = c.d1
        JOIN sz s2 ON s2.doc_id = c.d2
        WHERE CAST(c.n_common AS DOUBLE)
                / CAST(s1.n + s2.n - c.n_common AS DOUBLE) >= 0.8
        """,
        "exact token-set Jaccard near-dup pairs ≥ 0.8",
        ("dedup",),
    ),
    "dedup_simhash": QuerySpec(
        dedup_simhash,
        _simhash_pairs_sql(6, D.SIMHASH_BITS, D.SIMHASH_BAND_BITS),
        "48-bit SimHash banded near-dup pairs, hamming ≤ 6",
        ("dedup",),
    ),
    "sample_deterministic": QuerySpec(
        sample_deterministic,
        f"""
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem
        WHERE {render('h60', 'duckdb', 'smp:', "CONCAT(CAST(l_orderkey AS VARCHAR), ':', CAST(l_linenumber AS VARCHAR))")} % 100 < 10
        """,
        "hash-based deterministic 10% sample",
        ("sampling",),
    ),
    "dedup_keeper_assignment": QuerySpec(
        dedup_keeper_assignment,
        None,  # oracle set below (composes the minhash pair SQL)
        "greedy keeper assignment from MinHash near-dup pairs",
        ("dedup",),
    ),
    "dedup_ngram_jaccard": QuerySpec(
        dedup_ngram_jaccard,
        f"""
        WITH s AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(l) - 1),
                     i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
          FROM (SELECT doc_id, {SQL_TOKENS} AS l FROM documents)
          WHERE len(l) >= 3
        ),
        g AS (SELECT doc_id, unnest(sh) AS g FROM s),
        sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM g GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
          FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT c.d1, c.d2,
               CAST(c.n_common AS DOUBLE)
                 / CAST(s1.n_sh + s2.n_sh - c.n_common AS DOUBLE) AS jaccard
        FROM common c
        JOIN sz s1 ON s1.doc_id = c.d1
        JOIN sz s2 ON s2.doc_id = c.d2
        WHERE CAST(c.n_common AS DOUBLE)
                / CAST(s1.n_sh + s2.n_sh - c.n_common AS DOUBLE) >= 0.5
        """,
        "3-gram shingle Jaccard near-dup pairs ≥ 0.5 (order-sensitive)",
        ("dedup",),
    ),
    "text_term_stats": QuerySpec(
        text_term_stats,
        f"""
        SELECT token,
               COUNT(DISTINCT doc_id) AS doc_freq,
               COUNT(*) AS total_occurrences,
               (SELECT COUNT(*) FROM documents) AS n_docs
        FROM (SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents) tok
        GROUP BY token ORDER BY token
        """,
        "vocabulary document-frequency statistics (TF-IDF inputs)",
        ("text",),
    ),
    "embedding_centroids": QuerySpec(
        embedding_centroids,
        """
        WITH e AS (
          SELECT label, unnest(embedding) AS val,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings
        )
        SELECT label, CAST(i - 1 AS BIGINT) AS dim,
               (CAST(SUM(CAST(ROUND(CAST(val AS DOUBLE)
                                    * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS centroid,
               COUNT(*) AS n_vectors
        FROM e GROUP BY label, i ORDER BY label, dim
        """,
        "per-label exact centroid vectors (long form)",
        ("similarity", "agg"),
    ),
    "dedup_embedding_cosine": QuerySpec(
        dedup_embedding_cosine,
        f"""
        WITH {_SQL_EMB_NORM}
        SELECT a.vec_id AS d1, b.vec_id AS d2,
               ROUND(list_dot_product(a.v, b.v)
                     / (SQRT(a.sq_norm) * SQRT(b.sq_norm)), 4) AS cos_sim
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.v, b.v)
                    / (SQRT(a.sq_norm) * SQRT(b.sq_norm)), 4) >= 0.45
        """,
        "embedding-cosine near-dup pairs ≥ 0.45",
        ("dedup", "similarity"),
    ),
    "similarity_topk": QuerySpec(
        similarity_topk,
        f"""
        WITH {_SQL_EMB_NORM},
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ROUND(list_dot_product(q.v, c.v)
                       / (SQRT(q.sq_norm) * SQRT(c.sq_norm)), 4) AS cos_sim
          FROM n q JOIN n c ON q.vec_id != c.vec_id
          WHERE q.vec_id < 5
        )
        SELECT query_id, neighbor_id, cos_sim, "rank" FROM (
          SELECT query_id, neighbor_id, cos_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
          FROM scored) sub
        WHERE "rank" <= 10
        """,
        "brute-force cosine top-10 per query vector",
        ("similarity",),
    ),
    "similarity_ivf_topk": QuerySpec(
        similarity_ivf_topk,
        f"""
        WITH {_SQL_EMB_NORM},
        seeds AS (
          SELECT vec_id AS list_id, v AS seed_v, sq_norm AS seed_n
          FROM n ORDER BY vec_id LIMIT 16
        ),
        assigned AS (
          SELECT neighbor_id, cv, cn, list_id FROM (
            SELECT c.vec_id AS neighbor_id, c.v AS cv, c.sq_norm AS cn,
                   s.list_id,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                     ROUND(list_dot_product(c.v, s.seed_v)
                           / (SQRT(c.sq_norm) * SQRT(s.seed_n)), 6) DESC,
                     s.list_id) AS r
            FROM n c CROSS JOIN seeds s) sub
          WHERE r = 1
        ),
        probes AS (
          SELECT query_id, qv, qn, list_id FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, q.sq_norm AS qn,
                   s.list_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                     ROUND(list_dot_product(q.v, s.seed_v)
                           / (SQRT(q.sq_norm) * SQRT(s.seed_n)), 6) DESC,
                     s.list_id) AS r
            FROM n q CROSS JOIN seeds s
            WHERE q.vec_id < 5) sub
          WHERE r <= 4
        ),
        scored AS (
          SELECT p.query_id, a.neighbor_id,
                 ROUND(list_dot_product(p.qv, a.cv)
                       / (SQRT(p.qn) * SQRT(a.cn)), 4) AS cos_sim
          FROM probes p JOIN assigned a USING (list_id)
          WHERE p.query_id != a.neighbor_id
        )
        SELECT query_id, neighbor_id, cos_sim, "rank" FROM (
          SELECT query_id, neighbor_id, cos_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
          FROM scored) sub
        WHERE "rank" <= 10
        """,
        "IVF approximate top-k (deterministic probe pipeline, fully replayed in SQL)",
        ("similarity",),
    ),
    "text_token_stats": QuerySpec(
        text_token_stats,
        f"""
        SELECT doc_id,
               CAST(LENGTH(trim(text)) AS BIGINT) AS n_chars,
               CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct({SQL_TOKENS})) AS BIGINT) AS n_distinct_tokens,
               CAST({SQL_NON_WS_CHARS} AS DOUBLE)
                 / CAST(len({SQL_TOKENS}) AS DOUBLE) AS avg_token_len
        FROM documents
        """,
        "per-document token statistics",
        ("text",),
    ),
    "text_quality_score": QuerySpec(
        text_quality_score,
        f"""
        WITH base AS (
          SELECT doc_id,
                 CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
                 {render('stopword_hits', 'duckdb', 'text', 'en')} AS stop_hits,
                 CAST(len(list_distinct({SQL_TOKENS})) AS BIGINT) AS n_distinct,
                 CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
                 CAST(LENGTH(trim(text)) AS BIGINT) AS n_chars
          FROM documents
        )
        SELECT doc_id,
               CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
               CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS token_diversity,
               CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
               CASE WHEN n_tokens >= 30
                         AND CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.05
                         AND CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.3
                    THEN 'good'
                    WHEN n_tokens >= 10 THEN 'fair'
                    ELSE 'poor' END AS quality
        FROM base
        """,
        "heuristic document quality scoring",
        ("text",),
    ),
    "text_language_id": QuerySpec(
        text_language_id,
        f"""
        WITH scores AS (
          SELECT doc_id, lang AS labeled_lang,
                 {', '.join(render('stopword_hits', 'duckdb', 'text', lang) + f' AS s_{lang}' for lang in X.LANG_PRIORITY)}
          FROM documents
        )
        SELECT doc_id, labeled_lang,
               {render('langid', 'duckdb', {lang: f's_{lang}' for lang in X.LANG_PRIORITY})} AS pred_lang,
               {', '.join(f's_{lang} AS score_{lang}' for lang in X.LANG_PRIORITY)}
        FROM scores
        """,
        "stopword-evidence language identification",
        ("text",),
    ),
    "text_fingerprint": QuerySpec(
        text_fingerprint,
        f"""
        SELECT doc_id,
               {SQL_FINGERPRINT} AS fingerprint,
               sha256(text) AS sha256
        FROM documents
        """,
        "canonical document fingerprinting",
        ("text",),
    ),
    "multimodal_binary_stats": QuerySpec(
        multimodal_binary_stats,
        """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(CEIL(CAST(octet_length(encode(text)) AS DOUBLE)
                         / CAST(1024 AS DOUBLE)) AS BIGINT) AS n_chunks,
               sha256(text) AS digest
        FROM documents
        """,
        "binary payload metadata plumbing",
        ("multimodal",),
    ),
}

# Keeper-assignment oracle: the full MinHash pair pipeline as a derived
# table, aggregated to the per-doc minimum link (subquery CTEs are legal
# in DuckDB).
QUERIES["dedup_keeper_assignment"].sql = f"""
    SELECT d.doc_id,
           COALESCE(p.min_d1, d.doc_id) AS keeper_id,
           p.min_d1 IS NOT NULL AS is_duplicate
    FROM documents d
    LEFT JOIN (
      SELECT d2, MIN(d1) AS min_d1
      FROM ({_minhash_lsh_sql(0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND)}) pr
      GROUP BY d2
    ) p ON p.d2 = d.doc_id
"""


def dedup_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-fingerprint dedup: collapse docs whose lowercased,
    whitespace-normalized text is identical (case/spacing-insensitive
    exact dedup — between md5-exact and near-dup in strictness)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", X.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_members"))
    )


def text_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most frequent tokens per labeled language (explode +
    two-level aggregation + per-group top-k window)."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(X.tokens("text")).alias("token"))
    counts = tok.groupBy("lang", "token").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("lang", "token", "n", "rnk")
    )


QUERIES["dedup_fingerprint_groups"] = QuerySpec(
    dedup_fingerprint_groups,
    f"""
    SELECT {SQL_FINGERPRINT} AS fp,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_members
    FROM documents GROUP BY 1
    """,
    "case/spacing-insensitive fingerprint dedup groups",
    ("dedup", "text"),
)

QUERIES["text_top_tokens_per_lang"] = QuerySpec(
    text_top_tokens_per_lang,
    f"""
    SELECT lang, token, n, rnk FROM (
      SELECT lang, token, COUNT(*) AS n,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY COUNT(*) DESC, token) AS BIGINT) AS rnk
      FROM (SELECT lang, unnest({SQL_TOKENS}) AS token FROM documents) tk
      GROUP BY lang, token) ranked
    WHERE rnk <= 5
    """,
    "top-5 tokens per language",
    ("text",),
)


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 200-char/50-overlap chunking — the standard context
    windowing step before embedding; built-ins only (see
    functions/udfs.py for the UDTF twin)."""
    from columnar_analytics_engine_spark.functions.udfs import chunk_text_builtin

    return chunk_text_builtin(t(spark, sf_dir, "documents"), chunk_chars=200, overlap=50)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    MinHash pair graph.  The Spark side iterates min-label propagation;
    the oracle computes the same component minima with a recursive-CTE
    transitive closure (and union-find in tests/test_clusters.py)."""
    from columnar_analytics_engine_spark.operators.clusters import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(docs, threshold=0.8)
    labels = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"))
    )


QUERIES["text_chunking"] = QuerySpec(
    text_chunking,
    """
    WITH n AS (
      SELECT doc_id, text,
             GREATEST(1, CAST(CEIL((LENGTH(text) - 50) / CAST(150 AS DOUBLE)) AS INTEGER)) AS n_chunks
      FROM documents
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           SUBSTRING(text, CAST(i AS INTEGER) * 150 + 1, 200) AS chunk
    FROM (SELECT doc_id, text, unnest(range(0, n_chunks)) AS i FROM n) x
    """,
    "overlapping text chunking (200 chars, 50 overlap)",
    ("text", "multimodal"),
)

QUERIES["dedup_clusters"] = QuerySpec(
    dedup_clusters,
    f"""
    WITH RECURSIVE
    pr AS ({_minhash_lsh_sql(0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND)}),
    edges AS (SELECT d1 AS a, d2 AS b FROM pr UNION SELECT d2, d1 FROM pr),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (SELECT a AS doc_id, MIN(b) AS min_reach FROM reach GROUP BY a)
    SELECT d.doc_id,
           CAST(COALESCE(LEAST(l.min_reach, d.doc_id), d.doc_id) AS BIGINT)
             AS cluster_id
    FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    """,
    "transitive near-dup clusters (oracle: recursive-CTE closure)",
    ("dedup",),
)


def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-k.  The hyperplanes are
    seeded numpy normals (operator default seed=42), so the whole
    bucket→collide→re-rank pipeline is deterministic; the SQL oracle
    inlines the identical plane values as literals and replays it.
    Recall vs brute force is additionally asserted in
    tests/test_similarity.py."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.lsh_topk(queries, emb, k=10, n_planes=4, n_tables=8, dim=64)


def _lsh_oracle_sql(
    n_planes: int = 4, n_tables: int = 8, seed: int = 42, dim: int = 64, k: int = 10
) -> str:
    """DuckDB replay of ``operators/similarity.lsh_topk``: the same
    seeded hyperplanes (inlined as full-precision literals), sign-bit
    bucketing, any-table collision join, and exact cosine re-rank.

    Sign flips from cross-engine dot-product summation-order differences
    are the only hazard; plane dots have O(1) magnitude, so a flip needs
    a true value within ~1e-13 of zero — negligible at fixture scale.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    rows = ",\n          ".join(
        f"({ti}, {pi}, [{', '.join(repr(float(x)) for x in planes[ti, pi])}]::DOUBLE[])"
        for ti in range(n_tables)
        for pi in range(n_planes)
    )
    return f"""
        WITH planes(table_id, plane_idx, p) AS (VALUES
          {rows}
        ),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        buck AS (
          SELECT e.vec_id, pl.table_id,
                 CAST(SUM(CASE WHEN list_dot_product(e.v, pl.p) > 0
                          THEN (1::BIGINT << pl.plane_idx) ELSE 0 END) AS BIGINT)
                   AS bucket
          FROM e CROSS JOIN planes pl
          GROUP BY e.vec_id, pl.table_id
        ),
        pairs AS (
          SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
          FROM buck qb
          JOIN buck cb ON qb.table_id = cb.table_id AND qb.bucket = cb.bucket
          WHERE qb.vec_id < 5 AND qb.vec_id != cb.vec_id
        ),
        nn AS (SELECT vec_id, v, list_dot_product(v, v) AS sq_norm FROM e),
        scored AS (
          SELECT p.query_id, p.neighbor_id,
                 ROUND(list_dot_product(q.v, c.v)
                       / (SQRT(q.sq_norm) * SQRT(c.sq_norm)), 4) AS cos_sim
          FROM pairs p
          JOIN nn q ON p.query_id = q.vec_id
          JOIN nn c ON p.neighbor_id = c.vec_id
        )
        SELECT query_id, neighbor_id, cos_sim, "rank" FROM (
          SELECT query_id, neighbor_id, cos_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
          FROM scored) sub
        WHERE "rank" <= {k}
        """


QUERIES["similarity_lsh_topk"] = QuerySpec(
    similarity_lsh_topk,
    _lsh_oracle_sql(),
    "random-hyperplane LSH approximate ANN (seeded planes replayed in SQL)",
    ("similarity",),
)


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplicate (excerpt/quote) detection via directional
    3-word-shingle containment ≥ 0.9 (operators/dedup.containment_pairs)."""
    return D.containment_pairs(t(spark, sf_dir, "documents"), threshold=0.9)


QUERIES["dedup_containment"] = QuerySpec(
    dedup_containment,
    f"""
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(l) - 1),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      FROM (SELECT doc_id, {SQL_TOKENS} AS l FROM documents)
      WHERE len(l) >= 3
    ),
    tok AS (SELECT doc_id, unnest(sh) AS token FROM s),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    common AS (
      SELECT ta.doc_id AS d1, tb.doc_id AS d2, COUNT(*) AS n_common
      FROM tok ta JOIN tok tb ON ta.token = tb.token AND ta.doc_id < tb.doc_id
      GROUP BY 1, 2
    ),
    joined AS (
      SELECT c.d1, c.d2, c.n_common, s1.n AS n1, s2.n AS n2
      FROM common c
      JOIN sz s1 ON s1.doc_id = c.d1
      JOIN sz s2 ON s2.doc_id = c.d2
    )
    SELECT d1 AS src, d2 AS dst,
           CAST(n_common AS DOUBLE) / CAST(n1 AS DOUBLE) AS containment
    FROM joined WHERE n1 >= 5 AND 10 * n_common >= 9 * n1
    UNION ALL
    SELECT d2 AS src, d1 AS dst,
           CAST(n_common AS DOUBLE) / CAST(n2 AS DOUBLE) AS containment
    FROM joined WHERE n2 >= 5 AND 10 * n_common >= 9 * n2
    """,
    "directional containment ≥ 0.9 (excerpt/partial-duplicate pairs)",
    ("dedup",),
)


def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance report over the transitive near-dup clusters: how many
    clusters exist at each size, and how many documents they hold.  The
    number a curation run reads first — a heavy tail of giant clusters
    means template spam; all-singletons means the near-dup pass found
    nothing.  Two map-combinable group-bys over the cluster labels; the
    histogram is at most |distinct sizes| rows."""
    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


QUERIES["dedup_cluster_size_histogram"] = QuerySpec(
    dedup_cluster_size_histogram,
    f"""
    WITH RECURSIVE
    pr AS ({_minhash_lsh_sql(0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND)}),
    edges AS (SELECT d1 AS a, d2 AS b FROM pr UNION SELECT d2, d1 FROM pr),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (SELECT a AS doc_id, MIN(b) AS min_reach FROM reach GROUP BY a),
    assigned AS (
      SELECT d.doc_id,
             CAST(COALESCE(LEAST(l.min_reach, d.doc_id), d.doc_id) AS BIGINT)
               AS cluster_id
      FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    ),
    sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM assigned GROUP BY 1
    )
    SELECT cluster_size, COUNT(*) AS n_clusters,
           cluster_size * COUNT(*) AS n_docs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    "near-dup cluster size distribution (curation governance report)",
    ("dedup", "agg"),
)


def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment scale path end-to-end: MinHash-LSH candidate
    generation (band-key shuffle, never a cross join) feeding the
    set-array containment verify — cost bounded by |candidates| rather
    than global shingle co-occurrence.  Semantics: containment ≥ 0.7
    among Jaccard-LSH candidates; like every LSH entry, the band keys
    are deterministic md5, so the oracle replays the probabilistic
    misses exactly.  (A production excerpt hunt at extreme size skew
    would band on the smaller doc's shingle MinHash instead — the
    verify stage is unchanged.)
    """
    docs = t(spark, sf_dir, "documents")
    # plan-keyed persist, same as minhash_near_duplicates' internal
    # pattern (operators/dedup.py): the signature table feeds both
    # sides of the band self-join and repeated invocations — without
    # it every run recomputes tokenize+16 hashes over the corpus
    # (measured 44 s vs 3 s warm at sf0.1 when this query ran outside
    # the suite that happened to have cached sigs already)
    sigs = D._persist_once(D.minhash_signatures(docs))
    cand = D.lsh_candidates(sigs)
    return D.containment_pairs(docs, threshold=0.7, candidates=cand)


def _containment_lsh_sql(threshold: float, k: int, bands: int, rows: int) -> str:
    num, den = D._rational_threshold(threshold)
    mins = ",\n         ".join(
        f"MIN({render('affine_member', 'duckdb', 'token', i)}) AS h{i}" for i in range(k)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {j} AS band_id, md5(CONCAT_WS(',', {cols})) AS band_key FROM sig".format(
            j=j,
            cols=", ".join(f"CAST(h{j * rows + r} AS VARCHAR)" for r in range(rows)),
        )
        for j in range(bands)
    )
    return f"""
    WITH {_SQL_TOK_CTE},
    sig AS (
      SELECT doc_id,
         {mins}
      FROM tok GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(l) - 1),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      FROM (SELECT doc_id, {SQL_TOKENS} AS l FROM documents)
      WHERE len(l) >= 3
    ),
    joined AS (
      SELECT c.d1, c.d2,
             len(list_intersect(sa.sh, sb.sh)) AS n_common,
             len(sa.sh) AS n1, len(sb.sh) AS n2
      FROM cand c JOIN s sa ON sa.doc_id = c.d1 JOIN s sb ON sb.doc_id = c.d2
    )
    SELECT d1 AS src, d2 AS dst,
           CAST(n_common AS DOUBLE) / CAST(n1 AS DOUBLE) AS containment
    FROM joined WHERE n1 >= 5 AND {den} * n_common >= {num} * n1
    UNION ALL
    SELECT d2 AS src, d1 AS dst,
           CAST(n_common AS DOUBLE) / CAST(n2 AS DOUBLE) AS containment
    FROM joined WHERE n2 >= 5 AND {den} * n_common >= {num} * n2
    """


QUERIES["dedup_containment_lsh"] = QuerySpec(
    dedup_containment_lsh,
    _containment_lsh_sql(0.7, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND),
    "LSH-candidate containment verify (the web-scale excerpt-detection pipeline)",
    ("dedup",),
)


def dedup_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measuring harness: the MinHash-LSH near-dup pipeline scored
    against exact all-pairs Jaccard ground truth at the same threshold.
    One row: pair counts, precision (LSH pairs that are truly ≥ t —
    1.0 by construction, since candidates are verify-filtered) and
    recall (true pairs the banding surfaced).  Run on a sample before
    committing band/row parameters for a full-corpus pass; the oracle
    replays both pipelines, so even this meta-report is hash-checked.

    The three 1-row aggregates join via broadcast; everything upstream
    is the two pipelines' own bounded shuffles.
    """
    docs = t(spark, sf_dir, "documents")
    # both pair lists persisted: each feeds its own count AND the
    # intersection count — unpersisted, each pipeline executes twice
    # (duplicate_join_subtrees class)
    lsh = D._persist_once(
        D.minhash_near_duplicates(docs, threshold=0.8).select("d1", "d2")
    )
    exact = D._persist_once(D.jaccard_pairs(docs, threshold=0.8).select("d1", "d2"))
    n_lsh = lsh.agg(F.count("*").alias("n_lsh"))
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_common = lsh.join(exact, ["d1", "d2"]).agg(F.count("*").alias("n_common"))
    return (
        n_exact.join(F.broadcast(n_lsh)).join(F.broadcast(n_common))
        .select(
            "n_exact",
            "n_lsh",
            "n_common",
            F.round(
                F.col("n_common").cast("double") / F.col("n_lsh").cast("double"), 6
            ).alias("precision"),
            F.round(
                F.col("n_common").cast("double") / F.col("n_exact").cast("double"), 6
            ).alias("recall"),
        )
    )


QUERIES["dedup_lsh_quality_report"] = QuerySpec(
    dedup_lsh_quality_report,
    f"""
    WITH lsh AS (
      SELECT d1, d2 FROM ({_minhash_lsh_sql(0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND)}) x
    ),
    {_SQL_TOK_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    common_tok AS (
      SELECT ta.doc_id AS d1, tb.doc_id AS d2, COUNT(*) AS n_common
      FROM tok ta JOIN tok tb ON ta.token = tb.token AND ta.doc_id < tb.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT c.d1, c.d2
      FROM common_tok c
      JOIN sz s1 ON s1.doc_id = c.d1
      JOIN sz s2 ON s2.doc_id = c.d2
      WHERE CAST(c.n_common AS DOUBLE)
              / CAST(s1.n + s2.n - c.n_common AS DOUBLE) >= 0.8
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
             (SELECT COUNT(*) FROM lsh) AS n_lsh,
             (SELECT COUNT(*) FROM lsh JOIN exact USING (d1, d2)) AS n_common
    )
    SELECT n_exact, n_lsh, n_common,
           ROUND(CAST(n_common AS DOUBLE) / CAST(n_lsh AS DOUBLE), 6) AS precision,
           ROUND(CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) AS recall
    FROM counts
    """,
    "LSH near-dup precision/recall vs exact Jaccard ground truth (1-row report)",
    ("dedup", "approx"),
)


# ---------------------------------------------------------------------------
# PageRank centrality over the passage-sharing duplication graph
# ---------------------------------------------------------------------------

_PR_W = 8            # span width (same granularity as dedup_duplicate_passages)
_PR_MAX_CARRIERS = 16  # ignore spans shared by more docs (boilerplate guard)
_PR_ITERS = 3
_PR_TOPK = 50


def graph_pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the passage-sharing graph: docs are
    nodes, an (undirected) edge links two docs that share at least one
    verbatim 8-token span — the hub score that ranks template spam and
    canonical sources above incidental duplicates (connected components
    say WHICH docs cluster; this says which node anchors the cluster).

    Scale shape: edges come from the passage inverted index (span-hash
    keyed), with spans carried by more than ``_PR_MAX_CARRIERS`` docs
    dropped BEFORE pairing — the standard frequent-shingle guard that
    keeps the per-span pair fan-out quadratic in a constant, not in
    corpus size.  Each PageRank round is an edge join + dst aggregation
    (operators/graph.pagerank); integer arithmetic throughout, so the
    oracle replays all 3 rounds bit-for-bit.  Top-50 output compiles to
    TakeOrderedAndProject.
    """
    from columnar_analytics_engine_spark.operators.graph import pagerank

    pairs = _passage_pairs(spark, sf_dir)
    edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).union(
        pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
    )
    # plan-keyed persist (see operators/dedup._persist_once): the edge
    # derivation would otherwise be re-executed once per rank round
    # (3 rounds + init re-instantiate the subtree); measured 5.1->~2 s
    # at sf0.1 on the dense corpus
    edges = D._persist_once(edges)
    r = pagerank(edges, iterations=_PR_ITERS)
    return (
        r.select(F.col("node").alias("doc_id"), "degree", "rank")
        .orderBy(F.col("rank").desc(), "doc_id")
        .limit(_PR_TOPK)
    )


def _pagerank_sql() -> str:
    from columnar_analytics_engine_spark.operators.graph import (
        PR_SCALE,
        pagerank_round_sql,
    )

    rounds = ",".join(
        pagerank_round_sql(f"r{i}", f"r{i + 1}") for i in range(_PR_ITERS)
    )
    return f"""
    WITH d AS (
      SELECT doc_id, {SQL_TOKENS} AS l FROM documents
      WHERE len({SQL_TOKENS}) >= {_PR_W}
    ),
    h AS (SELECT doc_id, {render('token_hashes', 'duckdb', 'l')} AS hl FROM d),
    g AS (SELECT doc_id, {render('gram_hashes', 'duckdb', 'hl', _PR_W)} AS ga FROM h),
    spans AS (SELECT DISTINCT doc_id, unnest(ga) AS gh FROM g),
    ok AS (
      SELECT gh FROM spans GROUP BY 1
      HAVING COUNT(*) >= 2 AND COUNT(*) <= {_PR_MAX_CARRIERS}
    ),
    sp AS (SELECT s.doc_id, s.gh FROM spans s JOIN ok USING (gh)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM sp a JOIN sp b ON a.gh = b.gh AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT d1 AS src, d2 AS dst FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs
    ),
    deg AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY 1),
    nn AS (SELECT COUNT(*) AS n_nodes FROM deg),
    r0 AS (
      SELECT node, degree, n_nodes, {PR_SCALE} // n_nodes AS rank
      FROM deg, nn
    ),
    {rounds}
    SELECT node AS doc_id, degree, rank
    FROM r{_PR_ITERS}
    ORDER BY rank DESC, doc_id LIMIT {_PR_TOPK}
    """


QUERIES["graph_pagerank_dupgraph"] = QuerySpec(
    graph_pagerank_dupgraph,
    _pagerank_sql(),
    "integer PageRank over the passage-sharing duplication graph "
    "(hub/canonical-doc centrality; oracle replays all rounds)",
    ("llm", "graph", "dedup"),
)


# ---------------------------------------------------------------------------
# leakage-safe train/validation/test split
# ---------------------------------------------------------------------------

def training_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/validation/test assignment that cannot leak near-duplicates
    across splits: the split gate hashes the CLUSTER id (transitive
    near-dup component, :func:`dedup_clusters`), not the document id, so
    every member of a duplicate cluster lands in the same split.  A
    doc-keyed split would put a train document's near-copy in the test
    set — the classic eval-contamination bug this operator exists to
    prevent (same concern as ``contamination_ngram_overlap``, applied to
    the corpus's own held-out splits).

    Gate: ``h60('split:', cluster_id) % 100`` → <90 train, <95
    validation, else test.  Deterministic, seedable by prefix, and
    storable as a manifest column.

    Scale: the split itself is a pure projection over the cluster
    labels; total cost is the connected-components pass (pointer
    jumping, O(log diameter) rounds — see operators/clusters.py).  The
    invariant "no cluster spans two splits" is pinned by
    tests/test_training.py.
    """
    clusters = dedup_clusters(spark, sf_dir)
    gate = h60("split:", "CAST(cluster_id AS STRING)") % 100
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(gate < 90, F.lit("train"))
        .when(gate < 95, F.lit("validation"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


QUERIES["training_leakage_safe_split"] = QuerySpec(
    training_leakage_safe_split,
    f"""
    WITH RECURSIVE
    pr AS ({{lsh}}),
    edges AS (SELECT d1 AS a, d2 AS b FROM pr UNION SELECT d2, d1 FROM pr),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (SELECT a AS doc_id, MIN(b) AS min_reach FROM reach GROUP BY a),
    assigned AS (
      SELECT d.doc_id,
             CAST(COALESCE(LEAST(l.min_reach, d.doc_id), d.doc_id) AS BIGINT)
               AS cluster_id
      FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN gate < 90 THEN 'train'
                WHEN gate < 95 THEN 'validation'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
                 {render('h60', 'duckdb', 'split:', 'CAST(cluster_id AS VARCHAR)')} % 100 AS gate
          FROM assigned) g
    """.format(lsh=_minhash_lsh_sql(0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND)),
    "cluster-aware train/val/test split (near-dups never straddle splits)",
    ("llm", "dedup", "training"),
)


# ---------------------------------------------------------------------------
# triangle counting / clustering coefficient on the duplication graph
# ---------------------------------------------------------------------------

def _passage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d1 < d2) edges of the passage-sharing graph — the same
    derivation as :func:`graph_pagerank_dupgraph` (span inverted index
    with the frequent-shingle carrier guard), plan-keyed-persisted so
    consumers that branch the edge list scan it once."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokens("text").alias("l")).filter(
        F.size("l") >= _PR_W
    )
    hashed = toks.select("doc_id", token_hash_structs("l").alias("hl"))
    spans = hashed.select(
        "doc_id", F.explode(gram_hash_array("hl", _PR_W)).alias("gh")
    ).distinct()
    ok = (
        spans.groupBy("gh")
        .agg(F.count("*").alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= _PR_MAX_CARRIERS))
        .select("gh")
    )
    sp = spans.join(ok, "gh")
    a = sp.select(F.col("doc_id").alias("d1"), "gh")
    b = sp.select(F.col("doc_id").alias("d2"), "gh")
    return D._persist_once(
        a.join(b, "gh").filter(F.col("d1") < F.col("d2")).select("d1", "d2").distinct()
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    passage-sharing graph — the cohesion metric that separates dense
    template families (many triangles: every copy shares spans with
    every other) from chain-shaped incidental duplication (paths, few
    triangles).  Together with PageRank (hubs) and connected components
    (membership) this completes the dup-graph analytics trio.

    Shape: each triangle {x<y<z} is counted once by joining ordered
    edges (x,y)+(y,z) and closing with (x,z) — two key-partitioned
    shuffle joins on the edge list, never a cross join; wedges come from
    the degree table (Σ deg·(deg−1)/2, exact integers).  The standard
    skew guard at 100 TB — cap per-node degree before wedging — is the
    carrier cap already applied upstream (`_PR_MAX_CARRIERS` bounds how
    many docs share a span, which bounds clique blowup).

    Exactness: counts and wedge sums are exact int64; the clustering
    coefficient 3·T/W is one IEEE division of exact integers.
    """
    pairs = _passage_pairs(spark, sf_dir)
    n_edges = pairs.agg(F.count("*").alias("n_edges"))
    both = pairs.select(F.col("d1").alias("node")).union(
        pairs.select(F.col("d2").alias("node"))
    )
    deg = both.groupBy("node").agg(F.count("*").alias("degree"))
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("degree * (degree - 1) div 2")).alias("n_wedges"),
    )
    e1 = pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    e2 = pairs.select(F.col("d1").alias("b"), F.col("d2").alias("c"))
    e3 = pairs.select(F.col("d1").alias("a"), F.col("d2").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"]).agg(
        F.count("*").alias("n_triangles")
    )
    return (
        tris.join(F.broadcast(n_edges))
        .join(F.broadcast(stats))
        .select(
            "n_triangles",
            "n_edges",
            "n_nodes",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double"),
            ).alias("clustering_coeff"),
        )
    )


def _triangle_sql() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, {SQL_TOKENS} AS l FROM documents
      WHERE len({SQL_TOKENS}) >= {_PR_W}
    ),
    h AS (SELECT doc_id, {render('token_hashes', 'duckdb', 'l')} AS hl FROM d),
    g AS (SELECT doc_id, {render('gram_hashes', 'duckdb', 'hl', _PR_W)} AS ga FROM h),
    spans AS (SELECT DISTINCT doc_id, unnest(ga) AS gh FROM g),
    ok AS (
      SELECT gh FROM spans GROUP BY 1
      HAVING COUNT(*) >= 2 AND COUNT(*) <= {_PR_MAX_CARRIERS}
    ),
    sp AS (SELECT s.doc_id, s.gh FROM spans s JOIN ok USING (gh)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM sp a JOIN sp b ON a.gh = b.gh AND a.doc_id < b.doc_id
    ),
    deg AS (
      SELECT node, COUNT(*) AS degree
      FROM (SELECT d1 AS node FROM pairs UNION ALL SELECT d2 FROM pairs) u
      GROUP BY 1
    ),
    st AS (
      SELECT COUNT(*) AS n_nodes,
             CAST(SUM(degree * (degree - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg
    ),
    ne AS (SELECT COUNT(*) AS n_edges FROM pairs),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM pairs e1
      JOIN pairs e2 ON e1.d2 = e2.d1
      JOIN pairs e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
    )
    SELECT n_triangles, n_edges, n_nodes, n_wedges,
           CASE WHEN n_wedges > 0
                THEN CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
           END AS clustering_coeff
    FROM tri, ne, st
    """


QUERIES["graph_triangle_count"] = QuerySpec(
    graph_triangle_count,
    _triangle_sql(),
    "exact triangles + clustering coefficient of the dup graph (ordered edge joins)",
    ("llm", "graph", "dedup"),
)


# ---------------------------------------------------------------------------
# language-ID accuracy report + corpus n-gram diversity
# ---------------------------------------------------------------------------

def text_language_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language evaluation of the stopword-evidence language
    identifier against the labeled ``lang`` column: support, correct
    count, recall, and the most common confusion — the eval harness a
    curation team reads before trusting the classifier to route
    documents.  One projection (the classifier is a CASE chain) + two
    key-grouped aggregations; the winner-confusion pick is a top-1
    window per label over the |langs|² confusion cells."""
    pred = text_language_id(spark, sf_dir).select("labeled_lang", "pred_lang")
    cells = pred.groupBy("labeled_lang", "pred_lang").agg(F.count("*").alias("n"))
    per_label = cells.groupBy("labeled_lang").agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("pred_lang") == F.col("labeled_lang"), F.col("n")).otherwise(F.lit(0))).alias(
            "n_correct"
        ),
    )
    wrong = cells.filter(F.col("pred_lang") != F.col("labeled_lang"))
    w = W.partitionBy("labeled_lang").orderBy(F.col("n").desc(), "pred_lang")
    top_conf = (
        wrong.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("labeled_lang", F.col("pred_lang").alias("top_confusion"), F.col("n").alias("n_confused"))
    )
    return (
        per_label.join(top_conf, "labeled_lang", "left")
        .select(
            "labeled_lang",
            "n_docs",
            "n_correct",
            (F.col("n_correct").cast("double") / F.col("n_docs").cast("double")).alias("recall"),
            "top_confusion",
            F.coalesce("n_confused", F.lit(0)).alias("n_confused"),
        )
        .orderBy("labeled_lang")
    )


QUERIES["text_language_id_accuracy"] = QuerySpec(
    text_language_id_accuracy,
    f"""
    WITH scores AS (
      SELECT doc_id, lang AS labeled_lang,
             {', '.join(render('stopword_hits', 'duckdb', 'text', lang) + f' AS s_{lang}' for lang in X.LANG_PRIORITY)}
      FROM documents
    ),
    pred AS (
      SELECT labeled_lang, {render('langid', 'duckdb', {lang: f's_{lang}' for lang in X.LANG_PRIORITY})} AS pred_lang FROM scores
    ),
    cells AS (
      SELECT labeled_lang, pred_lang, COUNT(*) AS n
      FROM pred GROUP BY 1, 2
    ),
    per_label AS (
      SELECT labeled_lang,
             CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN pred_lang = labeled_lang THEN n ELSE 0 END) AS BIGINT)
               AS n_correct
      FROM cells GROUP BY 1
    ),
    conf AS (
      SELECT labeled_lang, pred_lang AS top_confusion, n AS n_confused,
             ROW_NUMBER() OVER (PARTITION BY labeled_lang
                                ORDER BY n DESC, pred_lang) AS rk
      FROM cells WHERE pred_lang != labeled_lang
    )
    SELECT p.labeled_lang, p.n_docs, p.n_correct,
           CAST(p.n_correct AS DOUBLE) / CAST(p.n_docs AS DOUBLE) AS recall,
           c.top_confusion,
           CAST(COALESCE(c.n_confused, 0) AS BIGINT) AS n_confused
    FROM per_label p
    LEFT JOIN (SELECT * FROM conf WHERE rk = 1) c USING (labeled_lang)
    ORDER BY p.labeled_lang
    """,
    "language-ID eval: per-label support/recall/top confusion",
    ("text", "quality"),
)


def corpus_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram diversity report: distinct/total ratios for
    unigrams and bigrams (distinct-1 / distinct-2 in the synthetic-data
    literature) — the mode-collapse detector for generated or templated
    corpora: a source whose bigram diversity craters relative to peers
    is emitting near-identical text the dedup pass then has to mop up.

    Two explodes (token, adjacent pair), two count-distinct
    aggregations keyed by source, one join — all map-combinable; exact
    integers with one final division per ratio."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("source", X.tokens("text").alias("l"))
    uni = toks.select("source", F.explode("l").alias("w"))
    uni_stats = uni.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct_tokens"),
    )
    bi = toks.filter(F.size("l") >= 2).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 1),"
                " i -> struct(element_at(l, i) AS w1, element_at(l, i + 1) AS w2))"
            )
        ).alias("p"),
    )
    bi_stats = bi.groupBy("source").agg(
        F.count("*").alias("n_bigrams"),
        F.countDistinct("p.w1", "p.w2").alias("n_distinct_bigrams"),
    )
    return (
        uni_stats.join(bi_stats, "source")
        .select(
            "source",
            "n_tokens",
            "n_distinct_tokens",
            (
                F.col("n_distinct_tokens").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("distinct_1"),
            "n_bigrams",
            "n_distinct_bigrams",
            (
                F.col("n_distinct_bigrams").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("distinct_2"),
        )
        .orderBy("source")
    )


QUERIES["corpus_ngram_diversity"] = QuerySpec(
    corpus_ngram_diversity,
    f"""
    WITH tk AS (SELECT source, {SQL_TOKENS} AS l FROM documents),
    uni AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_tokens
      FROM (SELECT source, unnest(l) AS w FROM tk) u GROUP BY 1
    ),
    bi AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(COUNT(DISTINCT (w1, w2)) AS BIGINT) AS n_distinct_bigrams
      FROM (
        SELECT source, l[i] AS w1, l[i + 1] AS w2
        FROM (SELECT source, l, unnest(range(1, len(l))) AS i FROM tk) x
      ) p GROUP BY 1
    )
    SELECT u.source, u.n_tokens, u.n_distinct_tokens,
           CAST(u.n_distinct_tokens AS DOUBLE) / CAST(u.n_tokens AS DOUBLE)
             AS distinct_1,
           b.n_bigrams, b.n_distinct_bigrams,
           CAST(b.n_distinct_bigrams AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE)
             AS distinct_2
    FROM uni u JOIN bi b USING (source)
    ORDER BY u.source
    """,
    "per-source distinct-1/distinct-2 n-gram diversity (mode-collapse detector)",
    ("text", "quality", "llm"),
)


# ---------------------------------------------------------------------------
# cross-source duplication matrix + embedding quality report
# ---------------------------------------------------------------------------

def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate flow BETWEEN sources: for each (source_a,
    source_b) pair, how many MinHash near-dup pairs straddle them —
    the governance matrix that answers "which feeds are recrawling
    each other / mirroring the same upstream?" and decides which source
    to de-prioritize.  Diagonal rows (a == b) count within-source
    duplication.

    Two broadcast-able doc→source joins onto the near-dup pair list
    (the pair list is the expensive part and is the SAME plan as
    dedup_minhash_lsh); source pairs are unordered (lexicographic
    normalization) so each undirected pair lands in one cell."""
    docs = t(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(docs, threshold=0.8)
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(src.select(F.col("doc_id").alias("d1"), F.col("source").alias("_s1")), "d1")
        .join(src.select(F.col("doc_id").alias("d2"), F.col("source").alias("_s2")), "d2")
    )
    return (
        j.select(
            F.least("_s1", "_s2").alias("source_a"),
            F.greatest("_s1", "_s2").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


QUERIES["dedup_cross_source_matrix"] = QuerySpec(
    dedup_cross_source_matrix,
    f"""
    WITH pr AS ({_minhash_lsh_sql(0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND)})
    SELECT LEAST(sa.source, sb.source) AS source_a,
           GREATEST(sa.source, sb.source) AS source_b,
           COUNT(*) AS n_dup_pairs
    FROM pr
    JOIN documents sa ON sa.doc_id = pr.d1
    JOIN documents sb ON sb.doc_id = pr.d2
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "near-dup pair counts between source pairs (mirror/recrawl governance matrix)",
    ("dedup", "llm", "governance"),
)


def embedding_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector hygiene: count, zero-vector count, wrong-width
    count, and exact micro-quantized min/max/mean L2 norm — the QA gate
    a vector pipeline runs before indexing (zero vectors poison cosine
    similarity; mixed dims crash ANN kernels; a collapsed norm range
    flags a broken encoder).

    One projection computing the squared norm as an array fold (JVM,
    codegen) + one keyed aggregation; norms are micro-quantized
    (round(sqrt·1e6)) before the order-independent integer mean."""
    emb = t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm_micro = F.round(F.sqrt(sq) * F.lit(1e6)).cast("long")
    base = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        norm_micro.alias("nm"),
    )
    return (
        base.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.when(F.col("nm") == 0, 1).otherwise(0)).cast("long").alias("n_zero"),
            F.sum(F.when(F.col("dim") != 64, 1).otherwise(0)).cast("long").alias("n_wrong_dim"),
            (F.min("nm").cast("double") / F.lit(1e6)).alias("min_norm"),
            (F.max("nm").cast("double") / F.lit(1e6)).alias("max_norm"),
            (
                (F.sum("nm").cast("double") / F.count("*").cast("double"))
                / F.lit(1e6)
            ).alias("mean_norm"),
        )
        .orderBy("label")
    )


QUERIES["embedding_quality_report"] = QuerySpec(
    embedding_quality_report,
    """
    WITH base AS (
      SELECT label,
             len(embedding) AS dim,
             CAST(ROUND(SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[]))) * 1e6)
                  AS BIGINT) AS nm
      FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN nm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(SUM(CASE WHEN dim != 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
           CAST(MIN(nm) AS DOUBLE) / 1e6 AS min_norm,
           CAST(MAX(nm) AS DOUBLE) / 1e6 AS max_norm,
           (CAST(SUM(nm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS mean_norm
    FROM base GROUP BY label ORDER BY label
    """,
    "per-label vector hygiene: zero/odd-dim counts + exact norm stats",
    ("similarity", "quality", "llm"),
)


# ---------------------------------------------------------------------------
# ANN self-evaluation: IVF recall vs brute force
# ---------------------------------------------------------------------------

def similarity_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF approximate search against the brute-force
    ground truth, per query vector — the eval every ANN deployment
    tracks when tuning n_lists/n_probes (pytest pins a floor; this
    entry makes the number a first-class, oracle-checked report).

    Pure composition: both sides are the existing oracle-green
    pipelines; one left join on (query, neighbor) + a per-query
    aggregate."""
    bf = similarity_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = (
        similarity_ivf_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    j = bf.join(ivf, ["query_id", "neighbor_id"], "left")
    return (
        j.groupBy("query_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
            F.count("*").alias("k"),
        )
        .select(
            "query_id",
            "n_hits",
            "k",
            (F.col("n_hits").cast("double") / F.col("k").cast("double")).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


QUERIES["similarity_ivf_recall_report"] = QuerySpec(
    similarity_ivf_recall_report,
    None,  # filled below from the two component oracles
    "per-query recall@10 of IVF vs brute-force ground truth",
    ("similarity", "quality"),
)
QUERIES["similarity_ivf_recall_report"].sql = f"""
    WITH bf AS ({QUERIES["similarity_topk"].sql}),
    ivf AS ({QUERIES["similarity_ivf_topk"].sql}),
    j AS (
      SELECT b.query_id,
             CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM bf b
      LEFT JOIN ivf i ON i.query_id = b.query_id
                     AND i.neighbor_id = b.neighbor_id
    )
    SELECT query_id,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           COUNT(*) AS k,
           CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall_at_10
    FROM j GROUP BY query_id ORDER BY query_id
    """


# ---------------------------------------------------------------------------
# LSH banding tuning curve
# ---------------------------------------------------------------------------

_LSH_TUNING_CONFIGS = [(4, 8), (8, 4), (16, 2), (32, 1)]  # (bands, rows)


def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected LSH recall per banding configuration, evaluated on the
    corpus's OWN similarity distribution — the tuning table read before
    picking (bands, rows): for a pair with Jaccard s, the standard
    banding analysis gives detection probability 1 − (1 − s^r)^b, and
    averaging it over the observed ≥0.5-Jaccard pairs says what each
    config would actually catch HERE (a uniform-s assumption misleads
    when the corpus is bimodal).  Complements dedup_lsh_quality_report,
    which measures the one deployed config after the fact.

    Shape: the exact pair list is computed once and unioned across 4
    config projections (pure arithmetic per config — no re-scan: the
    pair plan is plan-keyed-persisted); per-pair probabilities are
    micro-quantized before the exact integer mean.  At 100 TB the
    exact ≥0.5 pair enumeration runs on a deterministic corpus SAMPLE
    (sample_deterministic's h60 gate) — the s-distribution, not the
    pair census, is what the curve needs."""
    docs = t(spark, sf_dir, "documents")
    pairs = D._persist_once(
        D.jaccard_pairs(docs, threshold=0.5).select("jaccard")
    )
    outs = []
    for b, r in _LSH_TUNING_CONFIGS:
        p_detect = F.lit(1.0) - (
            F.lit(1.0) - F.pow(F.col("jaccard"), F.lit(float(r)))
        ) ** F.lit(float(b))
        term = F.round(p_detect * F.lit(1e6)).cast("long")
        outs.append(
            pairs.agg(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.count("*").alias("n_pairs_scored"),
                (
                    (F.sum(term).cast("double") / F.count("*").cast("double"))
                    / F.lit(1e6)
                ).alias("expected_recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("bands")


def _lsh_tuning_sql() -> str:
    # reuse the exact-jaccard pair derivation at threshold 0.5
    num, den = D._rational_threshold(0.5)
    per_config = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
           COUNT(*) AS n_pairs_scored,
           (CAST(SUM(CAST(ROUND((1.0 - POWER(1.0 - POWER(jaccard, {float(r)}), {float(b)}))
                                * 1e6) AS BIGINT)) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS expected_recall
    FROM pairs"""
        for b, r in _LSH_TUNING_CONFIGS
    )
    return f"""
    WITH {_SQL_TOK_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    common AS (
      SELECT ta.doc_id AS d1, tb.doc_id AS d2, COUNT(*) AS n_common
      FROM tok ta JOIN tok tb ON ta.token = tb.token AND ta.doc_id < tb.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT CAST(n_common AS DOUBLE)
               / CAST(s1.n + s2.n - n_common AS DOUBLE) AS jaccard
      FROM common c
      JOIN sz s1 ON s1.doc_id = c.d1
      JOIN sz s2 ON s2.doc_id = c.d2
      WHERE {den + num} * n_common >= {num} * (s1.n + s2.n)
    )
    {per_config}
    ORDER BY bands
    """


QUERIES["dedup_lsh_tuning_curve"] = QuerySpec(
    dedup_lsh_tuning_curve,
    _lsh_tuning_sql(),
    "expected LSH recall per (bands, rows) config on the observed pair distribution",
    ("dedup", "governance"),
)


# ---------------------------------------------------------------------------
# MinHash estimator calibration
# ---------------------------------------------------------------------------

def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the MinHash Jaccard ESTIMATOR against exact
    Jaccard on the verified near-dup pairs: per pair the signature
    agreement fraction (matching components / k) is the sketch's
    similarity estimate; this reports its mean absolute error and bias
    in micro units plus the worst single-pair deviation — the
    sketch-health number that says whether k=32 components are enough
    for THIS corpus before anyone trusts the LSH pipeline's scores.

    Shape: the verified pair list (same plan as dedup_minhash_lsh)
    joined twice against the signature table (doc-keyed broadcasts at
    report scale, shuffle joins at 100 TB); the per-pair error is exact
    integer arithmetic (agreement·10⁶/k and micro-quantized exact
    jaccard), so the aggregate is order-independent."""
    docs = t(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs)
    pairs = D.minhash_near_duplicates(docs, threshold=0.8)
    k = D.MINHASH_K
    a = sigs.select(F.col("doc_id").alias("d1"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(k)])
    b = sigs.select(F.col("doc_id").alias("d2"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(k)])
    j = pairs.join(a, "d1").join(b, "d2")
    agree = None
    for i in range(k):
        c = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = c if agree is None else agree + c
    est_micro = (agree.cast("long") * F.lit(1_000_000)) / F.lit(k)
    exact_micro = F.round(F.col("jaccard") * F.lit(1e6)).cast("long")
    err = est_micro.cast("long") - exact_micro
    return j.select(err.alias("e")).agg(
        F.count("*").alias("n_pairs"),
        (F.sum(F.abs(F.col("e"))).cast("double") / F.count("*").cast("double") / F.lit(1e6)).alias("mean_abs_error"),
        (F.sum(F.col("e")).cast("double") / F.count("*").cast("double") / F.lit(1e6)).alias("mean_bias"),
        (F.max(F.abs(F.col("e"))).cast("double") / F.lit(1e6)).alias("max_abs_error"),
    )


def _minhash_calibration_sql() -> str:
    k = D.MINHASH_K
    mins = ",\n         ".join(
        f"MIN({render('affine_member', 'duckdb', 'token', i)}) AS h{i}" for i in range(k)
    )
    agree = " + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(k))
    return f"""
    WITH pr AS ({_minhash_lsh_sql(0.8, D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS_PER_BAND)}),
    tok2 AS (
      SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS token
      FROM documents
    ),
    sig2 AS (
      SELECT doc_id,
         {mins}
      FROM tok2 GROUP BY doc_id
    ),
    e AS (
      SELECT (CAST(({agree}) AS BIGINT) * 1000000) / {k}
             - CAST(ROUND(pr.jaccard * 1e6) AS BIGINT) AS e
      FROM pr
      JOIN sig2 sa ON sa.doc_id = pr.d1
      JOIN sig2 sb ON sb.doc_id = pr.d2
    )
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(ABS(e)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
             AS mean_abs_error,
           CAST(SUM(e) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6 AS mean_bias,
           CAST(MAX(ABS(e)) AS DOUBLE) / 1e6 AS max_abs_error
    FROM e
    """


QUERIES["dedup_minhash_calibration"] = QuerySpec(
    dedup_minhash_calibration,
    _minhash_calibration_sql(),
    "MinHash estimator vs exact Jaccard: MAE/bias/worst-case on verified pairs",
    ("dedup", "governance", "quality"),
)


# ---------------------------------------------------------------------------
# IVF index maintenance: incremental append + drift report (VERDICT r10)
# ---------------------------------------------------------------------------

_IVF_APPEND_MOD = 8  # index built from vec_id % 8 != 7; appended batch == 7
_IVF_APPEND_LISTS = 16
_IVF_APPEND_PROBE = 4


def _ivf_append_frames(spark: SparkSession, sf_dir: str):
    """(seeds, assigned_base, appended): the IVF index trained on the
    base corpus (vec_id % 8 != 7) plus the later batch (== 7) assigned
    to the FROZEN base centroids via operators/similarity.ivf_append —
    the maintenance path of a growing corpus.  Shared by the append
    probe and the drift report."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % _IVF_APPEND_MOD != _IVF_APPEND_MOD - 1)
    batch = emb.filter(F.col("vec_id") % _IVF_APPEND_MOD == _IVF_APPEND_MOD - 1)
    seeds, assigned_base = S.ivf_assignments(base, n_lists=_IVF_APPEND_LISTS)
    appended = S.ivf_append(batch, seeds)
    return seeds, assigned_base, appended


def similarity_ivf_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k served from an IVF index maintained by INCREMENTAL APPENDS:
    centroids trained on the base corpus only; the appended batch was
    assigned by :func:`operators.similarity.ivf_append` (one broadcast
    join linear in the batch — stored entries never rescanned; the
    rebuild-vs-append wall-clock gap is measured in
    scripts/probe_ivf_append.py, the snapshot/vacuum lifecycle in
    tests/test_similarity.py).  The oracle replays a FROM-SCRATCH
    assignment of the whole corpus against the same base-trained seeds
    — append-then-probe must reproduce it exactly, which is the
    correctness contract of incremental maintenance."""
    seeds, assigned_base, appended = _ivf_append_frames(spark, sf_dir)
    entries = assigned_base.unionByName(appended)
    queries = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return S.ivf_probe_topk(
        queries, seeds, entries, k=10, n_probe=_IVF_APPEND_PROBE
    )


def similarity_ivf_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-list health of the appended IVF index: fill counts, appended
    share, and mean member-to-centroid similarity for build-time vs
    appended members (micro-exact arithmetic) — the measurement that
    decides when frozen centroids have drifted enough to re-train.  See
    operators/similarity.ivf_drift_report."""
    seeds, assigned_base, appended = _ivf_append_frames(spark, sf_dir)
    return S.ivf_drift_report(assigned_base, appended, seeds)


_SQL_IVF_APPEND_SEEDS = f"""
    seeds AS (
      SELECT vec_id AS list_id, v AS seed_v, sq_norm AS seed_n
      FROM n WHERE (vec_id % {_IVF_APPEND_MOD}) != {_IVF_APPEND_MOD - 1}
      ORDER BY vec_id LIMIT {_IVF_APPEND_LISTS}
    )
"""

QUERIES["similarity_ivf_append_probe"] = QuerySpec(
    similarity_ivf_append_probe,
    f"""
    WITH {_SQL_EMB_NORM},
    {_SQL_IVF_APPEND_SEEDS},
    assigned AS (
      SELECT neighbor_id, cv, cn, list_id FROM (
        SELECT c.vec_id AS neighbor_id, c.v AS cv, c.sq_norm AS cn,
               s.list_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 ROUND(list_dot_product(c.v, s.seed_v)
                       / (SQRT(c.sq_norm) * SQRT(s.seed_n)), 6) DESC,
                 s.list_id) AS r
        FROM n c CROSS JOIN seeds s) sub
      WHERE r = 1
    ),
    probes AS (
      SELECT query_id, qv, qn, list_id FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, q.sq_norm AS qn,
               s.list_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ROUND(list_dot_product(q.v, s.seed_v)
                       / (SQRT(q.sq_norm) * SQRT(s.seed_n)), 6) DESC,
                 s.list_id) AS r
        FROM n q CROSS JOIN seeds s
        WHERE q.vec_id < 5) sub
      WHERE r <= {_IVF_APPEND_PROBE}
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             ROUND(list_dot_product(p.qv, a.cv)
                   / (SQRT(p.qn) * SQRT(a.cn)), 4) AS cos_sim
      FROM probes p JOIN assigned a USING (list_id)
      WHERE p.query_id != a.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, "rank" FROM (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
      FROM scored) sub
    WHERE "rank" <= 10
    """,
    "top-k from an append-maintained IVF index ≡ from-scratch assignment replay",
    ("similarity", "index"),
)

QUERIES["similarity_ivf_drift_report"] = QuerySpec(
    similarity_ivf_drift_report,
    f"""
    WITH {_SQL_EMB_NORM},
    {_SQL_IVF_APPEND_SEEDS},
    assigned AS (
      SELECT list_id, sm, is_new FROM (
        SELECT s.list_id,
               CAST(ROUND(ROUND(list_dot_product(c.v, s.seed_v)
                     / (SQRT(c.sq_norm) * SQRT(s.seed_n)), 6)
                     * 1000000.0) AS BIGINT) AS sm,
               (c.vec_id % {_IVF_APPEND_MOD}) = {_IVF_APPEND_MOD - 1} AS is_new,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 ROUND(list_dot_product(c.v, s.seed_v)
                       / (SQRT(c.sq_norm) * SQRT(s.seed_n)), 6) DESC,
                 s.list_id) AS r
        FROM n c CROSS JOIN seeds s) sub
      WHERE r = 1
    ),
    agg AS (
      SELECT list_id,
             CAST(COUNT(*) FILTER (WHERE NOT is_new) AS BIGINT) AS n_base,
             CAST(COUNT(*) FILTER (WHERE is_new) AS BIGINT) AS n_new,
             CAST(COALESCE(SUM(sm) FILTER (WHERE NOT is_new), 0) AS BIGINT) AS sb,
             CAST(COALESCE(SUM(sm) FILTER (WHERE is_new), 0) AS BIGINT) AS sn
      FROM assigned GROUP BY list_id
    ),
    j AS (
      SELECT s.list_id,
             COALESCE(a.n_base, 0) AS n_base, COALESCE(a.n_new, 0) AS n_new,
             COALESCE(a.sb, 0) AS sb, COALESCE(a.sn, 0) AS sn
      FROM seeds s LEFT JOIN agg a USING (list_id)
    )
    SELECT list_id, n_base, n_new,
           CASE WHEN n_base + n_new > 0 THEN
             CAST(n_new AS DOUBLE) / CAST(n_base + n_new AS DOUBLE) END
             AS share_new,
           CASE WHEN n_base > 0 THEN
             (CAST(sb AS DOUBLE) / CAST(n_base AS DOUBLE)) / 1000000.0 END
             AS mean_sim_base,
           CASE WHEN n_new > 0 THEN
             (CAST(sn AS DOUBLE) / CAST(n_new AS DOUBLE)) / 1000000.0 END
             AS mean_sim_new,
           (CASE WHEN n_base > 0 THEN
             (CAST(sb AS DOUBLE) / CAST(n_base AS DOUBLE)) / 1000000.0 END)
           - (CASE WHEN n_new > 0 THEN
             (CAST(sn AS DOUBLE) / CAST(n_new AS DOUBLE)) / 1000000.0 END)
             AS drift
    FROM j ORDER BY list_id
    """,
    "per-list fill + centroid-fit drift of the append-maintained IVF index",
    ("similarity", "index", "governance"),
)
