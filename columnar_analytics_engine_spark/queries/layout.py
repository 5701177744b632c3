"""Layout-quality and file-pruning queries: measurable clustering.

The scale thesis of ``layout.py`` and ``skipping.py``, registered as
hash-verified queries: (1) clustering DEPTH — the number that predicts
how much a stats index can prune — computed for a single-column layout
vs a Z-order layout over the same table, replayed exactly in DuckDB
(the deterministic bucket assignment makes the bit-interleaving
SQL-expressible); (2) Z-order + stats-index scan, oracle-checked
against the unpruned source (pruning is I/O-only); (3) dynamic file
pruning for a fact⋈dim join, oracle-checked against the plain join.

Reference parity anchor: the reference prunes per PAGE from in-footer
zone maps (``src/execution.cpp`` ``Predicate::canSkipPage``,
``tests/test_query.cpp`` skip-stat assertions); these queries carry the
same invariant one level up (files instead of pages, an external index
instead of footers) where it pays at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions import text as X
from columnar_analytics_engine_spark.functions.kernels import render
from columnar_analytics_engine_spark.queries._util import (
    SQL_TOKENS,
    QuerySpec,
    exact_sum,
    sql_exact_sum,
    t,
)

_BITS = 8  # per-column Morton bits
_NB = 16  # buckets per layout (2^4)


def layout_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering depth (avg overlapping buckets per bucket — the
    Snowflake "clustering depth" number) of two deterministic layouts
    of ``orders``: 16 range buckets on ``o_custkey`` alone vs 16
    Z-order buckets over (``o_custkey``, ``o_orderkey``).  Probed on
    both columns: the single-column layout is perfect on its key and
    worthless on the other (depth = n_buckets); Z-order is good on
    BOTH — the measurement that justifies ``io.write_zorder`` before a
    100 TB rewrite.  Bucket ids are pure expressions of row values and
    exact table min/max, so DuckDB replays the full computation —
    including the bit interleave — and the driver hash-verifies it."""
    from columnar_analytics_engine_spark.layout import (
        bucket_extents,
        clustering_depth,
        with_linear_bucket,
        with_zorder_bucket,
    )

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probes = ["o_custkey", "o_orderkey"]
    lin = bucket_extents(
        with_linear_bucket(orders, "o_custkey", _NB), probes, "linear_custkey"
    )
    zo = bucket_extents(
        with_zorder_bucket(orders, ["o_custkey", "o_orderkey"], _NB, bits=_BITS),
        probes,
        "zorder_custkey_orderkey",
    )
    return clustering_depth(lin.unionByName(zo))


def _clustering_depth_sql() -> str:
    lvl = (1 << _BITS) - 1
    k = _NB.bit_length() - 1
    shift = _BITS * 2 - k
    ext_parts = []
    for layout, bucket in (
        ("linear_custkey", "lb"),
        ("zorder_custkey_orderkey", "zb"),
    ):
        for probe in ("o_custkey", "o_orderkey"):
            ext_parts.append(
                f"SELECT '{layout}' AS layout, '{probe}' AS probe_col,"
                f" CAST({bucket} AS VARCHAR) AS bucket,"
                f" MIN(CAST({probe} AS DOUBLE)) AS mn,"
                f" MAX(CAST({probe} AS DOUBLE)) AS mx"
                f" FROM bk GROUP BY {bucket}"
            )
    ext = " UNION ALL ".join(ext_parts)
    return f"""
    WITH s AS (
      SELECT CAST(MIN(o_custkey) AS DOUBLE) AS mn0, CAST(MAX(o_custkey) AS DOUBLE) AS mx0,
             CAST(MIN(o_orderkey) AS DOUBLE) AS mn1, CAST(MAX(o_orderkey) AS DOUBLE) AS mx1
      FROM orders
    ),
    bins AS (
      SELECT o_custkey, o_orderkey,
             {render('range_bin', 'duckdb', 'o_custkey', 'mn0', 'mx0', lvl)} AS bin0,
             {render('range_bin', 'duckdb', 'o_orderkey', 'mn1', 'mx1', lvl)} AS bin1,
             {render('range_bin', 'duckdb', 'o_custkey', 'mn0', 'mx0', _NB - 1)} AS lb
      FROM orders, s
    ),
    bk AS (
      SELECT o_custkey, o_orderkey, lb,
             ({render('morton', 'duckdb', ['bin0', 'bin1'], _BITS)} >> {shift}) AS zb
      FROM bins
    ),
    ext AS ({ext}),
    j AS (
      SELECT a.layout, a.probe_col, a.bucket
      FROM ext a JOIN ext b
        ON a.layout = b.layout AND a.probe_col = b.probe_col
       AND a.mn <= b.mx AND b.mn <= a.mx
    )
    SELECT layout, probe_col,
           COUNT(DISTINCT bucket) AS n_buckets,
           CAST((COUNT(*) - COUNT(DISTINCT bucket)) / 2 AS BIGINT) AS overlap_pairs,
           CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT bucket) AS avg_depth
    FROM j
    GROUP BY layout, probe_col
    ORDER BY layout, probe_col
    """


def skipping_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order write + stats-index pruned scan under a TWO-column
    predicate: ``io.write_zorder`` clusters ``orders`` on
    (``o_custkey``, ``o_orderkey``), the file-level stats index prunes
    the manifest on BOTH clauses, and the aggregate over the surviving
    files hash-matches the oracle's full-table filter — multi-column
    skipping with zero result drift (the single-column version is
    ``skipping_index_scan``)."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.io import write_zorder
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        read_skipping,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_zskip_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_zskip_idx_{tag}"
    write_zorder(src, data, ["o_custkey", "o_orderkey"], n_files=16)
    build_stats_index(spark, data, index)
    return read_skipping(
        spark,
        data,
        index,
        "o_custkey ge 10 and o_custkey le 60 and o_orderkey ge 1 and o_orderkey le 2000",
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum("o_orderkey").alias("sum_orderkey"),
        exact_sum("o_totalprice", "sum_price"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_orderkey").alias("max_order"),
    )


def skipping_bloom_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needle-in-the-corpus point lookup through the Bloom file index:
    ``orders`` written SHUFFLED (the layout where interval stats prune
    nothing for a mid-domain key), a per-(file, column) Bloom index
    built over the id column, and an eq probe answered by reading only
    the files the bloom cannot refute — at 100 TB this is the "find
    one document by id without a scan" path.  False positives only
    ADD files; the exact predicate re-applies on the pruned scan, so
    the oracle (full-table filter) hash-matches regardless of fpp."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.io import write_shuffled
    from columnar_analytics_engine_spark.skipping import (
        build_bloom_index,
        build_stats_index,
        read_skipping,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_bloom_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_bloom_idx_{tag}"
    bloom = f"{tempfile.gettempdir()}/cae_bloom_blm_{tag}"
    agg_cols = (
        F.count("*").alias("n_orders"),
        F.sum("o_custkey").alias("sum_custkey"),
        exact_sum("o_totalprice", "sum_price"),
    )
    write_shuffled(src, data, "o_orderkey", n_files=16)
    from columnar_analytics_engine_spark.skipping import list_parquet_files

    if not list_parquet_files(data):
        # empty source: a hive-partitioned write of zero rows lands no
        # files, so there is nothing to index — same plan, unpruned
        return src.filter(F.col("o_orderkey") == 42).agg(*agg_cols)
    build_stats_index(spark, data, index)
    build_bloom_index(spark, data, bloom, ["o_orderkey"])
    return read_skipping(
        spark, data, index, "o_orderkey eq 42", bloom_path=bloom
    ).agg(*agg_cols)


_DFP_BUILT: dict[str, tuple[str, str]] = {}


def _dfp_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per process per sf_dir) the clustered-lineitem +
    stats-index fixture for ``skipping_dynamic_join``.  The build is
    table MAINTENANCE (clustered rewrite + distributed index build) —
    ~90% of the query's old headline wall time — so it is cached and
    exposed as the QuerySpec's ``setup`` for separate timing
    (VERDICT r11 item 3)."""
    if sf_dir in _DFP_BUILT:
        return _DFP_BUILT[sf_dir]
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.skipping import build_stats_index

    fact = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_dfp_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_dfp_idx_{tag}"
    write_sorted(fact, data, ["l_orderkey"], n_files=16)
    build_stats_index(spark, data, index)
    _DFP_BUILT[sf_dir] = (data, index)
    return data, index


def skipping_dynamic_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic file pruning for a fact⋈dim join: ``lineitem`` written
    key-clustered, its manifest pruned by the FILTERED dim side's
    order keys (``skipping.broadcast_join_skipping`` — exact key
    membership against per-file intervals), then broadcast-joined.
    Hash-oracled against the plain SQL join: file pruning on the probe
    side of an inner join never changes the result, only the I/O.
    This is the runtime-filtering layer Spark's own DPP applies only to
    hive-partition columns, generalized to any clustered data column
    via the stats index."""
    from columnar_analytics_engine_spark.skipping import (
        broadcast_join_skipping,
    )

    data, index = _dfp_fixture(spark, sf_dir)
    dim = (
        t(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") <= 600) & (F.col("o_orderstatus") == "F"))
        .select("o_orderkey", "o_orderstatus")
    )
    return (
        broadcast_join_skipping(
            spark, data, index, "l_orderkey", dim, "o_orderkey"
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_orderkey").alias("sum_orderkey"),
            exact_sum("l_quantity", "sum_qty"),
            exact_sum("l_extendedprice", "sum_price"),
        )
    )


def layout_cluster_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-clustering round-trip under the hash gate: write
    ``orders`` deliberately unclustered (flat round-robin — every file
    spans the full key range), compact the overlap-heaviest files
    Z-ordered via ``layout.cluster_compact`` (stage → rename-in →
    index swap → delete originals), then answer a range predicate
    through the post-compact index.  The oracle runs the same filter +
    aggregate on the untouched source: maintenance rewrites may only
    move rows between files, never change results.  (Table-format
    analog: Delta OPTIMIZE ZORDER / Iceberg rewrite_data_files;
    reference analog: the corruption suite's results-never-change bar,
    ``tests/test_corruption.cpp``.)"""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.layout import cluster_compact
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        read_skipping,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_compact_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_compact_idx_{tag}"
    agg_cols = (
        F.count("*").alias("n_orders"),
        F.sum("o_orderkey").alias("sum_orderkey"),
        exact_sum("o_totalprice", "sum_price"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
    )
    # flat round-robin: every file spans the full key range, and the
    # compaction can actually merge files (a hive-partitioned layout
    # would constrain rewrites to within each partition dir)
    src.repartition(16).write.mode("overwrite").parquet(data)
    build_stats_index(spark, data, index)
    cluster_compact(
        spark, data, index, ["o_custkey", "o_orderkey"], max_files=64
    )
    return read_skipping(
        spark, data, index, "o_custkey ge 10 and o_custkey le 60"
    ).agg(*agg_cols)


def layout_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-on-write bounded by the affected files: upsert a
    source of updates (+1000 on a price slice) and inserts (shifted
    keys) into a key-clustered ``orders``, rewriting ONLY the files
    the stats index says can contain a source key
    (``layout.merge_upsert_files`` ← ``skipping.plan_skipping_join``'s
    superset guarantee: a key absent from every affected file is
    absent from the table, so the rewrite both updates and inserts).
    The oracle replays the MERGE relationally (anti-join ∪ source) on
    the untouched source table."""
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.skipping import build_stats_index

    import hashlib
    import os
    import tempfile

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_merge_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_merge_idx_{tag}"
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    updates = src.filter(F.col("o_orderkey") <= 300).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    inserts = updates.filter(F.col("o_orderkey") <= 100).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    from columnar_analytics_engine_spark.skipping import read_indexed

    merge_upsert_files(
        spark, data, index, updates.unionByName(inserts), "o_orderkey"
    )
    return read_indexed(spark, data, index).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_orderkey"),
        F.sum("o_custkey").alias("sum_custkey"),
        exact_sum("o_totalprice", "sum_price"),
    )


_MERGE_SQL = f"""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey <= 300
      UNION ALL
      SELECT o_orderkey + 20000000, o_custkey, o_totalprice + 1000
      FROM orders WHERE o_orderkey <= 100
    ),
    merged AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
      FROM orders o
      WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM src)
      UNION ALL
      SELECT * FROM src
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey,
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM merged
"""


def _deletes_fixture(spark: SparkSession, sf_dir: str, tag_suffix: str):
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.deletes import delete_where
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.skipping import build_stats_index

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    tag = hashlib.md5(
        f"{sf_dir}:{os.getpid()}:{tag_suffix}".encode()
    ).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_dv_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_dv_idx_{tag}"
    dv = f"{tempfile.gettempdir()}/cae_dv_dv_{tag}"
    write_sorted(src, data, ["o_custkey"], n_files=8)
    build_stats_index(spark, data, index)
    delete_where(spark, data, dv, "o_orderstatus = 'F'")
    return data, index, dv


_DELETES_AGG_SQL = f"""
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM orders
    WHERE o_orderstatus <> 'F'
"""


def deletes_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level delete WITHOUT rewriting data files: predicate →
    (file, row_index) tombstones (``deletes.delete_where``, cost
    proportional to the deleted rows), then a merge-on-read scan that
    subtracts them (broadcast anti-join on the delete-count-sized DV
    table).  The oracle aggregates the source under the negated
    predicate — merge-on-read must equal the delete it models.  This
    is Delta deletion vectors / Iceberg position deletes on plain
    Parquet via ``_metadata.row_index``; at 100 TB it is the only
    affordable shape for a scattered 10k-row GDPR delete."""
    from columnar_analytics_engine_spark.deletes import read_with_deletes

    data, _index, dv = _deletes_fixture(spark, sf_dir, "mor")
    return read_with_deletes(spark, data, dv).agg(
        F.count("*").alias("n_orders"),
        F.sum("o_orderkey").alias("sum_orderkey"),
        exact_sum("o_totalprice", "sum_price"),
    )


def deletes_compact_physical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fold: ``deletes.compact_deletes`` rewrites ONLY the
    tombstone-carrying files without their deleted rows (stage →
    rename-in → stats-index swap → clear tombstones → drop originals),
    then ``vacuum_unindexed`` reclaims the rewritten originals, after
    which a PLAIN scan — no DV consultation — must hash-match the same
    oracle as the merge-on-read path: the full delete lifecycle
    (tombstone → fold → vacuum) changes bytes on disk, never
    results."""
    from columnar_analytics_engine_spark.deletes import compact_deletes

    from columnar_analytics_engine_spark.layout import vacuum_unindexed

    data, index, dv = _deletes_fixture(spark, sf_dir, "fold")
    compact_deletes(spark, data, dv, index)
    vacuum_unindexed(spark, data, index)
    return spark.read.parquet(data).agg(
        F.count("*").alias("n_orders"),
        F.sum("o_orderkey").alias("sum_orderkey"),
        exact_sum("o_totalprice", "sum_price"),
    )


def deletes_dedup_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup WITHOUT rewriting the corpus: a fingerprint dedup pass
    (md5 of the 12-token prefix — the cheap screen that catches
    template near-dups) picks per-group losers, ``deletes.delete_keys``
    tombstones them, and the merge-on-read scan returns the survivors.
    At 100 TB this is the shape dedup has to take — the loser list is
    a key set, the corpus stays immutable, and the physical fold
    (``compact_deletes``) runs on maintenance windows, not inline.
    The oracle replays the keep-min-id rule relationally on the
    untouched source."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.deletes import (
        delete_keys,
        read_with_deletes,
    )
    from columnar_analytics_engine_spark.io import write_sorted

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_tomb_data_{tag}"
    dv = f"{tempfile.gettempdir()}/cae_tomb_dv_{tag}"
    write_sorted(docs, data, ["doc_id"], n_files=8)
    fp = F.md5(F.concat_ws(" ", F.slice(X.tokens("text"), 1, 12)))
    keyed = docs.select("doc_id", fp.alias("f"))
    keep = keyed.groupBy("f").agg(F.min("doc_id").alias("keep_id"))
    losers = (
        keyed.join(keep, "f")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    delete_keys(spark, data, dv, losers, "doc_id")
    return read_with_deletes(spark, data, dv).agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("sum_id"),
        F.sum("n_chars").alias("sum_chars"),
    )



def layout_time_travel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation across maintenance (manifest.py): write
    ``orders`` key-clustered (manifest v1), run a data-CHANGING MERGE
    (``layout.merge_upsert_files`` — +1000 on a price slice plus
    shifted-key inserts, manifest v2), then aggregate BOTH snapshots —
    ``read_indexed(as_of=v1)`` must see the table exactly as published
    before the merge (the rewritten originals persist until vacuum),
    while the current read sees the merge.  The oracle replays both
    states relationally on the untouched source: one row per snapshot.
    This is Delta/Iceberg time travel on plain Parquet — and the
    concurrent-reader guarantee in query form, since an in-flight
    reader IS an as-of reader of the version it planned from."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.manifest import current_version
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        read_indexed,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_tt_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_tt_idx_{tag}"
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    v1 = current_version(index)
    updates = src.filter(F.col("o_orderkey") <= 300).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    inserts = updates.filter(F.col("o_orderkey") <= 100).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    merge_upsert_files(
        spark, data, index, updates.unionByName(inserts), "o_orderkey"
    )

    def snap(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").alias("sum_orderkey"),
            exact_sum("o_totalprice", "sum_price"),
        ).select(F.lit(name).alias("snapshot"), "*")

    return (
        snap(read_indexed(spark, data, index, as_of=v1), "v1")
        .unionByName(snap(read_indexed(spark, data, index), "v2"))
        .orderBy("snapshot")
    )


def layout_spec_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-spec EVOLUTION (clusterspec.py — VERDICT r12 item 6):
    write ``orders`` clustered on ``o_custkey`` under spec 0, switch
    the table's spec to ``o_orderkey``, and let ONE bounded
    ``cluster_compact`` (cols=None → active spec) lazily converge part
    of the table — the Iceberg partition-spec-evolution shape with no
    bulk rewrite.  The table is then TWO cohorts, each clustered by a
    different column; reads are manifest-driven and per-file
    stats-pruned, so results must be exactly the source's regardless
    of which cohort a row sits in — the oracle checks a full aggregate
    AND a pruned range scan on the NEW spec's column across both
    cohorts, plus the spec history count.  Per-cohort depth and
    skip-rate assertions live in tests/test_clusterspec.py (they
    depend on file layout, not on row values)."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.clusterspec import (
        read_spec_history,
        set_cluster_spec,
    )
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import cluster_compact
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        read_indexed,
        read_skipping,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_spec_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_spec_idx_{tag}"
    write_sorted(src, data, ["o_custkey"], n_files=8)
    build_stats_index(spark, data, index)
    # re-run idempotence (bench/lint invoke queries repeatedly in one
    # process, reusing the pid-keyed fixture dir): the spec HISTORY
    # appends, so start each run from a clean history like the
    # overwrite-mode data write above
    spec_file = os.path.join(index, "_CLUSTER_SPEC")
    if os.path.exists(spec_file):
        os.remove(spec_file)
    set_cluster_spec(index, ["o_custkey"], since_version=0)  # covers v1 files
    set_cluster_spec(index, ["o_orderkey"])  # the switch
    cluster_compact(spark, data, index, max_files=4)  # lazy convergence
    n_specs = len(read_spec_history(index))
    full = read_indexed(spark, data, index).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_key"),
        exact_sum("o_totalprice", "sum_price"),
    )
    pruned = read_skipping(spark, data, index, "o_orderkey le 500").agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_key"),
        exact_sum("o_totalprice", "sum_price"),
    )
    return (
        full.select(F.lit("full").alias("scan"), "*")
        .unionByName(pruned.select(F.lit("le500").alias("scan"), "*"))
        .withColumn("n_specs", F.lit(n_specs).cast("int"))
        .orderBy("scan")
    )


_SPEC_EVOLUTION_SQL = f"""
    SELECT 'full' AS scan, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           {sql_exact_sum('o_totalprice', 'sum_price')},
           CAST(2 AS INTEGER) AS n_specs
    FROM orders
    UNION ALL
    SELECT 'le500', COUNT(*),
           CAST(SUM(o_orderkey) AS BIGINT),
           {sql_exact_sum('o_totalprice', 'sum_price')},
           CAST(2 AS INTEGER)
    FROM orders WHERE o_orderkey <= 500
    ORDER BY scan
"""


def _cdf_fixture(spark: SparkSession, sf_dir: str, prefix: str):
    """Shared merge + tombstone-fold lifecycle for the CDF queries:
    orders key-clustered at v1, MERGE (+1000 on keys ≤ 300 plus
    shifted-key inserts), keys (300, 400] tombstoned and physically
    folded.  Returns (data, index, v1, v_now)."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.deletes import (
        compact_deletes,
        delete_keys,
    )
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.manifest import current_version
    from columnar_analytics_engine_spark.skipping import build_stats_index

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_{prefix}_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_{prefix}_idx_{tag}"
    dv = f"{tempfile.gettempdir()}/cae_{prefix}_dv_{tag}"
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    v1 = current_version(index)
    updates = src.filter(F.col("o_orderkey") <= 300).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    inserts = updates.filter(F.col("o_orderkey") <= 100).select(
        (F.col("o_orderkey") + 30_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    merge_upsert_files(
        spark, data, index, updates.unionByName(inserts), "o_orderkey"
    )
    losers = src.filter(
        (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 400)
    ).select("o_orderkey")
    delete_keys(spark, data, dv, losers, "o_orderkey", index_path=index)
    compact_deletes(spark, data, dv, index)
    return data, index, v1, current_version(index)


def layout_branch_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy table branching (``branch.clone_table``): clone the
    orders table's manifest (no data I/O), MERGE a +1000 price slice
    into the SOURCE and a different +500 slice into the BRANCH, then
    run the source's vacuum BRANCH-AWARE (``extra_indexes=
    family_indexes(...)``) and aggregate both branches.  The oracle
    replays the two divergent states relationally — if the branches
    shared any mutable state (a rewrite mutating shared bytes, a
    vacuum deleting files only the branch references), one side's
    aggregate would drift and the hash would mismatch.  This is
    Delta's shallow clone / Iceberg branching on plain Parquet: a
    dev/test sandbox over a 100 TB table costs one manifest write,
    and divergent writes stay snapshot-isolated on shared storage."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.branch import (
        clone_table,
        family_indexes,
    )
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import (
        merge_upsert_files,
        vacuum_unindexed,
    )
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        read_indexed,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_br_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_br_idx_{tag}"
    branch = f"{tempfile.gettempdir()}/cae_br_branch_{tag}"
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    import shutil

    if os.path.isdir(branch):
        # re-run idempotence: the clone starts fresh each run, like the
        # overwrite-mode data write above
        shutil.rmtree(branch)
    clone_table(spark, index, branch)
    upd_src = src.filter(F.col("o_orderkey") <= 300).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    merge_upsert_files(spark, data, index, upd_src, "o_orderkey")
    upd_br = src.filter(
        (F.col("o_orderkey") > 600) & (F.col("o_orderkey") <= 900)
    ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
    merge_upsert_files(spark, data, branch, upd_br, "o_orderkey")
    # branch-aware retention: the source's vacuum must not destroy
    # files only the branch references
    vacuum_unindexed(
        spark, data, index, keep_versions=1,
        extra_indexes=tuple(family_indexes(index)),
    )

    def snap(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").alias("sum_key"),
            exact_sum("o_totalprice", "sum_price"),
        ).select(F.lit(name).alias("branch"), "*")

    return (
        snap(read_indexed(spark, data, index), "source")
        .unionByName(snap(read_indexed(spark, data, branch), "branch"))
        .orderBy(F.desc("branch"))
    )


def layout_branch_merge_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch → experiment → merge back (``branch.merge_back``): all of
    a branch's work since the clone point — an update slice, shifted
    inserts, a folded delete range — is derived from the BRANCH's own
    change feed and applied to the source as one keyed MERGE plus one
    keyed delete, cost bounded by what the branch changed.  The oracle
    replays the branch's final state; after the merge back the SOURCE
    must aggregate to exactly that, or the hash mismatches (a missed
    feed row, a mis-paired update, or an unapplied delete all
    surface)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from columnar_analytics_engine_spark.branch import clone_table, merge_back
    from columnar_analytics_engine_spark.deletes import (
        compact_deletes,
        delete_keys,
    )
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        read_indexed,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_mb_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_mb_idx_{tag}"
    branch = f"{tempfile.gettempdir()}/cae_mb_branch_{tag}"
    dv = f"{tempfile.gettempdir()}/cae_mb_dv_{tag}"
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    if os.path.isdir(branch):
        shutil.rmtree(branch)  # re-run idempotence, like the data write
    clone_table(spark, index, branch)
    updates = src.filter(F.col("o_orderkey") <= 300).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    inserts = updates.filter(F.col("o_orderkey") <= 100).select(
        (F.col("o_orderkey") + 30_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    merge_upsert_files(
        spark, data, branch, updates.unionByName(inserts), "o_orderkey"
    )
    losers = src.filter(
        (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 400)
    ).select("o_orderkey")
    delete_keys(spark, data, dv, losers, "o_orderkey", index_path=branch)
    compact_deletes(spark, data, dv, branch)
    merge_back(spark, data, index, branch, "o_orderkey")
    return read_indexed(spark, data, index).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_key"),
        exact_sum("o_totalprice", "sum_price"),
    )


_MERGE_BACK_SQL = f"""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey <= 300
    ),
    final AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey > 400
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM upd
      UNION ALL
      SELECT o_orderkey + 30000000, o_totalprice
      FROM upd WHERE o_orderkey <= 100
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM final
"""


_BRANCH_SQL = f"""
    WITH src_merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey <= 300 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
    ),
    br_merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey > 600 AND o_orderkey <= 900
                  THEN o_totalprice + 500
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
    )
    SELECT 'source' AS branch, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM src_merged
    UNION ALL
    SELECT 'branch', COUNT(*),
           CAST(SUM(o_orderkey) AS BIGINT),
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM br_merged
    ORDER BY branch DESC
"""


def manifest_cdf_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between manifest versions (``cdf.read_changes``
    — VERDICT r12 item 3): write ``orders`` key-clustered (v1), MERGE
    (+1000 on keys ≤ 300 plus shifted-key inserts), then tombstone and
    physically fold keys in (300, 400] — and read the NET row changes
    between v1 and the final version from the manifest FILE-SET diff
    alone.  Rows compaction merely moved net out (+1 − 1); what remains
    is exactly the logical delta: updates as delete-old + insert-new,
    inserts, folded deletes.  The oracle replays that delta
    relationally — layout noise (which files the merge happened to
    rewrite) must be invisible, or the hash mismatches.  Scan cost is
    bounded by the files that CHANGED, never the table — the
    incremental-read primitive a downstream pipeline over a maintained
    100 TB table consumes instead of re-scanning snapshots."""
    from columnar_analytics_engine_spark.cdf import read_changes

    data, index, v1, v_now = _cdf_fixture(spark, sf_dir, "cdf")
    ch = read_changes(spark, data, index, v1, v_now)
    return (
        ch.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("_change_count").alias("n_net"),
            F.sum("o_orderkey").alias("sum_key"),
            exact_sum("o_totalprice", "sum_price"),
        )
        .orderBy("change_type")
    )


def cdf_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed CONSUMED: maintain a per-customer rollup
    incrementally — ``rollup(v1) ⊕ feed(v1→now) == rollup(now)`` —
    instead of re-scanning the table.  Same merge + tombstone-fold
    lifecycle as ``manifest_cdf_agg``; here the v1 rollup is computed
    once from the as-of snapshot, the feed's net rows fold into signed
    per-customer deltas (insert = +, delete = −), and a full-outer
    merge applies them.  All money arithmetic runs in integer CENTS so
    the incremental sum is bit-identical to the oracle's from-scratch
    final-state rollup regardless of accumulation order.  This is the
    downstream shape the CDF exists for: the expensive input is the
    CHANGED files, not the 100 TB table, and the output matches a full
    recompute exactly."""
    from columnar_analytics_engine_spark.cdf import read_changes
    from columnar_analytics_engine_spark.skipping import read_indexed

    data, index, v1, v_now = _cdf_fixture(spark, sf_dir, "cdfr")

    cents = F.round(F.col("o_totalprice") * F.lit(100.0)).cast("long")
    base = (
        read_indexed(spark, data, index, as_of=v1)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n0"), F.sum(cents).alias("c0"))
    )
    signed = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    ) * F.col("_change_count")
    delta = (
        read_changes(spark, data, index, v1, v_now)
        .groupBy("o_custkey")
        .agg(
            F.sum(signed).alias("dn"),
            F.sum(signed * cents).alias("dc"),
        )
    )
    merged = (
        base.join(delta, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            (
                F.coalesce(F.col("n0"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("c0"), F.lit(0))
                + F.coalesce(F.col("dc"), F.lit(0))
            ).alias("sum_cents"),
        )
        .filter(F.col("n_orders") > 0)
        .orderBy("o_custkey")
    )
    return merged


def manifest_cdf_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed CDF (``read_changes(key=...)``): with a snapshot-unique
    key declared, a key carrying both sides of the diff classifies as
    an UPDATE — old row ``update_preimage``, new row
    ``update_postimage`` (Delta CDF's four-type shape) — while pure
    inserts and folded deletes keep their types.  Same lifecycle as
    ``manifest_cdf_agg``; the oracle replays all four classes
    literally, so a mis-paired key (or layout leakage) hash-
    mismatches.  The pairing is one keyed window over the net diff
    rows — bounded by the CHANGE, never the table."""
    from columnar_analytics_engine_spark.cdf import read_changes

    data, index, v1, v_now = _cdf_fixture(spark, sf_dir, "cdfu")
    ch = read_changes(spark, data, index, v1, v_now, key="o_orderkey")
    return (
        ch.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").alias("sum_key"),
            exact_sum("o_totalprice", "sum_price"),
        )
        .orderBy("change_type")
    )


_CDF_UPDATES_SQL = f"""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey <= 300
    ),
    changes AS (
      SELECT 'update_postimage' AS change_type,
             o_orderkey, o_totalprice
      FROM upd
      UNION ALL
      SELECT 'update_preimage', o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey <= 300
      UNION ALL
      SELECT 'insert', o_orderkey + 30000000, o_totalprice
      FROM upd WHERE o_orderkey <= 100
      UNION ALL
      SELECT 'delete', o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey > 300 AND o_orderkey <= 400
    )
    SELECT change_type,
           COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM changes
    GROUP BY change_type
    ORDER BY change_type
"""


_CDF_ROLLUP_SQL = """
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey <= 300
    ),
    final AS (
      -- unchanged originals: not updated (<=300), not deleted ((300,400])
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey > 400
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice FROM upd
      UNION ALL
      SELECT o_orderkey + 30000000, o_custkey, o_totalprice
      FROM upd WHERE o_orderkey <= 100
    )
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM final
    GROUP BY o_custkey
    ORDER BY o_custkey
"""


_CDF_SQL = f"""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey <= 300
    ),
    changes AS (
      SELECT 'insert' AS change_type, o_orderkey, o_custkey, o_totalprice
      FROM upd
      UNION ALL
      SELECT 'insert', o_orderkey + 30000000, o_custkey, o_totalprice
      FROM upd WHERE o_orderkey <= 100
      UNION ALL
      SELECT 'delete', o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey <= 300
      UNION ALL
      SELECT 'delete', o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey > 300 AND o_orderkey <= 400
    )
    SELECT change_type,
           COUNT(*) AS n_rows,
           COUNT(*) AS n_net,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM changes
    GROUP BY change_type
    ORDER BY change_type
"""


_TIME_TRAVEL_SQL = f"""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey <= 300
      UNION ALL
      SELECT o_orderkey + 20000000, o_custkey, o_totalprice + 1000
      FROM orders WHERE o_orderkey <= 100
    ),
    merged AS (
      SELECT o.o_orderkey, o.o_totalprice
      FROM orders o
      WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM src)
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM src
    )
    SELECT 'v1' AS snapshot, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM orders
    UNION ALL
    SELECT 'v2', COUNT(*),
           CAST(SUM(o_orderkey) AS BIGINT),
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM merged
    ORDER BY snapshot
"""



def txn_two_table_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table atomic publish (transaction.py): stage index-bounded
    MERGEs on an orders + lineitem pair with ``publish=False`` (both
    manifest versions exist, neither pointer moved), commit ONE catalog
    file with ``os.replace``, then join the two ``snapshot_table``
    reads — which resolve versions through the catalog and are
    therefore snapshot-consistent by construction.  The oracle replays
    both merges relationally and joins; a torn commit (one table new,
    one old) would hash-mismatch.  This is the Delta-commit-marker /
    Iceberg-catalog-swap shape on plain Parquet — the primitive that
    lets a 100 TB ingest move a fact table and its sibling in one
    indivisible step."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.manifest import current_version
    from columnar_analytics_engine_spark.skipping import build_stats_index
    from columnar_analytics_engine_spark.transaction import (
        commit,
        snapshot_table,
    )

    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    base = f"{tempfile.gettempdir()}/cae_txn_{tag}"
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    line = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", "l_qty"))
    )
    cat = f"{base}/catalog.json"
    os.makedirs(base, exist_ok=True)
    tables = {}
    for name, df, key in (("orders", orders, "o_orderkey"),
                          ("lineitem", line, "l_orderkey")):
        data, index = f"{base}/{name}_data", f"{base}/{name}_idx"
        write_sorted(df, data, [key], n_files=4)
        build_stats_index(spark, data, index)
        tables[name] = {"data": data, "index": index,
                        "version": current_version(index)}
    commit(cat, tables)

    staged = {}
    for name, df, key, val in (
        ("orders", orders, "o_orderkey", "o_totalprice"),
        ("lineitem", line, "l_orderkey", "l_qty"),
    ):
        updates = df.filter(F.col(key) <= 300).withColumn(
            val, F.col(val) + F.lit(1000.0)
        )
        out = merge_upsert_files(
            spark, tables[name]["data"], tables[name]["index"],
            updates, key, publish=False,
        )
        staged[name] = {**tables[name], "version": out["version"]}
    commit(cat, staged)

    o = snapshot_table(spark, cat, "orders")
    l = snapshot_table(spark, cat, "lineitem")
    return o.join(l, o["o_orderkey"] == l["l_orderkey"]).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_orderkey"),
        exact_sum("o_totalprice", "sum_price"),
        exact_sum("l_qty", "sum_qty"),
    )


_TXN_SQL = f"""
    WITH lagg AS (
      SELECT l_orderkey,
             {sql_exact_sum('l_quantity', 'l_qty')}
      FROM lineitem GROUP BY l_orderkey
    ),
    o2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey <= 300 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
    ),
    l2 AS (
      SELECT l_orderkey,
             CASE WHEN l_orderkey <= 300 THEN l_qty + 1000
                  ELSE l_qty END AS l_qty
      FROM lagg
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
           {sql_exact_sum('o_totalprice', 'sum_price')},
           {sql_exact_sum('l_qty', 'sum_qty')}
    FROM o2 JOIN l2 ON o_orderkey = l_orderkey
"""



def evolve_schema_merge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end (evolution.py): write ``orders``
    key-clustered and indexed, ADD a column (``o_bonus`` double,
    default 0.0) and RENAME another (``o_custkey`` → ``cust_id``) —
    both metadata-only, zero data files touched — then MERGE a
    mixed-schema source that carries the new column, and aggregate
    across BOTH physical cohorts through ``read_evolved`` (old files:
    path-era schema reconciled by per-cohort projection — defaults for
    the add, forward-mapping for the rename; rewritten files: the
    evolved schema materialized).  The oracle replays the evolution
    relationally.  At 100 TB this is the only affordable shape for a
    schema change: O(metadata) now, physical convergence rides along
    with normal maintenance rewrites."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.evolution import (
        add_column,
        read_evolved,
        rename_column,
    )
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.skipping import build_stats_index

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_evo_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_evo_idx_{tag}"
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    # fresh fixture on re-runs in one process: the data was rewritten,
    # so a spec left by a previous run no longer applies
    spec_file = os.path.join(index, "_SCHEMA")
    if os.path.exists(spec_file):
        os.remove(spec_file)
    add_column(spark, data, index, "o_bonus", "double", default=0.0)
    rename_column(spark, data, index, "o_custkey", "cust_id")

    updates = src.filter(F.col("o_orderkey") <= 300).select(
        "o_orderkey",
        F.col("o_custkey").alias("cust_id"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_bonus"),
    )
    merge_upsert_files(spark, data, index, updates, "o_orderkey")
    return read_evolved(spark, data, index).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_orderkey"),
        F.sum("cust_id").alias("sum_cust"),
        exact_sum("o_totalprice", "sum_price"),
        exact_sum("o_bonus", "sum_bonus"),
    )


_EVOLVE_SQL = f"""
    WITH src AS (
      SELECT o_orderkey, o_custkey AS cust_id,
             o_totalprice + 1000 AS o_totalprice,
             o_totalprice + 1000 AS o_bonus
      FROM orders WHERE o_orderkey <= 300
    ),
    merged AS (
      SELECT o_orderkey, o_custkey AS cust_id, o_totalprice,
             CAST(0.0 AS DOUBLE) AS o_bonus
      FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
      UNION ALL
      SELECT * FROM src
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
           CAST(SUM(cust_id) AS BIGINT) AS sum_cust,
           {sql_exact_sum('o_totalprice', 'sum_price')},
           {sql_exact_sum('o_bonus', 'sum_bonus')}
    FROM merged
"""



def maintenance_lifecycle_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full table-maintenance lifecycle under one hash gate:
    unclustered write → predicate DELETE (tombstones) → physical fold
    (``compact_deletes``) → incremental re-cluster
    (``cluster_compact``) → retention vacuum → index-planned aggregate.
    Every step publishes a new manifest version atomically; the oracle
    is simply the filtered aggregate over the untouched source —
    five maintenance operations may move bytes between files and
    versions, never change results (the reference's corruption-suite
    bar, tests/test_corruption.cpp, applied to the whole lifecycle)."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.deletes import (
        compact_deletes,
        delete_where,
    )
    from columnar_analytics_engine_spark.layout import (
        cluster_compact,
        vacuum_unindexed,
    )
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        read_skipping,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_life_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_life_idx_{tag}"
    dv = f"{tempfile.gettempdir()}/cae_life_dv_{tag}"
    import shutil

    shutil.rmtree(dv, ignore_errors=True)  # fresh DV on re-runs
    src.repartition(8).write.mode("overwrite").parquet(data)
    build_stats_index(spark, data, index)
    delete_where(spark, data, dv, "o_orderstatus = 'F'")
    compact_deletes(spark, data, dv, index)
    cluster_compact(spark, data, index, ["o_custkey"], max_files=64)
    vacuum_unindexed(spark, data, index, keep_versions=1)
    return read_skipping(
        spark, data, index, "o_custkey ge 1"
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum("o_orderkey").alias("sum_orderkey"),
        F.sum("o_custkey").alias("sum_custkey"),
        exact_sum("o_totalprice", "sum_price"),
    )



def layout_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-based compaction round-trip under the hash gate: ``orders``
    written as MANY tiny sorted files (disjoint key ranges — the shape
    overlap-based compaction can never select, and exactly what a
    micro-batch streaming sink leaves behind), merged by
    ``layout.compact_small_files`` into size-targeted files, then a
    range predicate answered through the post-compact manifest.  The
    oracle runs the same filter + aggregate on the untouched source:
    bin-packing small files moves bytes, never results."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import compact_small_files
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        read_skipping,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_small_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_small_idx_{tag}"
    write_sorted(src, data, ["o_custkey"], n_files=24)
    build_stats_index(spark, data, index)
    compact_small_files(
        spark, data, index, target_file_bytes=64 * 1024 * 1024,
        max_files=64, cols=["o_custkey"],
    )
    return read_skipping(
        spark, data, index, "o_custkey ge 10 and o_custkey le 60"
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum("o_orderkey").alias("sum_orderkey"),
        exact_sum("o_totalprice", "sum_price"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
    )


def manifest_cdf_dv_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV deletes surface in the change feed AT COMMIT TIME (VERDICT
    r13 item 2): write ``orders`` key-clustered (v1), tombstone keys in
    (300, 400] as a VERSIONED delete commit (``deletes.delete_keys``
    with ``index_path`` — publishes v2 with a ``_DV_COMMITS`` sidecar,
    NO physical fold), then physically fold (v3).  Three oracle-checked
    rows: the v1→v2 feed must be exactly the deleted rows (the commit,
    not the fold, is the change), the v2→v3 feed must be EMPTY (the
    fold rewrites already-deleted bytes — feed-silent), and the
    merge-on-read state must agree with the feed at every step.  This
    closes the r13 documented gap where table state and feed state
    disagreed between DV-write and fold — Delta CDF's
    delete-at-commit contract."""
    import hashlib
    import os
    import tempfile

    from columnar_analytics_engine_spark.cdf import read_changes
    from columnar_analytics_engine_spark.deletes import (
        compact_deletes,
        delete_keys,
        read_with_deletes,
    )
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.manifest import current_version
    from columnar_analytics_engine_spark.skipping import build_stats_index

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_dvc_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_dvc_idx_{tag}"
    dv = f"{tempfile.gettempdir()}/cae_dvc_dv_{tag}"
    import shutil

    if os.path.isdir(dv):
        shutil.rmtree(dv)  # re-run idempotence: fresh DV per run
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    v1 = current_version(index)
    losers = src.filter(
        (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 400)
    ).select("o_orderkey")
    delete_keys(spark, data, dv, losers, "o_orderkey", index_path=index)
    v2 = current_version(index)
    compact_deletes(spark, data, dv, index)
    v3 = current_version(index)

    # report-shaped (like branch_family_health): each step is a 1-row
    # aggregate over a DIFFERENT logical snapshot/interval — collecting
    # the three rows driver-side avoids unioning three near-identical
    # DV-anti-join subtrees into one recompute-heavy plan (the
    # duplicate-subtree lint class); each collected plan is itself
    # change-bounded
    def one(df: DataFrame) -> tuple:
        r = df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("o_orderkey"), F.lit(0)).alias("s"),
        ).first()
        return int(r["n"]), int(r["s"])

    n_commit, s_commit = one(read_changes(spark, data, index, v1, v2))
    n_fold, s_fold = one(read_changes(spark, data, index, v2, v3))
    n_state, s_state = one(
        read_with_deletes(spark, data, dv, index_path=index)
    )
    return spark.createDataFrame(
        [
            ("commit", n_commit, s_commit),
            ("fold", n_fold, s_fold),
            ("state", n_state, s_state),
        ],
        "step string, n_rows long, sum_key long",
    ).orderBy("step")


_CDF_DV_SQL = """
    SELECT 'commit' AS step, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders WHERE o_orderkey > 300 AND o_orderkey <= 400
    UNION ALL
    SELECT 'fold', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'state', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM orders WHERE NOT (o_orderkey > 300 AND o_orderkey <= 400)
    ORDER BY step
"""


def manifest_cdf_commit_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-COMMIT change attribution (``cdf.read_changes_versioned`` —
    Delta CDF's ``_commit_version``/``_commit_timestamp`` columns): a
    MERGE commit, a versioned DV delete commit, and a physical fold on
    one table; the versioned feed must attribute each row change to
    exactly the commit that produced it — the updates to the merge
    step, the deletes to the DELETE step (not the fold), and the fold
    step must be feed-silent.  Report-shaped (step offsets are
    journal-derived; timestamps are pytest-pinned monotone, not
    hashed); the oracle replays the per-step key-range arithmetic."""
    import hashlib
    import os
    import shutil
    import tempfile

    from columnar_analytics_engine_spark.cdf import read_changes_versioned
    from columnar_analytics_engine_spark.deletes import (
        compact_deletes,
        delete_keys,
    )
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.manifest import current_version
    from columnar_analytics_engine_spark.skipping import build_stats_index

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_attr_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_attr_idx_{tag}"
    dv = f"{tempfile.gettempdir()}/cae_attr_dv_{tag}"
    if os.path.isdir(dv):
        shutil.rmtree(dv)  # re-run idempotence
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    v1 = current_version(index)
    upd = src.filter(F.col("o_orderkey") <= 200).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    merge_upsert_files(spark, data, index, upd, "o_orderkey")
    losers = src.filter(
        (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 320)
    ).select("o_orderkey")
    delete_keys(spark, data, dv, losers, "o_orderkey", index_path=index)
    compact_deletes(spark, data, dv, index)
    v_now = current_version(index)
    feed = read_changes_versioned(
        spark, data, index, v1, v_now, key="o_orderkey"
    )
    rows = (
        feed.groupBy("_commit_version", "_change_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("s"),
        )
        .collect()
    )
    out = sorted(
        (int(r["_commit_version"] - v1), r["_change_type"], int(r["n"]),
         int(r["s"]))
        for r in rows
    )
    return spark.createDataFrame(
        out, "step int, change_type string, n_rows long, sum_key long"
    ).orderBy("step", "change_type")


_ATTRIBUTION_SQL = """
    WITH upd AS (SELECT DISTINCT o_orderkey FROM orders
                 WHERE o_orderkey <= 200),
         del AS (SELECT DISTINCT o_orderkey FROM orders
                 WHERE o_orderkey > 300 AND o_orderkey <= 320)
    SELECT CAST(1 AS INTEGER) AS step,
           'update_postimage' AS change_type,
           COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM upd
    UNION ALL
    SELECT 1, 'update_preimage', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM upd
    UNION ALL
    SELECT 2, 'delete', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM del
    ORDER BY step, change_type
"""


def layout_branch_merge_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint-key THREE-WAY merge-back (VERDICT r13 item 3): after
    the clone, the SOURCE merges +1000 into keys ≤ 200 while the
    BRANCH merges +500 into keys in (600, 900] — the source has
    advanced past the clone point, but both sides' keyed change feeds
    touch DISJOINT keys, so ``merge_back`` proceeds WITHOUT ``force``
    and the merged source carries BOTH changes (nothing lost on either
    side).  A second branch that changed keys ≤ 50 — overlapping the
    source's movement — must be REFUSED with the conflicting keys
    named.  The oracle replays the merged final state; the refusal is
    surfaced as an oracle-checked flag column."""
    import hashlib
    import os
    import shutil
    import tempfile

    from columnar_analytics_engine_spark.branch import clone_table, merge_back
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.manifest import ConcurrentWriteError
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        read_indexed,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_3w_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_3w_idx_{tag}"
    b_ok = f"{tempfile.gettempdir()}/cae_3w_bok_{tag}"
    b_clash = f"{tempfile.gettempdir()}/cae_3w_bclash_{tag}"
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    for b in (b_ok, b_clash):
        if os.path.isdir(b):
            shutil.rmtree(b)  # re-run idempotence
    clone_table(spark, index, b_ok)
    clone_table(spark, index, b_clash)
    # source advances past the clone point: +1000 on keys <= 200
    upd_src = src.filter(F.col("o_orderkey") <= 200).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    merge_upsert_files(spark, data, index, upd_src, "o_orderkey")
    # branch work on a DISJOINT key range: +500 on keys in (600, 900]
    upd_br = src.filter(
        (F.col("o_orderkey") > 600) & (F.col("o_orderkey") <= 900)
    ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
    merge_upsert_files(spark, data, b_ok, upd_br, "o_orderkey")
    merge_back(spark, data, index, b_ok, "o_orderkey")  # no force needed
    # conflicting branch: keys <= 50 overlap the source's movement
    upd_clash = src.filter(F.col("o_orderkey") <= 50).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(7.0)
    )
    merge_upsert_files(spark, data, b_clash, upd_clash, "o_orderkey")
    try:
        merge_back(spark, data, index, b_clash, "o_orderkey")
        blocked = 0
    except ConcurrentWriteError:
        blocked = 1
    return read_indexed(spark, data, index).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("sum_key"),
        exact_sum("o_totalprice", "sum_price"),
    ).withColumn("conflict_blocked", F.lit(blocked).cast("int"))


_MERGE_3WAY_SQL = f"""
    WITH final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey <= 200 THEN o_totalprice + 1000
                  WHEN o_orderkey > 600 AND o_orderkey <= 900
                       THEN o_totalprice + 500
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           {sql_exact_sum('o_totalprice', 'sum_price')},
           CAST(1 AS INTEGER) AS conflict_blocked
    FROM final
"""


def layout_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF (VERDICT r13 item 4): capture a wall-clock
    instant between two publishes, then read the table AT that instant
    — ``read_indexed(as_of_ts=...)`` resolves it through the publish
    journal (``manifest.version_at``) to the version published at or
    before it, which must aggregate exactly as the PRE-merge snapshot;
    the current read sees the merge.  Delta's TIMESTAMP AS OF on plain
    Parquet, threaded through the read surface (``read_indexed``,
    ``read_skipping``, ``read_with_deletes``, CLI ``query
    --as-of-ts``)."""
    import hashlib
    import os
    import tempfile
    import time

    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.skipping import (
        build_stats_index,
        read_indexed,
    )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_tts_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_tts_idx_{tag}"
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    time.sleep(0.05)
    t_mid = time.time()  # strictly after v1's publish instant
    time.sleep(0.05)
    updates = src.filter(F.col("o_orderkey") <= 300).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    inserts = updates.filter(F.col("o_orderkey") <= 100).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    merge_upsert_files(
        spark, data, index, updates.unionByName(inserts), "o_orderkey"
    )

    def snap(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").alias("sum_orderkey"),
            exact_sum("o_totalprice", "sum_price"),
        ).select(F.lit(name).alias("snapshot"), "*")

    return (
        snap(read_indexed(spark, data, index, as_of_ts=t_mid), "at_ts")
        .unionByName(snap(read_indexed(spark, data, index), "now"))
        .orderBy("snapshot")
    )


_TIME_TRAVEL_TS_SQL = f"""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey <= 300
    ),
    merged AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey > 300
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM upd
      UNION ALL
      SELECT o_orderkey + 20000000, o_totalprice
      FROM upd WHERE o_orderkey <= 100
    )
    SELECT 'at_ts' AS snapshot, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM orders
    UNION ALL
    SELECT 'now', COUNT(*),
           CAST(SUM(o_orderkey) AS BIGINT),
           {sql_exact_sum('o_totalprice', 'sum_price')}
    FROM merged
    ORDER BY snapshot
"""


def branch_family_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch-family GOVERNANCE report (VERDICT r13 item 6): two
    branches diverge from one source — one touches a disjoint key
    range, one overlaps the source's own movement — and
    ``branch.family_health`` reports, per branch, the feed-derived
    divergence (insert/update/delete key counts), how far the source
    moved since each clone, and the key-level CONFLICT count a
    merge-back would face.  Every number is change-bounded (derived
    from keyed change feeds, never a table scan) and replayed
    relationally by the oracle."""
    import hashlib
    import os
    import shutil
    import tempfile

    from columnar_analytics_engine_spark.branch import (
        clone_table,
        family_health,
    )
    from columnar_analytics_engine_spark.deletes import delete_keys
    from columnar_analytics_engine_spark.io import write_sorted
    from columnar_analytics_engine_spark.layout import merge_upsert_files
    from columnar_analytics_engine_spark.skipping import build_stats_index

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:12]
    data = f"{tempfile.gettempdir()}/cae_fh_data_{tag}"
    index = f"{tempfile.gettempdir()}/cae_fh_idx_{tag}"
    b1 = f"{tempfile.gettempdir()}/cae_fh_b1_{tag}"
    b2 = f"{tempfile.gettempdir()}/cae_fh_b2_{tag}"
    dv = f"{tempfile.gettempdir()}/cae_fh_dv_{tag}"
    write_sorted(src, data, ["o_orderkey"], n_files=8)
    if os.path.exists(os.path.join(index, "_BRANCHES")):
        os.remove(os.path.join(index, "_BRANCHES"))  # re-run idempotence
    build_stats_index(spark, data, index)
    for b in (b1, b2, dv):
        if os.path.isdir(b):
            shutil.rmtree(b)
    clone_table(spark, index, b1)
    clone_table(spark, index, b2)
    # source moves: +1000 on keys <= 200
    upd_src = src.filter(F.col("o_orderkey") <= 200).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    merge_upsert_files(spark, data, index, upd_src, "o_orderkey")
    # b1: updates on a DISJOINT range (600, 900] plus a versioned DV
    # delete of keys in (100, 120] — which DOES overlap the source
    upd_b1 = src.filter(
        (F.col("o_orderkey") > 600) & (F.col("o_orderkey") <= 900)
    ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
    merge_upsert_files(spark, data, b1, upd_b1, "o_orderkey")
    losers = src.filter(
        (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 120)
    ).select("o_orderkey")
    delete_keys(spark, data, dv, losers, "o_orderkey", index_path=b1)
    # b2: fully disjoint inserts (shifted keys)
    ins_b2 = src.filter(F.col("o_orderkey") <= 40).select(
        (F.col("o_orderkey") + 40_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    merge_upsert_files(spark, data, b2, ins_b2, "o_orderkey")
    rows = family_health(spark, data, index, "o_orderkey")
    out = spark.createDataFrame(
        [
            (
                "b1" if r["branch_index"].endswith(f"cae_fh_b1_{tag}") else "b2",
                r["inserts"], r["updates"], r["deletes"],
                r["src_changed_keys"], r["conflict_keys"],
            )
            for r in rows
        ],
        "branch string, inserts long, updates long, deletes long, "
        "src_changed_keys long, conflict_keys long",
    )
    return out.orderBy("branch")


_FAMILY_HEALTH_SQL = """
    WITH keys AS (SELECT DISTINCT o_orderkey FROM orders)
    SELECT 'b1' AS branch,
           CAST(0 AS BIGINT) AS inserts,
           (SELECT COUNT(*) FROM keys
             WHERE o_orderkey > 600 AND o_orderkey <= 900) AS updates,
           (SELECT COUNT(*) FROM keys
             WHERE o_orderkey > 100 AND o_orderkey <= 120) AS deletes,
           (SELECT COUNT(*) FROM keys WHERE o_orderkey <= 200)
             AS src_changed_keys,
           (SELECT COUNT(*) FROM keys
             WHERE o_orderkey > 100 AND o_orderkey <= 120)
             AS conflict_keys
    UNION ALL
    SELECT 'b2',
           (SELECT COUNT(*) FROM keys WHERE o_orderkey <= 40),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           (SELECT COUNT(*) FROM keys WHERE o_orderkey <= 200),
           CAST(0 AS BIGINT)
    ORDER BY branch
"""


QUERIES: dict[str, QuerySpec] = {
    "layout_compact_small_files": QuerySpec(
        layout_compact_small_files,
        f"""
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
               {sql_exact_sum('o_totalprice', 'sum_price')},
               MIN(o_custkey) AS min_cust,
               MAX(o_custkey) AS max_cust
        FROM orders
        WHERE o_custkey >= 10 AND o_custkey <= 60
        """,
        "size-based small-file compaction (the streaming-sink shape "
        "overlap selection never matches); oracle on the untouched source",
        ("scale", "layout", "maintenance", "index"),
    ),
    "maintenance_lifecycle_agg": QuerySpec(
        maintenance_lifecycle_agg,
        f"""
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
               CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey,
               {sql_exact_sum('o_totalprice', 'sum_price')}
        FROM orders
        WHERE o_orderstatus <> 'F' AND o_custkey >= 1
        """,
        "delete -> fold -> re-cluster -> vacuum lifecycle; oracle is the "
        "plain filtered aggregate (maintenance never changes results)",
        ("scale", "maintenance", "deletes", "layout", "index"),
    ),
    "evolve_schema_merge_agg": QuerySpec(
        evolve_schema_merge_agg,
        _EVOLVE_SQL,
        "metadata-only add+rename, mixed-schema MERGE, aggregate across "
        "physical cohorts (oracle replays the evolution)",
        ("scale", "maintenance", "evolution", "index"),
    ),
    "txn_two_table_snapshot": QuerySpec(
        txn_two_table_snapshot,
        _TXN_SQL,
        "two-table atomic publish via one catalog swap; snapshot join "
        "(oracle replays both merges)",
        ("scale", "maintenance", "transaction", "index"),
    ),
    "layout_time_travel_scan": QuerySpec(
        layout_time_travel_scan,
        _TIME_TRAVEL_SQL,
        "versioned-manifest time travel: as-of read of the pre-MERGE "
        "snapshot vs the current read (oracle replays both states)",
        ("scale", "maintenance", "index", "time-travel"),
    ),
    "layout_spec_evolution_scan": QuerySpec(
        layout_spec_evolution_scan,
        _SPEC_EVOLUTION_SQL,
        "cluster-spec evolution: spec switch + lazy bounded convergence, "
        "full and pruned scans across both cohorts (oracle on the source)",
        ("scale", "layout", "maintenance", "index", "evolution"),
    ),
    "layout_branch_merge_back": QuerySpec(
        layout_branch_merge_back,
        _MERGE_BACK_SQL,
        "branch work (merge + inserts + folded delete) applied back to "
        "the source from the branch's change feed (oracle replays the "
        "branch's final state)",
        ("scale", "maintenance", "index", "branch", "cdf"),
    ),
    "layout_branch_divergence": QuerySpec(
        layout_branch_divergence,
        _BRANCH_SQL,
        "zero-copy manifest clone, divergent merges on shared storage, "
        "branch-aware vacuum (oracle replays both branch states)",
        ("scale", "maintenance", "index", "branch"),
    ),
    "manifest_cdf_dv_deletes": QuerySpec(
        manifest_cdf_dv_deletes,
        _CDF_DV_SQL,
        "versioned DV delete commit: the feed shows the deletes at "
        "COMMIT time, the physical fold is feed-silent, table state "
        "and feed agree at every version (oracle replays all 3 steps)",
        ("scale", "maintenance", "index", "cdf", "deletes"),
    ),
    "manifest_cdf_commit_attribution": QuerySpec(
        manifest_cdf_commit_attribution,
        _ATTRIBUTION_SQL,
        "per-commit feed attribution (Delta's _commit_version shape): "
        "updates land on the merge commit, deletes on the DV commit, "
        "the fold is silent (oracle replays the per-step arithmetic)",
        ("scale", "maintenance", "index", "cdf"),
    ),
    "layout_branch_merge_3way": QuerySpec(
        layout_branch_merge_3way,
        _MERGE_3WAY_SQL,
        "disjoint-key three-way merge-back: both sides advanced, "
        "disjoint keys merge without force, overlapping keys refused "
        "with the conflict set (oracle replays the merged state)",
        ("scale", "maintenance", "index", "branch", "cdf"),
    ),
    "layout_time_travel_ts": QuerySpec(
        layout_time_travel_ts,
        _TIME_TRAVEL_TS_SQL,
        "TIMESTAMP AS OF via the publish journal: a wall-clock instant "
        "between two publishes reads the pre-merge snapshot (oracle "
        "replays both states)",
        ("scale", "maintenance", "index", "time-travel"),
    ),
    "branch_family_health": QuerySpec(
        branch_family_health,
        _FAMILY_HEALTH_SQL,
        "branch-family governance: per-branch feed-derived divergence, "
        "source movement, and merge-back conflict keys (oracle replays "
        "the key-range arithmetic)",
        ("scale", "maintenance", "index", "branch", "cdf", "governance"),
    ),
    "manifest_cdf_agg": QuerySpec(
        manifest_cdf_agg,
        _CDF_SQL,
        "change-data-feed from the manifest file-set diff: net row "
        "changes across a merge + folded delete (oracle replays the "
        "logical delta; layout noise must net out)",
        ("scale", "maintenance", "index", "cdf"),
    ),
    "manifest_cdf_updates": QuerySpec(
        manifest_cdf_updates,
        _CDF_UPDATES_SQL,
        "keyed CDF: delete+insert pairs on a unique key classified as "
        "update_preimage/update_postimage (oracle replays all 4 classes)",
        ("scale", "maintenance", "index", "cdf"),
    ),
    "cdf_incremental_rollup": QuerySpec(
        cdf_incremental_rollup,
        _CDF_ROLLUP_SQL,
        "the feed consumed: as-of rollup + signed per-customer feed "
        "deltas == from-scratch final rollup, exact in integer cents "
        "(oracle recomputes the final state)",
        ("scale", "maintenance", "index", "cdf", "incremental"),
    ),
    "deletes_dedup_tombstones": QuerySpec(
        deletes_dedup_tombstones,
        f"""
        WITH fp AS (
          SELECT doc_id, n_chars,
                 md5(array_to_string(list_slice({SQL_TOKENS}, 1, 12), ' ')) AS f
          FROM documents
        ),
        k AS (SELECT f, MIN(doc_id) AS keep FROM fp GROUP BY f)
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_id,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM fp JOIN k ON fp.f = k.f AND fp.doc_id = k.keep
        """,
        "dedup losers tombstoned via deletion vectors, survivors by "
        "merge-on-read (oracle replays keep-min-id)",
        ("scale", "maintenance", "deletes", "dedup"),
    ),
    "layout_merge_upsert": QuerySpec(
        layout_merge_upsert,
        _MERGE_SQL,
        "MERGE-on-write rewriting only the index-affected files "
        "(oracle replays the merge relationally)",
        ("scale", "maintenance", "merge", "index"),
    ),
    "deletes_merge_on_read": QuerySpec(
        deletes_merge_on_read,
        _DELETES_AGG_SQL,
        "deletion vectors: predicate delete + merge-on-read scan "
        "(oracle on the negated predicate)",
        ("scale", "maintenance", "deletes"),
    ),
    "deletes_compact_physical": QuerySpec(
        deletes_compact_physical,
        _DELETES_AGG_SQL,
        "deletion vectors folded into a physical rewrite of only the "
        "affected files (same oracle as the merge-on-read path)",
        ("scale", "maintenance", "deletes", "index"),
    ),
    "layout_clustering_depth": QuerySpec(
        layout_clustering_depth,
        _clustering_depth_sql(),
        "clustering depth of linear vs Z-order layouts, bit-interleave "
        "replayed in SQL",
        ("scale", "layout", "index"),
    ),
    "skipping_zorder_scan": QuerySpec(
        skipping_zorder_scan,
        f"""
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
               {sql_exact_sum('o_totalprice', 'sum_price')},
               MIN(o_custkey) AS min_cust,
               MAX(o_orderkey) AS max_order
        FROM orders
        WHERE o_custkey >= 10 AND o_custkey <= 60
          AND o_orderkey >= 1 AND o_orderkey <= 2000
        """,
        "Z-order write + two-column stats-index pruning (oracle on the "
        "unpruned source)",
        ("scale", "layout", "scan", "index"),
    ),
    "skipping_bloom_scan": QuerySpec(
        skipping_bloom_scan,
        f"""
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey,
               {sql_exact_sum('o_totalprice', 'sum_price')}
        FROM orders
        WHERE o_orderkey = 42
        """,
        "Bloom file index point lookup on a shuffled layout (oracle on "
        "the full-table filter)",
        ("scale", "index", "scan"),
    ),
    "layout_cluster_compact": QuerySpec(
        layout_cluster_compact,
        f"""
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
               {sql_exact_sum('o_totalprice', 'sum_price')},
               MIN(o_custkey) AS min_cust,
               MAX(o_custkey) AS max_cust
        FROM orders
        WHERE o_custkey >= 10 AND o_custkey <= 60
        """,
        "index-driven incremental re-clustering round-trip (oracle on the "
        "untouched source)",
        ("scale", "layout", "maintenance", "index"),
    ),
    "skipping_dynamic_join": QuerySpec(
        skipping_dynamic_join,
        f"""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(l_orderkey) AS BIGINT) AS sum_orderkey,
               {sql_exact_sum('l_quantity', 'sum_qty')},
               {sql_exact_sum('l_extendedprice', 'sum_price')}
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderkey <= 600 AND o_orderstatus = 'F'
        """,
        "dynamic file pruning: fact manifest pruned by the dim side's "
        "join keys (oracle on the plain join)",
        ("scale", "join", "index"),
        setup=lambda spark, sf_dir: (_dfp_fixture(spark, sf_dir), None)[1],
    ),
}
