"""Layout quality: deterministic buckets + clustering-depth metrics.

Invariants: bucket assignment is a pure function of (row values, exact
table min/max) — same input, same buckets, every run and engine; the
depth metric computed from a written dataset's stats index equals the
metric computed from the model buckets (files faithfully materialize
the assignment); Z-order trades a little single-column depth for
multi-column depth.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.manifest import read_manifest
from columnar_analytics_engine_spark.io import read_table
from columnar_analytics_engine_spark.layout import (
    bucket_extents,
    clustering_depth,
    index_extents,
    with_linear_bucket,
    with_zorder_bucket,
)
from columnar_analytics_engine_spark.skipping import build_stats_index


def _depth(df):
    return {
        (r["layout"], r["probe_col"]): (
            r["n_buckets"], r["overlap_pairs"], r["avg_depth"]
        )
        for r in df.collect()
    }


def test_linear_bucket_deterministic_and_bounded(spark, sf_small):
    orders = read_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey"
    )
    b1 = with_linear_bucket(orders, "o_custkey", 8)
    lo, hi = b1.agg(F.min("_bucket"), F.max("_bucket")).first()
    assert lo == 0 and hi == 7
    # pure function of the data: identical assignment across runs
    a = {r["o_orderkey"]: r["_bucket"] for r in b1.collect()}
    b = {
        r["o_orderkey"]: r["_bucket"]
        for r in with_linear_bucket(orders, "o_custkey", 8).collect()
    }
    assert a == b
    # monotone in the bucketed column
    rows = sorted(
        b1.select("o_custkey", "_bucket").collect(), key=lambda r: r[0]
    )
    assert all(x["_bucket"] <= y["_bucket"] for x, y in zip(rows, rows[1:]))


def test_zorder_bucket_validation(spark, sf_small):
    orders = read_table(spark, sf_small, "orders")
    with pytest.raises(ValueError, match="power of two"):
        with_zorder_bucket(orders, ["o_custkey", "o_orderkey"], 12)
    with pytest.raises(ValueError, match="key space"):
        with_zorder_bucket(orders, ["o_custkey"], 16, bits=2)


def test_clustering_depth_hand_computed(spark):
    # extents [0,1] [2,3] [3,4]: one overlapping pair (shared point 3),
    # depths are 1, 2, 2 -> avg 5/3
    e = spark.createDataFrame(
        [
            ("l", "c", "b0", 0.0, 1.0),
            ("l", "c", "b1", 2.0, 3.0),
            ("l", "c", "b2", 3.0, 4.0),
        ],
        "layout string, probe_col string, bucket string, mn double, mx double",
    )
    d = _depth(clustering_depth(e))
    assert d[("l", "c")] == (3, 1, pytest.approx(5 / 3))


def test_zorder_beats_single_column_layout_on_the_other_column(spark):
    # a uniform 64x64 integer grid: linear layout on x is perfect on x
    # and worthless on y; z-order is good (far better than n_buckets)
    # on BOTH
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    lin = bucket_extents(with_linear_bucket(grid, "x", 16), ["x", "y"], "lin")
    zo = bucket_extents(
        with_zorder_bucket(grid, ["x", "y"], 16, bits=6), ["x", "y"], "zo"
    )
    d = _depth(clustering_depth(lin.unionByName(zo)))
    assert d[("lin", "x")][2] <= 2.0  # near-perfect on the sort column
    assert d[("lin", "y")][2] == 16.0  # every bucket spans all of y
    for probe in ("x", "y"):
        assert d[("zo", probe)][2] < d[("lin", "y")][2] / 2
    # z-order buckets tile the plane: ranges on each axis stay narrow
    assert d[("zo", "x")][2] <= 8.0 and d[("zo", "y")][2] <= 8.0


def test_index_extents_match_model_buckets(spark, sf_small, tmp_path):
    """Write one file per model bucket (hive partition), index it, and
    check the file-level metric equals the model-level metric."""
    orders = read_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bucketed = with_zorder_bucket(
        orders, ["o_custkey", "o_orderkey"], 8, bits=6
    )
    model = _depth(
        clustering_depth(
            bucket_extents(bucketed, ["o_custkey", "o_orderkey"], "L")
        )
    )
    data = str(tmp_path / "zorders")
    index = str(tmp_path / "zindex")
    # hive dirs starting with "_" are invisible to the manifest walk;
    # surface the bucket under a plain name
    bucketed.withColumnRenamed("_bucket", "zbucket").repartition(
        8, "zbucket"
    ).write.partitionBy("zbucket").parquet(data)
    build_stats_index(spark, data, index)
    filed = _depth(
        clustering_depth(
            index_extents(spark, index, ["o_custkey", "o_orderkey"], "L")
        )
    )
    assert filed == model


def test_index_extents_skip_stringy_and_statless_columns(spark, sf_small, tmp_path):
    orders = read_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    data = str(tmp_path / "plain")
    index = str(tmp_path / "pidx")
    orders.repartition(4).write.parquet(data)
    build_stats_index(spark, data, index)
    e = index_extents(spark, index, ["o_orderstatus", "o_orderkey"])
    assert e.filter(F.col("probe_col") == "o_orderstatus").count() == 0
    assert e.filter(F.col("probe_col") == "o_orderkey").count() == 4


# ---------------------------------------------------------------------------
# Incremental clustering maintenance
# ---------------------------------------------------------------------------

from columnar_analytics_engine_spark.layout import (  # noqa: E402
    cluster_compact,
    overlap_candidates,
    vacuum_unindexed,
)
from columnar_analytics_engine_spark.skipping import (  # noqa: E402
    list_parquet_files,
    read_skipping,
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _avg_depth(spark, index, col):
    from columnar_analytics_engine_spark.layout import (
        clustering_depth,
        index_extents,
    )

    return clustering_depth(index_extents(spark, index, [col])).collect()[0][
        "avg_depth"
    ]


def test_cluster_compact_rewrites_preserves_and_improves(spark, sf_small, tmp_path):
    orders = read_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    # flat (non-hive) round-robin write: every file spans the full key
    # range — the root-level compaction scenario (the hive scenario is
    # test_cluster_compact_hive_partitioned_stays_in_partition)
    orders.repartition(8).write.parquet(data)
    build_stats_index(spark, data, index)
    before_rows = _sorted_rows(spark.read.parquet(data))
    before_depth = _avg_depth(spark, index, "o_custkey")
    assert before_depth > 4.0  # shuffled layout: heavy overlap

    out = cluster_compact(
        spark, data, index, ["o_custkey", "o_orderkey"], max_files=8
    )
    assert out["rewritten"] == 8 and out["new_files"] >= 1

    # grace period: originals persist for in-flight/as-of readers; the
    # manifest-planned read is exact, and vacuum reclaims the originals
    from columnar_analytics_engine_spark.skipping import read_indexed

    assert _sorted_rows(read_indexed(spark, data, index)) == before_rows
    vacuum_unindexed(spark, data, index)
    assert _sorted_rows(spark.read.parquet(data)) == before_rows
    disk = set(list_parquet_files(data))
    indexed = {
        r["file"]
        for r in read_manifest(spark, index).select("file").distinct().collect()
    }
    assert disk == indexed
    assert _avg_depth(spark, index, "o_custkey") < before_depth
    # pruned reads still exact
    lo = orders.agg(F.min("o_custkey")).first()[0]
    got = read_skipping(spark, data, index, f"o_custkey le {lo + 5}").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    assert _sorted_rows(got) == _sorted_rows(
        orders.filter(F.col("o_custkey") <= lo + 5)
    )


def test_cluster_compact_bounded_by_max_files(spark, sf_small, tmp_path):
    """An appending table: sorted base + an overlapping append; the
    compaction cap bounds the rewrite, repeated runs converge."""
    from columnar_analytics_engine_spark.io import write_sorted

    orders = read_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey"
    )
    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    write_sorted(orders, data, ["o_custkey"], n_files=8)
    # the append overlaps every sorted file's custkey range
    orders.limit(200).coalesce(1).write.mode("append").parquet(data)
    build_stats_index(spark, data, index)
    before_rows = _sorted_rows(spark.read.parquet(data))
    n_before = len(list_parquet_files(data))

    out = cluster_compact(spark, data, index, ["o_custkey"], max_files=3)
    assert 2 <= out["rewritten"] <= 3
    from columnar_analytics_engine_spark.skipping import read_indexed

    assert _sorted_rows(read_indexed(spark, data, index)) == before_rows

    # candidates shrink as runs converge
    remaining = overlap_candidates(spark, index, "o_custkey", max_files=64)
    assert len(remaining) < n_before


def test_cluster_compact_noop_when_disjoint(spark, sf_small, tmp_path):
    from columnar_analytics_engine_spark.io import write_sorted

    orders = read_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey"
    )
    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    write_sorted(orders, data, ["o_orderkey"], n_files=4)
    build_stats_index(spark, data, index)
    out = cluster_compact(spark, data, index, ["o_orderkey"])
    # range-sorted files can share boundary values; at most a marginal
    # pair rewrites, and a second run must reach the fixpoint
    out2 = cluster_compact(spark, data, index, ["o_orderkey"])
    assert out2["rewritten"] == 0 or out["rewritten"] > out2["rewritten"]


def test_vacuum_unindexed_gc_and_reader_isolation(spark, sf_small, tmp_path):
    """A stranded (crashed-compact) file is invisible to index-planned
    reads and removed by vacuum."""
    from columnar_analytics_engine_spark.io import write_sorted

    orders = read_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey"
    )
    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    write_sorted(orders, data, ["o_custkey"], n_files=4)
    build_stats_index(spark, data, index)
    lo = orders.agg(F.min("o_custkey")).first()[0]
    pred = f"o_custkey le {lo + 5}"
    before = _sorted_rows(read_skipping(spark, data, index, pred))

    # strand a duplicate-looking file (as a crashed rewrite would)
    orders.limit(50).coalesce(1).write.parquet(str(tmp_path / "stray"))
    stray_src = list_parquet_files(str(tmp_path / "stray"))[0]
    import shutil

    stray = str(tmp_path / "data" / "rewrite-deadbeef.parquet")
    shutil.copy(stray_src, stray)

    assert _sorted_rows(read_skipping(spark, data, index, pred)) == before
    removed = vacuum_unindexed(spark, data, index)
    assert removed == [stray]
    assert stray not in list_parquet_files(data)
    assert _sorted_rows(read_skipping(spark, data, index, pred)) == before


# ---------------------------------------------------------------------------
# Index-bounded MERGE (upsert)
# ---------------------------------------------------------------------------

from columnar_analytics_engine_spark.layout import merge_upsert_files  # noqa: E402


def test_merge_upsert_files_bounded_and_exact(spark, sf_small, tmp_path):
    from columnar_analytics_engine_spark.io import write_sorted

    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    orders = read_table(spark, sf_small, "orders").select(*cols)
    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    write_sorted(orders, data, ["o_orderkey"], n_files=8)
    build_stats_index(spark, data, index)
    n_before = len(list_parquet_files(data))

    lo = orders.agg(F.min("o_orderkey")).first()[0]
    updates = (
        orders.filter(F.col("o_orderkey") <= lo + 50)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    )
    inserts = updates.select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    source = updates.unionByName(inserts)

    out = merge_upsert_files(spark, data, index, source, "o_orderkey")
    # key-clustered: only the low-key file(s) rewrite
    assert 0 < out["affected_files"] < n_before
    assert out["pruned_files"] > 0
    vacuum_unindexed(spark, data, index)

    got = sorted(tuple(r) for r in spark.read.parquet(data).collect())
    expect = sorted(
        tuple(r)
        for r in orders.join(
            source.select("o_orderkey"), "o_orderkey", "left_anti"
        )
        .unionByName(source)
        .collect()
    )
    assert got == expect
    # index manifest still mirrors disk, pruned reads still exact
    disk = set(list_parquet_files(data))
    indexed = {
        r["file"]
        for r in read_manifest(spark, index).select("file").distinct().collect()
    }
    assert disk == indexed
    got2 = read_skipping(spark, data, index, f"o_orderkey le {lo + 50}")
    assert got2.count() == updates.count()
    assert got2.agg(F.min("o_totalprice")).first()[0] >= 1000.0


def test_merge_upsert_files_pure_insert(spark, sf_small, tmp_path):
    from columnar_analytics_engine_spark.io import write_sorted

    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    orders = read_table(spark, sf_small, "orders").select(*cols)
    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    write_sorted(orders, data, ["o_orderkey"], n_files=4)
    build_stats_index(spark, data, index)
    n = orders.count()
    inserts = spark.createDataFrame(
        [(90_000_001, 1, 10.0), (90_000_002, 2, 20.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    out = merge_upsert_files(spark, data, index, inserts, "o_orderkey")
    assert out["affected_files"] == 0  # keys beyond every interval
    assert spark.read.parquet(data).count() == n + 2
    got = read_skipping(spark, data, index, "o_orderkey ge 90000000")
    assert sorted(r["o_orderkey"] for r in got.collect()) == [
        90_000_001, 90_000_002,
    ]


# ---------------------------------------------------------------------------
# Skew-robust quantile binning
# ---------------------------------------------------------------------------


def test_quantile_zorder_beats_linear_under_skew(spark, tmp_path):
    """99% of x-values sit in [0, 50) with a 1% tail at 10^6: linear
    bins put nearly every row in bin 0, so the Morton value degenerates
    to the y bits and x-depth collapses; rank bins stay balanced and
    keep x locality."""
    from columnar_analytics_engine_spark.layout import (
        clustering_depth,
        index_extents,
        zorder_frame,
    )

    df = spark.range(8000).select(
        F.when(F.col("id") % 100 < 99, F.col("id") % 50)
        .otherwise(F.lit(1_000_000))
        .cast("long")
        .alias("x"),
        (F.col("id") % 64).alias("y"),
        F.col("id").alias("payload"),
    )
    depths = {}
    for method in ("linear", "quantile"):
        data = str(tmp_path / method)
        index = str(tmp_path / f"{method}_idx")
        zorder_frame(df, ["x", "y"], 8, bits=6, method=method).write.parquet(data)
        build_stats_index(spark, data, index)
        # contents preserved
        assert spark.read.parquet(data).count() == 8000
        depths[method] = {
            r["probe_col"]: r["avg_depth"]
            for r in clustering_depth(
                index_extents(spark, index, ["x", "y"])
            ).collect()
        }
    # linear collapses to (near-)worst-case on x; quantile recovers a
    # margin of clustering (the 51-distinct-value column bounds how
    # much: duplicate cut points make the rank bins lumpy)
    assert depths["linear"]["x"] >= 7.5
    assert depths["quantile"]["x"] <= depths["linear"]["x"] - 1.0


def test_quantile_zorder_validation_and_rank_bin(spark):
    from columnar_analytics_engine_spark.layout import rank_bin, zorder_frame

    df = spark.range(10).select(F.col("id").alias("a"), F.col("id").alias("b"))
    with pytest.raises(ValueError, match="caps bits at 8"):
        zorder_frame(df, ["a", "b"], 4, bits=12, method="quantile")
    with pytest.raises(ValueError, match="unknown binning method"):
        zorder_frame(df, ["a", "b"], 4, method="nope")
    got = df.select(rank_bin("a", [2.0, 5.0, 7.0]).alias("r")).collect()
    assert [r["r"] for r in got] == [0, 0, 1, 1, 1, 2, 2, 3, 3, 3]


def test_cluster_compact_hive_partitioned_stays_in_partition(spark, tmp_path):
    """The streaming sink's batch_id=N layout: compaction rewrites
    WITHIN each partition dir (never into the root), plain directory
    reads keep working, and cluster columns that are path-encoded are
    rejected."""
    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    df = spark.range(4000).select(
        (F.col("id") % 3).alias("batch_id"),
        F.pmod(F.col("id") * 2654435761, F.lit(10_000)).alias("k"),
        F.col("id").alias("payload"),
    )
    # several small shuffled files per partition: heavy k-overlap
    df.repartition(4).write.partitionBy("batch_id").parquet(data)
    build_stats_index(spark, data, index)
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(data)
        .select("payload", "k", "batch_id")
        .collect()
    )

    with pytest.raises(ValueError, match="path-encoded partition"):
        cluster_compact(spark, data, index, ["batch_id", "k"])

    out = cluster_compact(spark, data, index, ["k"], max_files=64)
    assert out["groups"] == 3 and out["rewritten"] >= 6
    vacuum_unindexed(spark, data, index)

    # plain directory read still works and is unchanged
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(data)
        .select("payload", "k", "batch_id")
        .collect()
    )
    assert after == before
    # no rewrite files escaped into the dataset root
    import os

    root_files = [
        f for f in os.listdir(data)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    assert root_files == []
    # index == disk, and a per-partition k-range prune works
    disk = set(list_parquet_files(data))
    indexed = {
        r["file"]
        for r in read_manifest(spark, index).select("file").distinct().collect()
    }
    assert disk == indexed
    plan_pruned = read_skipping(
        spark, data, index, "k le 100 and batch_id eq 1"
    )
    want = spark.read.parquet(data).filter(
        (F.col("k") <= 100) & (F.col("batch_id") == 1)
    )
    assert sorted(r["payload"] for r in plan_pruned.collect()) == sorted(
        r["payload"] for r in want.collect()
    )


def test_merge_upsert_files_rejects_hive_partitioned(spark, tmp_path):
    """MERGE would have to route rows into key=value dirs; until it
    can, it must refuse loudly instead of corrupting the layout."""
    data = str(tmp_path / "d")
    index = str(tmp_path / "i")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(300)],
        "k long, part long, x double",
    )
    df.write.partitionBy("part").parquet(data)
    build_stats_index(spark, data, index)
    source = spark.createDataFrame([(1, 0, 9.9)], "k long, part long, x double")
    with pytest.raises(ValueError, match="hive-partitioned"):
        merge_upsert_files(spark, data, index, source, "k")


def test_table_health_report(spark, sf_small, tmp_path):
    """The operator one-call: size, history, reclaimable (dry),
    tombstones, clustering depth, compaction candidates — all
    metadata-scale and consistent with the underlying tools."""
    from columnar_analytics_engine_spark.deletes import delete_where
    from columnar_analytics_engine_spark.layout import (
        cluster_compact,
        table_health,
    )

    orders = read_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    data = str(tmp_path / "data")
    index = str(tmp_path / "idx")
    dv = str(tmp_path / "dv")
    orders.repartition(8).write.parquet(data)
    build_stats_index(spark, data, index)
    delete_where(spark, data, dv, "o_orderkey % 5 = 0")
    h = table_health(spark, data, index, dv_path=dv,
                     probe_cols=["o_custkey"])
    assert h["files"] == 8 and h["rows"] == orders.count()
    assert h["current_version"] == 1 and h["reclaimable_files"] == 0
    assert h["tombstones"] > 0 and h["tombstoned_files"] == 8
    assert h["avg_depth"]["o_custkey"] > 4  # shuffled: heavy overlap
    assert h["compact_candidates"]["o_custkey"] == 8
    assert h["evolved"] is False and h["cohorts"] == 1

    cluster_compact(spark, data, index, ["o_custkey"], max_files=8)
    h2 = table_health(spark, data, index, dv_path=dv,
                      probe_cols=["o_custkey"])
    assert h2["current_version"] == 2
    assert h2["reclaimable_files"] == 8  # originals await vacuum
    assert h2["avg_depth"]["o_custkey"] < h["avg_depth"]["o_custkey"]
    assert h2["compact_candidates"]["o_custkey"] < 8


def test_compact_small_files_merges_sorted_sink_output(spark, tmp_path):
    """A sorted table of many tiny files (the streaming-sink shape)
    never qualifies for overlap-based compaction — size-based
    compaction must merge it, per partition dir, preserving results."""
    from columnar_analytics_engine_spark.layout import compact_small_files

    data = str(tmp_path / "d")
    index = str(tmp_path / "i")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(3000)],
        "k long, batch_id long, x double",
    )
    # 6 tiny files per partition, disjoint k ranges (sorted shape)
    df.repartitionByRange(6, "k").sortWithinPartitions("k").write.partitionBy(
        "batch_id"
    ).parquet(data)
    build_stats_index(spark, data, index)
    n_before = len(list_parquet_files(data))
    assert n_before >= 18

    # overlap-based selection finds nothing to do on disjoint ranges
    assert overlap_candidates(spark, index, "k", min_overlaps=3) == []

    out = compact_small_files(
        spark, data, index, target_file_bytes=64 * 1024 * 1024
    )
    assert out["rewritten"] >= 18 and out["groups"] == 3
    from columnar_analytics_engine_spark.skipping import read_indexed

    got = sorted(
        (r["k"], r["batch_id"], r["x"])
        for r in read_indexed(spark, data, index).collect()
    )
    assert got == sorted((i, i % 3, float(i)) for i in range(3000))
    # fewer, bigger files; no root-level leaf escapes; vacuum then plain-read
    import os

    indexed = {
        r["file"]
        for r in read_manifest(spark, index).select("file").distinct().collect()
    }
    assert len(indexed) == 3  # one merged file per partition
    root_files = [
        f for f in os.listdir(data)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    assert root_files == []
    vacuum_unindexed(spark, data, index)
    assert sorted(
        (r["k"], r["batch_id"], r["x"])
        for r in spark.read.parquet(data).collect()
    ) == got
    # path-encoded sort columns rejected
    with pytest.raises(ValueError, match="path-encoded"):
        compact_small_files(spark, data, index, cols=["batch_id"])
