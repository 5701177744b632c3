"""The benchmark's workloads: closed loop, one client, seeded inputs.

Each workload generates its inputs from the seed in ``setup``, warms
the JIT with an untimed pass over every request kind, then ``cycle``
issues requests until the run's time is up.  Every request calls public
engine functions only and every answer is checked; a request that
raises or answers wrong counts as failed.  Spans wrap each call the
benchmark makes into an engine module (names in ``LAYERS``).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import numpy as np

import datagen
from harness import (
    Ledger,
    Recorder,
    Sample,
    SparkProbe,
    StoredOracle,
    Tracer,
    Verifier,
    dir_bytes,
    list_files,
    median,
    tail_percentile,
)

# Logical bytes of one bench_table row (id long, value long, score int,
# region string drawn uniformly from the engine's eight region names).
_REGION_NAMES = ("north", "south", "east", "west", "northeast", "northwest", "southeast", "southwest")
BENCH_ROW_BYTES = 8 + 8 + 4 + sum(len(r) for r in _REGION_NAMES) / len(_REGION_NAMES)
COL_ENCODINGS = {"id": "delta", "region": "dictionary"}


class Context:
    """What a workload needs from the run: the session, the seed, its
    data directory, and the recorders for time, spans and failures."""

    def __init__(self, spark, seed: int, data_dir: str, state_dir: str, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.data_dir = data_dir
        self.state_dir = state_dir
        self.tracer = tracer
        self.probe = SparkProbe(spark, tracer)
        self.recorder = Recorder()
        self.ledger = Ledger()
        self.verifier = Verifier()
        self.counters: dict[str, float] = {}
        # "setup" (incl. warm-up), "loop" (the timed loop) or "finish"
        self.phase = "setup"
        self._n = 0

    @property
    def measuring(self) -> bool:
        return self.phase == "loop"

    def span(self, name: str):
        return self.tracer.span(name)

    def _request_id(self, kind: str) -> str | None:
        """Spans outside set-up carry a request id and count in the
        per-layer numbers; set-up and warm-up spans do not."""
        self._n += 1
        return None if self.phase == "setup" else f"{kind}-{self._n}"

    def request(self, kind: str, fn, rows: int = 0):
        """Run one request; returns ``(ok, value)``.  Only the call to
        ``fn`` is timed; Spark-side stats are read after it.  Every
        request is checked and counted; only those of the timed loop
        give latency samples."""
        rid = self._request_id(kind)
        self.tracer.request = rid
        # Spark-side numbers describe the timed loop's requests only
        probed = self.measuring
        if probed:
            self.probe.begin(rid)
        t0 = time.perf_counter()
        try:
            with self.span(f"request.{kind}"):
                value = fn()
            ok = True
        except Exception:  # the loop must go on; the failure is counted
            traceback.print_exc(file=sys.stderr)
            value, ok = None, False
        elapsed = time.perf_counter() - t0
        if probed:
            self.probe.end(rid)
        self.tracer.request = None
        self.ledger.record(ok, f"{kind}: raised")
        if ok and probed:
            self.recorder.samples.append(Sample(kind, elapsed, rows))
        return ok, value

    def side(self, name: str, fn):
        """A traced-only call beside the requests: spanned under its own
        request id, never timed as a request."""
        prev, self.tracer.request = self.tracer.request, self._request_id(name)
        try:
            with self.span(name):
                return fn()
        finally:
            self.tracer.request = prev

    def check(self, ok: bool, what: str) -> None:
        """Book the answer check of a request that already ran."""
        if not ok:
            self.ledger.mark_wrong(what)

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.input_sizes: dict[str, int] = {}

    def setup(self) -> None: ...
    def warm_up(self) -> None: ...
    def cycle(self, rng: np.random.Generator) -> None: ...
    def finish(self) -> None: ...

    def report(self) -> list[tuple[str, float, str, int]]:
        """Workload-specific end-to-end lines: (name, value, unit, samples)."""
        return []

    def layers(self) -> dict[str, float]:
        return {}


def _duck(tmp_dir: str, views: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    os.makedirs(tmp_dir, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=2")
    for name, path in views.items():
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


# -- query_mix ---------------------------------------------------------------------


class QueryMix(Workload):
    """Every timed read path, twice per cycle in a seeded order: the
    paper's quartet on Parquet, five registry queries over a seeded star
    schema, and a cache-cold corpus-cleaning run.
    Traced runs also exercise the paper's ``.col`` format and the dedup
    operators once, after the timed loop."""

    name = "query_mix"
    STAR = dict(orders=15_000, customers=1_500, suppliers=100, events=20_000, users=400)
    PQ_ROWS = 1_000_000
    COL_ROWS = 20_000
    N_DOCS = 2_000
    PIPELINE = "pipeline_clean_corpus"
    REGISTRY = {
        "tpch_q1": ("lineitem",),
        "join_star_tpch_q5": ("lineitem", "orders", "customer", "supplier", "nation", "region"),
        "window_topk_per_group": ("orders",),
        "sort_limit_topk": ("lineitem",),
        "events_sessionization": ("events",),
    }
    QUARTET = ("full_scan", "filtered_scan", "sum", "group_by")
    OLAP = tuple(f"pq_{q}" for q in QUARTET) + tuple(REGISTRY)
    KINDS = OLAP + (PIPELINE,)
    # every query twice per cycle and the pipeline three times: one
    # sample of each is too noisy to keep the run-to-run spread of the
    # throughput small, and a pipeline run (together about two thirds of
    # the loop's time) takes 5 s or 7.5 s within one cycle
    CYCLE = OLAP * 2 + (PIPELINE,) * 3

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.sf = os.path.join(ctx.data_dir, "sf")
        self.docs_path = os.path.join(self.sf, "documents.parquet")
        self.col_path = os.path.join(ctx.data_dir, "bench.col")
        self.col_twin = os.path.join(ctx.data_dir, "bench_col_twin.parquet")
        self._seen_tables: dict[int, object] = {}

    # set-up ---------------------------------------------------------------------

    def setup(self) -> None:
        from columnar_analytics_engine_spark import io
        from columnar_analytics_engine_spark.queries import events, pipeline, relational
        from columnar_analytics_engine_spark.sources.synthetic import bench_table, docs_table

        ctx, spark = self.ctx, self.spark
        self.qs = {**relational.QUERIES, **events.QUERIES, **pipeline.QUERIES}
        with ctx.span("sources.generate"):
            t0 = time.perf_counter()
            rows = datagen.write_star(self.sf, datagen.star_tables(ctx.seed, **self.STAR))
            io.write_table(
                bench_table(spark, self.PQ_ROWS, seed=ctx.seed).coalesce(4),
                os.path.join(self.sf, "bench_table.parquet"),
            )
            docs = docs_table(spark, self.N_DOCS, seed=ctx.seed, dup_frac_mod=10, vocab_scale=1000)
            io.write_table(docs.coalesce(1), self.docs_path)
            ctx.add("sources.generate_s", time.perf_counter() - t0)
        self.rows = dict(rows, bench_table=self.PQ_ROWS, documents=self.N_DOCS)
        self.input_sizes = dict(self.rows)
        ctx.add("sources.input_bytes", dir_bytes(self.sf))
        self.con = _duck(
            os.path.join(ctx.data_dir, "duckdb"),
            {n: os.path.join(self.sf, f"{n}.parquet") for n in self.rows},
        )
        self.pipeline_oracle = StoredOracle(self._pipeline_answer())

    def _pipeline_answer(self):
        """The corpus pipeline's oracle answer for these documents,
        computed once per distinct input and kept in the state
        directory (the DuckDB oracle is slow)."""
        import pandas as pd
        import pyarrow.parquet as pq

        sql = self.qs[self.PIPELINE].sql
        docs = pq.read_table(self.docs_path).sort_by("doc_id")
        h = hashlib.sha256(sql.encode())
        for col in ("doc_id", "text", "lang", "source", "n_chars"):
            h.update(str(docs.column(col).to_pylist()).encode())
        path = os.path.join(self.ctx.state_dir, "oracle", f"{self.PIPELINE}-{h.hexdigest()[:24]}.parquet")
        if not os.path.exists(path):
            t0 = time.perf_counter()
            pdf = self.con.execute(sql).fetchdf()
            self.ctx.add("oracle_s", time.perf_counter() - t0)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            pdf.to_parquet(tmp, index=False)
            os.replace(tmp, path)
        return pd.read_parquet(path)

    def warm_up(self) -> None:
        self._issue(self.KINDS, np.random.default_rng([self.ctx.seed, 7]))

    # requests ---------------------------------------------------------------------

    def _read_table(self, name: str):
        from columnar_analytics_engine_spark import io

        with self.ctx.span("io.read_table"):
            df = io.read_table(self.spark, self.sf, name)
        self.ctx.add("io.read_table_calls", 1)
        if id(df) in self._seen_tables:
            self.ctx.add("io.read_table_reuses", 1)
        self._seen_tables[id(df)] = df
        return df

    def _frame_request(self, kind, build, sql, con, rows, action_span="exec.action", after=None):
        """Time ``build()`` plus collecting its DataFrame, then check the
        answer against ``sql`` on ``con``."""
        ctx = self.ctx
        holder = {}

        def go():
            q = build()
            holder["q"] = q
            with ctx.span(action_span):
                return q.toPandas()

        ok, pdf = ctx.request(kind, go, rows=rows)
        if after is not None:
            after(ok)
        if ok:
            if ctx.measuring:
                ctx.probe.plan_phases(holder["q"])
            ctx.check(ctx.verifier.check(kind, pdf, sql, con), f"{kind}: wrong answer")

    def _registry(self, name: str) -> None:
        spec = self.qs[name]

        def build():
            for t in self.REGISTRY[name]:
                self._read_table(t)
            with self.ctx.span("queries.build"):
                return spec.fn(self.spark, self.sf)

        rows = sum(self.rows[t] for t in self.REGISTRY[name])
        self._frame_request(name, build, spec.sql, self.con, rows)

    def _pq_quartet(self, q: str, c: int) -> None:
        def build():
            df = self._read_table("bench_table")
            with self.ctx.span("queries.build"):
                return _quartet(df, q, c)

        sql = _quartet_sql(q, c, "bench_table")
        self._frame_request(f"pq_{q}", build, sql, self.con, self.PQ_ROWS)

    def _pipeline(self) -> None:
        """One cache-cold ``pipeline_clean_corpus`` run: its persisted
        intermediates are built inside the request and dropped after."""
        from columnar_analytics_engine_spark.functions.caching import cache_scope

        ctx = self.ctx
        spec = self.qs[self.PIPELINE]

        def build():
            self._read_table("documents")
            with ctx.span("queries.build"):
                return spec.fn(self.spark, self.sf)

        def storage(ok):
            if ok and ctx.measuring and ctx.tracer.enabled:
                entries, nbytes = ctx.probe.storage()
                ctx.add("caching.entries", entries)
                ctx.add("caching.cached_bytes", nbytes)
                ctx.add("caching.samples", 1)

        with cache_scope():
            self._frame_request(self.PIPELINE, build, spec.sql, self.pipeline_oracle, self.N_DOCS, after=storage)

    def cycle(self, rng: np.random.Generator) -> None:
        self._issue(self.CYCLE, rng)

    def _issue(self, kinds: tuple[str, ...], rng: np.random.Generator) -> None:
        """One request of each entry of ``kinds``, in seeded order."""
        for i in rng.permutation(len(kinds)):
            kind = kinds[i]
            c = int(rng.integers(20_000, 80_001))
            if kind in self.REGISTRY:
                self._registry(kind)
            elif kind.startswith("pq_"):
                self._pq_quartet(kind[3:], c)
            else:
                self._pipeline()

    # traced-only layers -----------------------------------------------------------

    def finish(self) -> None:
        if self.ctx.tracer.enabled:
            self._colfile()
            self._dedup()

    def _colfile(self) -> None:
        """The paper's format: write a seeded table with
        ``io.write_colfile`` (DELTA ids, DICTIONARY regions), then run
        the quartet and a footer-pruned read through ``io.read_colfile``,
        each checked against DuckDB over a Parquet twin."""
        from columnar_analytics_engine_spark import io
        from columnar_analytics_engine_spark.sources.synthetic import bench_table

        ctx = self.ctx
        rng = np.random.default_rng([ctx.seed, 11])
        src = bench_table(self.spark, self.COL_ROWS, seed=ctx.seed + 1)
        io.write_table(src.coalesce(1), self.col_twin)
        con = _duck(os.path.join(ctx.data_dir, "duckdb"), {"col_twin": self.col_twin})

        def write():
            with ctx.span("colfile.write"):
                io.write_colfile(src, self.col_path, encodings=COL_ENCODINGS)

        ok, _ = ctx.request("col_write", write, rows=self.COL_ROWS)
        if not ok:
            return
        self.col_bytes = sum(list_files(self.col_path, ".col").values())
        meta = io.describe_col(self.col_path)
        groups = [rg for f in meta["files"] for rg in f["row_groups"]]
        min_ids = [next(c["min"] for c in rg["columns"] if c["column"] == "id") for rg in groups]
        for q in self.QUARTET + ("pruned_read",):
            k = int(rng.integers(self.COL_ROWS // 20, self.COL_ROWS // 4))
            where = f"id < {k}" if q == "pruned_read" else None

            def build(q=q, k=k, where=where):
                with ctx.span("colfile.open"):
                    df = io.read_colfile(self.spark, self.col_path, where=where)
                return _quartet(df, q, k)

            kept = sum(1 for m in min_ids if where is None or m is None or m < k)
            ctx.add("colfile.row_groups_read", kept)
            ctx.add("colfile.row_groups_total", len(groups))
            self._frame_request(
                f"col_{q}", build, _quartet_sql(q, k, "col_twin"), con, self.COL_ROWS,
                action_span="colfile.action",
            )
        con.close()

    def _dedup(self) -> None:
        """The dedup operators the corpus pipeline is built from, called
        directly on the corpus."""
        from columnar_analytics_engine_spark import io
        from columnar_analytics_engine_spark.functions.caching import cache_scope, persist_once
        from columnar_analytics_engine_spark.operators import dedup as D

        ctx = self.ctx
        docs = io.read_table(self.spark, self.sf, "documents")
        with cache_scope():
            ctx.side("dedup.exact", lambda: D.exact_duplicates(docs).count())
            sigs = persist_once(D.minhash_signatures(docs))
            ctx.side("dedup.signatures", sigs.count)
            n_cand = ctx.side("dedup.candidates", lambda: D.lsh_candidates(sigs).count())
            # signatures are cached by now: this is candidates + verify
            n_true = ctx.side("dedup.verify", lambda: D.minhash_near_duplicates(docs, threshold=0.8).count())
        ctx.counters.update({
            "dedup.candidate_pairs": n_cand,
            "dedup.true_pairs": n_true,
            "dedup.verify_yield": n_true / n_cand if n_cand else 0.0,
        })

    # results --------------------------------------------------------------------------

    def report(self):
        rec = self.ctx.recorder
        lat = rec.latencies(self.OLAP)
        runs = rec.latencies((self.PIPELINE,))
        out = [
            ("query_p50_s", _med(lat), "s", len(lat)),
            ("queries_per_s", len(lat) / sum(lat) if lat else 0.0, "1/s", len(lat)),
        ]
        out += _tail("query", lat)
        out += [
            ("run_p50_s", _med(runs), "s", len(runs)),
            ("docs_per_s", rec.rows((self.PIPELINE,)) / sum(runs) if runs else 0.0, "docs/s", len(runs)),
        ]
        return out

    def layers(self):
        c = self.ctx.counters
        n = max(1.0, c.get("caching.samples", 0.0))
        out = {
            "io.read_table_reuse_ratio": c.get("io.read_table_reuses", 0.0)
            / max(1.0, c.get("io.read_table_calls", 0.0)),
            "caching.entries": c.get("caching.entries", 0.0) / n,
            "caching.cached_bytes": c.get("caching.cached_bytes", 0.0) / n,
        }
        if hasattr(self, "col_bytes"):
            out["colfile.row_groups_read_ratio"] = c.get("colfile.row_groups_read", 0.0) / max(
                1.0, c.get("colfile.row_groups_total", 0.0)
            )
            out["colfile.bytes_per_row"] = self.col_bytes / self.COL_ROWS
        return out


def _quartet(df, q: str, c: int):
    """The paper's four queries (benches/benchmark.cpp:97-207), plus the
    pruned read, as DataFrames; ``_quartet_sql`` is each one's oracle."""
    from pyspark.sql import functions as F

    n = F.count(F.lit(1)).alias("n")
    if q == "full_scan":
        return df.agg(n)
    if q == "filtered_scan":
        return df.where(F.col("value") > c).agg(n)
    if q == "sum":
        return df.agg(F.sum("value").alias("s"), n)
    if q == "group_by":
        return df.groupBy("region").agg(F.sum("value").alias("s"), n)
    return df.where(F.col("id") < c).agg(F.sum("value").alias("s"), n)


def _quartet_sql(q: str, c: int, table: str) -> str:
    return {
        "full_scan": f"SELECT count(*) AS n FROM {table}",
        "filtered_scan": f"SELECT count(*) AS n FROM {table} WHERE value > {c}",
        "sum": f"SELECT CAST(sum(value) AS BIGINT) AS s, count(*) AS n FROM {table}",
        "group_by": f"SELECT region, CAST(sum(value) AS BIGINT) AS s, count(*) AS n FROM {table} GROUP BY region",
        "pruned_read": f"SELECT CAST(sum(value) AS BIGINT) AS s, count(*) AS n FROM {table} WHERE id < {c}",
    }[q]


def _med(xs: list[float]) -> float:
    return median(xs) if xs else 0.0


def _tail(prefix: str, xs: list[float]):
    t = tail_percentile(xs)
    if t is None:
        return []
    return [(f"{prefix}_p{t[0]}_s", t[1], "s", len(xs))]


# -- lakehouse_ingest --------------------------------------------------------------


class LakehouseIngest(Workload):
    """A clustered, indexed Parquet table that grows by seeded batches;
    each step commits a batch, deletes a seeded id range and reads a
    pruned range; each cycle of three steps ends by folding the deletes
    and vacuuming."""

    name = "lakehouse_ingest"
    INITIAL = 100_000
    BATCH = 50_000
    DELETE_SPAN = 1_000
    READ_SPAN = 10_000
    # three steps make a cycle take 15-23 s on a 4-core host, longer than
    # the 5 s run time even on a host twice as fast, so every run measures
    # one whole cycle (a second, warmer cycle would lift the throughput
    # by itself)
    STEPS_PER_CYCLE = 3

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        base = ctx.data_dir
        self.data = os.path.join(base, "table")
        self.index = os.path.join(base, "index")
        self.dv = os.path.join(base, "dv")
        self.next_id = 0
        self.deleted = np.zeros(0, dtype=bool)
        self.batches = 0
        self._known: dict[str, int] = {}

    def _batch(self, n: int):
        from pyspark.sql import functions as F

        from columnar_analytics_engine_spark.sources.synthetic import bench_table

        lo = self.next_id
        self.batches += 1
        df = bench_table(self.spark, n, seed=self.ctx.seed * 1000 + self.batches)
        return df.withColumn("id", F.col("id") + F.lit(lo)), lo, lo + n

    def _grow(self, hi: int) -> None:
        self.next_id = hi
        if len(self.deleted) < hi:
            self.deleted = np.concatenate([self.deleted, np.zeros(hi - len(self.deleted), dtype=bool)])

    def _new_bytes(self) -> int:
        """Bytes of the files created since the last call under the
        table, its index and its deletion vectors."""
        added = 0
        for d in (self.data, self.index, self.dv):
            for root, _dirs, names in os.walk(d):
                for f in names:
                    p = os.path.join(root, f)
                    if p in self._known:
                        continue
                    try:
                        size = os.path.getsize(p)
                    except OSError:
                        continue
                    self._known[p] = size
                    added += size
        return added

    def setup(self) -> None:
        from columnar_analytics_engine_spark import io, skipping

        ctx = self.ctx
        with ctx.span("sources.generate"):
            t0 = time.perf_counter()
            # spark.range slices are contiguous id ranges: the files come
            # out clustered on id without write_sorted's sampling shuffle
            df, lo, hi = self._batch(self.INITIAL)
            io.write_table(df.coalesce(4), self.data)
            ctx.add("sources.generate_s", time.perf_counter() - t0)
        self._grow(hi)
        skipping.build_stats_index(self.spark, self.data, self.index)
        ctx.add("sources.input_bytes", dir_bytes(self.data))
        self.created_bytes = self._new_bytes()
        self.user_bytes = self.INITIAL * BENCH_ROW_BYTES
        self.input_sizes = {"initial_rows": self.INITIAL, "batch_rows": self.BATCH}

    def warm_up(self) -> None:
        """One step and one maintenance pass, so that every request kind
        of the timed loop has run once."""
        self._step(np.random.default_rng([self.ctx.seed, 7]))
        self._maintain()
        self.created_bytes += self._new_bytes()

    def _commit(self) -> None:
        from columnar_analytics_engine_spark import io, skipping

        ctx = self.ctx
        df, lo, hi = self._batch(self.BATCH)

        def go():
            with ctx.span("io.append"):
                t0 = time.perf_counter()
                io.write_sorted(df, self.data, ["id"], n_files=2, mode="append")
                t1 = time.perf_counter()
            with ctx.span("skipping.update_index"):
                res = skipping.update_stats_index(self.spark, self.data, self.index)
            return res, t1 - t0

        before = set(list_files(self.data, ".parquet"))
        ok, value = ctx.request("commit", go, rows=self.BATCH)
        if not ok:
            return
        self._grow(hi)
        self.user_bytes += self.BATCH * BENCH_ROW_BYTES
        appended = {p: s for p, s in list_files(self.data, ".parquet").items() if p not in before}
        res, append_s = value
        ctx.check(res["added"] == len(appended), "commit: index missed appended files")
        if ctx.measuring:
            ctx.add("io.append_time_s", append_s)
            ctx.add("io.bytes_written", sum(appended.values()))
            ctx.add("io.appends", 1)

    def _delete(self, rng) -> tuple[int, int]:
        from columnar_analytics_engine_spark import deletes

        ctx = self.ctx
        a = int(rng.integers(0, self.next_id - self.DELETE_SPAN))
        b = a + self.DELETE_SPAN
        pred = f"id >= {a} AND id < {b}"

        def go():
            with ctx.span("deletes.delete_where"):
                return deletes.delete_where(self.spark, self.data, self.dv, pred, index_path=self.index)

        ok, n = ctx.request("delete", go)
        if not ok:
            return a, b
        want = int((~self.deleted[a:b]).sum())
        self.deleted[a:b] = True
        ctx.check(n == want, f"delete {pred}: {n} tombstones, want {want}")
        if ctx.measuring:
            ctx.add("deletes.tombstones", n)
        return a, b

    def _read(self, rng, deleted: tuple[int, int]) -> None:
        """A pruned read of a seeded range that covers the ``deleted``
        id range, so every read checks tombstone subtraction."""
        from columnar_analytics_engine_spark import deletes, skipping

        ctx = self.ctx
        a, b = deleted
        c = int(rng.integers(max(0, b - self.READ_SPAN), a + 1))
        d = c + self.READ_SPAN
        pred = f"id >= {c} AND id < {d}"

        def go():
            with ctx.span("deletes.read_with_deletes"):
                return deletes.read_with_deletes(
                    self.spark, self.data, self.dv, index_path=self.index, predicate=pred
                ).count()

        ok, n = ctx.request("read", go)
        if not ok:
            return
        want = int((~self.deleted[c:d]).sum())
        ctx.check(n == want, f"read {pred}: {n} rows, want {want}")
        if ctx.measuring and ctx.tracer.enabled:
            plan = ctx.side("skipping.plan", lambda: skipping.plan_skipping(self.spark, self.index, pred))
            ctx.add("skipping.files_kept", len(plan["files"]))
            ctx.add("skipping.files_total", plan["files_total"])

    def _maintain(self) -> None:
        from columnar_analytics_engine_spark import deletes, layout

        ctx = self.ctx
        before = set(list_files(self.data, ".parquet"))

        def go():
            with ctx.span("layout.compact"):
                res = deletes.compact_deletes(self.spark, self.data, self.dv, self.index)
            with ctx.span("layout.vacuum"):
                layout.vacuum_unindexed(self.spark, self.data, self.index)
            return res

        ok, _ = ctx.request("maintain", go)
        if ok and ctx.measuring:
            new = {p: s for p, s in list_files(self.data, ".parquet").items() if p not in before}
            ctx.add("layout.bytes_rewritten", sum(new.values()))
            ctx.add("layout.compactions", 1)

    def _step(self, rng) -> None:
        self._commit()
        self._read(rng, self._delete(rng))
        self.created_bytes += self._new_bytes()

    def cycle(self, rng) -> None:
        """``STEPS_PER_CYCLE`` ingest steps, then one maintenance pass."""
        for _ in range(self.STEPS_PER_CYCLE):
            self._step(rng)
        self._maintain()
        self.created_bytes += self._new_bytes()

    def finish(self) -> None:
        """Every surviving row must still read back, exactly once."""
        from columnar_analytics_engine_spark import deletes

        ctx = self.ctx
        ok, n = ctx.request(
            "survivors",
            lambda: deletes.read_with_deletes(self.spark, self.data, self.dv, index_path=self.index).count(),
        )
        want = int((~self.deleted[: self.next_id]).sum())
        if ok:
            ctx.check(n == want, f"survivors: {n} rows, want {want}")

    def report(self):
        rec = self.ctx.recorder
        commits = rec.latencies(("commit",))
        c = self.ctx.counters
        return [
            ("commit_p50_s", _med(commits), "s", len(commits)),
            ("delete_p50_s", _med(rec.latencies(("delete",))), "s", len(rec.latencies(("delete",)))),
            ("read_p50_s", _med(rec.latencies(("read",))), "s", len(rec.latencies(("read",)))),
            ("maintain_p50_s", _med(rec.latencies(("maintain",))), "s", len(rec.latencies(("maintain",)))),
            ("write_rows_per_s", self.BATCH * c.get("io.appends", 0.0) / max(1e-9, c.get("io.append_time_s", 0.0)), "rows/s", len(commits)),
            ("bytes_per_user_byte", self.created_bytes / self.user_bytes, "ratio", 1),
        ]

    def layers(self):
        from columnar_analytics_engine_spark import manifest

        c = self.ctx.counters
        return {
            "skipping.files_kept_ratio": c.get("skipping.files_kept", 0.0) / max(1.0, c.get("skipping.files_total", 0.0)),
            "manifest.versions_retained": float(len(manifest.list_versions(self.index))),
            "deletes.tombstones": c.get("deletes.tombstones", 0.0),
            "layout.bytes_rewritten": c.get("layout.bytes_rewritten", 0.0) / max(1.0, c.get("layout.compactions", 0.0)),
            "layout.files_on_disk": float(len(list_files(self.data, ".parquet"))),
            "io.bytes_written": c.get("io.bytes_written", 0.0) / max(1.0, c.get("io.appends", 0.0)),
        }


WORKLOADS = {w.name: w for w in (QueryMix, LakehouseIngest)}
