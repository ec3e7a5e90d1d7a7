"""The four workloads: set-up, one operation of the closed loop, output
checks and the workload's own metrics.

Each workload drives the library only through its public entry points
(``HtaStore``/``Metric``, ``IncrementalRollup`` and the ``pipeline``
operators).  ``op`` returns the number of user items the operation handled
(points, accepted points, queries or documents).  ``checks`` returns
``(name, passed, detail)`` triples; a check that fails is counted as a
failed operation.
"""

from __future__ import annotations

import os
import shutil
import struct
import time

import numpy as np

import gen

#: sizes per workload; chosen so one run stays within its time budget on a
#: 4-core host (see perfbench/README.md)
SIZES = {
    "backfill": {"points": 1 << 17},
    "ingest": {"metrics": 64, "history_per_metric": 512,
               "batch_per_metric": 64, "late_share": 0.05},
    "dashboard": {"points": 1 << 15,
                  "widths": (0.01, 0.10, 1.00), "plot_points": 300},
    "curate": {"docs": 2000, "minhash_k": 16,
               "rows_per_band": 2, "sem_k": 8, "sem_threshold": 0.99},
}


def _bits(row) -> tuple:
    """A row as a tuple in which floats compare bit for bit."""
    return tuple(struct.pack(">d", v) if isinstance(v, float) else v
                 for v in row)


def parquet_files(path: str) -> dict[str, int]:
    """Size of every parquet file under ``path``, by path."""
    out = {}
    for root, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def live_store_bytes(base: str) -> int:
    """Bytes of the live raw table plus every live level table (manifest
    pointers resolved; superseded snapshots kept for readers excluded)."""
    from hta_spark.sources.store import (read_partition_manifest,
                                         resolve_table_path)
    def size(path: str) -> int:
        return sum(parquet_files(path).values())

    total = size(resolve_table_path(f"{base}/raw"))
    lv = f"{base}/levels"
    names = {n.split(".")[0] for n in os.listdir(lv)} if os.path.isdir(lv) else ()
    for name in names:
        path = f"{lv}/{name}"
        doc = read_partition_manifest(path)
        if doc is not None:
            total += sum(size(os.path.join(path, k, f"v={v}"))
                         for k, v in doc["partitions"].items())
        else:
            total += size(resolve_table_path(path))
    return total


class Workload:
    name = ""
    items = ""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name]
        self.extra: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)

    def setup(self) -> None:
        pass

    def prepare(self, i: int) -> None:
        """Generate operation ``i``'s inputs; runs before its timing."""

    def op(self, i: int) -> int:
        raise NotImplementedError

    def checks(self) -> list[tuple[str, bool, str]]:
        return []

    def store_base(self) -> str | None:
        """Directory whose parquet files the traced run diffs per op."""
        return None

    def flex(self, metric, begin: int, end: int, limit: int):
        """``Metric.retrieve_flex`` plus the action on its frame, counted."""
        with self.tracer.span("retrieve.flex"):
            kind, df = metric.retrieve_flex(begin, end, limit)
            rows = df.collect()
        self.tracer.count(f"retrieve.kind.{kind}")
        self.tracer.count("retrieve.rows_out", len(rows))
        self.tracer.count("retrieve.calls")
        return kind, rows


# -- backfill -----------------------------------------------------------------

class Backfill(Workload):
    """Write P points through ``HtaStore.write_raw`` into a fresh store, then
    ``HtaStore.build()`` the whole hierarchy.  No query runs."""

    name = "backfill"
    items = "points"

    def setup(self) -> None:
        self.data = gen.series(self.seed, self.size["points"])
        self.raw_rows = self.size["points"]
        self.df = self.spark.createDataFrame(gen.to_frame(self.data),
                                             gen.POINT_SCHEMA)
        self.base = None

    def store_base(self):
        return os.path.join(self.work, "backfill")

    def op(self, i: int) -> int:
        from hta_spark.sources.store import HtaStore
        if self.base is not None:
            shutil.rmtree(self.base, ignore_errors=True)
        self.base = os.path.join(self.work, "backfill", f"op{i}")
        store = HtaStore(self.spark, self.base,
                         prefix_configs=gen.prefix_configs())
        store.write_raw(self.df)
        store.build()
        self.store = store
        self.note("stored_bytes_per_user_byte",
                  live_store_bytes(self.base) / (16.0 * self.size["points"]))
        return self.size["points"]

    def checks(self):
        import duckdb
        from hta_spark.operators.tools import check_levels
        from pyspark.sql import functions as F
        out = []
        raw = self.store.raw()
        raw_path = os.path.join(self.base, "raw")
        con = duckdb.connect()
        try:
            for group, meta in gen.prefix_configs().items():
                like = f"{group}.%"
                sub = raw.filter(F.col("metric").like(like))
                levels = {iv: df.filter(F.col("metric").like(like))
                          for iv, df in self.store.levels_for(meta).items()}
                issues = check_levels(sub, levels).limit(20).collect()
                out.append((f"check_levels[{group}]", not issues,
                            f"{len(issues)} issue rows"
                            + (f", first {issues[0]}" if issues else "")))
                d = meta.interval_min
                got = {_bits(r) for r in levels[d].select(
                    "metric", "interval_start", "count", "minimum",
                    "maximum").collect()}
                want = {_bits(r) for r in con.execute(
                    _duck_level1(raw_path, d, like)).fetchall()}
                out.append((f"level1_vs_duckdb[{group}]", got == want,
                            f"{len(got)} spark rows, {len(want)} duckdb rows, "
                            f"{len(got ^ want)} differ"))
        finally:
            con.close()
        return out


def _duck_level1(raw_path: str, d: int, like: str) -> str:
    """Level-1 count, min and max per closed bucket of width ``d``, from
    the raw parquet alone.  Under last-value semantics a point counts in
    its own bucket, and its value also enters min and max of every bucket
    its segment [previous time, time) overlaps."""
    return f"""
    WITH r AS (
      SELECT metric, time, value,
             lag(time) OVER (PARTITION BY metric ORDER BY time) AS pt
      FROM read_parquet('{raw_path}/**/*.parquet', hive_partitioning = true)
      WHERE metric LIKE '{like}'),
    c AS (
      SELECT metric, time // {d} AS k, value, 1 AS cnt FROM r
      UNION ALL
      SELECT metric, unnest(generate_series(pt // {d}, (time - 1) // {d})),
             value, 0 FROM r WHERE pt IS NOT NULL),
    span AS (
      SELECT metric, min(time) // {d} AS k0, max(time) // {d} AS k1
      FROM r GROUP BY metric)
    SELECT c.metric, k * {d} AS interval_start, sum(cnt)::BIGINT,
           min(value), max(value)
    FROM c JOIN span USING (metric)
    WHERE k >= k0 AND k < k1
    GROUP BY c.metric, k"""


# -- ingest -----------------------------------------------------------------

class Ingest(Workload):
    """One client writes and reads a live store.  Each operation sends one
    time-ordered micro-batch with planted late points to
    ``IncrementalRollup.ingest`` (strict policy), then reads one metric of
    that batch: a freshness read of its newest level-1 row, then a range
    aggregate (auto arm) and a count over one window of its history, 1%,
    10% or 100% wide in turn."""

    name = "ingest"
    items = "accepted points"

    def store_base(self):
        return self.base

    def setup(self) -> None:
        from hta_spark.sources.store import HtaStore
        from hta_spark.streaming.ingest import IncrementalRollup
        s = self.size
        self.meta = gen.meta_for(gen.BatchStream.SPACING)
        self.base = os.path.join(self.work, "ingest")
        self.stream = gen.BatchStream(self.seed, s["metrics"], s["late_share"])
        self.ing = IncrementalRollup(self.spark, self.base, self.meta,
                                     policy="strict")
        self.store = HtaStore(self.spark, self.base,
                              prefix_configs={"s": self.meta})
        self.pick = np.random.default_rng([self.seed, 5])
        # history, so every timed batch takes the steady-state path, and
        # one untimed round of the reads, so timed reads do not pay the
        # session's first code generation for their plans
        hist, last, _ = self.stream.batch(s["history_per_metric"], late=False)
        self.ing.ingest(self.spark.createDataFrame(hist, gen.POINT_SCHEMA))
        self.history = self.sent = len(hist)
        self.late = 0
        self.reads(last, 2)
        self.extra.clear()

    def prepare(self, i: int) -> None:
        pdf, last, n_late = self.stream.batch(self.size["batch_per_metric"])
        self.pending = (self.spark.createDataFrame(pdf, gen.POINT_SCHEMA),
                        last, len(pdf), n_late)

    def op(self, i: int) -> int:
        df, last, n, n_late = self.pending
        t = time.perf_counter()
        self.ing.ingest(df)
        self.note("ingest_batch_s", time.perf_counter() - t)
        self.sent += n
        self.late += n_late
        self.reads(last, i)
        return n - n_late

    def reads(self, last: dict, i: int) -> None:
        """The reads after batch ``i`` on one seeded metric; ``last`` holds
        each metric's newest accepted time."""
        name = self.stream.names[int(self.pick.integers(len(self.stream.names)))]
        m = self.store[name]
        # freshness read: the newest closed level-1 bucket of the metric
        # must be visible as soon as the batch returns
        d = self.meta.interval_min
        t_last = last[name]
        t = time.perf_counter()
        kind, rows = self.flex(m, t_last - 10 * d, t_last, d)
        self.note("fresh_read_s", time.perf_counter() - t)
        newest = max((r["time"] for r in rows), default=None)
        want = (t_last // d - 1) * d
        if kind != "rows" or newest != want:
            raise StaleReadError(f"{name}: newest level-1 row {newest}, "
                                 f"expected {want} ({kind})")
        # one dashboard read over 1%, 10% or 100% of the metric's history
        times = self.stream.times(name)
        width = (0.01, 0.10, 1.00)[i % 3]
        span = int(times[-1] - times[0])
        w = max(int(span * width), 1)
        b = int(times[0]) + int(self.pick.integers(0, span - w + 1))
        e = b + w
        t = time.perf_counter()
        with self.tracer.span("aggregate.query"):
            m.aggregate(b, e).collect()
        self.note("aggregate_s", time.perf_counter() - t)
        t = time.perf_counter()
        got = m.count(b, e)
        self.note("count_s", time.perf_counter() - t)
        want = gen.count_in(times, b, e)
        if got != want:
            raise WrongCountError(f"{name} [{b},{e}): {got} != {want}")

    def checks(self):
        from hta_spark.operators.rollup import build_levels
        out = []
        raw = self.ing.raw()
        n_raw = raw.count()
        self.layer["stored_bytes_per_user_byte"] = (
            live_store_bytes(self.base) / (16.0 * n_raw))
        want = self.sent - self.late
        out.append(("accepted_rows", n_raw == want,
                    f"raw rows {n_raw}, generated {self.sent} - planted late "
                    f"{self.late} = {want}"))
        batches = self.sent - self.history
        self.layer["ingest.accepted_ratio"] = (
            (n_raw - self.history) / batches if batches else 0.0)
        self.layer["ingest.planted_accept_ratio"] = (
            (batches - self.late) / batches if batches else 0.0)
        fresh = build_levels(raw, self.meta)
        cols = ["metric", "interval_start", "minimum", "maximum", "sum",
                "count", "integral", "active_time"]
        for iv in self.meta.level_intervals():
            got = {_bits(r) for r in self.ing.level(iv).select(*cols).collect()}
            ref = {_bits(r) for r in fresh[iv].select(*cols).collect()}
            out.append((f"level_{iv}_equals_rebuild", got == ref,
                        f"{len(got)} stored rows, {len(ref)} rebuilt rows, "
                        f"{len(got ^ ref)} differ"))
        return out


class StaleReadError(AssertionError):
    """A freshness read did not see the newest closed level-1 bucket."""


class WrongCountError(AssertionError):
    """A count query disagreed with the generator's count."""


# -- dashboard ----------------------------------------------------------------

class Dashboard(Workload):
    """A store built in set-up, then one client sending a fixed cycle of
    plot reads (``retrieve_flex``), range aggregates (``aggregate``, auto
    arm) and counts over plot widths of 1%, 10% and 100% of the range."""

    name = "dashboard"
    items = "queries"
    #: the query cycle: every run issues the same kinds at the same widths
    #: in the same order, so a run's median compares like with like across
    #: seeds; any three consecutive queries cover every kind and width
    KINDS = ("flex", "agg", "count")
    #: queries 0, 3 and 6 of every ten go to the hot metric (30%)
    HOT = (0, 3, 6)

    def store_base(self):
        return self.base

    def setup(self) -> None:
        from hta_spark.sources.store import HtaStore
        self.data = gen.series(self.seed, self.size["points"])
        self.raw_rows = self.size["points"]
        self.base = os.path.join(self.work, "dashboard")
        self.store = HtaStore(self.spark, self.base,
                              prefix_configs=gen.prefix_configs())
        # the store is built with the backfill path; its throughput and
        # footprint are reported beside the query metrics
        df = self.spark.createDataFrame(gen.to_frame(self.data),
                                        gen.POINT_SCHEMA)
        t = time.perf_counter()
        with self.tracer.span("setup.backfill"):
            self.store.write_raw(df)
            self.store.build()
        self.setup_backfill_s = time.perf_counter() - t
        self.stored_bytes = live_store_bytes(self.base)
        self.names = sorted(self.data)
        self.rng = np.random.default_rng([self.seed, 6])
        ws = self.size["widths"]
        self.cycle = [(k, ws[(j + r) % 3]) for r in range(3)
                      for j, k in enumerate(self.KINDS)]

    def _window(self, name: str, width: float) -> tuple[int, int]:
        t = self.data[name][0]
        lo, hi = int(t[0]), int(t[-1])
        w = max(int((hi - lo) * width), 1)
        b = lo + int(self.rng.integers(0, max(hi - lo - w, 0) + 1))
        return b, b + w

    def op(self, i: int) -> int:
        kind, width = self.cycle[i % len(self.cycle)]
        if i % 10 in self.HOT:
            name = "g20.m00"
        else:
            name = self.names[1 + int(self.rng.integers(len(self.names) - 1))]
        b, e = self._window(name, width)
        m = self.store[name]
        if kind == "flex":
            self.flex(m, b, e, max((e - b) // self.size["plot_points"], 1))
        elif kind == "agg":
            with self.tracer.span("aggregate.query"):
                m.aggregate(b, e).collect()
        else:
            n = m.count(b, e)
            want = gen.count_in(self.data[name][0], b, e)
            if n != want:
                raise WrongCountError(f"{name} [{b},{e}): {n} != {want}")
        self.kind = f"{kind}@{width:g}"
        return 1

    def checks(self):
        """A seeded window over at least half of the hot metric's range,
        where the telescope reads every level: its aggregate must equal the
        raw scan's bit for bit."""
        name = "g20.m00"
        b, e = self._window(name, 0.5 + 0.5 * float(self.rng.random()))
        m = self.store[name]
        tel = m.aggregate(b, e, use_levels=True).collect()
        exact = m.aggregate(b, e, use_levels=False).collect()
        same = [_bits(r) for r in tel] == [_bits(r) for r in exact]
        return [("aggregate_levels_vs_raw", same,
                 f"{name} [{b},{e}): telescope {tel} exact {exact}")]


# -- curate -----------------------------------------------------------------

class Curate(Workload):
    """One pass of the deduplication pipeline over a seeded corpus:
    ``exact_dedup``, ``minhash_signatures`` + ``lsh_pairs``,
    ``connected_components`` and ``semantic_dedup`` on embeddings."""

    name = "curate"
    items = "documents"

    def setup(self) -> None:
        n = self.size["docs"]
        pdf, self.exact_groups, self.near_clusters = gen.corpus(self.seed, n)
        self.docs = self.spark.createDataFrame(
            pdf, "doc_id long, text string")
        epdf, self.vec_clusters = gen.embeddings(self.seed, n)
        self.emb = self.spark.createDataFrame(
            epdf, "vec_id long, embedding array<double>")
        self.true_pairs = gen.pairs_in(self.exact_groups + self.near_clusters)
        self.last = None

    def op(self, i: int) -> int:
        from hta_spark.pipeline.dedup import (connected_components,
                                              exact_dedup, lsh_pairs,
                                              minhash_signatures)
        from hta_spark.pipeline.semdedup import semantic_dedup
        s = self.size
        sp = self.tracer.span
        with sp("pipeline.exact_dedup"):
            exact = exact_dedup(self.docs).collect()
        with sp("pipeline.minhash_lsh"):
            sig = minhash_signatures(self.docs, k=s["minhash_k"])
            pairs = lsh_pairs(sig, k=s["minhash_k"],
                              rows_per_band=s["rows_per_band"]).collect()
        edges = self.spark.createDataFrame(
            [(int(r["a"]), int(r["b"])) for r in pairs], "a long, b long")
        with sp("pipeline.connected_components"):
            comp = connected_components(edges).collect()
        with sp("pipeline.semantic_dedup"):
            sem = semantic_dedup(self.emb, k=s["sem_k"],
                                 threshold=s["sem_threshold"]).collect()
        self.layer["pipeline.lsh.candidates_per_true_pair"] = (
            len(pairs) / self.true_pairs if self.true_pairs else 0.0)
        self.last = (exact, comp, sem)
        return self.size["docs"]

    def checks(self):
        exact, comp, sem = self.last
        out = []
        got = sorted((int(r["keeper"]), int(r["n_copies"])) for r in exact
                     if r["n_copies"] > 1)
        want = sorted((g[0], len(g)) for g in self.exact_groups)
        out.append(("exact_groups", got == want,
                    f"{len(got)} groups found, {len(want)} planted"))
        label = {int(r["id"]): int(r["comp"]) for r in comp}
        split = [c for c in self.near_clusters
                 if len({label.get(i, ("missing", i)) for i in c}) != 1]
        out.append(("near_dup_clusters", not split,
                    f"{len(split)} of {len(self.near_clusters)} planted "
                    f"clusters not one component"
                    + (f", first {split[0]}" if split else "")))
        got = sorted((int(r["component"]), int(r["n_members"])) for r in sem)
        want = sorted((c[0], len(c)) for c in self.vec_clusters)
        out.append(("semantic_clusters", got == want,
                    f"{len(got)} components, {len(want)} planted"))
        return out


WORKLOADS = {w.name: w for w in (Backfill, Ingest, Dashboard, Curate)}
