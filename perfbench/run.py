"""The repository benchmark: one workload, one process, one Spark session.

Usage (from the repository root):

    python3 perfbench/run.py --workload <backfill|ingest|dashboard|curate> \
        --seed <n> --seconds <s> --trace <0|1>

The run sets up (Spark session, seeded inputs, workload state), then runs a
closed loop of the workload's operation with one client until ``--seconds``
have passed, checks the outputs, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` spans, the Spark event
log and counters give the per-layer ones.  Earlier stdout lines carry the run
record and the full report, which is also written under ``.perfbench_work/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: units of the end-to-end metrics (trace 0)
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "items_per_s": "1/s", "cpu_s_per_op": "s", "peak_rss_mb": "MiB"}


def listed(section: str) -> list[str] | None:
    """Metric names of one section of BENCHMARK.json: the result line
    carries exactly these; the report carries every metric."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return [m["name"] for m in json.load(f)[section]]
    except (OSError, KeyError, ValueError):
        return None


def select(metrics: dict, names: list[str] | None) -> dict:
    return {k: metrics[k] for k in names} if names else metrics


def tail(values: list[float]) -> tuple[float, str, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile label, n); the maximum when n < 11."""
    v = sorted(values)
    n = len(v)
    if n >= 11:
        return v[n - 11], f"p{100.0 * (n - 10) / n:.1f}", n
    return v[-1], "max", n


def canary_s() -> float:
    """Best of three timings of a fixed pure-Python loop: the host's
    single-core speed at this moment, recorded beside the run so that host
    drift can be told apart from a code change."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t)
    return best


def git_commit() -> str:
    """HEAD of the checkout when it is a git work tree, read without git."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def stop_spark(spark) -> None:
    """Stop the session and end every process it started, waiting until
    each has ended: the JVM (a child of this process, which exits when its
    stdin closes) and the Python workers the JVM forked.  Safe to call
    more than once and when no session was made."""
    import procstat
    from pyspark import SparkContext
    launched = [p for p in procstat.tree() if p != os.getpid()]
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc(file=sys.stderr)
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = procstat.end_processes(launched)
    if left:
        print(f"perfbench: could not end processes {left}", file=sys.stderr)


def _exit_on_term(signum, _frame):
    raise SystemExit(128 + signum)


def install_wrappers(tr, wl) -> None:
    """Spans around the library's public functions (and the ingest
    stages), with the counters each boundary can see."""
    import hta_spark.operators.rollup as ro
    import hta_spark.sources.store as st
    import hta_spark.streaming.ingest as ig

    def files_read(out, _a, _k):
        if out is not None:
            tr.count("store.level_reads")
            tr.count("store.level_files_read", len(out.inputFiles()))

    def salt(out, _a, _k):
        tr.count("rollup.plan_builds")
        tr.count("rollup.salt_chunks", out[0] or 0)

    tr.wrap(st.HtaStore, "write_raw", "store.write_raw")
    tr.wrap(st.HtaStore, "build", "store.build")
    tr.wrap(st, "publish_version", "store.publish")
    tr.wrap(st, "publish_partitions", "store.publish",
            after=lambda out, _a, _k: tr.count("ingest.partitions_published",
                                               len(out)))
    tr.wrap(st, "read_level_table", "store.level_read", after=files_read)
    tr.wrap(ro, "plan_build", "rollup.plan_build", after=salt)
    for mod in (ro, st, ig):
        tr.wrap(mod, "build_levels", "rollup.build_levels")
    tr.wrap(st, "aggregate_telescope", "aggregate.telescope",
            after=lambda *_: tr.count("aggregate.arm.telescope"))
    tr.wrap(st, "aggregate_exact", "aggregate.exact",
            after=lambda *_: tr.count("aggregate.arm.exact"))
    tr.wrap(st.Metric, "aggregate", "aggregate.plan")
    tr.wrap(st.Metric, "retrieve_flex", "retrieve.flex.plan")
    tr.wrap(st.Metric, "count", "stats.count",
            after=lambda *_: tr.count("stats.calls"))
    tr.wrap(ig.IncrementalRollup, "ingest", "ingest.ingest")
    tr.wrap(ig.IncrementalRollup, "_update_levels", "ingest.update_levels")
    tr.wrap(ig.IncrementalRollup, "_upsert_level", "ingest.upsert_level")


def layer_metrics(spans: list[dict], counters: tuple[dict, dict], wl,
                  roots: list[int], log: dict) -> dict[str, float]:
    """The per-layer metrics of a traced run.

    A layer time is the mean seconds per call of its span over set-up and
    the timed loop (checks excluded), so a store built during set-up still
    reports its build; so do the ``rollup`` counters.  Other counts and
    the ``spark.*`` metrics are per operation of the timed loop.
    ``counters`` holds the counter snapshots at the start and the end of
    the timed loop."""
    import tracing as T
    whole = Counter(counters[1])
    c = Counter(counters[1])
    c.subtract(counters[0])
    ops = max(len(roots), 1)
    checks = {i for s in spans if s["name"] == "check"
              for i in T.subtree(spans, s["id"])}
    in_ops = {i for r in roots for i in T.subtree(spans, r)}
    selft = T.self_times(spans)
    wall: Counter = Counter()
    self_s: Counter = Counter()
    calls: Counter = Counter()
    op_calls: Counter = Counter()
    for s in spans:
        if s["id"] in checks or s["end"] is None:
            continue
        wall[s["name"]] += s["end"] - s["start"]
        self_s[s["name"]] += selft[s["id"]]
        calls[s["name"]] += 1
        if s["id"] in in_ops:
            op_calls[s["name"]] += 1

    def per_call(name, stat=wall):
        return stat[name] / calls[name] if calls[name] else 0.0

    def ratio(a, b):
        return c[a] / c[b] if c[b] else 0.0

    m = {
        "store.write_raw.s": per_call("store.write_raw"),
        "store.build.self_s": per_call("store.build", self_s),
        "store.publish.calls": op_calls["store.publish"] / ops,
        "store.publish.s": per_call("store.publish"),
        "store.files_written": c["store.files_written"] / ops,
        "store.bytes_written": c["store.bytes_written"] / ops,
        "store.level_read.s": per_call("store.level_read"),
        "store.files_per_read": ratio("store.level_files_read",
                                      "store.level_reads"),
        "rollup.plan_build.s": per_call("rollup.plan_build"),
        "rollup.build_levels.s": per_call("rollup.build_levels"),
        "rollup.salt_chunks": (whole["rollup.salt_chunks"]
                               / whole["rollup.plan_builds"]
                               if whole["rollup.plan_builds"] else 0.0),
        "aggregate.s": per_call("aggregate.query"),
        "aggregate.plan.s": per_call("aggregate.plan"),
        "aggregate.arm.telescope": c["aggregate.arm.telescope"] / ops,
        "aggregate.arm.exact": c["aggregate.arm.exact"] / ops,
        "retrieve.flex.s": per_call("retrieve.flex"),
        "retrieve.kind.rows": c["retrieve.kind.rows"] / ops,
        "retrieve.kind.timevalues": c["retrieve.kind.timevalues"] / ops,
        "retrieve.rows_out": ratio("retrieve.rows_out", "retrieve.calls"),
        "stats.count.s": per_call("stats.count"),
        "ingest.ingest.self_s": per_call("ingest.ingest", self_s),
        "ingest.update_levels.s": per_call("ingest.update_levels"),
        "ingest.upsert_level.s": per_call("ingest.upsert_level"),
        "ingest.partitions_published":
            c["ingest.partitions_published"] / ops,
        "pipeline.exact_dedup.s": per_call("pipeline.exact_dedup"),
        "pipeline.minhash_lsh.s": per_call("pipeline.minhash_lsh"),
        "pipeline.connected_components.s":
            per_call("pipeline.connected_components"),
        "pipeline.semantic_dedup.s": per_call("pipeline.semantic_dedup"),
    }
    # raw passes per build: rows read from storage inside each
    # store.build, over the rows of the raw table it built from
    builds = [s["id"] for s in spans if s["name"] == "store.build"]
    m["rollup.raw_scans_per_build"] = 0.0
    if builds and getattr(wl, "raw_rows", 0):
        by_span = T.spark_by_span(log)
        rec = sum(by_span.get(i, {}).get("input_records", 0.0)
                  for b in builds for i in T.subtree(spans, b))
        m["rollup.raw_scans_per_build"] = rec / (wl.raw_rows * len(builds))
    m["ingest.accepted_ratio"] = wl.layer.get("ingest.accepted_ratio", 0.0)
    m["pipeline.lsh.candidates_per_true_pair"] = wl.layer.get(
        "pipeline.lsh.candidates_per_true_pair", 0.0)
    tot = T.spark_totals(spans, roots, log)
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "input_bytes", "no_job_s"):
        m[f"spark.{k}"] = tot[k] / ops
    m["spark.cpu_over_run"] = (tot["task_cpu_s"] / tot["task_run_s"]
                               if tot["task_run_s"] else 0.0)
    m["spark.task_failures"] = float(T.all_task_failures(log))
    return m


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("ratio", "per_true_pair", "cpu_over_run")):
        return "ratio"
    return "count"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hta_spark")):
        print(f"perfbench: no hta_spark package under {ROOT}; run from the "
              "repository root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import procstat
    import tracing as T
    from workloads import WORKLOADS, parquet_files
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    traced = bool(args.trace)
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-"
                                   f"{args.trace}-{os.getpid()}")
    reports = os.path.join(WORK_ROOT, "reports")
    for d in (work, reports, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "nproc": len(os.sched_getaffinity(0)),
              "loadavg_start": procstat.loadavg(), "canary_s_start": canary_s(),
              "commit": git_commit(),
              "python": platform.python_version()}
    spark = None
    signal.signal(signal.SIGTERM, _exit_on_term)
    try:
        t_setup = time.perf_counter()
        from hta_spark.session import get_spark
        conf = {
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData",
        }
        if traced:
            os.makedirs(os.path.join(work, "eventlog"))
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": os.path.join(work, "eventlog"),
                         "spark.eventLog.compress": "false"})
        spark = get_spark(f"perfbench-{args.workload}", master="local[4]",
                          shuffle_partitions=4, extra_conf=conf)
        import pyspark
        sc = spark.sparkContext
        record.update({
            "pyspark": pyspark.__version__, "spark_master": sc.master,
            "java": sc._jvm.java.lang.System.getProperty("java.version")})
        tr = T.Tracer(spark, traced)
        with tr.span("setup.first_job"):
            spark.range(1000).selectExpr("sum(id)").collect()
        wl = WORKLOADS[args.workload](spark, tr, work, args.seed)
        if traced:
            install_wrappers(tr, wl)
        with tr.span("setup.workload"):
            wl.setup()
        setup_s = time.perf_counter() - t_setup

        # -- the timed closed loop ------------------------------------------
        lat: list[float] = []
        by_kind: dict[str, list[float]] = {}
        failures: Counter = Counter()
        items = 0
        roots: list[int] = []
        base = wl.store_base()
        pids = procstat.tree()
        cpu0 = procstat.cpu_seconds(pids)
        counters0 = dict(tr.counters)
        t0 = time.perf_counter()
        i = 0
        while True:
            before = parquet_files(base) if traced and base else None
            wl.prepare(i)
            ts = time.perf_counter()
            try:
                with tr.span(f"op.{args.workload}", op=tr.new_op()) as rec:
                    got = wl.op(i)
                items += got
                lat.append(time.perf_counter() - ts)
                kind = getattr(wl, "kind", None)
                if kind:
                    by_kind.setdefault(kind, []).append(lat[-1])
            except Exception as e:            # counted, run continues
                failures[type(e).__name__] += 1
                traceback.print_exc(file=sys.stderr)
            if rec is not None:
                roots.append(rec["id"])
            if before is not None:
                after = parquet_files(base)
                new = [p for p in after if p not in before]
                tr.count("store.files_written", len(new))
                tr.count("store.bytes_written", sum(after[p] for p in new))
            i += 1
            if time.perf_counter() - t0 >= args.seconds:
                break
        elapsed = time.perf_counter() - t0
        pids = procstat.tree()
        cpu_s = procstat.cpu_seconds(pids) - cpu0
        rss = procstat.peak_rss_mb(pids)

        # -- output checks --------------------------------------------------
        counters = (counters0, dict(tr.counters))   # checks call it too
        checks = []
        with tr.span("check"):
            try:
                checks = wl.checks()
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                checks = [("checks_ran", False, f"{type(e).__name__}: {e}")]
        for name, ok, detail in checks:
            if not ok:
                failures[f"check:{name}"] += 1
                print(f"perfbench: check {name} FAILED: {detail}",
                      file=sys.stderr)

        stop_spark(spark)
        spark = None
        record["loadavg_end"] = procstat.loadavg()
        record["canary_s_end"] = canary_s()

        n_ops = i
        attempted = n_ops + len(checks)
        failed = sum(failures.values())
        correct = all(ok for _n, ok, _d in checks) and bool(checks)
        p50 = statistics.median(lat) if lat else float("nan")
        tval, tpct, tn = tail(lat) if lat else (float("nan"), "none", 0)
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "op_tail_s": tval,
            "items_per_s": items / elapsed,
            "cpu_s_per_op": cpu_s / max(len(lat), 1),
            "peak_rss_mb": rss,
        }
        report = {
            "end_to_end": e2e, "op_tail_percentile": tpct, "ops": tn,
            "items": items, "items_label": wl.items,
            "timed_s": elapsed, "cpu_s": cpu_s,
            "error_rate": failed / attempted if attempted else 0.0,
            "failures": dict(failures),
            "checks": [{"name": n, "ok": ok, "detail": d}
                       for n, ok, d in checks],
            "latencies_s": lat, "by_kind_s": by_kind,
            "workload": workload_metrics(args.workload, wl, lat, items,
                                         elapsed, by_kind),
        }
        out_metrics = select({k: {"value": v, "unit": END_TO_END[k]}
                              for k, v in e2e.items()}, listed("end_to_end"))
        last = [os.path.join(reports, f"last-{args.workload}-s{args.seed}.json"),
                os.path.join(reports, f"last-{args.workload}.json")]
        if traced:
            log = T.read_event_log(os.path.join(work, "eventlog"))
            lm = layer_metrics(tr.spans, counters, wl, roots, log)
            report["per_layer"] = lm
            report["spans"] = tr.spans
            report["span_table"] = T.span_table(tr.spans, log)
            report["layer_self_s"] = layer_self(tr.spans)
            report["tracing_overhead"] = tracing_overhead(last, p50)
            out_metrics = select({k: {"value": v, "unit": unit_of(k)}
                                  for k, v in lm.items()}, listed("per_layer"))
        else:
            for path in last:
                with open(path, "w") as f:
                    json.dump({"seed": args.seed, "end_to_end": e2e}, f)
        doc = {"record": record, "report": report}
        path = os.path.join(reports, f"{args.workload}-s{args.seed}-"
                                     f"t{args.trace}.json")
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)
        print(json.dumps({"run_record": record}))
        print(json.dumps({"report": {k: v for k, v in report.items()
                                     if k not in ("spans", "latencies_s")}},
                         default=str))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": out_metrics}))
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def tracing_overhead(paths: list[str], traced_p50: float) -> dict | None:
    """Traced minus untraced median operation time, against the latest
    untraced run of this workload (same seed when there is one)."""
    for path in paths:
        try:
            with open(path) as f:
                doc = json.load(f)
            base = doc["end_to_end"]["op_p50_s"]
        except (OSError, KeyError, ValueError):
            continue
        return {"op_p50_s": traced_p50 - base,
                "op_p50_share": traced_p50 / base - 1.0,
                "untraced_seed": doc["seed"]}
    return None


def layer_self(spans: list[dict]) -> dict[str, float]:
    """Self seconds per layer over the whole run."""
    import tracing as T
    selft = T.self_times(spans)
    out: Counter = Counter()
    for s in spans:
        if s["id"] in selft:
            out[T.layer_of(s["name"])] += selft[s["id"]]
    return dict(out)


def workload_metrics(name: str, wl, lat, items, elapsed, by_kind) -> dict:
    """The workload-level end-to-end metrics that apply to this workload."""
    def p50(v):
        return statistics.median(v) if v else None

    def tl(v):
        if not v:
            return None
        val, pct, n = tail(v)
        return {"value": val, "percentile": pct, "n": n}

    x = wl.extra
    if name == "backfill":
        return {"backfill_rows_per_s": items / sum(lat) if lat else None,
                "stored_bytes_per_user_byte":
                    p50(x.get("stored_bytes_per_user_byte", []))}
    if name == "ingest":
        b = x.get("ingest_batch_s", [])
        return {"ingest_batch_p50_s": p50(b), "ingest_batch_tail_s": tl(b),
                "ingest_rows_per_s": items / sum(b) if b else None,
                "fresh_read_p50_s": p50(x.get("fresh_read_s", [])),
                "aggregate_p50_s": p50(x.get("aggregate_s", [])),
                "count_p50_s": p50(x.get("count_s", [])),
                "stored_bytes_per_user_byte":
                    live_bytes_ratio(wl)}
    if name == "dashboard":
        pts = wl.size["points"]
        return {"query_p50_s": p50(lat), "query_tail_s": tl(lat),
                "queries_per_s": items / elapsed,
                "setup_backfill_rows_per_s": pts / wl.setup_backfill_s,
                "stored_bytes_per_user_byte": wl.stored_bytes / (16.0 * pts),
                "by_kind_p50_s": {k: p50(v) for k, v in by_kind.items()}}
    return {"curate_docs_per_s": items / elapsed}


def live_bytes_ratio(wl) -> float | None:
    """Ingest store: live raw plus level bytes per 16 B accepted point.
    Evaluated before the work directory is removed (see Ingest.checks)."""
    return wl.layer.get("stored_bytes_per_user_byte")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
