"""One fresh-JVM benchmark process (started by run.py, not by hand).

It sets up (SparkSession, Python workers, CrawlEngine), generates the
workload from `--seed`, runs an untimed warm-up pass, then closed-loop
passes of the whole seed list until `--seconds` of measured time have
passed, and checks every measured pass against the replay oracle. With
`--trace 1` the warm-up is followed by a traced and an untraced pass,
and the per-layer metrics come from the traced one. The result is
written as JSON to `--out`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np
from pyspark.sql import functions as F

from gepris_spark.operators import fetchparse, politeness
from gepris_spark.replay import replay
from gepris_spark.session import get_spark
from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig

# run as a script, so this directory is on sys.path
import oracle_check
import workloads
from tracing import Tracer


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _noop(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401

    yield from batches


def start_session(work: str):
    """Fresh JVM + SparkSession on local[<half the cores>], then one pandas
    job on every task slot so each Python worker is forked and has
    numpy/pandas.

    Half the cores leaves the other half to the JVM's own threads (JIT,
    GC, scheduler) and the Python driver. With a task slot on every core,
    runs on a shared 4-core host spread twice as wide from run to run, at
    the same median throughput: the batches here are a few hundred rows,
    so their time is job overhead rather than parallel work.
    """
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # with the default 8 GiB heap, G1's heap sizing differed from
            # JVM to JVM and so did pass times, by up to a quarter; the
            # workloads here need far less than 2 GiB
            "spark.driver.memory": "2g",
            # keep the JVM's scratch files inside the benchmark's work dir.
            # Serial GC: under G1 the JVM's peak RSS ranged from 1.5 to
            # 2.4 GiB between runs; serial GC sizes its heap from
            # occupancy alone and runs no GC threads
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    log("session up")
    spark.range(0, cores * 4, 1, cores).mapInPandas(_noop, "id long").count()
    log("workers warm")
    return spark


def new_engine(spark, work: str, workload: workloads.Workload) -> CrawlEngine:
    root = tempfile.mkdtemp(prefix="engine-", dir=work)
    engine = CrawlEngine(
        spark, root, EngineConfig(batch_size=workload.batch_size, detailed_metrics=False)
    )
    if engine.committed_batches():
        raise RuntimeError(f"engine root {root} already has a ledger")
    return engine


def tree_peak_rss_mib(pid: int) -> float:
    """Sum of VmHWM over `pid` and all its descendants (driver, JVM,
    Python workers), read from /proc."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        for child, parent in parent_of.items():
            if parent == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    hwm_kib: dict[str, int] = {}
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            key = f"{p}:{fields['Name'].strip()}"
            hwm_kib[key] = int(fields["VmHWM"].split()[0])
    log(f"VmHWM MiB by process: { {k: v // 1024 for k, v in sorted(hwm_kib.items())} }")
    return sum(hwm_kib.values()) / 1024.0


# ------------------------------------------------------------------ tracing
def _dir_usage(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_bytes, n_files


def install_tracer(tracer: Tracer, engine: CrawlEngine):
    """Wrap the engine's layer entry points; returns an undo function."""
    undo = []

    def patch(obj, attr, name, after=None):
        orig = getattr(obj, attr)
        own = attr in vars(obj)
        setattr(obj, attr, tracer.wrap(name, orig, after))
        undo.append(lambda: setattr(obj, attr, orig) if own else delattr(obj, attr))

    run_batch = engine.run_batch

    def traced_run_batch(batch_id, *args, **kwargs):
        with tracer.span("microbatch.run_batch", batch_id=batch_id) as s:
            tracer.batch_span = s
            try:
                return run_batch(batch_id, *args, **kwargs)
            finally:
                tracer.batch_span = None
                tracer.release()

    engine.run_batch = traced_run_batch
    undo.append(lambda: setattr(engine, "run_batch", run_batch))
    patch(engine, "run_seed_list", "microbatch.run_seed_list")

    def rows_in(s, out, args, kwargs):
        s.counts["rows_in"] = args[0].count()

    patch(engine, "_candidates", "canonical.candidates", rows_in)

    bloom = engine.bloom

    def probe_hits(s, out, args, kwargs):
        s.counts["hits"] = out.where(F.col("maybe_seen")).count()

    def seen_rows(s, out, args, kwargs):
        if not bloom.is_empty():
            s.counts["seen_rows"] = args[1].count()

    patch(bloom, "with_maybe_seen", "urlseen.with_maybe_seen", probe_hits)
    patch(bloom, "filter_new", "urlseen.filter_new", seen_rows)
    patch(bloom, "add_urls", "urlseen.add_urls")

    def host_rows(s, out, args, kwargs):
        s.counts["host_rows"] = {
            r["host"]: r["count"] for r in args[0].groupBy("host").count().collect()
        }

    patch(politeness, "apply_robots", "politeness.apply_robots", rows_in)
    patch(politeness, "assign_schedule", "politeness.assign_schedule", host_rows)
    patch(politeness, "visit_order_with_count", "politeness.visit_order_with_count")

    store = engine.store

    def appended(s, out, args, kwargs):
        name, batch_id = args[1], args[2]
        path = os.path.join(store._table_dir(name), f"batch_id={batch_id}")
        s.counts["bytes"], s.counts["files"] = _dir_usage(path)

    def committed(s, out, args, kwargs):
        path = os.path.join(store._table_dir(args[1]), f"v{out}")
        s.counts["bytes"], s.counts["files"] = _dir_usage(path)

    patch(store, "append_batch", "store.append_batch", appended)
    patch(store, "commit_snapshot", "store.commit_snapshot", committed)
    patch(store, "read_appends", "store.read_appends")
    patch(store, "expire_snapshots", "store.expire_snapshots")

    def restore():
        for fn in reversed(undo):
            fn()

    return restore


def fetch_counts(s, out, args, kwargs):
    agg = out.agg(
        F.sum(F.col("fetch_status").isNull().cast("long")),
        F.sum(F.octet_length("html")),
    ).collect()[0]
    s.counts["missing"], s.counts["html_bytes"] = int(agg[0] or 0), int(agg[1] or 0)


def parse_counts(s, out, args, kwargs):
    s.counts["images"] = out.where(F.col("phash").isNotNull()).count()


def bloom_fill(engine: CrawlEngine) -> float:
    paths = [
        os.path.join(engine.bloom.dir, f)
        for f in sorted(os.listdir(engine.bloom.dir))
        if f.startswith("bucket")
    ]
    if not paths:
        return 0.0
    set_bits = total = 0
    for p in paths:
        bits = np.load(p)
        set_bits += int(np.unpackbits(bits.view(np.uint8)).sum())
        total += bits.size * 64
    return set_bits / total


def layer_metrics(tr: Tracer, engine: CrawlEngine) -> dict:
    def spans(name):
        return tr.by_name(name)

    def self_s(*names):
        return sum(tr.self_time(s) for n in names for s in spans(n))

    def total(name, key):
        return sum(s.counts.get(key, 0) for s in spans(name))

    def jobs(layer):
        return sum(s.jobs for s in tr.spans if s.layer == layer)

    batches = spans("microbatch.run_batch")
    n_batches = max(len(batches), 1)
    # every Spark job of a batch runs in one of its layers' spans, so the
    # batch's own count is summed over all spans of the batch
    in_batches = [s for s in tr.spans if s.batch_id is not None and s.name != "trace.stats"]

    probe_rows = hits = probed_new = 0
    for f in spans("urlseen.filter_new"):
        for c in tr.spans:
            if c.parent == f.id and c.name == "urlseen.with_maybe_seen":
                probe_rows += c.counts["rows_out"]
                hits += c.counts["hits"]
                probed_new += f.counts["rows_out"]
    confirmed_new = probed_new - (probe_rows - hits)

    host_rows: dict[str, int] = {}
    for s in spans("politeness.assign_schedule"):
        for host, n in s.counts["host_rows"].items():
            host_rows[host] = host_rows.get(host, 0) + n
    robots_in = total("politeness.apply_robots", "rows_in")

    fetch_s = self_s("fetchparse.fetch_pages")
    parse_s = self_s("fetchparse.parse_stage")
    parsed_rows = total("fetchparse.parse_stage", "rows_out")
    state_bytes = sum(
        _dir_usage(os.path.join(engine.root, d))[0]
        for d in os.listdir(engine.root)
        if os.path.join(engine.root, d) != engine.bloom.dir
    )
    return {
        "microbatch.self_s": self_s("microbatch.run_batch") / n_batches,
        "microbatch.spark_jobs": sum(s.jobs for s in in_batches) / n_batches,
        "microbatch.spark_tasks": sum(s.tasks for s in in_batches) / n_batches,
        "canonical.rows_in": total("canonical.candidates", "rows_in"),
        "canonical.rows_out": total("canonical.candidates", "rows_out"),
        "canonical.self_s": self_s("canonical.candidates"),
        "urlseen.probe_rows": probe_rows,
        "urlseen.bloom_hit_rows": hits,
        "urlseen.new_rows": total("urlseen.filter_new", "rows_out"),
        "urlseen.useful_ratio": probed_new / probe_rows if probe_rows else 0.0,
        "urlseen.fp_ratio": confirmed_new / hits if hits else 0.0,
        "urlseen.seen_rows_scanned": total("urlseen.filter_new", "seen_rows"),
        "urlseen.filter_self_s": self_s("urlseen.filter_new", "urlseen.with_maybe_seen"),
        "urlseen.add_self_s": self_s("urlseen.add_urls"),
        "urlseen.bloom_fill": bloom_fill(engine),
        "politeness.rows_in": robots_in,
        "politeness.disallowed_rows": robots_in - total("politeness.apply_robots", "rows_out"),
        "politeness.hosts": len(host_rows),
        "politeness.max_host_share": (
            max(host_rows.values()) / sum(host_rows.values()) if host_rows else 0.0
        ),
        "politeness.schedule_self_s": self_s(
            "politeness.apply_robots", "politeness.assign_schedule"
        ),
        "politeness.order_self_s": self_s("politeness.visit_order_with_count"),
        "politeness.spark_jobs": jobs("politeness"),
        "store.append_s": self_s("store.append_batch"),
        "store.snapshot_s": self_s("store.commit_snapshot"),
        "store.expire_s": self_s("store.expire_snapshots"),
        "store.bytes_written": total("store.append_batch", "bytes")
        + total("store.commit_snapshot", "bytes"),
        "store.files_written": total("store.append_batch", "files")
        + total("store.commit_snapshot", "files"),
        "store.state_bytes": state_bytes,
        "store.spark_jobs": jobs("store"),
        "fetchparse.fetch_self_s": fetch_s,
        "fetchparse.parse_self_s": parse_s,
        "fetchparse.rows": parsed_rows,
        "fetchparse.missing_rows": total("fetchparse.fetch_pages", "missing"),
        "fetchparse.html_bytes": total("fetchparse.fetch_pages", "html_bytes"),
        "fetchparse.images_decoded": total("fetchparse.parse_stage", "images"),
        "fetchparse.rows_per_s": parsed_rows / (fetch_s + parse_s) if parsed_rows else 0.0,
    }


# ------------------------------------------------------------------- a pass
def run_pass(spark, engine, workload, inputs, max_arrival, tracer=None) -> dict:
    """One closed-loop crawl of the seed list up to `max_arrival` on a
    fresh engine root; fetch and parse follow when the workload fetches.
    A failing batch raises, which fails the whole run."""
    batch_s: list[float] = []
    starts: list[float] = []
    run_batch = engine.run_batch

    def timed_run_batch(*args, **kwargs):
        t = time.perf_counter()
        starts.append(t)
        out = run_batch(*args, **kwargs)
        batch_s.append(time.perf_counter() - t)
        return out

    engine.run_batch = timed_run_batch
    restore = install_tracer(tracer, engine) if tracer else None
    seeds = spark.read.parquet(inputs.seeds_path)
    # outside the engine root, so it does not count as store state
    parsed_path = engine.root + "-parsed"
    try:
        t0 = time.perf_counter()
        ledger = engine.run_seed_list(seeds, max_arrival=max_arrival)
        t_end = time.perf_counter()
        frontier_s = t_end - t0
        fetch_s = 0.0
        if workload.fetch:
            t1 = time.perf_counter()
            visits = engine.visit_log().withColumn("language", F.lit("de"))
            pages = spark.read.parquet(inputs.pages_path)
            fetch, parse = fetchparse.fetch_pages, fetchparse.parse_stage
            if tracer:
                fetch = tracer.wrap("fetchparse.fetch_pages", fetch, fetch_counts)
                parse = tracer.wrap("fetchparse.parse_stage", parse, parse_counts)
            parse(fetch(visits, pages)).write.mode("overwrite").parquet(parsed_path)
            fetch_s = time.perf_counter() - t1
    finally:
        if restore:
            restore()
            tracer.release()
        del engine.run_batch
    log(f"pass done: frontier {frontier_s:.2f}s fetch+parse {fetch_s:.2f}s batches {batch_s}")
    n = max_arrival + 1
    bs = workload.batch_size
    return {
        "frontier_s": frontier_s,
        "fetch_s": fetch_s,
        "batch_s": batch_s,
        # wall time from one batch's start to the next one's (or to the
        # end of run_seed_list), so the gaps between batches count too
        "interval_s": [b - a for a, b in zip(starts, starts[1:] + [t_end])],
        "rows": [min(bs, n - start) for start in range(0, n, bs)],
        "visited": [r["n_visited"] for r in ledger],
    }


def check_pass(spark, engine, workload, inputs, oracle) -> None:
    """Untimed: the pass's output against the oracle and the page table."""
    errors = oracle_check.check_frontier(engine.visit_log(), oracle)
    if workload.fetch:
        errors += oracle_check.check_parse(
            spark.read.parquet(engine.root + "-parsed"),
            spark.read.parquet(inputs.pages_path),
            engine.visit_log(),
        )
    if errors:
        raise RuntimeError("oracle check failed: " + "; ".join(errors))


# --------------------------------------------------------------------- main
UNITS = {
    "setup_s": "s",
    "arrivals_per_s": "rows/s",
    "crawl_urls_per_s": "urls/s",
    "batch_s.p50": "s",
    "peak_rss_mb": "MiB",
    "microbatch.self_s": "s",
    "microbatch.spark_jobs": "count",
    "microbatch.spark_tasks": "count",
    "canonical.rows_in": "rows",
    "canonical.rows_out": "rows",
    "canonical.self_s": "s",
    "urlseen.probe_rows": "rows",
    "urlseen.bloom_hit_rows": "rows",
    "urlseen.new_rows": "rows",
    "urlseen.useful_ratio": "ratio",
    "urlseen.fp_ratio": "ratio",
    "urlseen.seen_rows_scanned": "rows",
    "urlseen.filter_self_s": "s",
    "urlseen.add_self_s": "s",
    "urlseen.bloom_fill": "ratio",
    "politeness.rows_in": "rows",
    "politeness.disallowed_rows": "rows",
    "politeness.hosts": "count",
    "politeness.max_host_share": "ratio",
    "politeness.schedule_self_s": "s",
    "politeness.order_self_s": "s",
    "politeness.spark_jobs": "count",
    "store.append_s": "s",
    "store.snapshot_s": "s",
    "store.expire_s": "s",
    "store.bytes_written": "bytes",
    "store.files_written": "count",
    "store.state_bytes": "bytes",
    "store.spark_jobs": "count",
    "fetchparse.fetch_self_s": "s",
    "fetchparse.parse_self_s": "s",
    "fetchparse.rows": "rows",
    "fetchparse.missing_rows": "rows",
    "fetchparse.html_bytes": "bytes",
    "fetchparse.images_decoded": "count",
    "fetchparse.rows_per_s": "rows/s",
    "oracle.wall_s": "s",
    "trace.overhead_s": "s",
}


def with_units(metrics: dict) -> dict:
    return {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest of p50/p75/p90/p95/p99 that has at
    least ten samples beyond it, or None when there are too few."""
    n = len(samples)
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = (p, float(np.percentile(samples, p)))
    return best


def measure(args, spark, setup_s: float) -> dict:
    workload = workloads.WORKLOADS[args.workload]
    inputs = workloads.generate(spark, workload, args.seed, os.path.join(args.work, "input"))
    rows = [
        r.asDict()
        for r in spark.read.parquet(inputs.seeds_path)
        .select("url", "priority_type", "recency_ts")
        .orderBy("arrival_seq")
        .collect()
    ]
    log(f"input generated: {inputs.n_arrivals} arrivals")
    t = time.perf_counter()
    oracle = replay(rows, batch_size=workload.batch_size)
    oracle_s = time.perf_counter() - t

    t = time.perf_counter()
    engine = new_engine(spark, args.work, workload)
    setup_s += time.perf_counter() - t

    def one_pass(engine, max_arrival=inputs.max_arrival, tracer=None, check=True):
        try:
            res = run_pass(spark, engine, workload, inputs, max_arrival, tracer)
            if check:
                check_pass(spark, engine, workload, inputs, oracle)
            if tracer:
                res["layers"] = layer_metrics(tracer, engine)
            return res
        finally:
            shutil.rmtree(engine.root, ignore_errors=True)
            shutil.rmtree(engine.root + "-parsed", ignore_errors=True)

    # untimed, unchecked warm-up on the first batches (the second is the
    # first to probe a non-empty bloom): a JVM's first crawl pays seconds
    # of class loading and JIT that a long-running engine pays once
    warm_last = workload.warmup_batches * workload.batch_size - 1
    one_pass(engine, min(inputs.max_arrival, warm_last), check=False)

    if args.trace:
        tracer = Tracer(spark)
        traced = one_pass(new_engine(spark, args.work, workload), tracer=tracer)
        untraced = one_pass(new_engine(spark, args.work, workload))
        metrics = traced["layers"]
        metrics["oracle.wall_s"] = oracle_s
        metrics["trace.overhead_s"] = (traced["frontier_s"] + traced["fetch_s"]) - (
            untraced["frontier_s"] + untraced["fetch_s"]
        )
        os.makedirs(args.spans_dir, exist_ok=True)
        tracer.dump(os.path.join(args.spans_dir, f"{args.workload}-seed{args.seed}.json"))
        return {"attempted": len(traced["batch_s"]), "failed": 0, "metrics": with_units(metrics)}

    passes = []
    while not passes or sum(p["frontier_s"] + p["fetch_s"] for p in passes) < args.seconds:
        passes.append(one_pass(new_engine(spark, args.work, workload)))
    rss = tree_peak_rss_mib(os.getpid())
    batch_s = [b for p in passes for b in p["batch_s"]]

    # medians over batches: one batch slowed by the shared host does not
    # move the figure, which a total over the pass lets it do
    def per_batch(key):
        return [n / t for p in passes for n, t in zip(p[key], p["interval_s"])]

    if workload.fetch:
        # fetch and parse run once per pass, after the frontier
        crawl_s = sum(p["frontier_s"] + p["fetch_s"] for p in passes)
        crawl_urls_per_s = sum(sum(p["visited"]) for p in passes) / crawl_s
    else:
        crawl_urls_per_s = statistics.median(per_batch("visited"))
    metrics = {
        "setup_s": setup_s,
        "arrivals_per_s": statistics.median(per_batch("rows")),
        "crawl_urls_per_s": crawl_urls_per_s,
        "batch_s.p50": statistics.median(batch_s),
        "peak_rss_mb": rss,
    }
    return {
        "attempted": len(batch_s),
        "failed": 0,
        "metrics": with_units(metrics),
        "batch_s": batch_s,
        "tail": tail_percentile(batch_s),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="scratch dir, deleted by the caller")
    ap.add_argument("--spans-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    t0 = time.perf_counter()
    spark = start_session(args.work)
    setup_s = time.perf_counter() - t0
    try:
        result = measure(args, spark, setup_s)
    finally:
        spark.stop()
        log("session stopped")
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
