#!/usr/bin/env python3
"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload fat_wave --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.py``) through the public API
``engine.driver.crawl`` on one Spark driver at ``local[N]``, N = min(4,
cpus), as a closed loop: one crawl at a time, the next only after the
previous one's items are written. Every crawl's items, error rows and
seen set are checked against the pure-Python oracle. The last line of
stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json
(medians over the crawls of the run). ``--trace 1`` runs two child
processes one after the other, each started the same way (session,
warm-up crawl, corpus load, then crawls for half the time): the first
untraced, the second with Spark's event log on. It reports the
per-layer metrics (medians over the traced crawls) and the tracing
overhead. ``--size toy`` selects the small inputs the self-test uses.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench", "work")
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "3g"
RUN_DEADLINE_S = 172.0  # the whole run must exit within 180 s


def _confine_to_checkout() -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    checkout, and let Python workers import the engine from it."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the spark-submit launcher's included (a traced run's
    # child processes inherit this environment already set)
    java_opts = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    if java_opts not in os.environ.get("JAVA_TOOL_OPTIONS", ""):
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts]))
    if ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Spans:
    """Benchmark-side spans: (name, start, end) in epoch seconds, kept in
    memory and written out when the run ends."""

    items: list = field(default_factory=list)

    def span(self, name: str):
        spans = self

        class _Span:
            def __enter__(self):
                self.t0 = time.time()
                return self

            def __exit__(self, *exc):
                self.t1 = time.time()
                self.s = self.t1 - self.t0
                spans.items.append({"name": name, "start": self.t0, "end": self.t1})

        return _Span()


@dataclass
class CrawlRecord:
    ok: bool
    error: str = ""
    start: float = 0.0
    end: float = 0.0
    crawl_s: float = 0.0
    call_s: float = 0.0     # the crawl() call alone, without the items sink
    cpu_s: float = 0.0
    peak_rss_mb: float = 0.0
    fetched: int = 0
    waves: int = 0
    step_walls: dict = field(default_factory=dict)
    metrics: list = field(default_factory=list)
    denied: int = 0
    sink_bytes: int = 0
    copy_s: float = 0.0     # untimed: fresh store copy before the crawl
    check_s: float = 0.0    # untimed: output check after the crawl


def session(traced: bool):
    from crawler_spark.session import get_spark

    conf = {"spark.driver.memory": DRIVER_MEMORY}
    if traced:
        ev_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(ev_dir, ignore_errors=True)
        os.makedirs(ev_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def load_pages(spark, inputs):
    """The corpus as the production layout has it: hash-partitioned on
    ``url`` with the shuffle-partition count the engine would use."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pages = (
        spark.read.parquet(inputs.corpus_path).select("url", "html")
        .repartition(n_part, "url").persist()
    )
    pages.count()
    return pages


def warm_up(spark) -> None:
    """One-wave crawl of a tiny site set: starts the Python workers and
    compiles the wave's plans before anything is timed."""
    from crawler_spark.corpus import webgen as wg
    from crawler_spark.engine.driver import CrawlParams, crawl

    sites = wg.bench_sites(n_hosts=2, sections=4, skew=0.5, crawl_delay=0.001, max_page=1)
    spec = wg.CorpusSpec(items_per_page=4, default_pages=1, empty_last_page_sources=())
    pages = spark.createDataFrame(wg.corpus_pandas(spec, sites))
    res = crawl(spark, pages, CrawlParams(max_waves=1, record_order=False), sites=sites)
    res.items.write.format("noop").mode("overwrite").save()


def stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    from procstat import descendants, wait_gone

    jvm = SparkContext._gateway.proc
    pids = [jvm.pid] + descendants(jvm.pid)
    spark.stop()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    jvm.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    wait_gone(pids, timeout_s=30.0)


def robots_df(spark, workload):
    if not workload.robots:
        return None
    from crawler_spark.operators.robots import ROBOTS_SCHEMA
    from workloads import ROBOTS_RULES

    return spark.createDataFrame(
        [(r["host"], r["path_prefix"], r["allow"], r["crawl_delay"]) for r in ROBOTS_RULES],
        ROBOTS_SCHEMA,
    )


def check(spark, inputs, res, store, sink: str) -> tuple[bool, str, int]:
    """Compare one crawl's outputs with the oracle digests. Returns
    (ok, reason, robots-denied rows)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from workloads import ERROR_COLS, FILLER_PREFIX, ITEM_COLS, digest

    exp = inputs.expected
    items = pq.read_table(sink, columns=list(ITEM_COLS)).to_pylist()
    if digest(tuple(r[c] for c in ITEM_COLS) for r in items) != exp["items"]:
        return False, f"items differ ({len(items)} rows, expected {exp['n_items']})", 0
    # a durable crawl's error log is the store's errors table: res.errors
    # of a resumed robots-gated crawl still reads the frontier snapshots
    # the store garbage-collected after later waves
    errs = store.read(spark, "errors") if store is not None else res.errors
    errors = [tuple(r) for r in errs.select(*ERROR_COLS).collect()]
    denied = sum(1 for e in errors if e[3] == "robots")
    if digest(errors) != exp["errors"]:
        return False, f"errors differ ({len(errors)} rows, expected {exp['n_errors']})", denied
    seen = res.seen
    if inputs.workload.store:
        filler = F.col("canon").startswith(FILLER_PREFIX)
        n_filler = seen.filter(filler).count()
        if n_filler != inputs.size.filler:
            return False, f"seen holds {n_filler} pre-seeded URLs, expected {inputs.size.filler}", denied
        seen = seen.filter(~filler)
    canon = [(r[0],) for r in seen.select("canon").collect()]
    if len(canon) != exp["n_seen"] or digest(canon) != exp["seen"]:
        return False, f"seen differs ({len(canon)} rows, expected {exp['n_seen']})", denied
    return True, "", denied


def run_crawl(spark, inputs, pages, rules, transform=None, timeout_s: float = 150.0) -> CrawlRecord:
    """One timed crawl: ``crawl()`` plus writing its items to the sink,
    then the (untimed) output check. A raise, a timeout (all jobs are
    cancelled) or a mismatch is a failed crawl."""
    from crawler_spark.engine.driver import CrawlParams, crawl
    from crawler_spark.state.lakestore import LakeStore
    from procstat import PeakMemory, tree_cpu_s
    from workloads import WAVE_SECONDS

    w = inputs.workload
    sink = os.path.join(WORK, "items")
    t0 = time.time()
    store = LakeStore(inputs.store_copy(os.path.join(WORK, "store"))) if w.store else None
    params = CrawlParams(wave_seconds=WAVE_SECONDS, obey_robots=w.robots,
                         record_order=False)
    me = os.getpid()
    rec = CrawlRecord(ok=False, copy_s=time.time() - t0)
    watchdog = threading.Timer(max(1.0, timeout_s), spark.sparkContext.cancelAllJobs)
    watchdog.start()
    try:
        cpu0 = tree_cpu_s(me)
        rec.start = time.time()
        with PeakMemory(me) as mem:
            res = crawl(spark, pages, params, sites=inputs.sites, store=store,
                        robots_rules=rules, resume=w.store, pages_prepartitioned=True)
            rec.call_s = time.time() - rec.start
            items = res.items if transform is None else transform(res.items)
            items.write.mode("overwrite").parquet(sink)
        rec.end = time.time()
        rec.cpu_s = tree_cpu_s(me) - cpu0
        rec.peak_rss_mb = mem.peak_mb
        rec.crawl_s = rec.end - rec.start
        rec.waves, rec.step_walls, rec.metrics = res.waves, res.step_walls, res.metrics
        rec.fetched = sum(m["fetched_ok"] for m in res.metrics)
        rec.sink_bytes = sum(
            os.path.getsize(os.path.join(sink, f)) for f in os.listdir(sink)
            if f.endswith(".parquet")
        )
        rec.ok, rec.error, rec.denied = check(spark, inputs, res, store, sink)
        rec.check_s = time.time() - rec.end
    except Exception as exc:  # a failed crawl is counted, not fatal
        rec.ok = False
        rec.error = ("timeout: " if not watchdog.is_alive() else "") + f"{type(exc).__name__}: {exc}"[:500]
    finally:
        watchdog.cancel()
    if not rec.ok:
        log(f"crawl FAILED: {rec.error}")
    return rec


def measure(spark, inputs, pages, rules, seconds: float, deadline: float,
            transform=None) -> list[CrawlRecord]:
    """Closed loop: crawls back to back until ``seconds`` have passed
    (at least one crawl), never starting one that cannot finish before
    the run deadline at the last crawl's pace."""
    recs: list[CrawlRecord] = []
    t0 = time.time()
    while not recs or time.time() - t0 < seconds:
        last = recs[-1].crawl_s if recs else 0.0
        if recs and time.time() + 1.5 * last > deadline:
            break
        recs.append(run_crawl(spark, inputs, pages, rules, transform,
                              timeout_s=deadline - time.time()))
        log(f"crawl {len(recs)}: {recs[-1].crawl_s:.2f}s waves={recs[-1].waves} ok={recs[-1].ok}")
    return recs


def deferred_rows(r: CrawlRecord) -> int:
    """Pending rows the politeness window did not admit (robots-denied
    rows are pending but neither admitted nor deferred)."""
    return sum(m["pending"] - m["admitted"] for m in r.metrics) - r.denied


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def end_to_end(recs: list[CrawlRecord], setup_s: float) -> dict:
    ok = [r for r in recs if r.ok] or recs
    return {
        "crawl_s": (_median(r.crawl_s for r in ok), "s"),
        "pages_per_s": (_median(r.fetched / r.crawl_s for r in ok if r.crawl_s), "1/s"),
        "cpu_s": (_median(r.cpu_s for r in ok), "s"),
        "peak_rss_mb": (_median(r.peak_rss_mb for r in ok), "MB"),
        "setup_s": (setup_s, "s"),
    }


def dedup_probe(spark, inputs) -> dict:
    """Bloom behaviour on this workload's seen set, through the public
    dedup API at the CrawlParams() defaults: the seen set at crawl start
    against the oracle's candidate URLs (every URL it scheduled)."""
    from pyspark.sql import functions as F

    from crawler_spark.engine.driver import CrawlParams, seed_frontier
    from crawler_spark.operators import dedup as dd

    p = CrawlParams()
    if inputs.workload.store:
        seen = spark.read.parquet(os.path.join(inputs.store_path, "seen", "w0"))
    else:
        seen = seed_frontier(spark, inputs.sites).select("canon", "url_hash")
    cands = (
        spark.read.parquet(os.path.join(inputs.dir, "candidates.parquet"))
        .withColumn("url_hash", F.xxhash64("canon"))
    )
    shards = dd.update_shards(dd.empty_shards(spark, p.n_shards, p.bloom_bits_per_shard),
                              seen.select("url_hash"), p.n_shards, p.bloom_bits_per_shard)
    blobs = dd.densify(shards, p.bloom_bits_per_shard)
    probed = dd.probe_shards(cands, blobs, p.n_shards, p.bloom_bits_per_shard)
    known = seen.select("canon", F.lit(True).alias("_known"))
    row = (
        probed.join(known, "canon", "left")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("maybe_seen").cast("long")).alias("maybe"),
            F.sum((F.col("maybe_seen") & F.col("_known").isNull()).cast("long")).alias("fp"),
        )
        .collect()[0]
    )
    return {
        "dedup.candidates": row["n"],
        "dedup.maybe_frac": row["maybe"] / max(1, row["n"]),
        "dedup.fp_frac": row["fp"] / max(1, row["maybe"]),
        "dedup.bits_per_key": inputs.bloom_bits_per_key(),
    }


# Wave-loop steps (CrawlResult.step_walls) that are not driver.barrier_s:
# the data steps of other layers (admit: politeness; dedup_fresh_built and
# state_join: dedup; store_commit: the store) and the checkpoint steps
# reported on their own, whose wall is mostly the work they materialize.
# What is left (wave_setup, errors_built, parse_ckpt, next_pages_built)
# only plans the wave's DataFrames.
NOT_BARRIER_STEPS = ("admit", "fetch_ckpt", "state_join", "dedup_fresh_built",
                     "outputs_ckpt", "frontier_ckpt", "store_commit")


def per_layer(traced: list[CrawlRecord], untraced: list[CrawlRecord], layers: list[dict],
              probe: dict) -> dict:
    """Per-layer metrics of BENCHMARK.json: medians over the traced crawls."""
    ok = [(r, lm) for r, lm in zip(traced, layers) if r.ok] or list(zip(traced, layers))

    def med(fn) -> float:
        return _median(fn(r, lm) for r, lm in ok)

    def step(name):
        return lambda r, lm: r.step_walls.get(name, 0.0)

    def barrier(r, lm):
        return sum(v for k, v in r.step_walls.items() if k not in NOT_BARRIER_STEPS)

    def outside(r, lm):
        return r.call_s - sum(r.step_walls.values())

    def per_wave(key):
        return lambda r, lm: lm.get(key, 0.0) / max(1, r.waves)

    def layer(key):
        return lambda r, lm: lm.get(key, 0.0)

    crawl_s = med(lambda r, lm: r.crawl_s)
    out = {
        "driver.waves": (med(lambda r, lm: r.waves), "count"),
        "driver.jobs_per_wave": (med(per_wave("driver.jobs")), "count"),
        "driver.tasks_per_wave": (med(per_wave("driver.tasks")), "count"),
        "driver.barrier_s": (med(barrier), "s"),
        "driver.fetch_ckpt_s": (med(step("fetch_ckpt")), "s"),
        "driver.outputs_ckpt_s": (med(step("outputs_ckpt")), "s"),
        "driver.frontier_ckpt_s": (med(step("frontier_ckpt")), "s"),
        "driver.state_wait_s": (med(step("state_join")), "s"),
        "driver.outside_waves_s": (med(outside), "s"),
        "driver.ckpt_bytes": (med(layer("driver.ckpt_bytes")), "B"),
        "parsing.rows": (med(layer("parsing.rows")), "count"),
        "parsing.run_s": (med(layer("parsing.run_s")), "s"),
        "parsing.worker_init_s": (med(layer("parsing.worker_init_s")), "s"),
        "parsing.bytes_in": (med(layer("parsing.bytes_in")), "B"),
        "parsing.bytes_out": (med(layer("parsing.bytes_out")), "B"),
        "politeness.deferred_rows": (med(lambda r, lm: deferred_rows(r)), "count"),
        "politeness.window_rows": (med(lambda r, lm: sum(m["pending"] for m in r.metrics)), "count"),
        "politeness.sort_s": (med(layer("politeness.sort_s")), "s"),
        "robots.denied_rows": (med(lambda r, lm: r.denied), "count"),
        "dedup.candidates": (probe["dedup.candidates"], "count"),
        "dedup.new_rows": (med(lambda r, lm: sum(m["new_urls"] for m in r.metrics)), "count"),
        "dedup.maybe_frac": (probe["dedup.maybe_frac"], "ratio"),
        "dedup.fp_frac": (probe["dedup.fp_frac"], "ratio"),
        "dedup.bits_per_key": (probe["dedup.bits_per_key"], "bit"),
        "dedup.densify_s": (med(layer("dedup.densify_s")), "s"),
        "dedup.update_s": (med(layer("dedup.update_s")), "s"),
        "lakestore.commit_s": (med(step("store_commit")), "s"),
        "lakestore.bytes_written": (med(layer("lakestore.bytes_written")), "B"),
        "lakestore.files_written": (med(layer("lakestore.files_written")), "count"),
        "lakestore.write_amp": (med(lambda r, lm: lm.get("lakestore.bytes_written", 0.0)
                                    / max(1, r.sink_bytes)), "ratio"),
        "spark.executor_run_s": (med(layer("spark.executor_run_s")), "s"),
        "spark.executor_cpu_s": (med(layer("spark.executor_cpu_s")), "s"),
        "spark.gc_s": (med(layer("spark.gc_s")), "s"),
        "spark.task_deser_s": (med(layer("spark.task_deser_s")), "s"),
        "spark.shuffle_bytes": (med(layer("spark.shuffle_bytes")), "B"),
        "spark.shuffle_fetch_wait_s": (med(layer("spark.shuffle_fetch_wait_s")), "s"),
        "spark.broadcasts": (med(layer("spark.broadcasts")), "count"),
        "spark.spill_bytes": (med(layer("spark.spill_bytes")), "B"),
        "trace.crawl_s": (crawl_s, "s"),
        "trace.overhead_s": (crawl_s - _median(r.crawl_s for r in untraced if r.ok), "s"),
    }
    # each layer's share of crawl_s: for executor layers the wall time
    # during which one of its stages ran (an upper bound: a stage may run
    # other operators too); for dedup and the store the larger of that
    # and their own wave-loop steps; for the driver its planning steps
    # and the time outside the wave loop
    dedup_steps = med(lambda r, lm: r.step_walls.get("dedup_fresh_built", 0.0)
                      + r.step_walls.get("state_join", 0.0))
    shares = {
        "share.driver": out["driver.barrier_s"][0] + out["driver.outside_waves_s"][0],
        "share.parsing": med(layer("wall.parsing")),
        "share.dedup": max(dedup_steps, med(layer("wall.dedup"))),
        "share.politeness": med(layer("wall.politeness")),
        "share.lakestore": max(out["lakestore.commit_s"][0], med(layer("wall.lakestore"))),
    }
    for k, v in shares.items():
        out[k] = (v / crawl_s if crawl_s else 0.0, "ratio")
    return out


def run_phase(inputs, traced: bool, seconds: float, deadline: float, probe: bool = False,
              transform=None) -> dict:
    """One Spark session from start to stop: set-up (session start,
    warm-up crawl, corpus load and bucketing), the closed loop of crawls,
    then the dedup probe (``probe``) and, traced, the event-log parse."""
    spans = Spans()
    with spans.span("session_start") as s_start:
        spark = session(traced)
    try:
        # the warm-up first: the corpus load then runs on a warm JVM
        with spans.span("warm_up"):
            warm_up(spark)
        with spans.span("corpus_load") as s_load:
            pages = load_pages(spark, inputs)
        setup_s = s_load.t1 - s_start.t0
        spans.items.append({"name": "setup", "start": s_start.t0, "end": s_load.t1})
        if inputs.workload.store and not inputs.store_ready():
            with spans.span("store_prepare"):
                inputs.prepare_store(spark)
        rules = robots_df(spark, inputs.workload)
        log(f"{inputs.workload.name} seed={inputs.seed} size={inputs.size_name} "
            f"traced={traced} generation={inputs.gen_s:.1f}s setup={setup_s:.1f}s "
            f"inputs={json.dumps(inputs.expected['props'])}")
        with spans.span("measure"):
            recs = measure(spark, inputs, pages, rules, seconds, deadline, transform)
        probed = {}
        if probe:
            with spans.span("dedup_probe"):
                probed = dedup_probe(spark, inputs)
    finally:
        stop(spark)
    layers: list[dict] = []
    if traced:
        from eventlog import event_log_file, layer_metrics

        with spans.span("event_log_parse"):
            layers = layer_metrics(
                event_log_file(os.path.join(WORK, "eventlog")),
                [(r.start, r.end) for r in recs], os.path.join(WORK, "store"),
            )
    for r in recs:
        spans.items.append({"name": "crawl", "start": r.start, "end": r.end,
                            "ok": r.ok, "step_walls": r.step_walls})
        spans.items.append({"name": "items_sink", "start": r.start + r.call_s, "end": r.end})
        spans.items.append({"name": "store_copy", "start": r.start - r.copy_s, "end": r.start})
        spans.items.append({"name": "check", "start": r.end, "end": r.end + r.check_s})
    name = "spans-traced.json" if traced else "spans.json"
    with open(os.path.join(WORK, name), "w") as f:
        json.dump(spans.items, f)
    return {"setup_s": setup_s, "recs": recs, "layers": layers, "probe": probed}


def run_child(args, phase: str, deadline: float, kill_at: float) -> dict:
    """Run one phase of a traced run in a child process (its own Python
    and its own JVM) and return what it wrote. The child starts no crawl
    it cannot finish by ``deadline``; if it is still running at
    ``kill_at``, its whole process group is killed."""
    out = os.path.join(WORK, f"phase-{phase}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds / 2), "--size", args.size,
           "--phase", phase, "--phase-out", out, "--deadline", repr(deadline)]
    # its own process group, so that a kill reaches its JVM too
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, kill_at - time.time()))
    except BaseException as exc:  # out of time, or this run interrupted
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(exc, subprocess.TimeoutExpired):
            raise RuntimeError(f"the {phase} phase did not end in time") from None
        raise
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"the {phase} phase exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    res["recs"] = [CrawlRecord(**r) for r in res["recs"]]
    return res


def main(argv=None, transform=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=("full", "toy"))
    # one phase of a traced run, in a child process (see run_child)
    ap.add_argument("--phase", choices=("untraced", "traced"), help=argparse.SUPPRESS)
    ap.add_argument("--phase-out", help=argparse.SUPPRESS)
    ap.add_argument("--deadline", type=float, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    t_start = time.time()
    deadline = args.deadline or t_start + RUN_DEADLINE_S

    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        log(f"no crawler_spark package under {ROOT}: nothing to benchmark")
        return 2
    _confine_to_checkout()
    from workloads import WORKLOADS, Inputs

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    inputs = Inputs(ROOT, WORKLOADS[args.workload], args.seed, args.size)
    inputs.ensure()

    if args.phase:
        res = run_phase(inputs, args.phase == "traced", args.seconds, deadline,
                        probe=args.phase == "untraced")
        res["recs"] = [asdict(r) for r in res["recs"]]
        with open(args.phase_out + ".tmp", "w") as f:
            json.dump(res, f, default=float)
        os.replace(args.phase_out + ".tmp", args.phase_out)
        return 0

    if args.trace:
        # a SIGTERM ends this run through run_child's cleanup
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        # the traced phase needs about as long as the untraced one
        kill_at = deadline + 3.0
        untraced = run_child(args, "untraced", t_start + 0.55 * (deadline - t_start), kill_at)
        traced = run_child(args, "traced", deadline, kill_at)
        recs, all_recs = untraced["recs"], untraced["recs"] + traced["recs"]
        metrics = per_layer(traced["recs"], recs, traced["layers"], untraced["probe"])
    else:
        res = run_phase(inputs, False, args.seconds, deadline, transform=transform)
        recs = all_recs = res["recs"]
        metrics = end_to_end(recs, res["setup_s"])

    failed = sum(1 for r in all_recs if not r.ok)
    deferred = sum(deferred_rows(r) for r in recs)
    pending = sum(sum(m["pending"] for m in r.metrics) for r in recs)
    props = dict(inputs.expected["props"])
    props.update({
        "waves": recs[0].waves,
        "deferred_share": deferred / max(1, pending),
        "seen_rows_at_start": inputs.seen_at_start(),
        "bloom_bits_per_key": inputs.bloom_bits_per_key(),
        "failed_frac": failed / len(all_recs),
    })
    print(json.dumps({"workload": args.workload, "inputs": props}), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
