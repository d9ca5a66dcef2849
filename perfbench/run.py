"""Benchmark of the analytics engine: one command, one named workload.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):
  analytics   star-schema SQL over the sf0.1 fixture tables
  llm_corpus  dedup / similarity / text operators over documents and embeddings
  datafeed    seeded block feed -> facade.ingest -> ParquetSink, then the
              stream_ingest_blocks reorg daemon over a seeded header feed

One driver process, one client in a closed loop: each operation starts
after the previous one has finished and been checked. The timed
section runs whole passes over the workload, at least one, and starts
no pass that would end past ``--seconds``. ``--trace 1`` adds the
per-layer readings.
The last line of stdout is one JSON object; progress goes to stderr.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
TESTDATA = os.environ.get(
    "PERFBENCH_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))
WORKLOADS = ("analytics", "llm_corpus", "datafeed")

# module of each query-registering layer, as reported in per-layer names
QUERY_MODULES = (
    "plans.flagship", "plans.goldens2", "operators.joins",
    "operators.aggregates", "operators.windows", "streaming.windows",
    "operators.llm_dedup", "operators.llm_similarity", "operators.llm_text",
)
MODULE_METRICS = ("plan_s", "exec_s", "jobs", "tasks", "shuffle_mb")

MB = 1024.0 * 1024.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment() -> None:
    """Program defaults on all cores; every temporary file inside the
    checkout. No cache or memory override is set."""
    for k in ("SPARK_GRAFT_CACHE", "SPARK_GRAFT_DRIVER_MEM",
              "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY"):
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    prctl). The JVM's Python workers outlive the JVM by a moment; as
    orphans they become children of this process, which waits for them
    in ``stop_processes``."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def reap_children() -> bool:
    """Wait for every child that has exited; True while children remain."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def stop_processes(grace_s: float = 20.0, term_s: float = 10.0) -> None:
    """End the JVM and every other process this run started, waiting
    until each has ended: first on their own (the JVM exits when its
    stdin closes, the Python workers when the JVM is gone), then after
    SIGTERM, then after SIGKILL."""
    from bench_trace import descendants

    if "pyspark" in sys.modules:
        # also a JVM whose session was never built or stopped
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()
    t0 = time.monotonic()
    waited = None
    while True:
        left = reap_children()
        alive = descendants(os.getpid())
        if not alive and not left:
            if waited is not None:
                log(f"all processes ended in {time.monotonic() - t0:.2f}s")
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > grace_s + term_s
               else signal.SIGTERM if waited > grace_s else None)
        if sig is not None:
            for pid in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.05)


def stage_fixtures() -> str:
    """Copy the read-only sf0.1 fixture tables into the checkout once;
    every later read is of the copy."""
    from bench_mix import TABLES

    dst = os.path.join(WORK, "sf0.1")
    for t in TABLES:
        src = os.path.join(TESTDATA, "sf0.1", f"{t}.parquet")
        out = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(out) and os.path.getsize(out) == os.path.getsize(src):
            continue
        os.makedirs(dst, exist_ok=True)
        shutil.copyfile(src, out + ".tmp")
        os.replace(out + ".tmp", out)
    return dst


# rounds of the warm-up: the JVM-heavy analytics mix needs two for its
# timed pass to run on compiled code paths
WARM_ROUNDS = {"analytics": 2, "llm_corpus": 1}
WARM_THREADS = 4


def warm_pass(spark, mix, sf_dir: str, rounds: int) -> None:
    """Run every query of the mix ``rounds`` times, unchecked, on
    WARM_THREADS client threads: loads and JIT-compiles the JVM code
    paths and spawns the Python worker pools the mix uses before timing
    starts. A query that fails here is logged; the timed pass counts it."""
    from concurrent.futures import ThreadPoolExecutor

    from bench_mix import spark_hash
    from graphsense_datafeed_spark import registry

    def one(qid):
        spark_hash(registry.QUERIES[qid](spark, sf_dir))

    with ThreadPoolExecutor(WARM_THREADS) as pool:
        for _ in range(rounds):
            futures = {q: pool.submit(one, q) for q in mix}
            for q, f in futures.items():
                try:
                    f.result()
                except Exception as ex:  # reported, and counted by the timed pass
                    log(f"warm-up {q} failed: {type(ex).__name__}: {str(ex)[:200]}")


class Run:
    """State of one benchmark run: the session, the operation records
    and the /proc samples."""

    def __init__(self, args, spark, procs, streams):
        self.args = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.procs = procs
        self.ops: list[dict] = []
        self.passes: list[float] = []
        self.streams = streams
        self.sink_stats: list[dict] = []  # datafeed only

    def op(self, name: str, module: str, fn, check=None) -> dict:
        """Run ``fn`` as one operation in its own job group. ``fn``
        returns (result, seconds spent before the materializing
        action); ``check(result)`` returns a list of problems."""
        rec = {"name": name, "module": module, "group": f"pb-op-{len(self.ops)}",
               "ok": False, "plan_s": 0.0}
        self.sc.setJobGroup(rec["group"], name)
        self.streams.group = rec["group"]
        t0 = time.perf_counter()
        try:
            result, rec["plan_s"] = fn()
            rec["latency_s"] = time.perf_counter() - t0
            problems = check(result) if check else []
            rec["ok"] = not problems
            if problems:
                rec["error"] = "; ".join(problems)
        except Exception as ex:  # a failed operation is counted, not fatal
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
        rec["exec_s"] = rec["latency_s"] - rec["plan_s"]
        self.streams.group = None
        self.sc.setJobGroup("pb-idle", "between operations")
        self.procs.sample()
        self.ops.append(rec)
        status = "ok" if rec["ok"] else f"FAILED ({rec['error']})"
        log(f"{name}: {rec['latency_s']:.3f}s {status}")
        return rec


# ---------------------------------------------------------------- workloads


def query_pass(run: Run, ctx, pass_no: int) -> None:
    from bench_mix import spark_hash
    from graphsense_datafeed_spark import registry

    mix, sf_dir, expected = ctx
    order = list(mix)
    random.Random(f"{run.args.seed}-{pass_no}").shuffle(order)
    for qid in order:
        fn = registry.QUERIES[qid]
        want = expected[qid]

        def call(fn=fn):
            t0 = time.perf_counter()
            df = fn(run.spark, sf_dir)
            plan_s = time.perf_counter() - t0
            return (sorted(df.columns), spark_hash(df)), plan_s

        def check(result, want=want):
            cols, h = result
            if cols != want["columns"]:
                return [f"columns {cols} != {want['columns']}"]
            if list(h) != want["hash"]:
                return [f"hash {list(h)} != expected {want['hash']}"]
            return []

        run.op(qid, fn.__module__.split(".", 1)[1], call, check)


class TimedSink:
    """ParquetSink wrapper that times each ``write`` call."""

    def __init__(self, inner):
        self.inner = inner
        self.seconds = 0.0

    def write(self, df, table, keys):
        t0 = time.perf_counter()
        try:
            self.inner.write(df, table, keys)
        finally:
            self.seconds += time.perf_counter() - t0


def datafeed_setup(run: Run, feed_proc):
    import bench_feed

    if feed_proc.wait() != 0:
        raise RuntimeError(f"feed generation failed (exit {feed_proc.returncode})")
    fdir = bench_feed.feed_dir(WORK, run.args.seed)
    return fdir, bench_feed.load_expected(WORK, run.args.seed)


def datafeed_warm(run: Run, fdir: str) -> None:
    """Full sync of the small warm-up feed, a read of each raw table,
    and the reorg daemon over the first header files: loads the JSON,
    explode, parquet and streaming code paths before timing starts."""
    from graphsense_datafeed_spark.ingest.facade import ingest, stream_ingest_blocks
    from graphsense_datafeed_spark.sources.sinks import ParquetSink

    out = os.path.join(WORK, "out", f"{os.getpid()}-warm")
    raw = os.path.join(out, "btc_raw")
    tables = ingest(run.spark, ParquetSink(raw),
                    json_path=os.path.join(fdir, "warm_blocks.jsonl"))
    for t in tables:
        run.spark.read.parquet(f"{raw}/{t}").collect()
    run.streams.terminated.clear()
    stream_ingest_blocks(run.spark, os.path.join(fdir, "warm_headers"),
                         os.path.join(out, "block_table"), os.path.join(out, "ckpt"))
    run.streams.wait_terminated()
    shutil.rmtree(out, ignore_errors=True)


def datafeed_pass(run: Run, ctx, pass_no: int) -> None:
    import bench_feed
    from graphsense_datafeed_spark.ingest.facade import ingest, stream_ingest_blocks
    from graphsense_datafeed_spark.sources.sinks import ParquetSink

    fdir, exp = ctx
    out = os.path.join(WORK, "out", f"{os.getpid()}-{pass_no}")
    raw = os.path.join(out, "btc_raw")
    sink = TimedSink(ParquetSink(raw))

    def sync():
        ingest(run.spark, sink, json_path=os.path.join(fdir, "blocks.jsonl"))
        return None, 0.0

    def read_back(name, fn):
        # the raw-table reads that check the sync; part of the timed pass
        run.sc.setJobGroup(f"pb-op-{len(run.ops)}-check", name)
        return fn()

    rec = run.op("full_sync", "ingest.facade", sync,
                 lambda _: bench_feed.check_sync(run.spark, raw, exp, read_back))
    bytes_w, files_w = bench_feed.dir_bytes_files(raw)
    run.sink_stats.append({"write_s": sink.seconds, "bytes": bytes_w, "files": files_w,
                           "json_bytes": os.path.getsize(os.path.join(fdir, "blocks.jsonl")),
                           "group": rec["group"]})

    target = os.path.join(out, "block_table")
    first_batch = len(run.streams.batches)

    def daemon():
        run.streams.terminated.clear()
        stream_ingest_blocks(run.spark, os.path.join(fdir, "headers"), target,
                             os.path.join(out, "ckpt"))
        run.streams.wait_terminated()
        return None, 0.0

    def check(_):
        n = len(run.streams.batches) - first_batch
        problems = bench_feed.check_drained(run.spark, target, exp, read_back)
        if n != exp["header_batches"]:
            problems.append(f"{n} micro-batches, expected {exp['header_batches']}")
        return problems

    rec = run.op("reorg_daemon", "ingest.facade", daemon, check)
    rec["batches"] = run.streams.batches[first_batch:]
    rec["drained_bytes"] = bench_feed.dir_bytes_files(target)[0]
    shutil.rmtree(out, ignore_errors=True)


STAGE_REPEATS = 3


def datafeed_stages(run: Run, fdir: str) -> dict:
    """Traced only: materialize each datafeed stage on its own into the
    noop sink, STAGE_REPEATS times, and report self times: the stage's
    median time minus the upstream stage's median time."""
    from graphsense_datafeed_spark.ingest.facade import (
        explode_outputs, explode_transactions, normalize_blocks)
    from graphsense_datafeed_spark.sources.scans import read_blocks_json

    path = os.path.join(fdir, "blocks.jsonl")
    stages = (
        ("scans.read_blocks_json_s", lambda: read_blocks_json(run.spark, path)),
        ("facade.normalize_s", lambda: normalize_blocks(read_blocks_json(run.spark, path))),
        ("facade.explode_s", lambda: explode_outputs(explode_transactions(
            normalize_blocks(read_blocks_json(run.spark, path))))),
    )
    out, upstream = {}, 0.0
    for name, build in stages:
        run.sc.setJobGroup(f"pb-stage-{name}", name)
        times = []
        for _ in range(STAGE_REPEATS):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        took = statistics.median(times)
        out[name] = max(0.0, took - upstream)
        upstream = took
    return out


# ------------------------------------------------------------------ metrics


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median (Biometrika 69, 1982): the
    order statistics weighted by a Beta((n+1)/2, (n+1)/2) distribution.
    A mix of queries has gaps in its latencies, and the sample median
    jumps across a gap when one query's time moves; this estimate
    moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)
    steps = 64  # midpoint rule over each slice [i/n, (i+1)/n] of the density
    h = 1.0 / (n * steps)
    weights = [
        h * sum(math.exp(log_norm + (a - 1) * math.log(x * (1 - x)))
                for x in (i / n + (k + 0.5) * h for k in range(steps)))
        for i in range(n)
    ]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def end_to_end(run: Run, setup_s: float, retained_mb: float) -> dict:
    import bench_feed

    ops = run.ops
    failed = sum(1 for o in ops if not o["ok"])
    if run.args.workload == "datafeed":
        syncs = [o["latency_s"] for o in ops if o["name"] == "full_sync"]
        # micro-batches; the daemon's whole run if it produced none
        batches = [b for o in ops for b in o.get("batches", ())] or [
            o["latency_s"] for o in ops if o["name"] == "reorg_daemon"]
        op_p50 = hd_median(batches)
        throughput = statistics.median(bench_feed.N_BLOCKS / s for s in syncs)
    else:
        lat = [o["latency_s"] for o in ops]
        op_p50 = hd_median(lat)
        throughput = len(lat) / sum(lat)
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(run.passes),
        "op_p50_s": op_p50,
        "throughput_per_s": throughput,
        "mem_retained_mb": retained_mb,
        "success_rate": 1.0 - failed / len(ops),
    }


def per_layer(run: Run, setup: dict, timed_s: float, cpu: dict, loads,
              stages: dict, overhead_s: float) -> dict:
    from bench_trace import job_stats
    from py4j.protocol import Py4JError

    sc = run.sc
    try:
        # the status store is filled from the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JError:  # no such method on this Spark: let the bus drain
        time.sleep(2.0)
    tracker = sc.statusTracker()
    seen: set = set()
    n_pass = len(run.passes)
    m = {f"{mod}.{k}": 0.0 for mod in QUERY_MODULES + ("ingest.facade",)
         for k in MODULE_METRICS}
    total = dict(run_ms=0, cpu_ns=0, gc_ms=0, spill_b=0, failed_tasks=0)
    for o in run.ops:
        # the op's own jobs, its result-check reads, and its streams' jobs
        groups = [o["group"], f"{o['group']}-check"] + run.streams.run_ids.get(o["group"], [])
        jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        o["stats"] = st = job_stats(sc, sorted(jobs), seen)
        for k in total:
            total[k] += st[k]
        mod = o["module"]
        m[f"{mod}.plan_s"] += o["plan_s"] / n_pass
        m[f"{mod}.exec_s"] += o["exec_s"] / n_pass
        m[f"{mod}.jobs"] += st["jobs"] / n_pass
        m[f"{mod}.tasks"] += st["tasks"] / n_pass
        m[f"{mod}.shuffle_mb"] += st["shuffle_b"] / MB / n_pass
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m.update({
        "session.build_s": setup["build_s"],
        "session.warm_s": setup["warm_s"],
        "registry.load_s": setup["registry_s"],
        "tables.load_calls": loads.calls / n_pass,
        "tables.load_s": loads.seconds / n_pass,
        "exec.run_s": total["run_ms"] / 1000.0 / n_pass,
        "exec.cpu_s": total["cpu_ns"] / 1e9 / n_pass,
        "exec.gc_s": total["gc_ms"] / 1000.0 / n_pass,
        "exec.spill_mb": total["spill_b"] / MB / n_pass,
        "exec.failed_tasks": total["failed_tasks"] / n_pass,
        "exec.busy_share": total["run_ms"] / 1000.0 / (timed_s * cores),
        "proc.driver_cpu_s": cpu["driver"] / n_pass,
        "proc.jvm_cpu_s": cpu["jvm"] / n_pass,
        "proc.pyworker_cpu_s": cpu["pyworker"] / n_pass,
        "proc.peak_rss_mb": run.procs.peak_rss_mb(),
        "scans.read_blocks_json_s": 0.0,
        "facade.normalize_s": 0.0,
        "facade.explode_s": 0.0,
        "scans.json_read_mb": 0.0,
        "sinks.write_s": 0.0,
        "sinks.bytes_written_mb": 0.0,
        "sinks.files_written": 0.0,
        "sinks.write_amp": 0.0,
        "stream.batches": 0.0,
        "stream.jobs_per_batch": 0.0,
        "stream.rewrite_amp": 0.0,
        "trace.wall_s": statistics.median(run.passes),
        "trace.overhead_s": overhead_s,
    })
    m.update(stages)
    if run.args.workload == "datafeed":
        by_group = {o["group"]: o for o in run.ops}
        sinks = run.sink_stats
        m["sinks.write_s"] = statistics.median(s["write_s"] for s in sinks)
        m["sinks.bytes_written_mb"] = statistics.median(s["bytes"] for s in sinks) / MB
        m["sinks.files_written"] = statistics.median(s["files"] for s in sinks)
        m["sinks.write_amp"] = statistics.median(s["bytes"] / s["json_bytes"] for s in sinks)
        # sync jobs only (not the read-back check): how often the feed is scanned
        m["scans.json_read_mb"] = statistics.median(
            job_stats_input(sc, tracker, s["group"]) for s in sinks) / MB
        daemons = [o for o in run.ops if o["name"] == "reorg_daemon"]
        n_batches = sum(len(o["batches"]) for o in daemons)
        m["stream.batches"] = n_batches / n_pass
        stream_jobs = sum(
            len(tracker.getJobIdsForGroup(g)) for o in daemons
            for g in [o["group"]] + run.streams.run_ids.get(o["group"], []))
        m["stream.jobs_per_batch"] = stream_jobs / max(1, n_batches)
        m["stream.rewrite_amp"] = statistics.median(
            by_group[o["group"]]["stats"]["output_b"] / max(1, o["drained_bytes"])
            for o in daemons)
    return m


def job_stats_input(sc, tracker, group: str) -> int:
    """Bytes read by the stages of ``group``'s jobs (re-read from the
    store, so stages already counted elsewhere are included)."""
    from bench_trace import job_stats

    return job_stats(sc, sorted(tracker.getJobIdsForGroup(group)), set())["input_b"]


# ---------------------------------------------------------------- tracing


def untraced_history(args) -> str:
    """History of untraced wall_s values for this workload, ``--seconds``
    and code: the key hashes the program's and the benchmark's sources,
    so walls of another commit checked out here are never mixed in."""
    key = hashlib.sha256(f"{args.workload}\0{args.seconds!r}\0".encode())
    for top in ("graphsense_datafeed_spark", "perfbench"):
        for root, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(root, n)
                    key.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        key.update(fh.read())
    return os.path.join(WORK, f"untraced-wall-{args.workload}-{key.hexdigest()[:16]}.json")


def record_untraced_wall(args, wall_s: float) -> None:
    path = untraced_history(args)
    walls = []
    if os.path.exists(path):
        with open(path) as fh:
            walls = json.load(fh)
    walls = (walls + [wall_s])[-20:]
    with open(path + ".tmp", "w") as fh:
        json.dump(walls, fh)
    os.replace(path + ".tmp", path)


def untraced_wall(args) -> float:
    """Median untraced wall_s of this workload, ``--seconds`` and code
    in this checkout; runs one untraced run first if there is none yet."""
    path = untraced_history(args)
    if not os.path.exists(path):
        log("no untraced run recorded yet: running one for the overhead baseline")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.DEVNULL, check=True, timeout=170)
    with open(path) as fh:
        return statistics.median(json.load(fh))


# -------------------------------------------------------------------- main


def load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_benchmark_spec()
    os.makedirs(WORK, exist_ok=True)
    adopt_orphans()
    # a SIGTERM unwinds through the ``finally`` blocks that stop every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    prepare_environment()
    try:
        import graphsense_datafeed_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as ex:
        log(f"cannot import the program: {ex}")
        return 2
    t0 = time.perf_counter()
    overhead_base = untraced_wall(args) if args.trace else None
    baseline_s = time.perf_counter() - t0  # not part of this run's setup

    import bench_feed
    from bench_mix import ANALYTICS, LLM_CORPUS, expected_hashes
    from bench_trace import ProcTree, StreamEvents, jvm_retained_mb, timed_loads

    setup = {"warm_s": 0.0}
    oracle_s = 0.0
    feed_proc = spark = None
    if args.workload == "datafeed":
        # generate (or find cached) feeds while the JVM starts
        feed_proc = subprocess.Popen(
            [sys.executable, os.path.abspath(bench_feed.__file__), WORK, str(args.seed)])
    else:
        sf_dir = stage_fixtures()
    try:
        t0 = time.perf_counter()
        from graphsense_datafeed_spark import registry

        registry.load_all_operators()
        setup["registry_s"] = time.perf_counter() - t0

        from graphsense_datafeed_spark.session import build_session

        t0 = time.perf_counter()
        spark = build_session("perfbench")
        setup["build_s"] = time.perf_counter() - t0
        procs = ProcTree()
        run = Run(args, spark, procs, StreamEvents(spark))
        if args.workload == "datafeed":
            ctx = datafeed_setup(run, feed_proc)
            one_pass = datafeed_pass
            t0 = time.perf_counter()
            datafeed_warm(run, ctx[0])
            setup["warm_s"] = time.perf_counter() - t0
        else:
            mix = ANALYTICS if args.workload == "analytics" else LLM_CORPUS
            t0 = time.perf_counter()
            ctx = (mix, sf_dir, expected_hashes(mix, registry.ORACLES, sf_dir, WORK))
            # DuckDB runs on the first run in a checkout only; out of setup_s
            oracle_s = time.perf_counter() - t0
            one_pass = query_pass
            t0 = time.perf_counter()
            warm_pass(spark, mix, sf_dir, WARM_ROUNDS[args.workload])
            setup["warm_s"] = time.perf_counter() - t0
        procs.sample()
        cpu0 = dict(procs.cpu)
        setup_s = time.perf_counter() - T_START - baseline_s - oracle_s
        log(f"setup {setup_s:.2f}s; timed section starts")

        with timed_loads() if args.trace else contextlib.nullcontext() as loads:
            t_timed = time.perf_counter()
            while True:
                t0 = time.perf_counter()
                one_pass(run, ctx, len(run.passes))
                run.passes.append(time.perf_counter() - t0)
                # stop before a pass that would end past --seconds
                if time.perf_counter() - t_timed + run.passes[-1] > args.seconds:
                    break
        timed_s = time.perf_counter() - t_timed
        procs.sample()
        cpu = procs.cpu_since(cpu0)
        retained_mb = jvm_retained_mb(spark) + procs.python_rss_mb()

        metrics = end_to_end(run, setup_s, retained_mb)
        if args.trace:
            stages = datafeed_stages(run, ctx[0]) if args.workload == "datafeed" else {}
            metrics = per_layer(run, setup, timed_s, cpu, loads, stages,
                                metrics["wall_s"] - overhead_base)
        else:
            record_untraced_wall(args, metrics["wall_s"])
        with open(os.path.join(WORK, f"ops-{args.workload}-{args.seed}-t{args.trace}.json"),
                  "w") as fh:
            json.dump({"setup": setup, "passes": run.passes, "ops": run.ops,
                       "stream_run_ids": run.streams.run_ids, "metrics": metrics,
                       "processes": [[pid, procs.role[pid], procs.hwm_kb[pid], procs.cpu[pid]]
                                     for pid in sorted(procs.role)]}, fh)
    finally:
        if spark is not None:
            spark.stop()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [w["name"] for w in wanted if w["name"] not in metrics]
    if missing:
        log(f"metrics not produced: {missing}")
        return 3
    failed = sum(1 for o in run.ops if not o["ok"])
    log(f"{args.workload}: {len(run.passes)} pass(es), {len(run.ops)} operations, "
        f"{failed} failed, error_rate {failed / len(run.ops):.4f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {w["name"]: {"value": metrics[w["name"]], "unit": w["unit"]}
                    for w in wanted},
    }))
    return 0


if __name__ == "__main__":
    try:
        code = main()
    finally:
        # on every path out of main, SIGTERM included
        stop_processes()
    sys.exit(code)
