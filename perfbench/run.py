"""spark-graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload driver_iterative --seed 1 \
        --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The run builds its seeded inputs,
sets up a Spark session several times (``setup_s``), makes one
correctness pass that collects every item and compares it to the
registry's DuckDB oracle, then runs a fixed number of passes into
the noop sink, about ``--seconds`` long, the first few uncounted. ``--trace 1``
alternates untraced and traced passes and reports the per-layer
metrics. The last stdout line is the result JSON; everything else
the run or the engine prints goes to stderr. A run record
(environment, inputs, per-query events and metrics, spans) is
written under ``.perfbench_work/records/``.

See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import math
import os
import platform
import random
import resource
import statistics
import subprocess
import sys
import time

T_IMPORT = time.perf_counter()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_CYCLES = 5
MIN_PASSES = 2  # counted passes before the overrun guard may stop a run
OVERRUN = 1.2  # stop passing at this many --seconds after the first pass
# Spark task threads (local[2]). On a shared 4-vCPU VM the two spare
# vCPUs run the JIT and GC threads and the Python driver; with as many
# task threads as vCPUs, the warm pass spread about twice as much
# between runs while other guests kept the host busy.
ENGINE_CORES = 2
APPEND_BATCHES = 2  # index_write: streaming appends per lifecycle

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "query_cpu_p50_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "wall.warm_pass_s": "s",
    "wall.query_p50_s": "s",
    "wall.query_tail_s": "s",
    "session.create_s": "s",
    "session.warmup_s": "s",
    "io.read_calls": "count",
    "io.read_s": "s",
    "io.read_jobs": "count",
    "io.scan_bytes": "bytes",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "operators.eager_jobs": "count",
    "operators.checkpoints": "count",
    "operators.tier_events": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.busy_frac": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "spark.plan_bnlj": "count",
    "spark.plan_cartesian": "count",
    "spark.plan_exchanges": "count",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.serve_s": "s",
    "streaming.append_s": "s",
    "trace.warm_pass_s": "s",
    "trace.overhead_s": "s",
}

# per-layer metrics taken from the untraced passes of a traced run
UNTRACED = ("wall.",)

# JVM thread names (as /proc shows them, cut to 15 characters) of the
# JIT compilers and the code cache sweeper
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")

# Phases of a query execution that are not the builder.
NOT_BUILD = ("plan", "exec")


def _log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


@contextlib.contextmanager
def _captured(events: list[str]):
    """Collect what the package prints (operator tier announcements)
    so the benchmark's own stdout stays machine-parseable."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        yield
    events.extend(l for l in buf.getvalue().splitlines() if l.strip())


def _load_canon():
    """The strict oracle canonicalization of tools/check_correctness.py."""
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize


def _cpu_jiffies() -> dict[str, int]:
    """Machine-wide CPU time by kind (/proc/stat). Steal is time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return {"busy": f[0] + f[1] + f[2] + f[5] + f[6], "idle": f[3] + f[4],
            "steal": f[7]}


def _steal_frac(start: dict, end: dict) -> float:
    d = {k: end[k] - start[k] for k in start}
    total = sum(d.values())
    return d["steal"] / total if total else 0.0


def _env_record(spark) -> dict:
    commit = None
    with contextlib.suppress(Exception):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, cwd=ROOT,
        ).stdout.strip() or None
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": spark.version,
        "java_version": jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "git_commit": commit,
    }


# -- session set-up ------------------------------------------------------
def _session_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.local.dir": tmp,
        # A heap committed and touched up front keeps peak_rss_mb from
        # following GC timing; what is left to move is off-heap JVM
        # memory and the Python driver.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            # compiler threads that never end, so _engine_cpu_s can
            # take all their time out of the process total
            "-XX:-UseDynamicNumberOfCompilerThreads "
            # JIT-compile hot methods at a fifth of the default
            # invocation counts: the warm pass levels off after about
            # 25 s of passes instead of more than 60 s, so the counted
            # passes of a run sit near the flat part of the curve
            "-XX:CompileThresholdScaling=0.2"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _warmup_job(spark) -> None:
    rows = (
        spark.range(0, 200_000, numPartitions=4)
        .selectExpr("id % 97 AS k")
        .groupBy("k")
        .count()
        .collect()
    )
    assert len(rows) == 97


def setup_session(cycles: int):
    """``cycles`` x (get_session + warm-up job), stopping the session
    between cycles. The first cycle also launches the JVM, once per
    process, so the metrics take the median of the later cycles; the
    record keeps all of them. Returns the live session and per-cycle
    (create_s, warmup_s)."""
    from afg_data_pipeline_spark.session import get_session

    times = []
    spark = None
    for i in range(cycles):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_session("perfbench", extra_conf=_session_conf())
        t1 = time.perf_counter()
        _warmup_job(spark)
        t2 = time.perf_counter()
        times.append((t1 - t0, t2 - t1))
        if i == 0:
            spark.sparkContext.setLogLevel("ERROR")
    return spark, times


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in; wait for it to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _thread_cpu_ticks(stat_path: str) -> int:
    with open(stat_path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return int(f[11]) + int(f[12])  # utime + stime


def _engine_cpu_s() -> float:
    """CPU time used so far by this Python driver and the Spark JVM,
    without the JVM's JIT threads (compilers and the code cache
    sweeper): their work depends on how far the JVM's warm-up has got,
    not on the workload. Unlike wall
    time it does not grow with the time the host gives this machine's
    CPUs to other guests (steal). The JIT threads live as long as the
    JVM (see ``_session_conf``), so none of their time hides in the
    process total after they end."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    ticks = 0
    if proc is not None:
        ticks = _thread_cpu_ticks(f"/proc/{proc.pid}/stat")
        task_dir = f"/proc/{proc.pid}/task"
        for tid in os.listdir(task_dir):
            with contextlib.suppress(OSError):
                with open(f"{task_dir}/{tid}/comm") as fh:
                    if not fh.read().startswith(JIT_THREADS):
                        continue
                ticks -= _thread_cpu_ticks(f"{task_dir}/{tid}/stat")
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def _jvm_peak_rss_mb(spark) -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    jvm_kb = 0
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


# -- one query execution ---------------------------------------------
def _plan_counts(plan: str) -> dict[str, float]:
    return {
        "spark.plan_bnlj": plan.count("BroadcastNestedLoopJoin"),
        "spark.plan_cartesian": plan.count("CartesianProduct"),
        "spark.plan_exchanges": sum(
            1 for l in plan.splitlines() if "Exchange" in l
            and "ReusedExchange" not in l
        ),
    }


def execute(item, ctx, events: list[str], collect: bool = False):
    """Build the item's DataFrame and run it to completion: into the
    noop sink, or collected (correctness pass). Returns the collected
    (rows, columns) or None."""
    tr = ctx.tracer
    n_events = len(events)
    out = None
    with tr.span("build"), _captured(events):
        df = item.build(ctx)
    if tr.enabled:
        with tr.span("plan"):
            plan = df._jdf.queryExecution().executedPlan().toString()
        tr.current.counters.update(_plan_counts(plan))
    with tr.span("exec"), _captured(events):
        if collect:
            out = df.collect(), list(df.columns)
        else:
            df.write.format("noop").mode("overwrite").save()
    if tr.enabled:
        tr.current.counters["operators.tier_events"] = len(events) - n_events
    return out


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


# -- correctness ------------------------------------------------------
def expected_results(wl, data_dir: str, normalize) -> dict:
    """Oracle outputs for the workload's items. Every seed holds the
    same rows in another order, so the cache is keyed by the table
    content, not by the seed."""
    import pickle

    from datagen import CONTENT_SEED

    cache_dir = os.path.join(WORK, "expected")
    os.makedirs(cache_dir, exist_ok=True)
    cache = os.path.join(
        cache_dir,
        f"{wl.name}-c{CONTENT_SEED}-d{wl.n_docs}.pkl",
    )
    if os.path.exists(cache):
        with open(cache, "rb") as fh:
            return pickle.load(fh)
    import duckdb

    from datagen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
        )
    out = {}
    for item in wl.items:
        res = con.execute(item.oracle)
        cols = [d[0] for d in res.description]
        out[item.name] = (sorted(cols), normalize(res.fetchall(), cols))
    con.close()
    with open(cache + ".tmp", "wb") as fh:
        pickle.dump(out, fh)
    os.replace(cache + ".tmp", cache)
    return out


def correctness_pass(wl, ctx, expected, normalize, order, events, traced):
    """Collect every item once and compare it with its oracle.
    Returns ({item: problem or None}, {item: canonical rows})."""
    problems, outputs = {}, {}
    for name in order:
        item = ITEMS[name]
        ev = events.setdefault(name, [])
        try:
            with _maybe_query(ctx, traced, f"check-{name}", name):
                rows, cols = execute(item, ctx, ev, collect=True)
        except Exception as e:  # noqa: BLE001 - counts as a failure
            problems[name] = f"error: {type(e).__name__}: {e}"[:500]
            continue
        got = (sorted(cols), normalize(rows, cols))
        outputs[name] = got
        want = expected[name]
        if got[0] != want[0]:
            problems[name] = f"columns {got[0]} != {want[0]}"
        elif len(got[1]) != len(want[1]):
            problems[name] = f"rows {len(got[1])} != {len(want[1])}"
        elif got[1] != want[1]:
            problems[name] = "values differ"
        else:
            problems[name] = None
    return problems, outputs


@contextlib.contextmanager
def _maybe_query(ctx, traced: bool, qid: str, name: str):
    if traced:
        with ctx.tracer.query(qid, name) as q:
            yield q
    else:
        yield None


ITEMS: dict = {}


# -- measured passes --------------------------------------------------
def run_pass(ctx, order, events, traced, pass_no, failures):
    """One pass over the workload; returns (wall_s, cpu_s,
    {item: latency}, {item: cpu_s})."""
    lat, cpu = {}, {}
    t_pass = time.perf_counter()
    c_pass = _engine_cpu_s()
    for name in order:
        item = ITEMS[name]
        try:
            with _maybe_query(ctx, traced, f"p{pass_no}-{name}", name) as q:
                # status-store reads happen when the query context
                # closes, outside the latency
                c0 = _engine_cpu_s()
                t0 = time.perf_counter()
                execute(item, ctx, events.setdefault(name, []))
                dt = time.perf_counter() - t0
                dc = _engine_cpu_s() - c0
                if q is not None and item.out:
                    n, size = _dir_files(os.path.join(ctx.out_dir, item.out))
                    q.counters["sinks.files_written"] = n
                    q.counters["sinks.bytes_written"] = size
        except Exception as e:  # noqa: BLE001 - counts as a failure
            failures.append(f"{name}: {type(e).__name__}: {e}"[:500])
            continue
        lat[name] = dt
        cpu[name] = dc
    wall = time.perf_counter() - t_pass
    pass_cpu = _engine_cpu_s() - c_pass
    if traced:
        wall = sum(lat.values())
    return wall, pass_cpu, lat, cpu


def _tail(samples: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile with at least 10 samples beyond
    it (fewer when a run has fewer than 21 samples, but never below
    the median); returns (value, percentile, samples beyond)."""
    s = sorted(samples)
    beyond = min(10, (len(s) - 1) // 2)
    pct = 100 * (len(s) - beyond) // len(s)
    rank = max(1, math.ceil(pct * len(s) / 100))
    return s[rank - 1], pct, len(s) - rank


def _typical(per_item: dict[str, list[float]]) -> float:
    """Each item's median, geometric mean over the items: every item
    weighs the same whatever its scale, and the value does not jump
    from one item to another the way the median of the pooled samples
    of a few items does."""
    return statistics.geometric_mean(
        statistics.median(v) for v in per_item.values() if v
    )


def layer_metrics(traces) -> dict[str, float]:
    """Per-layer sums over the query traces of one pass."""
    m = {k: 0.0 for k in PER_LAYER_UNITS if not k.startswith(UNTRACED)}
    m["io.table_bytes"] = 0.0
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    for q in traces:
        c = q.counters
        g = lambda key: c.get(key, 0.0)  # noqa: E731
        build_spans = {
            k.split(".", 1)[1]
            for k in c
            if k.startswith("jobs.")
            and k.split(".", 1)[1] not in NOT_BUILD
        }
        build_jobs = sum(g(f"jobs.{s}") for s in build_spans)
        m["io.read_calls"] += g("io.read_calls")
        m["io.table_bytes"] += g("io.table_bytes")
        m["io.read_s"] += g("span.read_s")
        m["io.read_jobs"] += g("jobs.read")
        m["io.scan_bytes"] += sum(
            v for k, v in c.items() if k.startswith("input_bytes.")
        )
        m["plans.build_s"] += g("span.build_s")
        m["plans.build_jobs"] += build_jobs
        m["operators.eager_jobs"] += build_jobs - g("jobs.read")
        m["operators.checkpoints"] += g("operators.checkpoints")
        m["spark.plan_s"] += g("span.plan_s")
        m["spark.exec_s"] += g("span.exec_s")
        m["spark.jobs"] += g("jobs.exec")
        m["spark.stages"] += g("stages.exec")
        m["spark.tasks"] += g("tasks.exec")
        m["spark.task_s"] += g("task_s.exec")
        m["spark.shuffle_read_bytes"] += g("shuffle_read_bytes.exec")
        m["spark.shuffle_write_bytes"] += g("shuffle_write_bytes.exec")
        m["spark.spill_bytes"] += g("spill_bytes.exec")
        m["spark.gc_s"] += g("gc_s.exec")
        m["spark.failed_tasks"] += sum(
            v for k, v in c.items() if k.startswith("failed_tasks.")
        )
        for k in ("spark.plan_bnlj", "spark.plan_cartesian",
                  "spark.plan_exchanges"):
            m[k] += g(k)
        m["sinks.write_s"] += g("span.sinks.write_s")
        m["streaming.append_s"] += g("span.streaming.append_s")
        if g("span.sinks.serve_s"):
            # serving = the serve builder plus running its result
            m["sinks.serve_s"] += (
                g("span.sinks.serve_s") + g("span.plan_s") + g("span.exec_s")
            )
        m["sinks.files_written"] += g("sinks.files_written")
        m["sinks.bytes_written"] += g("sinks.bytes_written")
        m["operators.tier_events"] += g("operators.tier_events")
    total = m["plans.build_s"] + m["spark.plan_s"] + m["spark.exec_s"]
    m["plans.build_share"] = m["plans.build_s"] / total if total else 0.0
    m["spark.busy_frac"] = (
        m["spark.task_s"] / (m["spark.exec_s"] * cpus)
        if m["spark.exec_s"] else 0.0
    )
    if m["sinks.bytes_written"] and m["io.table_bytes"]:
        m["sinks.bytes_per_input_byte"] = (
            m["sinks.bytes_written"] / m["io.table_bytes"]
        )
    del m["io.table_bytes"]
    return m


# -- one workload run -------------------------------------------------
def run_workload(spark, wl, seed, seconds, trace, setup_times, inputs,
                 data_dir, normalize, warm, min_passes=MIN_PASSES):
    """One workload run on a live session: the correctness pass, then
    ``warm`` uncounted passes and counted ones, ``round(seconds /
    wl.pass_s)`` passes in all. Returns (record, canonical outputs of
    the correctness pass, failed, attempted)."""
    from spans import NullTracer, Tracer
    from workloads import Ctx

    ITEMS.clear()
    ITEMS.update({i.name: i for i in wl.items})
    rng = random.Random(seed)
    n_emb = inputs["embeddings"]["rows"]
    cuts = sorted(rng.sample(range(1, n_emb), APPEND_BATCHES - 1))
    out_dir = os.path.join(WORK, "out", wl.name)
    os.makedirs(out_dir, exist_ok=True)
    status = Tracer(spark)
    tracer = status if trace else NullTracer()
    ctx = Ctx(spark, data_dir, out_dir, cuts, tracer)
    events: dict[str, list[str]] = {}
    names = [i.name for i in wl.items]

    def order():
        o = list(names)
        rng.shuffle(o)
        return o

    phases = {}
    t0 = time.perf_counter()
    expected = expected_results(wl, data_dir, normalize)
    phases["oracle_s"] = time.perf_counter() - t0
    if trace:
        tracer.install()
    try:
        t0 = time.perf_counter()
        problems, outputs = correctness_pass(
            wl, ctx, expected, normalize, order(), events, trace
        )
        phases["check_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        failures: list[str] = []
        untraced_walls, walls, lat_samples = [], [], []
        pass_cpus = []
        latencies: dict[str, list[float]] = {n: [] for n in names}
        cpu_times: dict[str, list[float]] = {n: [] for n in names}
        traced_passes = []
        # A fixed pass count per (workload, --seconds) keeps every run
        # at the same point of the JIT warm-up curve, which is still
        # falling after forty seconds; a time-boxed loop would take its
        # median from an earlier point of that curve on a slower host.
        # The guard only keeps a very slow host within the run budget.
        # A traced run alternates untraced and traced passes after the
        # warm ones.
        n_min = warm + min_passes * (2 if trace else 1)
        n_passes = max(n_min, round(seconds / wl.pass_s))
        deadline = t0 + OVERRUN * seconds
        p = 0
        while p < n_passes and (
            p < n_min or time.perf_counter() < deadline
        ):
            counted = p >= warm
            traced_pass = trace and counted and (p - warm) % 2 == 1
            ctx.tracer = tracer if traced_pass else NullTracer()
            n_done = len(status.done) if trace else 0
            wall, pass_cpu, lat, cpu = run_pass(
                ctx, order(), events, traced_pass, p, failures
            )
            if traced_pass:
                traced_passes.append((wall, status.done[n_done:]))
            elif counted:
                untraced_walls.append(wall)
                lat_samples.extend(lat.values())
                pass_cpus.append(pass_cpu)
                for n, v in lat.items():
                    latencies[n].append(v)
                for n, v in cpu.items():
                    cpu_times[n].append(v)
            walls.append(wall)
            p += 1
        phases["passes_s"] = time.perf_counter() - t0
        ctx.tracer = tracer
    finally:
        if trace:
            tracer.uninstall()

    n_fail = sum(1 for v in problems.values() if v) + len(failures)
    attempted = len(problems) + p * len(names)
    record = {
        "workload": wl.name,
        "seed": seed,
        "trace": trace,
        "fail_frac": n_fail / attempted,
        "problems": problems,
        "failures": failures,
        "events": events,
        "passes": p,
        "warmup_passes": warm,
        "pass_walls_s": walls,
        "latencies_s": latencies,
        "cpu_s": cpu_times,
        "batch_cuts": cuts,
        "phase_s": phases,
    }
    # wall times of the untraced counted passes
    tail, pct, beyond = _tail(lat_samples)
    wall_metrics = {
        "wall.warm_pass_s": statistics.median(untraced_walls),
        "wall.query_p50_s": _typical(latencies),
        "wall.query_tail_s": tail,
    }
    record["wall"] = wall_metrics
    record["query_tail"] = {
        "percentile": pct,
        "samples": len(lat_samples),
        "samples_beyond": beyond,
    }
    record["pass_cpu_s"] = pass_cpus
    if not trace:
        metrics = {
            "setup_s": statistics.median(a + b for a, b in setup_times[1:]),
            "pass_cpu_s": statistics.median(pass_cpus),
            "query_cpu_p50_s": _typical(cpu_times),
            "peak_rss_mb": _jvm_peak_rss_mb(spark),
        }
        units = END_TO_END_UNITS
    else:
        per_pass, per_query = [], {}
        for wall, traces in traced_passes:
            per_pass.append(layer_metrics(traces))
            for q in traces:
                per_query.setdefault(q.query, []).append(layer_metrics([q]))
        metrics = {
            k: statistics.median(pp[k] for pp in per_pass)
            for k in per_pass[0]
        }
        metrics.update(wall_metrics)
        metrics["session.create_s"] = statistics.median(
            a for a, _ in setup_times[1:]
        )
        metrics["session.warmup_s"] = statistics.median(
            b for _, b in setup_times[1:]
        )
        metrics["trace.warm_pass_s"] = statistics.median(w for w, _ in traced_passes)
        metrics["trace.overhead_s"] = (
            metrics["trace.warm_pass_s"] - wall_metrics["wall.warm_pass_s"]
        )
        record["per_query"] = {
            k: {m: statistics.median(d[m] for d in v) for m in v[0]}
            for k, v in per_query.items()
        }
        record["spans"] = [
            {"qid": q.qid, "query": q.query, "spans": q.spans,
             "counters": dict(q.counters)}
            for q in status.done
        ]
        units = PER_LAYER_UNITS
    record["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    return record, outputs, n_fail, attempted


def prepare_inputs(wl, seed: int):
    from datagen import write_inputs

    data_dir = os.path.join(WORK, "data", f"{wl.name}-d{wl.n_docs}-seed{seed}")
    inputs = write_inputs(data_dir, seed, wl.n_docs)
    return data_dir, inputs


def _conf_record(spark, status) -> dict:
    return {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "storage_memory_bytes": status.storage_memory_bytes(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    # Everything the engine prints goes to stderr; the result line
    # is written to the original stdout at the very end.
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import afg_data_pipeline_spark  # noqa: F401 - fail early without it

    from workloads import WORKLOADS

    if not args.smoke and args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    os.environ["SPARK_GRAFT_CPUS"] = str(ENGINE_CORES)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under /tmp from any JVM the run starts
    # (spark-submit's launcher included): it writes only inside the
    # checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    normalize = _load_canon()

    load_start = os.getloadavg()
    cpu_start = _cpu_jiffies()
    if args.smoke:
        return smoke(WORKLOADS, args.seed, normalize, real_stdout)

    wl = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    data_dir, inputs = prepare_inputs(wl, args.seed)
    t1 = time.perf_counter()
    spark, setup_times = setup_session(SETUP_CYCLES)
    t2 = time.perf_counter()
    try:
        from spans import Tracer

        conf = _conf_record(spark, Tracer(spark))
        env = _env_record(spark)
        record, _outputs, n_fail, attempted = run_workload(
            spark, wl, args.seed, args.seconds, bool(args.trace),
            setup_times, inputs, data_dir, normalize, wl.warmup_passes,
        )
    finally:
        t3 = time.perf_counter()
        shutdown(spark)
    record["phase_s"].update(
        inputs_s=t1 - t0, setup_s=t2 - t1,
        shutdown_s=time.perf_counter() - t3,
        process_s=time.perf_counter() - T_IMPORT,
    )
    env["loadavg_start"] = load_start
    env["loadavg_end"] = os.getloadavg()
    env["cpu_steal_frac"] = _steal_frac(cpu_start, _cpu_jiffies())
    record.update(env=env, inputs=inputs, conf=conf, setup_cycles_s=setup_times)
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(
        os.path.join(
            rec_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
        ),
        "w",
    ) as fh:
        json.dump(record, fh, indent=1, default=str)
    for k, v in record["metrics"].items():
        _log(f"{wl.name:18s} {k:28s} {v['value']:.6g} {v['unit']}")
    if not args.trace:
        for k, v in record["wall"].items():
            _log(f"{wl.name:18s} {k:28s} {v:.6g} s")
    _log(f"{wl.name:18s} {'fail_frac':28s} {record['fail_frac']:.6g} ratio")
    for k, v in record["problems"].items():
        if v:
            _log(f"WRONG {k}: {v}")
    for f in record["failures"]:
        _log(f"FAILED {f}")
    result = {
        "correct": n_fail == 0,
        "attempted": attempted,
        "failed": n_fail,
        "metrics": record["metrics"],
    }
    print(json.dumps(result), file=real_stdout, flush=True)
    return 0


def smoke(workloads, seed, normalize, real_stdout) -> int:
    """Every workload once, untraced then traced, at the smallest
    input size: every metric present with its unit, no failure, and
    traced outputs identical to untraced ones."""
    spark, setup_times = setup_session(2)
    bad = []
    try:
        for wl in workloads.values():
            data_dir, inputs = prepare_inputs(wl, seed)
            outs = {}
            for trace in (0, 1):
                rec, outs[trace], n_fail, _ = run_workload(
                    spark, wl, seed, 0, bool(trace), setup_times,
                    inputs, data_dir, normalize, warm=0, min_passes=1,
                )
                units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
                for k, u in units.items():
                    if rec["metrics"].get(k, {}).get("unit") != u:
                        bad.append(f"{wl.name}: metric {k} missing")
                if n_fail:
                    bad.append(f"{wl.name} trace={trace}: {n_fail} failed")
            if outs[0] != outs[1]:
                bad.append(f"{wl.name}: traced output differs")
            _log(f"smoke {wl.name}: ok" if not bad else f"smoke: {bad}")
    finally:
        shutdown(spark)
    print(json.dumps({"smoke": "fail" if bad else "ok", "problems": bad}),
          file=real_stdout, flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
