"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload decision_heavy --seed 1 --seconds 10 --trace 0

A closed loop: one client, one process, operations in sequence on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use).
After set-up and an untimed warm-up (``workloads.WARM_UP``), the loop
runs whole passes over the workload's operations, each in an order
drawn from the seed, until ``--seconds`` have elapsed and at least
``workloads.MIN_PASSES`` passes are done. Every result is
checked after its operation's timed region. With ``--trace 0`` the
last stdout line holds the end-to-end metrics; with ``--trace 1``
engine calls are wrapped in spans, Spark writes an event log, and the
last line holds the per-layer metrics. Each run also writes a results
file with its run stamp under ``.bench_work/results/``.

Inputs and scratch live under ``.bench_work/`` in the checkout. The
query tables and their DuckDB oracle digests are made on the first run
and reused; cohorts, caches, Spark scratch and event logs are per run
and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SF = 0.01
DRIVER_MEMORY = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ----------------------------------------------------------- environment

def isolate(run_dir: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    give the Spark Python workers the repository on PYTHONPATH so
    Arrow-UDF operators import ``biosets_spark`` from any working
    directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for p in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def spark_conf(run_dir: str, traced: bool) -> dict:
    """The engine's session with a 2 GiB driver heap instead of its
    12 GiB default, which the inputs here are far from needing, on a
    host whose memory other tenants share. As in the engine, the
    initial heap is the whole heap. It is also pre-touched, so the
    JVM's resident memory does not depend on how far the garbage
    collector happened to grow its young generation: a heap that grows
    on demand read 0.10 apart across seeds. Heap use itself is taken
    from the event log in a traced run."""
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={run_dir}/tmp "
            f"-Dderby.system.home={run_dir}/derby"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.logStageExecutorMetrics": "true",
                     "spark.executor.metrics.pollingInterval": "100ms"})
    return conf


def git_head() -> str:
    try:
        # the ceiling stops git from finding a repository above the checkout
        env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, env=env)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_stamp(args) -> dict:
    import duckdb
    import pyspark

    from bench import mem_bandwidth_gbps

    return {"nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "traced": bool(args.trace), "git_head": git_head(),
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "mem_bandwidth_gbps": mem_bandwidth_gbps(), "sf": SF}


# ----------------------------------------------------------------- inputs

def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def prepare_tables() -> tuple[str, dict]:
    """Generate the query tables and their oracle digests once per
    checkout; regenerate when the generator or an oracle changes."""
    import hashlib

    import __spark_entry__
    import data
    from workloads import QUERY_WORKLOADS, oracle_digests, sql_sha

    with open(data.__file__, "rb") as fh:
        gen_sha = hashlib.sha256(fh.read()).hexdigest()[:16]
    sf_dir = os.path.join(WORK, f"tables-sf{SF}")
    marker = os.path.join(sf_dir, "GENERATED")
    if not os.path.exists(marker) or open(marker).read() != gen_sha:
        shutil.rmtree(sf_dir, ignore_errors=True)
        data.write_tables(sf_dir, SF)
        with open(marker, "w") as fh:
            fh.write(gen_sha)
    oracle_path = os.path.join(WORK, f"oracle-sf{SF}.json")
    cached = {}
    if os.path.exists(oracle_path):
        with open(oracle_path, encoding="utf-8") as fh:
            cached = json.load(fh)
    if cached.get("tables") != gen_sha:
        cached = {"tables": gen_sha, "queries": {}}
    sql = __spark_entry__.oracle_sql()
    names = [n for ops in QUERY_WORKLOADS.values() for n in ops]
    stale = [n for n in names if cached["queries"].get(n, {}).get("sql_sha") != sql_sha(sql[n])]
    if stale:
        cached["queries"].update(oracle_digests(sf_dir, stale))
        _write_json(oracle_path, cached)
    return sf_dir, cached["queries"]


# ------------------------------------------------------------------ setup

def warm_up(spark, sf_dir: str) -> None:
    """The generic warm-up ``bench.py`` uses: JVM, codegen, Parquet
    footers and the Python worker pool."""
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    spark.range(0, 1024, 1, 32).mapInPandas(lambda it: it, "id long").count()


def set_up(sf_dir: str, conf: dict, import_s: float) -> tuple[object, float]:
    """Start the session on a cold JVM: import + get_spark + warm-up.
    Once per run, because a second set-up in the same process would skip
    the JVM launch and measure something else."""
    from biosets_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    warm_up(spark, sf_dir)
    return spark, import_s + time.perf_counter() - t0


# --------------------------------------------------------------- memory

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def process_tree(jvm_pid: int) -> set[int]:
    """This process, the driver JVM and the JVM's descendants (the
    Python worker daemon and its workers)."""
    pids, todo = {os.getpid()}, [jvm_pid]
    while todo:
        pid = todo.pop()
        if pid not in pids:
            pids.add(pid)
            todo.extend(_children(pid))
    return pids


def tree_cpu_ticks(jvm_pid: int) -> dict[int, int]:
    """User + system CPU ticks of each process in the tree, including
    children it has reaped."""
    ticks = {}
    for pid in process_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks[pid] = sum(int(f) for f in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks


def cpu_s_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the tree used between two ``tree_cpu_ticks`` reads.
    Taken per process: the PySpark worker daemon ignores SIGCHLD, so a
    worker that exits takes its CPU time with it instead of adding it
    to the daemon's, and a difference of sums would go negative. A
    process that exits in between counts nothing."""
    ticks = sum(max(0, t - before.get(pid, 0)) for pid, t in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes sharing it, so a sum over the forked Python
    workers does not count their common pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _rss_bytes(pid: int) -> int:
    """Resident set size, read from the kernel's counters."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree: the driver JVM's RSS
    plus the PSS of every other process. The JVM shares no pages with
    them, so its RSS equals its PSS, and reading its PSS would walk every
    page of its heap (up to about 40 ms a sample, on the CPUs the
    workload runs on). A child the JVM has just forked or spawned to run
    a command (Hadoop runs ``chmod`` that way when it writes) still shares
    the JVM's memory and reads as a second JVM until it execs, so
    processes still running the JVM's executable are left out. Such a
    child takes the name of the JVM thread that started it, so the
    process name does not tell it apart."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        jvm = _exe(self.jvm_pid)
        others = {p for p in process_tree(self.jvm_pid) - {self.jvm_pid} if _exe(p) != jvm}
        self.peak = max(self.peak, _rss_bytes(self.jvm_pid) + sum(_pss_bytes(p) for p in others))

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def finish(self) -> int:
        self._halt.set()
        self.join(timeout=5)
        self.sample()
        return self.peak


# ------------------------------------------------------------------ loop

def tail(samples: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, and
    which percentile that is; the maximum when that percentile would not
    reach the median (twenty samples or fewer)."""
    s = sorted(samples)
    if len(s) <= 20:
        return s[-1], 100
    k = len(s) - 11
    return s[k], round(100 * (k + 1) / len(s))


def best_pass(ops, value) -> float:
    """One pass's worth of ``value``: each operation's minimum over the
    timed passes, summed. The JIT keeps warming for several passes
    after the warm-up, and time taken by other tenants only ever adds,
    so the minimum is the steadiest figure of an operation's cost."""
    per_op: dict[str, list[float]] = {}
    for row, _ in ops:
        per_op.setdefault(row["name"], []).append(value(row))
    return sum(min(v) for v in per_op.values())


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "biosets_spark", "__init__.py")):
        print(f"perfbench: no biosets_spark package in {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(WORK, "runs", run_id)
    isolate(run_dir)
    try:
        return measure(args, run_dir)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_jvm() -> None:
    """End the driver JVM and wait for it: closing its stdin is how
    PySpark's gateway is told its parent is gone."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(args, run_dir: str) -> int:
    t0 = time.perf_counter()
    import __spark_entry__  # noqa: F401  (registers every query)
    import_s = time.perf_counter() - t0

    import workloads as W

    traced = bool(args.trace)
    stamp = run_stamp(args)
    sf_dir, oracles = prepare_tables()
    spark, setup_s = set_up(sf_dir, spark_conf(run_dir, traced), import_s)
    sc = spark.sparkContext

    from biosets_spark import release_pinned_indexes

    phase = lambda p: None  # noqa: E731  (set to a job property when traced)
    if args.workload == "omics_ingest":
        import data

        cohorts = {c.name: c for c in data.write_cohorts(os.path.join(run_dir, "cohorts"), args.seed)}
        names = list(cohorts)

        def run_op(name: str, group: str) -> W.OpResult:
            cache_dir = os.path.join(run_dir, "cache", group)
            os.makedirs(cache_dir)
            return W.run_cohort(spark, cohorts[name], cache_dir, args.seed, phase)

        def check(name: str, r: W.OpResult) -> str | None:
            return W.check_cohort(cohorts[name], *r.check)
    else:
        names = list(W.QUERY_WORKLOADS[args.workload])

        def run_op(name: str, group: str) -> W.OpResult:
            return W.run_query(spark, sf_dir, name, phase)

        def check(name: str, r: W.OpResult) -> str | None:
            return W.check_query(oracles[name], *r.check)

    failures = []
    jvm_pid = sc._gateway.proc.pid

    def run_checked(name: str, group: str) -> tuple[dict, W.OpResult]:
        """One operation, its check, then the release of every pin and
        cached table, so no operation reuses another's intermediates."""
        sc.setJobGroup(group, name)
        t_op, cpu0 = time.perf_counter(), tree_cpu_ticks(jvm_pid)
        try:
            r = run_op(name, group)
            cpu_s = cpu_s_between(cpu0, tree_cpu_ticks(jvm_pid))
            problem = check(name, r)
        except Exception as e:  # a failed operation is counted, not fatal
            r = W.OpResult(name, time.perf_counter() - t_op)
            cpu_s = cpu_s_between(cpu0, tree_cpu_ticks(jvm_pid))
            problem = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        t_h = time.perf_counter()
        pins = release_pinned_indexes()
        spark.catalog.clearCache()
        row = {"group": group, "name": name, "wall_s": r.wall_s, "cpu_s": cpu_s, "build_s": r.build_s,
               "collect_s": r.collect_s, "hygiene_s": time.perf_counter() - t_h,
               "pins_released": pins, "ok": problem is None}
        if problem:
            failures.append(f"{name}: {problem[:400]}")
            print(f"# FAIL {name}: {problem[:400]}", file=sys.stderr)
        return row, r

    for i, name in enumerate(W.WARM_UP[args.workload]):
        run_checked(name, f"warm{i}")

    tracer = None
    if traced:
        from spans import Tracer

        tracer = Tracer(sc)
        tracer.install()
        phase = lambda p: sc.setLocalProperty("perfbench.phase", p)  # noqa: E731

    rng = random.Random(args.seed)
    sampler = RssSampler(jvm_pid)
    sampler.start()
    persistent = lambda: sc._jsc.sc().getPersistentRDDs().size()  # noqa: E731
    cached_before = persistent() if traced else 0
    ops, passes = [], 0
    start = time.perf_counter()
    while passes < W.MIN_PASSES[args.workload] or time.perf_counter() - start < args.seconds:
        rng.shuffle(names)
        for name in names:
            row, r = run_checked(name, f"op{len(ops)}")
            row["pass"] = passes
            if traced:
                # cached RDDs that survived the release, counted once:
                # the growth since the previous operation
                cached_now = persistent()
                row["leaked_cached_rdds"] = cached_now - cached_before
                cached_before = cached_now
                row["catalyst"] = catalyst_phases(r.frames)
            ops.append((row, r))
        passes += 1
    peak_rss = sampler.finish()
    if tracer:
        tracer.uninstall()
    app_id = sc.applicationId
    spark.stop()

    walls = [row["wall_s"] for row, _ in ops]
    op_tail, tail_pct = tail(walls)
    attempted, failed = len(ops) + len(W.WARM_UP[args.workload]), len(failures)
    cache_bytes = sum(r.cache_bytes for _, r in ops)
    input_bytes = sum(r.input_bytes for _, r in ops)
    e2e = {"setup_s": (setup_s, "s"),
           "wall_s": (best_pass(ops, lambda row: row["wall_s"] + row["hygiene_s"]), "s"),
           "op_p50_s": (statistics.median(walls), "s"),
           "op_tail_s": (op_tail, "s"),
           "cpu_s": (best_pass(ops, lambda row: row["cpu_s"]), "s"),
           "peak_rss_mb": (peak_rss / 2**20, "MB")}
    extra = {"error_rate": failed / attempted, "op_tail_percentile": tail_pct, "passes": passes,
             "cache_bytes_per_input_byte": cache_bytes / input_bytes if input_bytes else None}
    result = {"stamp": stamp, "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "extra": extra, "failures": failures, "op_rows": [row for row, _ in ops]}
    if traced:
        import eventlog

        log = eventlog.parse(os.path.join(run_dir, "eventlog", app_id))
        layer, result["op_rows"] = per_layer(ops, tracer, log, passes)
        result["per_layer"] = {k: v for k, (v, _) in layer.items()}
        extra["tracing_overhead_s"] = tracing_overhead(stamp, e2e["wall_s"][0])
    # the last line carries the metrics BENCHMARK.json bounds or lists;
    # the rest are printed above it and kept in the results file
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        listed = [m["name"] for m in json.load(fh)["per_layer" if traced else "end_to_end"]]
    chosen = layer if traced else e2e
    metrics = {k: {"value": chosen[k][0], "unit": chosen[k][1]} for k in listed}
    path = save_result(args, result)
    report(args, e2e, extra, result, path)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def catalyst_phases(frames) -> dict[str, float]:
    """Summed analysis/optimization/planning seconds of the collected
    frames, from each frame's QueryExecution phase tracker."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for df in frames:
        phases = df._jdf.queryExecution().tracker().phases()
        for name in out:
            ph = phases.get(name)
            if ph.isDefined():
                out[name] += ph.get().durationMs() / 1e3
    return out


def per_layer(ops, tracer, log, n_passes: int) -> tuple[dict, list[dict]]:
    """Per-layer metrics, per pass, and one row per operation pairing
    its executed-plan operators with its stage metrics."""
    import eventlog
    from spans import OPERATOR_FAMILIES

    groups = eventlog.op_rows(log)
    fam_jobs = eventlog.family_jobs(log)
    rows_out = []
    for row, _ in ops:
        rows_out.append({**row, **groups.get(row["group"], {})})
    per = 1 / n_passes
    s, c = tracer.self_s, tracer.calls
    sum_row = lambda k: sum(r.get(k, 0) for r, _ in ops)  # noqa: E731
    cat = lambda k: sum(r["catalyst"][k] for r, _ in ops)  # noqa: E731
    ex = eventlog.totals(groups, {r["group"] for r, _ in ops})
    hits, misses = c["plans.cache_hit"], c["plans.cache_miss"]
    m = {
        "queries.build_s": (sum_row("build_s"), "s"),
        "queries.build_jobs": (sum(groups.get(r["group"], {}).get("build_jobs", 0) for r, _ in ops), "count"),
        "catalyst.analysis_s": (cat("analysis"), "s"),
        "catalyst.optimization_s": (cat("optimization"), "s"),
        "catalyst.planning_s": (cat("planning"), "s"),
        "tables.load_s": (s["tables.load"], "s"),
        "tables.load_calls": (c["tables.load"], "count"),
    }
    for fam in OPERATOR_FAMILIES:
        m[f"operators.{fam}.self_s"] = (s[f"operators.{fam}"], "s")
        m[f"operators.{fam}.calls"] = (c[f"operators.{fam}"], "count")
        m[f"operators.{fam}.jobs"] = (fam_jobs[fam], "count")
    m["operators.joins.pins_released"] = (sum_row("pins_released"), "count")
    m["exec.leaked_cached_rdds"] = (sum_row("leaked_cached_rdds"), "count")
    m["exec.collect_s"] = (sum_row("collect_s"), "s")
    units = {"exec.task_cpu_s": "s", "exec.gc_s": "s"}
    for k, v in ex.items():
        if k.removeprefix("exec.") not in eventlog.PEAK_FIELDS:
            m[k] = (v, units.get(k, "bytes" if k.endswith("_bytes") else "count"))
    m.update({
        "sources.discover_s": (s["sources.discover"], "s"),
        "sources.read_s": (s["sources.read"], "s"),
        "load.self_s": (s["load"], "s"),
        "schema.with_role_calls": (c["schema.with_role"], "count"),
        "schema.with_role_s": (s["schema.with_role"], "s"),
        "plans.fingerprint_s": (s["plans.fingerprint"], "s"),
        "plans.cache_miss_s": (s["plans.cache_miss"], "s"),
        "plans.cache_hit_s": (s["plans.cache_hit"], "s"),
        "plans.cache_bytes_written": (sum(r.cache_bytes for _, r in ops), "bytes"),
        "dataset.op_s": (s["dataset"], "s"),
    })
    out = {k: (v * per, unit) for k, (v, unit) in m.items()}
    # peaks over the whole run, not per pass
    for k in eventlog.PEAK_FIELDS:
        out["exec." + k] = (ex["exec." + k], "bytes")
    out["plans.cache_hit_ratio"] = (hits / (hits + misses) if hits + misses else 0.0, "ratio")
    return out, rows_out


def save_result(args, result: dict) -> str:
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                                 f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    _write_json(path, result)
    return path


# stamp fields an untraced run must share with a traced one for their
# walls to be compared
SAME_RUN_KIND = ("workload", "git_head", "nproc", "SPARK_GRAFT_CPUS", "sf")


def tracing_overhead(stamp: dict, traced_wall: float) -> float | None:
    """Traced wall_s minus the median wall_s of the untraced results on
    file from the same workload, commit, core counts and scale, if any."""
    import glob

    walls = []
    for p in glob.glob(os.path.join(WORK, "results", f"{stamp['workload']}-seed*-trace0-*.json")):
        with open(p, encoding="utf-8") as fh:
            other = json.load(fh)
        if all(other["stamp"].get(k) == stamp[k] for k in SAME_RUN_KIND):
            walls.append(other["end_to_end"]["wall_s"])
    return traced_wall - statistics.median(walls) if walls else None


def report(args, e2e: dict, extra: dict, result: dict, path: str) -> None:
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(result['op_rows'])} "
          f"passes={extra['passes']} results={os.path.relpath(path, ROOT)}")
    for k, (v, unit) in e2e.items():
        print(f"#   {k:<28} {v:12.4f} {unit}")
    print(f"#   {'error_rate':<28} {extra['error_rate']:12.4f} ratio")
    print(f"#   op_tail_s is p{extra['op_tail_percentile']} of {len(result['op_rows'])} operations")
    if extra["cache_bytes_per_input_byte"] is not None:
        print(f"#   {'cache_bytes_per_input_byte':<28} {extra['cache_bytes_per_input_byte']:12.4f} ratio")
    if args.trace:
        ov = extra.get("tracing_overhead_s")
        print("#   tracing overhead: " + (f"{ov:+.4f} s on wall_s" if ov is not None
                                          else "n/a (no matching untraced run on file)"))
        for k, v in result["per_layer"].items():
            print(f"#   {k:<36} {v:14.6f}")


if __name__ == "__main__":
    sys.exit(main())
