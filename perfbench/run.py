"""Closed-loop benchmark of dataframe_differ_spark.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload diff-migrate --seed 1 --seconds 10 --trace 0

One process, one Spark session ``local[<cores>]``, one client: each
operation starts when the previous one returns. Set-up generates the
workload's inputs from ``--seed`` and runs one checked warm-up pass; the
timed part then runs a fixed number of whole passes, about ``--seconds``
worth (at least two; see ``PASS_S``). The last line of standard output is
one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the bounded end-to-end ones
(``END_TO_END``); with ``--trace 1`` they are per-layer figures (see
``tracing.py``) from a run of at least four passes, untraced, traced,
traced, untraced, and the spans are written to ``.perfbench_out/``. The line before it is a
JSON object with the details: the wall-clock metrics (``REPORTED``), the
tail percentile and its sample count, every failure, per-pass and
per-operation times and the settings used.

The driver memory comes from ``SPARK_DRIVER_MEM`` (default ``3g``);
``get_spark`` would otherwise ask for 16g, more than a 15 GB host has.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from collections import Counter, defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

ROOT = os.getcwd()
DEFAULT_DRIVER_MEM = "3g"
#: A run makes ``max(MIN_PASSES, round(seconds / PASS_S))`` passes; a pass
#: takes about ``PASS_S`` on a 4-core host. A fixed count
#: keeps the number of samples, and so the tail percentile, the same from
#: run to run; a slower program measures for longer, up to
#: ``MAX_STRETCH`` times ``--seconds``.
MIN_PASSES = 2
PASS_S = 5.0
MAX_STRETCH = 4
#: Metrics of an untraced run, in output order. ``BENCHMARK.json`` bounds
#: the first three; the wall-clock ones after them are printed on the
#: detail line, since their run-to-run spread on a shared host exceeds any
#: bound the driver allows (see ``DESIGN.md``).
END_TO_END = ("setup_s", "cpu_s", "peak_rss_mb")
REPORTED = ("wall_s", "op_p50_s", "op_tail_s", "ops_per_s")
#: Metrics of a traced run (per traced pass), in output order.
PER_LAYER = (
    "queries.build_self_s",
    "tables.load_s",
    "tables.hit_ratio",
    "diff_core.calls",
    "diff_core.self_s",
    "catalyst.plan_s",
    "plan.broadcast_joins",
    "plan.exchanges",
    "exec.s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.spill_mb",
    "exec.gc_s",
    "session_cache.hits",
    "session_cache.misses",
    "session_cache.hit_ratio",
    "session_cache.build_s",
    "session_cache.self_s",
    "checkpoint.count",
    "checkpoint.s",
    "persistence.saves",
    "persistence.save_s",
    "persistence.loads",
    "persistence.load_s",
    "persistence.compact_s",
    "persistence.written_mb",
    "streaming.batches",
    "streaming.batch_s",
    "streaming.input_rows",
    "streaming.self_s",
    "trace.wall_s",
    "trace.residual_s",
    "trace.untraced_wall_s",
    "trace.overhead_s",
)
#: Self-time metrics: with ``trace.residual_s`` they add up to ``trace.wall_s``.
SELF_TIME_METRICS = (
    "queries.build_self_s",
    "tables.load_s",
    "diff_core.self_s",
    "catalyst.plan_s",
    "exec.s",
    "session_cache.self_s",
    "checkpoint.s",
    "persistence.save_s",
    "persistence.load_s",
    "persistence.compact_s",
    "streaming.self_s",
)
UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio"}


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_checkout() -> None:
    """Refuse to run outside a checkout of the program."""
    for rel in ("dataframe_differ_spark/__init__.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; run from the "
                     "root of a dataframe_differ_spark checkout")


def configure_env(work: str) -> str:
    """Keep every file Spark and the queries write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xmn{young_mb(os.environ['SPARK_DRIVER_MEM'])}m' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    return tmp


def young_mb(driver_mem: str) -> int:
    """A fixed young generation, a quarter of the driver heap.

    Left adaptive, the JVM sized it differently from run to run and the
    driver's resident memory moved by a third; fixed, by a few percent.
    """
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    mem = driver_mem.strip().lower().rstrip("b")
    mb = float(mem[:-1]) * units[mem[-1]] if mem[-1] in units else float(mem) / 2**20
    return max(64, int(mb // 4))


def redirect_scratch_root(tmp: str) -> None:
    """``run_scoped_artifact_path`` roots its scratch stores at ``/tmp``;
    move that root into the run's work dir (the path is otherwise kept)."""
    import dataframe_differ_spark.operators.persistence as persistence

    orig = persistence.run_scoped_artifact_path

    def run_scoped_artifact_path(prefix: str, sf_dir: str) -> str:
        return os.path.join(tmp, os.path.relpath(orig(prefix, sf_dir), "/tmp"))

    persistence.run_scoped_artifact_path = run_scoped_artifact_path


class PeakRss:
    """Peak resident memory of this process plus the driver JVM."""

    def __init__(self, jvm_pid: int):
        self.pids = (os.getpid(), jvm_pid)

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def read_mb(self) -> list[float]:
        """Peak MB since :meth:`reset`, per process (Python, JVM)."""
        peaks = []
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks.append(int(line.split()[1]) / 1024)
        return peaks


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process under it (the
    driver JVM, PySpark's worker daemon), reaped children included."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ticks = 0
    for pid, (_, t) in procs.items():
        p = pid
        while p in procs and p != root:
            p = procs[p][0]
        if p == root:
            ticks += t
    return ticks / os.sysconf("SC_CLK_TCK")


def percentile_tail(lat: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least 10 samples beyond it
    (nearest rank), the percentile, and the sample count. With 10 samples or
    fewer no percentile qualifies, and the maximum is reported as p100."""
    s = sorted(lat)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def layer_metrics(spans, counters: Counter) -> dict[str, float]:
    """Per-layer totals for one traced pass."""
    from tracing import self_times_by_span

    own = self_times_by_span(spans)
    t: dict[str, float] = defaultdict(float)
    for sp in spans:
        if sp.layer == "persistence":
            kind = {"save_artifact": "save", "load_artifact": "load"}.get(sp.name, "compact")
            t[f"persistence.{kind}_s"] += own[sp.id]
        else:
            t[sp.layer] += own[sp.id]
    m = {
        "queries.build_self_s": t["queries"],
        "tables.load_s": t["tables"],
        "diff_core.self_s": t["diff_core"],
        "catalyst.plan_s": t["catalyst"],
        "exec.s": t["exec"],
        "session_cache.self_s": t["session_cache"],
        "checkpoint.s": t["checkpoint"],
        "persistence.save_s": t["persistence.save_s"],
        "persistence.load_s": t["persistence.load_s"],
        "persistence.compact_s": t["persistence.compact_s"],
        "streaming.self_s": t["streaming"],
    }
    c = counters
    m["tables.hit_ratio"] = c["tables.hits"] / c["tables.calls"] if c["tables.calls"] else 0.0
    lookups = c["session_cache.hits"] + c["session_cache.misses"]
    m["session_cache.hit_ratio"] = c["session_cache.hits"] / lookups if lookups else 0.0
    m["diff_core.calls"] = sum(1 for sp in spans if sp.layer == "diff_core")
    m["persistence.written_mb"] = c["persistence.written_bytes"] / 2**20
    for name in PER_LAYER:
        if name not in m and name in c:
            m[name] = c[name]
    return m


def run_pass(ops, ctx, workload, seed, index, traced, acct, failures, latencies, state):
    """Run every operation once; return the pass wall time."""
    from workloads import PINNED_FIRST

    from dataframe_differ_spark.operators import session_cache

    session_cache._CACHE.pop(ctx.spark, None)
    pinned = [op for op in ops if op.name == PINNED_FIRST.get(workload)]
    order = [op for op in ops if op not in pinned]
    random.Random(seed * 1_000_003 + index).shuffle(order)
    order = pinned + order
    tracer = ctx.tracer
    if tracer:
        tracer.enabled = traced
    cpu0 = tree_cpu_s(os.getpid())
    t_pass = time.perf_counter()
    for op in order:
        if traced:
            acct.start()
        state["attempted"] += 1
        problem = None
        out = None
        with tracer.operation(op.name) if traced else nullcontext():
            t0 = time.perf_counter()
            try:
                out = op.run()
            except Exception as e:  # a failed operation is counted, not fatal
                problem = f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
        if problem is None:
            if op.check_every:
                problem = op.check(out)
            elif op.wrong:
                problem = op.wrong
        if problem is None:
            latencies[op.name].append(dt)
        else:
            state["failed"] += 1
            failures.append({"op": op.name, "pass": index, "problem": problem[:500]})
        if traced:
            tracer.add(acct.finish())
    wall = time.perf_counter() - t_pass
    state["cpu_s"].append(tree_cpu_s(os.getpid()) - cpu0)
    if tracer:
        tracer.enabled = False
    return wall


def main(argv: list[str]) -> int:
    since_start = seconds_since_process_start()
    t_start = time.perf_counter() - since_start
    # SIGTERM unwinds through the ``finally`` below, which stops the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    check_checkout()
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tmp = configure_env(work)
    try:
        return measure(args, work, tmp, out_dir, t_start)
    finally:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work, tmp, out_dir, t_start) -> int:
    from tracing import ExecAccounting, Tracer
    from workloads import Context, build_ops, prepare_inputs

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
    redirect_scratch_root(tmp)

    from dataframe_differ_spark.queries import load_all
    from dataframe_differ_spark.session import get_spark

    registry = load_all()
    if tracer:
        tracer.rebind()
    # Inputs and expected answers need no session: make them while it starts.
    with ThreadPoolExecutor(max_workers=1) as pool:
        pending = pool.submit(
            prepare_inputs, args.workload, args.seed, work, ROOT, registry
        )
        t_boot = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t_inputs = time.perf_counter()
        inputs = pending.result()
    ctx = Context(spark, registry, tracer)
    ops = build_ops(ctx, args.workload, inputs)
    t_warm = time.perf_counter()
    acct = ExecAccounting(spark) if tracer else None

    # Warm-up at the workload's own scale, checking each output once.
    spark.range(1).write.format("noop").mode("overwrite").save()
    failures: list[dict] = []
    from dataframe_differ_spark.operators import session_cache

    warm_s = {}
    for op in ops:
        try:
            t0 = time.perf_counter()
            out = (op.checked_run or op.run)()
            t1 = time.perf_counter()
            op.wrong = op.check(out)
            warm_s[op.name] = {"run": t1 - t0, "check": time.perf_counter() - t1}
        except Exception as e:  # reported per timed run below
            op.wrong = f"warm-up {type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        if op.wrong:
            failures.append({"op": op.name, "pass": "warm-up", "problem": op.wrong[:500]})
    session_cache._CACHE.pop(spark, None)
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    rss = PeakRss(jvm_pid)
    rss.reset()

    setup_s = time.perf_counter() - t_start
    latencies: dict[str, list[float]] = defaultdict(list)
    state = {"attempted": 0, "failed": 0, "cpu_s": []}
    walls = {False: [], True: []}
    per_pass: list[dict[str, float]] = []
    all_spans = []
    passes = max(MIN_PASSES, round(args.seconds / PASS_S))
    if tracer:
        # Untraced, traced, traced, untraced: the first pass after the
        # warm-up is the slowest, and this order cancels that drift out of
        # the tracing overhead.
        passes = max(passes, 4)
    t0 = time.perf_counter()
    index = 0
    while index < passes and time.perf_counter() - t0 < MAX_STRETCH * args.seconds:
        traced = bool(tracer) and index % 4 in (1, 2)
        wall = run_pass(
            ops, ctx, args.workload, args.seed, index, traced, acct, failures, latencies, state
        )
        walls[traced].append(wall)
        if traced:
            spans, counters = tracer.take()
            m = layer_metrics(spans, counters)
            m["trace.wall_s"] = wall
            per_pass.append(m)
            all_spans += spans
        index += 1
    timed_s = time.perf_counter() - t0
    peak_rss = rss.read_mb()
    if acct:
        acct.close()

    lat = [x for v in latencies.values() for x in v]
    tail, tail_pct, n = percentile_tail(lat) if lat else (0.0, 0.0, 0)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": index,
        "ops_per_pass": len(ops),
        "op_tail_percentile": tail_pct,
        "op_tail_samples": n,
        "error_rate": state["failed"] / state["attempted"],
        "failures": failures,
        "setup_parts_s": {
            "imports_and_load_all": t_boot - t_start,
            "session": t_inputs - t_boot,
            "inputs_after_session": t_warm - t_inputs,
            "warm_up_and_checks": t_start + setup_s - t_warm,
        },
        "warm_up_s": warm_s,
        "spark_driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "cores": os.environ["SPARK_GRAFT_CPUS"],
        "timed_s": timed_s,
        "pass_wall_s": walls[False] + walls[True],
        "pass_cpu_s": state["cpu_s"],
        "peak_rss_python_jvm_mb": peak_rss,
        "op_median_s": {k: statistics.median(v) for k, v in sorted(latencies.items())},
    }
    if args.trace:
        metrics = traced_metrics(per_pass, walls[False])
        path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        Tracer.write(path, all_spans)
        detail["spans"] = os.path.relpath(path, ROOT)
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": min(walls[False]),
            "op_p50_s": statistics.median(lat) if lat else 0.0,
            "op_tail_s": tail,
            "ops_per_s": len(lat) / sum(walls[False]),
            "cpu_s": min(state["cpu_s"]),
            "peak_rss_mb": sum(peak_rss),
        }
        detail["reported"] = {
            k: {"value": metrics[k], "unit": unit_of(k)} for k in REPORTED
        }
        metrics = {k: metrics[k] for k in END_TO_END}
    print(json.dumps(detail))
    result = {
        "correct": state["failed"] == 0 and not failures,
        "attempted": state["attempted"],
        "failed": state["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def traced_metrics(per_pass: list[dict[str, float]], untraced: list[float]) -> dict[str, float]:
    """Mean per traced pass of every per-layer metric."""
    out = {}
    for name in PER_LAYER:
        if name.startswith("trace.") and name != "trace.wall_s":
            continue
        out[name] = statistics.fmean(p.get(name, 0.0) for p in per_pass)
    out["trace.residual_s"] = out["trace.wall_s"] - sum(out[k] for k in SELF_TIME_METRICS)
    out["trace.untraced_wall_s"] = statistics.fmean(untraced)
    out["trace.overhead_s"] = out["trace.wall_s"] - out["trace.untraced_wall_s"]
    return {k: out[k] for k in PER_LAYER}


def unit_of(name: str) -> str:
    if name == "ops_per_s":
        return "1/s"
    for suffix, unit in UNITS.items():
        if name.endswith((suffix, "." + suffix[1:])):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
