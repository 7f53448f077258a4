"""Benchmark runner: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``;
ops run back to back for ``--seconds`` (whole gate cycles for ``gates``);
outputs are checked against expectations computed outside the engine.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The exit code is 1 when any unit failed its check.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extract", "crawl", "recrawl", "gates")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _tree_rss_kb(root_pid: int) -> int:
    """Resident memory (kB) of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
            children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_KB
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler(threading.Thread):
    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_kb = 0
        self._stop_ev = threading.Event()

    def run(self) -> None:
        while not self._stop_ev.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop_ev.wait(self.period_s)

    def stop(self) -> float:
        self._stop_ev.set()
        self.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024


def tail(durations: list[float]) -> tuple[float, float]:
    """Tail op latency and its percentile: the highest percentile with at
    least 10 ops beyond it, but never below p90 (nearest rank)."""
    d = sorted(durations)
    n = len(d)
    k = max(n - 11, math.ceil(0.9 * n) - 1)
    return d[k], 100.0 * (k + 1) / n


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM (and with it
    every Python worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return  # already stopped
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def environment(spark, cpus: int) -> dict:
    import pyspark

    return {
        "cpus": cpus,
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "scrapelect_spark")):
        print(f"perfbench: no scrapelect_spark package under {ROOT}", file=sys.stderr)
        return 2
    # executors' Python workers import the package and these modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    out_root = os.path.join(ROOT, ".bench_out")
    workdir = os.path.join(out_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    load_before = os.getloadavg()

    from common import Ctx
    from spans import Tracer

    from scrapelect_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(workdir, "events")
    tracer = None
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
        tracer = Tracer()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return _run(args, spark, Ctx(spark, args.seed, cpus, workdir, tracer), event_dir, load_before)
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, spark, ctx, event_dir: str, load_before) -> int:
    session_s = time.perf_counter() - T_PROC0
    tracer = ctx.tracer
    if tracer:
        from scrapelect_spark.operators import extract

        tracer.wrap(extract, "compile_scrp", "plans.compile_scrp", "plans")
    wl = _load(args.workload)(ctx)
    inputs = wl.setup()
    setup_s = time.perf_counter() - T_PROC0

    # ---- timed phase: closed loop, one client
    sampler = RssSampler()
    sampler.start()
    results, walls = [], []
    t_start = time.perf_counter()
    i = 0
    while time.perf_counter() - t_start < args.seconds or i % wl.cycle:
        if tracer:
            tracer.op = i
        a_wall = time.time()
        a = time.perf_counter()
        if tracer:
            with tracer.span(f"{wl.name}.op", wl.layer):
                r = wl.op(i)
        else:
            r = wl.op(i)
        b = time.perf_counter()
        walls.append((a_wall, a_wall + (b - a)))
        results.append(r)
        i += 1
    wall = time.perf_counter() - t_start
    peak_rss_mb = sampler.stop()
    if tracer:
        tracer.op = None

    t_check = time.perf_counter()
    failed = sum(r.failed for r in results) + wl.check(results)
    check_s = time.perf_counter() - t_check
    attempted = sum(r.units for r in results)
    failed = min(failed, attempted)
    durations = [b - a for a, b in walls]
    tail_s, tail_pct = tail(durations)
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (attempted / wall, "units/s"),
        "op_p50_s": (statistics.median(durations), "s"),
        "op_tail_s": (tail_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    record = {
        "workload": wl.name,
        "unit_of_work": wl.unit,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **environment(spark, ctx.cpus),
        "load_before": load_before,
        "inputs": inputs,
        "session_s": round(session_s, 3),
        "setup_phases": ctx.phases,
        "ops": len(durations),
        "op_s": [round(d, 3) for d in durations],
        "op_tail_percentile": round(tail_pct, 1),
        "timed_wall_s": round(wall, 3),
        "check_s": round(check_s, 3),
        "failed_share": {"value": failed / attempted, "unit": "ratio"},
    }

    metrics = _layers(ctx, wl, results, walls, e2e, spark, event_dir, record) if tracer else e2e
    stop_spark(spark)
    record["load_after"] = os.getloadavg()
    print("perfbench-record " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def _load(name: str):
    if name == "extract":
        from wl_extract import Extract as W
    elif name == "crawl":
        from wl_crawl import Crawl as W
    elif name == "recrawl":
        from wl_recrawl import Recrawl as W
    else:
        from wl_gates import Gates as W
    return W


def _layers(ctx, wl, results, walls, e2e, spark, event_dir, record) -> dict:
    """Per-layer metrics of a traced run, plus the per-op self-time table
    (printed, and written with the full record under .bench_out/)."""
    from spans import per_op_stats, read_event_log, self_time

    cores = ctx.cpus
    probed = wl.layers(results, walls)
    stop_spark(spark)  # also flushes and closes the event log
    jobs, tasks = read_event_log(event_dir)
    stats = per_op_stats(walls, jobs, tasks)
    specific = wl.log_layers(probed, results, stats, walls)
    n_ops = len(walls)
    units = sum(r.units for r in results)
    op_wall = sum(b - a for a, b in walls)
    task_s = sum(o.task_run_s for o in stats)

    order = ["checkpoint", "plans", "spark", "recrawl"]
    table, unattributed = [], 0.0
    for i, ((a, b), o) in enumerate(zip(walls, stats)):
        layered = [(s.layer, s.start, s.end) for s in ctx.tracer.op_spans(i)
                   if s.layer in order and s.name != f"{wl.name}.op"]
        layered += [("spark", ja, jb) for ja, jb in o.job_intervals]
        st = self_time(a, b, layered, order)
        unattributed += st["unattributed"]
        table.append((i, b - a, st))

    generic = {
        "spark.jobs_per_op": (sum(o.jobs for o in stats) / n_ops, "count"),
        "spark.stages_per_op": (sum(o.stages for o in stats) / n_ops, "count"),
        "spark.tasks_per_op": (sum(o.tasks for o in stats) / n_ops, "count"),
        "spark.task_busy_share": (task_s / (op_wall * cores), "ratio"),
        "spark.scheduler_delay_s_per_op": (sum(o.sched_delay_s for o in stats) / n_ops, "s"),
        "spark.shuffle_write_bytes_per_unit": (sum(o.shuffle_write for o in stats) / units, "B"),
        "spark.spill_bytes_per_op": (sum(o.spill for o in stats) / n_ops, "B"),
        "spark.gc_share": (sum(o.gc_s for o in stats) / task_s if task_s else 0.0, "ratio"),
        "trace.unattributed_share": (unattributed / op_wall, "ratio"),
        "trace.throughput_per_s": e2e["throughput_per_s"],
        "trace.op_p50_s": e2e["op_p50_s"],
    }
    for k in ("plans.compile_ms", "functions.tokenize_us_per_page", "functions.fallback_share",
              "functions.parse_us_per_page", "functions.interpret_us_per_page",
              "functions.json_us_per_page", "functions.pages_per_s_1core"):
        unit = {"plans.compile_ms": "ms", "functions.fallback_share": "ratio",
                "functions.pages_per_s_1core": "pages/s"}.get(k, "us")
        generic[k] = (specific.pop(k), unit)

    lines = [f"per-op self time (s) by layer, workload {wl.name}, {n_ops} ops"]
    cols = order + ["unattributed"]
    lines.append("op    wall  " + "  ".join(f"{c:>12s}" for c in cols))
    for i, w, st in table:
        lines.append(f"{i:<4d} {w:6.3f}  " + "  ".join(f"{st[c]:12.3f}" for c in cols))
    tot = {c: sum(st[c] for _, _, st in table) for c in cols}
    lines.append(f"sum  {op_wall:6.3f}  " + "  ".join(f"{tot[c]:12.3f}" for c in cols))
    lines.append("workload-specific per-layer metrics:")
    lines += [f"  {k} = {v:.6g}" for k, v in sorted(specific.items())]
    print("\n".join(lines))

    report = {
        **record,
        "per_layer": {k: v for k, (v, _u) in generic.items()},
        "workload_layers": specific,
        "self_time_by_op": [{"op": i, "wall_s": w, **st} for i, w, st in table],
        "spans": [dataclasses.asdict(s) for s in ctx.tracer.spans],
    }
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", f"{wl.name}-trace.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    return generic


if __name__ == "__main__":
    sys.exit(main())
