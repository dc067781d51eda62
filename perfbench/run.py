"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_sf01 --seed 1 --seconds 5 --trace 0

Run from the repository root. Generates the workload's inputs from the seed
under ``.perfbench_run/``, starts the engine's Spark session, checks the
outputs once, then runs whole passes of the workload until ``--seconds`` have
elapsed, and prints one JSON object as the last line of standard output:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``; the per-layer metrics with ``--trace 1``, which
also turns on Spark's event log and tags every span with a job group).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 2  # cold set-ups per run; setup_s is their median


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def pin_environment(work: Path, trace: bool) -> dict:
    """Everything the engine reads from the environment, fixed per run."""
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    submit = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{work / 'eventlog'}",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # the session default (16g) can exceed physical memory on small hosts
        "SPARK_GRAFT_DRIVER_MEM": f"{min(1024, phys_mb // 4)}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYTHONPATH": str(ROOT),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    return env


class RssMonitor:
    """Peak resident set of this process's descendants (the JVM and its
    Python workers), sampled from /proc while running."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def descendants(root: int) -> list[int]:
        parent = {}
        for d in Path("/proc").iterdir():
            if d.name.isdigit():
                try:
                    stat = (d / "stat").read_text()
                except OSError:
                    continue
                parent[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
        out, frontier = [], [root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            out += kids
            frontier += kids
        return out

    @staticmethod
    def rss_kb(pid: int) -> int:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        # the process tree is rescanned once a second and resident sizes read
        # every 100 ms: a full /proc scan per sample would compete with the
        # driver thread for the interpreter
        me, pids, tick = os.getpid(), [], 0
        while not self._stop.wait(0.1):
            if tick % 10 == 0:
                pids = self.descendants(me)
            tick += 1
            self.peak_kb = max(self.peak_kb, sum(self.rss_kb(p) for p in pids))

    def __enter__(self) -> "RssMonitor":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def shutdown_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while RssMonitor.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-pins", action="store_true", help="refresh: record mart pins")
    args = ap.parse_args()
    if args.write_pins and args.workload != "refresh":
        ap.error("--write-pins applies to the refresh workload")

    if not (ROOT / "etl_for_dumdums_spark" / "__init__.py").is_file():
        log(f"the engine package is not next to {HERE.name}/; run from a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))

    work = ROOT / ".perfbench_run" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    trace = bool(args.trace)
    env = pin_environment(work, trace)
    try:
        return run(args, work, env, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path, env: dict, trace: bool) -> int:
    from spans import Tracer
    from workloads import WORKLOADS, Context, storage_bytes

    wl = WORKLOADS[args.workload]()
    from etl_for_dumdums_spark.session import get_spark

    def set_group(span_id):
        ctx.spark.sparkContext.setJobGroup(f"s{span_id}", "")

    def restore_group(parent):
        ctx.spark.sparkContext.setJobGroup(f"s{parent}" if parent is not None else "idle", "")

    tracer = Tracer(trace, set_group if trace else None, restore_group if trace else None)
    ctx = Context(None, tracer, log)

    # set-up, several times and each from cold: generate the inputs, launch
    # the JVM and start the session, register, one warm-up op. The JVMs of
    # all but the last set-up are shut down (untimed) before the next one.
    setup_times, starts, gen_times = [], [], []
    for i in range(SETUPS):
        if i:
            shutdown_spark(ctx.spark)
        shutil.rmtree(work / "inputs", ignore_errors=True)
        t0 = time.perf_counter()
        rows = wl.generate(args.seed, work / "inputs")
        t_session = time.perf_counter()
        gen_times.append(t_session - t0)
        ctx.spark = get_spark("perfbench")
        t_reg = time.perf_counter()
        starts.append(t_reg - t_session)
        wl.register(ctx)
        if i == 0:
            ctx.counters["register_s"] = time.perf_counter() - t_reg
        wl.warmup(ctx)
        setup_times.append(time.perf_counter() - t0)
    ctx.counters["session_start"] = starts
    app_id = ctx.spark.sparkContext.applicationId

    if args.write_pins:
        wl.check(ctx)
        (HERE / "pins.json").write_text(json.dumps(wl.digests, indent=1) + "\n")
        shutdown_spark(ctx.spark)
        log(f"wrote pins {wl.digests}")
        return 0

    t_check = time.perf_counter()
    failures = wl.check(ctx)
    check_s = time.perf_counter() - t_check
    for f in failures:
        log(f"check failed: {f}")

    # timed region: whole passes until --seconds have elapsed
    for key in ("merge", "serving", "storage_leftover_bytes"):
        ctx.counters.pop(key, None)
    first_span = len(tracer.spans)
    results, pass_times = [], []
    with RssMonitor() as rss:
        t_start = time.perf_counter()
        while not pass_times or time.perf_counter() - t_start < args.seconds:
            t_pass = time.perf_counter()
            results += wl.run_pass(ctx, len(pass_times))
            pass_times.append(time.perf_counter() - t_pass)
            if trace:
                ctx.counters["storage_leftover_bytes"] = max(
                    ctx.counters.get("storage_leftover_bytes", 0), storage_bytes(ctx.spark)
                )
        timed_s = time.perf_counter() - t_start
    op_ids = [s.id for s in tracer.spans[first_span:] if s.name == "op"]
    if trace and hasattr(wl, "stored_bytes_per_row"):
        ctx.counters["stored_bytes_per_row"] = wl.stored_bytes_per_row()
    shutdown_spark(ctx.spark)

    ok = [r.seconds for r in results if r.ok]
    n_failed = sum(not r.ok for r in results) + len(failures)
    attempted = len(results) + wl.checked
    pass_s = statistics.median(pass_times)
    if trace:
        import layers
        from eventlog import parse

        t_parse = time.perf_counter()
        groups = parse(work / "eventlog" / app_id)
        values = layers.compute(
            tracer.spans, op_ids, len(pass_times), groups, ctx.counters,
            int(env["SPARK_GRAFT_CPUS"]), pass_s,
        )
        metrics = {k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in values.items()}
        log(f"event log parsed in {time.perf_counter() - t_parse:.1f}s")
    else:
        deciles = statistics.quantiles(ok, n=10, method="inclusive") if len(ok) > 1 else ok * 9
        metrics = {
            "setup_s": {"value": statistics.median(setup_times), "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "op_p50_s": {"value": statistics.median(ok) if ok else 0.0, "unit": "s"},
            "op_p90_s": {"value": deciles[-1] if ok else 0.0, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_kb / 1024.0, "unit": "MB"},
        }
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "input_rows": rows,
        "generate_s": [round(t, 3) for t in gen_times],
        "setup_times_s": [round(t, 3) for t in setup_times],
        "session_start_s": [round(t, 3) for t in starts],
        "check_s": round(check_s, 3),
        "check_failures": failures,
        "timed_s": round(timed_s, 3),
        "passes": [round(t, 3) for t in pass_times],
        "ops": len(results),
        "op_median_s": {
            n: round(statistics.median(r.seconds for r in results if r.name == n), 3)
            for n in dict.fromkeys(r.name for r in results)
        },
    }))
    print(json.dumps({
        "correct": not failures and n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
