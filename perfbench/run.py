"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_publish --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (names and units in BENCHMARK.json, meanings in
perfbench/README.md). Earlier lines carry the metrics under the names
the workload definitions use, the failing items, and in the traced run
the full per-layer breakdown and the tracing overhead.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

#: The workloads BENCHMARK.json lists, then monitor_suite, which is run
#: by hand (see perfbench/wl_monitor.py).
WORKLOADS = {"cdc_publish": "wl_cdc", "batch_queries": "wl_batch", "monitor_suite": "wl_monitor"}
class Run:
    """What a workload needs: paths, clocks, the session and the sampler,
    plus the per-layer results it fills in."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(common.ROOT, ".perfbench_out", f"run-{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.gen_s = 0.0  # input generation, excluded from setup_s
        self.rss = common.RssSampler().start()
        self.spark = None
        self.detail: dict[str, tuple[float, str]] = {}  # per-layer, by workload name
        self.unmeasured: dict[str, str] = {}
        self.window = (0.0, 0.0)  # epoch seconds of the measured work
        self.cpu0 = self.cpu1 = 0.0
        self.cpu_excluded = 0.0  # CPU of reaped processes that are not ours to count (the generator)
        self.event_log_hook = None  # workload's own reading of the event log

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, fn, *args):
        t = time.perf_counter()
        out = fn(*args)
        self.gen_s += time.perf_counter() - t
        return out

    def session(self):
        self.spark = common.start_session(self.work, self.trace)
        return self.spark

    def setup_done(self) -> float:
        return time.perf_counter() - T_START - self.gen_s

    def measure_begin(self):
        self.window = (time.time(), 0.0)
        self.cpu0 = common.process_tree(os.getpid(), self.rss.exclude)[1]

    def measure_end(self):
        """End of the measured work; peak RSS covers set-up and the
        measured work, not the output checks that follow."""
        self.window = (self.window[0], time.time())
        self.cpu1 = common.process_tree(os.getpid(), self.rss.exclude)[1]
        self.rss.stop()

    def put(self, name: str, value: float, unit: str):
        self.detail[name] = (float(value), unit)

    def stop(self):
        """Stop the session and its JVM, wait for every child process."""
        if self.spark is not None:
            sc = self.spark.sparkContext
            proc = getattr(sc._gateway, "proc", None)
            self.spark.stop()
            sc._gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        _reap_children()
        self.rss.stop()


def _reap_children(timeout: float = 20.0):
    deadline = time.monotonic() + timeout
    while True:
        table = common.proc_table()
        kids = [p for p, row in table.items() if row[0] == os.getpid()]
        if not kids:
            return
        for p in kids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
            if time.monotonic() > deadline:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _generic(run: Run, e2e_traced: dict) -> dict[str, float]:
    """The per-layer metrics every workload reports: Spark task metrics
    of the measured window from the event log and the end-to-end
    metrics as measured with tracing on."""
    lo, hi = run.window
    jobs, stages, spans = common.read_event_log(run.path("eventlog"))
    if run.event_log_hook is not None:
        run.event_log_hook(run, jobs, stages)
    tot = common.stage_totals(jobs, stages, lambda g, t: lo * 1000 <= t <= hi * 1000)
    out = {f"spark.{k}": v for k, v in tot.items()}
    out["spark.job_busy_s"] = common.busy_seconds(spans, lo, hi)
    out["measure.wall_s"] = hi - lo
    for k, v in e2e_traced.items():
        out[f"traced.{k}"] = v
    return out


def _record_untraced(workload: str, seed: int, metrics: dict):
    d = os.path.join(common.ROOT, ".perfbench_out", "untraced")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}.jsonl"), "a", encoding="utf-8") as f:
        f.write(json.dumps({"seed": seed, "metrics": metrics}) + "\n")


def _overhead(workload: str, traced: dict) -> dict:
    """Traced minus untraced for each end-to-end metric, against the
    median of the untraced runs recorded in this checkout."""
    path = os.path.join(common.ROOT, ".perfbench_out", "untraced", f"{workload}.jsonl")
    if not os.path.exists(path):
        return {"unmeasured": "no untraced run of this workload recorded in this checkout yet"}
    with open(path, encoding="utf-8") as f:
        rows = [json.loads(line)["metrics"] for line in f if line.strip()]
    out = {}
    for k, v in traced.items():
        base = common.median([r[k] for r in rows])
        out[k] = {"traced": v, "untraced_median": base, "overhead": v - base,
                  "overhead_share": (v - base) / base, "untraced_runs": len(rows)}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(common.ROOT, "cdc_publisher_spark")):
        print("perfbench: engine package cdc_publisher_spark not found next to perfbench/", file=sys.stderr)
        return 2
    wl = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    with open(os.path.join(common.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)  # the metric names and units to report

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.event_log_hook = getattr(wl, "event_log_metrics", None)
    try:
        res = wl.run(run)
    finally:
        run.stop()
    e2e = dict(res.e2e)
    e2e["peak_rss_mb"] = run.rss.peak_mb
    e2e["setup_s"] = res.setup_s
    e2e["cpu_s"] = run.cpu1 - run.cpu0 - run.cpu_excluded
    attempted, failed = res.attempted, len(res.failures)

    named = {k: {"value": v, "unit": u} for k, (v, u) in res.named_metrics.items()}
    named["setup_s"] = {"value": res.setup_s, "unit": "s"}
    named["peak_rss_mb"] = {"value": run.rss.peak_mb, "unit": "MB"}
    named["cpu_s"] = {"value": e2e["cpu_s"], "unit": "s"}
    named["error_rate"] = {"value": failed / attempted, "unit": "fraction"}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "metrics": named, "failures": res.failures[:50]}, ensure_ascii=False))

    if args.trace:
        generic = _generic(run, e2e)
        detail = {k: {"value": v, "unit": u} for k, (v, u) in sorted(run.detail.items())}
        print(json.dumps({"per_layer_detail": detail, "unmeasured": run.unmeasured,
                          "tracing_overhead": _overhead(args.workload, e2e)}, ensure_ascii=False))
        metrics = {m["name"]: {"value": generic[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        _record_untraced(args.workload, args.seed, e2e)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
