"""Shared machinery: session, clocks, /proc sampling, percentiles,
streaming-checkpoint logs, the progress listener and event-log reading.

Everything here observes the engine from outside: it calls public
functions, reads the files a streaming query leaves in its checkpoint,
and reads the Spark event log of the benchmark's own session.
"""

from __future__ import annotations

import json
import math
import os
import tempfile
import threading
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
PAGE = os.sysconf("SC_PAGE_SIZE")
TICKS = os.sysconf("SC_CLK_TCK")


@dataclass
class Result:
    """What a workload run returns: its set-up time, the end-to-end
    metrics other than set-up and memory, the metrics under the
    workload's own names ({name: (value, unit)}), the number of items
    checked and one line per failed item."""

    setup_s: float
    e2e: dict
    named_metrics: dict
    attempted: int
    failures: list


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


# --- /proc ---------------------------------------------------------------


def proc_table():
    """pid -> (ppid, rss pages, cpu ticks incl. reaped children, comm)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read()
        except OSError:
            continue
        cut = s.rfind(b")")
        f = s[cut + 2 :].split()
        comm = s[s.find(b"(") + 1 : cut].decode(errors="replace")
        out[int(d)] = (int(f[1]), int(f[21]), sum(int(x) for x in f[11:15]), comm)
    return out


def process_tree(root: int, exclude: set[int]):
    """(rss MB, cpu s) summed over ``root`` and its descendants, minus
    the subtrees rooted at ``exclude``. Of the JVM's children only the
    Python ones count towards RSS: the others are helper processes the
    JVM spawns, which until they exec share the JVM's memory and report
    its RSS as their own."""
    table = proc_table()
    kids: dict[int, list[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    rss = cpu = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in exclude or pid not in table:
            continue
        ppid, pages, ticks, comm = table[pid]
        if table.get(ppid, (0, 0, 0, ""))[3] != "java" or comm.startswith("python"):
            rss += pages
        cpu += ticks
        stack.extend(kids.get(pid, ()))
    return rss * PAGE / 2**20, cpu / TICKS


class RssSampler:
    """Peak resident memory of this process tree (driver Python, driver
    JVM, Python workers), sampled every ``period`` seconds. Processes in
    ``exclude`` (the load generator) and their children are left out."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self):
        rss, _ = process_tree(os.getpid(), self.exclude)
        self.peak_mb = max(self.peak_mb, rss)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()


# --- session -------------------------------------------------------------


def start_session(work: str, trace: bool):
    """The engine session, sized for 4 cores, with every scratch path
    inside ``work``. The traced run adds an uncompressed event log."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    confs = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    from cdc_publisher_spark.session import get_session

    spark = get_session(app_name="perfbench", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# --- streaming checkpoint logs ------------------------------------------


def _log_entries(log_dir: str):
    """JSON lines of every file of a compacting metadata log, ``.compact``
    files included (they carry the entries of all earlier batches)."""
    if not os.path.isdir(log_dir):
        return
    for name in os.listdir(log_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # line 0 is the log version, e.g. "v1"
            if line.strip():
                yield json.loads(line)


def source_file_batches(checkpoint: str, source: int = 0) -> dict[str, int]:
    """Input file name -> batch id that read it, from the file source's
    log under ``<checkpoint>/sources/<n>``."""
    return {
        os.path.basename(e["path"]): int(e["batchId"])
        for e in _log_entries(os.path.join(checkpoint, "sources", str(source)))
    }


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> wall time its offsets were committed (mtime of
    ``<checkpoint>/commits/<id>``)."""
    d = os.path.join(checkpoint, "commits")
    out = {}
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
    return out


def tick_latencies_ms(ticks, file_batch: dict[str, int], commits: dict[int, float]):
    """Per tick (file name, due time): commit time of the batch that
    read the file minus the due time, in ms. Ticks whose file was never
    committed come back in the second list."""
    lat, lost = [], []
    for name, due in ticks:
        b = file_batch.get(name)
        if b is None or b not in commits:
            lost.append(name)
        else:
            lat.append((commits[b] - due) * 1000.0)
    return lat, lost


# --- event log -----------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 2**-20),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 2**-20),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 2**-20),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 2**-20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 2**-20),
    "internal.metrics.input.bytesRead": ("input_mb", 2**-20),
    "internal.metrics.output.bytesWritten": ("output_mb", 2**-20),
}
STAGE_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb", "output_mb")


def read_event_log(log_dir: str):
    """(jobs, stages, spans) from the session's event log: jobs as
    {job id: (group, submit ms, stage ids)}, stages as
    {(stage id, attempt): {tasks, executor_run_s, ...}}, spans as
    [(submit ms, end ms)] per finished job. Read after the session
    stops, when the log is complete."""
    jobs, stages, ends = {}, {}, {}
    files = [os.path.join(d, n) for d, _, ns in os.walk(log_dir) for n in ns if not n.startswith(("appstatus", "."))]
    for path in sorted(files):  # rolling logs: a directory of event files
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = (group, e["Submission Time"], e["Stage IDs"])
                elif '"SparkListenerJobEnd"' in line:
                    e = json.loads(line)
                    ends[e["Job ID"]] = e["Completion Time"]
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    m = {k: 0.0 for k in STAGE_FIELDS[3:]}
                    m["tasks"] = info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", ()):
                        hit = _ACC.get(acc.get("Name"))
                        if hit:
                            m[hit[0]] += float(acc.get("Value", 0)) * hit[1]
                    stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = m
    spans = [(jobs[j][1], end) for j, end in ends.items() if j in jobs]
    return jobs, stages, spans


def busy_seconds(spans, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] (epoch s) during which at least one job ran."""
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a / 1000, lo), min(b / 1000, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy


def stage_totals(jobs, stages, keep) -> dict[str, float]:
    """Totals over the jobs for which ``keep(group, submit_ms)`` holds:
    job, stage and task counts and the summed task metrics."""
    chosen = {j: v for j, v in jobs.items() if keep(v[0], v[1])}
    ids = {s for _, _, ss in chosen.values() for s in ss}
    out = {k: 0.0 for k in STAGE_FIELDS}
    out["jobs"] = len(chosen)
    for (sid, _), m in stages.items():
        if sid in ids:
            out["stages"] += 1
            for k, v in m.items():
                out[k] += v
    return out
