"""Host and Spark probes for the benchmark: VM-wide CPU accounting from
/proc/stat and the CPU time of the benchmark's own process tree, peak
RSS of the Spark processes and the JVM's live memory, a pure-Python CPU
canary, spans kept in memory, Spark's own event log attached to a
live context for the traced passes only, and a shutdown that waits for
every process Spark started to end.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[float, float]:
    """(busy, steal) CPU seconds summed over the whole VM since boot.

    busy = user + nice + system + irq + softirq (guest time is already
    inside user); idle, iowait and steal are not busy."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    steal = v[7] if len(v) > 7 else 0
    return busy / _TICK, steal / _TICK


def canary_s(n: int = 3_000_000) -> float:
    """Seconds for a fixed pure-Python loop: the CPU speed the window saw."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        # comm may hold spaces or parens; the ppid follows the last ')'
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the comm field: [0] state,
    [1] ppid, [19] start time in clock ticks after boot."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants() -> dict[int, str]:
    """pid -> start time of every live descendant of this process. The
    start time tells a process apart from a later one given its pid."""
    kids = _children()
    todo, out = list(kids.get(os.getpid(), [])), {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        v = _stat_fields(pid)
        if v is not None:
            out[pid] = v[19]
    return out


def _reap_children():
    """Collect the exit status of this process's own ended children."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def wait_ended(procs: dict[int, str], grace_s: float = 30.0):
    """Return once every process in procs has ended and been reaped.
    Those still running after grace_s get SIGTERM, and SIGKILL 5 s
    after that. An orphan's zombie is init's to reap: it is waited for,
    but for no longer than grace_s + 10 s."""
    give_up = time.monotonic() + grace_s + 10.0
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        _reap_children()
        alive, zombies = [], []
        for pid, start in procs.items():
            v = _stat_fields(pid)
            if v is not None and v[19] == start:
                (zombies if v[0] == "Z" else alive).append(pid)
        if not alive and (not zombies or time.monotonic() > give_up):
            return
        if alive and time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 5.0, signal.SIGKILL
        time.sleep(0.05)


def stop_spark():
    """Stop the Spark context and its JVM, and wait until every process
    they started (the JVM, the PySpark daemon and its workers) has
    ended. PySpark alone leaves the JVM running until this process
    exits, and it then ends on its own time. Safe to call more than
    once, and when the session never started."""
    from pyspark import SparkContext

    procs = descendants()
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    wait_ended(procs)
    wait_ended(descendants())


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants
    (reaped children included through cutime/cstime)."""
    kids = _children()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        v = raw[raw.rindex(")") + 2:].split()
        total += int(v[11]) + int(v[12]) + int(v[13]) + int(v[14])
    return total / _TICK


def spark_peak_rss_mb() -> tuple[float, dict]:
    """Sum of VmHWM over every descendant of this process (the Spark
    JVM, the PySpark daemon and its forked Python workers), and the
    per-process figures behind it."""
    kids = _children()
    todo, each = list(kids.get(os.getpid(), [])), {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
            each[f"{pid}:{status['Name'].strip()}"] = int(status["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError):
            continue
    return sum(each.values()), each


def jvm_live_mb(spark) -> float:
    """Heap and non-heap in use in the Spark JVM right after a full GC:
    what caches, broadcasts, blocks and compiled code actually hold,
    without the garbage a peak-RSS figure swings with."""
    jvm = spark.sparkContext._jvm
    # the first collection lets Spark's ContextCleaner drop blocks of
    # checkpoints nothing references any more; the second frees them
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


class Spans:
    """Spans (name, pass id, parent, start, end) kept in memory and
    written out with the run record; off in untraced passes."""

    def __init__(self):
        self.on = False
        self.rows: list[dict] = []

    def add(self, name: str, pass_id: str, parent: str | None,
            start: float, end: float):
        if self.on:
            self.rows.append({"name": name, "pass": pass_id, "parent": parent,
                              "start": start, "end": end})


class EventLog:
    """Spark's EventLoggingListener attached to the running context
    for the traced passes, detached (and flushed) afterwards, so the
    untraced passes of the same process pay nothing for it."""

    def __init__(self, spark, log_dir: str, name: str):
        sc = spark.sparkContext
        jvm, jsc = sc._jvm, sc._jsc.sc()
        os.makedirs(log_dir, exist_ok=True)
        conf = jsc.getConf()  # a copy: the live context is untouched
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        none = getattr(jvm.scala, "None$").__getattr__("MODULE$")
        self._bus = jsc.listenerBus()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, none, jvm.java.net.URI(f"file://{os.path.abspath(log_dir)}"),
            conf, jsc.hadoopConfiguration(),
        )
        self.path = os.path.join(log_dir, name)

    def __enter__(self):
        self._listener.start()
        self._bus.addToEventLogQueue(self._listener)
        return self

    def __exit__(self, *exc):
        # let the bus drain the last task/job events before detaching
        self._bus.waitUntilEmpty()
        self._bus.removeListener(self._listener)
        self._listener.stop()
        return False

    def events(self) -> list[dict]:
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]


def _covered_ms(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, end = 0.0, lo
    for a, b in cut:
        if b > end:
            covered += b - max(a, end)
            end = b
    return covered


def call_plan_metrics(events: list[dict], windows: dict[str, tuple[float, float]],
                      slots: int) -> dict[str, dict]:
    """Per job group (one call in one pass): the Spark-plan and UDF
    boundary figures, from the event log alone.

    windows maps job group -> (start, end) wall-clock seconds of the
    call as the driver saw it."""
    job_group, job_stages, job_span = {}, {}, {}
    stage_tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g in windows:
                job_group[e["Job ID"]] = g
                job_stages[e["Job ID"]] = e["Stage IDs"]
                job_span[e["Job ID"]] = [e["Submission Time"], None]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            stage_tasks.setdefault(e["Stage ID"], []).append(e)

    out = {}
    for g, (t0, t1) in windows.items():
        jobs = [j for j, gg in job_group.items() if gg == g]
        stages = {s for j in jobs for s in job_stages[j]}
        tasks = [t for s in stages for t in stage_tasks.get(s, [])]
        wall = max(t1 - t0, 1e-9)
        shuffle = spill = run_ms = sent = recv = 0
        per_stage: dict[int, list[float]] = {}
        for t in tasks:
            m = t.get("Task Metrics") or {}
            shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Disk Bytes Spilled", 0)
            run_ms += m.get("Executor Run Time", 0)
            info = t["Task Info"]
            per_stage.setdefault(t["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"])
            for a in info.get("Accumulables", []):
                if a.get("Name") == "data sent to Python workers":
                    sent += int(a.get("Update", 0))
                elif a.get("Name") == "data returned from Python workers":
                    recv += int(a.get("Update", 0))
        skew = 1.0
        if per_stage:
            durs = max(per_stage.values(), key=sum)
            skew = max(durs) / max(statistics.median(durs), 1.0)
        spans = [(a / 1e3, (b or a) / 1e3) for a, b in (job_span[j] for j in jobs)]
        out[g] = {
            "jobs": len(jobs),
            "shuffle_mb": shuffle / 1e6,
            "spill_mb": spill / 1e6,
            "task_s": run_ms / 1e3,
            "slot_util": run_ms / 1e3 / (wall * slots),
            "task_skew": skew,
            "driver_gap_s": wall - _covered_ms(spans, t0, t1),
            "udf_mb_in": sent / 1e6,
            "udf_mb_out": recv / 1e6,
        }
    return out
