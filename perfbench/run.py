"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout on a fixed local[4] session from
segment_rtree_spark.session.get_spark. The process sets up (session,
inputs, polygon layer), runs a fixed number of untimed full passes, then
times passes for --seconds and reports medians. The last line of stdout
is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics. --trace 1 reports the
per-layer metrics: the same untraced passes, then traced passes with
Spark's event log attached, then driver-local kernel and codec calls.
The full run record (per-pass series, canary, steal, spans) is written
to perfbench/runs/. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
WORK = BENCH / "work"
RUNS = BENCH / "runs"

SETUP_REPS = 3        # input builds per process; setup_s takes the median
WARM_PASSES = 4       # untimed full passes before the measured window
SETTLED = 0.95        # the last warm pass is "settled" if >= 95% of the best before it
MIN_MEASURED = 3
STAGE_REPS = 2

E2E = {
    "images_per_s": "1/s",
    "call_geomean_s": "s",
    "core_s_per_kimage": "s",
    "setup_s": "s",
    "memory_mb": "MB",
}
SPARK_FIELDS = ("jobs", "shuffle_mb", "spill_mb", "task_s", "slot_util",
                "task_skew", "driver_gap_s")
SPARK_UNITS = {"jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB", "task_s": "s",
               "slot_util": "ratio", "task_skew": "ratio", "driver_gap_s": "s"}


def log(msg: str):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def preflight():
    """The benchmark needs the package and the polygon layer of the
    checkout it runs in; without them it exits before any result."""
    missing = [p for p in ("segment_rtree_spark/__init__.py", "data/wkt/africa.wkt")
               if not (ROOT / p).is_file()]
    if missing:
        log(f"not a segment_rtree_spark checkout, missing: {', '.join(missing)}")
        sys.exit(2)


def prepare_env():
    """One scratch tree under the benchmark for everything Spark and
    the checkpoints write, emptied at the start and end of each run."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse", "ckpt", "events"):
        (WORK / sub).mkdir(parents=True)
    old = os.environ.get("PYTHONPATH")
    # workers import the package and the benchmark's own modules
    paths = [str(ROOT), str(BENCH)] + ([old] if old else [])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [str(ROOT), str(BENCH)]
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"  # Python workers: no more threads than slots
    os.environ["NUMPY_MADVISE_HUGEPAGE"] = "0"
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={WORK / 'tmp'}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={WORK / 'warehouse'}"),
        "pyspark-shell",
    ])


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Runs passes and counts every call and check it makes."""

    def __init__(self, spark, spans):
        self.spark, self.spans = spark, spans
        self.attempted = 0
        self.failures: list[str] = []
        self.windows: dict[str, tuple[float, float]] = {}
        self.pass_extra: dict[str, dict] = {}

    def guarded(self, what: str, fn):
        """Run fn, counting it attempted and, if it raises, failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a call that raises or a check that fails
            from workloads import CheckFailed

            self.failures.append(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            log(f"FAILED {what}: {type(e).__name__}: {e}")
            if not isinstance(e, CheckFailed):
                traceback.print_exc(file=sys.stderr)
            return None

    def run_pass(self, wl, pass_id: str, traced: bool) -> dict:
        from probes import cpu_times, tree_cpu_s

        sc = self.spark.sparkContext
        calls = {}
        busy0, steal0 = cpu_times()
        tree0 = tree_cpu_s()
        w0 = time.time()
        for call in wl.calls:
            group = f"{call}|{pass_id}"
            sc.setJobGroup(group, group)
            a, ta = time.perf_counter(), time.time()
            result = self.guarded(group, lambda: wl.run_call(call, pass_id))
            calls[call] = time.perf_counter() - a
            tb = time.time()
            self.windows[group] = (ta, tb)
            self.spans.add(call, pass_id, "pass", ta, tb)
            if result is not None:
                self.guarded(f"{group} check", lambda: wl.check(call, result))
        w1 = time.time()
        busy1, steal1 = cpu_times()
        tree1 = tree_cpu_s()
        sc.setJobGroup("idle", "idle")
        self.spans.add("pass", pass_id, None, w0, w1)
        self.pass_extra[pass_id] = self.guarded(
            f"after_pass|{pass_id}", lambda: wl.after_pass(pass_id, traced)) or {}
        return {"id": pass_id, "wall_s": sum(calls.values()), "calls": calls,
                "busy_s": busy1 - busy0, "tree_cpu_s": tree1 - tree0,
                "steal_s": steal1 - steal0}

    def warm(self, wl, n: int = WARM_PASSES, prefix: str = "w") -> list[dict]:
        """A fixed number of untimed full passes (see NOTES.md)."""
        passes = []
        for k in range(n):
            passes.append(self.run_pass(wl, f"{prefix}{k + 1}", False))
            log(f"{wl.name} warm pass {k + 1}: {passes[-1]['wall_s']:.2f}s")
        return passes

    def measure(self, wl, prefix: str, seconds: float, traced: bool,
                min_passes: int = MIN_MEASURED) -> list[dict]:
        passes = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(passes) < min_passes:
            passes.append(self.run_pass(wl, f"{prefix}{len(passes) + 1}", traced))
            log(f"{wl.name} {prefix} pass {len(passes)}: {passes[-1]['wall_s']:.2f}s")
        return passes


def summarize(passes, calls, n_images):
    walls = [p["wall_s"] for p in passes]
    half = len(walls) // 2
    call_p50 = {c: median([p["calls"][c] for p in passes]) for c in calls}
    return {
        "pass_s": walls,
        "pass_p50_s": median(walls),
        "pass_max_s": max(walls),
        "first_half_p50_s": median(walls[:half]),
        "second_half_p50_s": median(walls[half:]),
        "call_p50_s": call_p50,
        "images_per_s": n_images / median(walls),
        "call_geomean_s": math.exp(statistics.fmean(math.log(v) for v in call_p50.values())),
        "core_s_per_kimage": median([p["busy_s"] / (n_images / 1000.0) for p in passes]),
        "tree_core_s_per_kimage": median([p["tree_cpu_s"] / (n_images / 1000.0)
                                          for p in passes]),
        "steal_s": sum(p["steal_s"] for p in passes),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    preflight()
    prepare_env()
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from probes import stop_spark

    try:
        record = run(args)
    finally:
        stop_spark()
        shutil.rmtree(WORK, ignore_errors=True)

    RUNS.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (RUNS / name).write_text(json.dumps(record, indent=1, default=float))
    print(json.dumps(record["result"]))
    return 0


def run(args) -> dict:
    from probes import EventLog, Spans, canary_s, jvm_live_mb, spark_peak_rss_mb, stop_spark
    from workloads import SLOTS, WORKLOADS, load_layer

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    rec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "nproc": os.cpu_count(), "slots": SLOTS}
    rec["canary_before_s"] = canary_s()

    from segment_rtree_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cores=SLOTS, app=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    spans = Spans()
    runner = Runner(spark, spans)
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, str(WORK))
        builds, loads = [], []
        for k in range(SETUP_REPS):
            if k:
                wl.drop_inputs()
            t0 = time.perf_counter()
            layer = load_layer(str(ROOT))
            t1 = time.perf_counter()
            n_images = wl.build(layer)
            builds.append(time.perf_counter() - t1)
            loads.append(t1 - t0)
        rec.update(session_s=session_s, build_s=builds, layer_load_s=loads,
                   n_images=n_images)
        log(f"setup: session {session_s:.2f}s, builds {[round(b, 2) for b in builds]}")

        warm = runner.warm(wl)
        rec["warm_s"] = sum(p["wall_s"] for p in warm)
        rec["warm_pass_s"] = [p["wall_s"] for p in warm]
        rec["warm_settled"] = rec["warm_pass_s"][-1] >= SETTLED * min(rec["warm_pass_s"][:-1])
        if args.trace == 0:
            passes = runner.measure(wl, "m", args.seconds, False)
        else:
            # half the window untraced, half traced: trace.overhead
            passes = runner.measure(wl, "u", args.seconds / 2, False, min_passes=2)
            spans.on = True
            with EventLog(spark, str(WORK / "events"), "traced") as ev:
                traced = runner.measure(wl, "t", args.seconds / 2, True, min_passes=2)
            events = ev.events()
        rec["measured"] = summarize(passes, wl.calls, n_images)
        rec["measured_calls"] = {c: [p["calls"][c] for p in passes] for c in wl.calls}
        runner.guarded("final_checks", wl.final_checks)
        # a warm-up slope left in the window shows as a split between halves
        rec["half_split"] = (rec["measured"]["second_half_p50_s"]
                             / rec["measured"]["first_half_p50_s"])
        if args.trace:
            metrics = per_layer(args, rec, wl, layer, runner, traced, events)
        rec["peak_rss_mb"], rec["peak_rss_by_process"] = spark_peak_rss_mb()
        rec["python_peak_rss_mb"] = sum(
            v for k, v in rec["peak_rss_by_process"].items() if not k.endswith(":java"))
        rec["jvm_live_mb"] = jvm_live_mb(spark)
    finally:
        stop_spark()
    rec["canary_after_s"] = canary_s()
    rec["failures"] = runner.failures
    rec["warm_passes"], rec["measured_passes"] = len(warm), len(passes)

    if args.trace == 0:
        m = rec["measured"]
        values = {
            "images_per_s": m["images_per_s"],
            "call_geomean_s": m["call_geomean_s"],
            "core_s_per_kimage": m["core_s_per_kimage"],
            "setup_s": session_s + median([b + l for b, l in zip(builds, loads)]),
            "memory_mb": rec["jvm_live_mb"] + rec["python_peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in values.items()}
    else:
        rec["spans"] = spans.rows
    rec["result"] = {"correct": not runner.failures, "attempted": runner.attempted,
                     "failed": len(runner.failures), "metrics": metrics}
    return rec


def ingest_probe(runner, wl, layer, log_dir):
    """The ingest calls, one traced pass inside geo_join's traced run:
    (the pass, its events). No warm pass: the traced run must end in
    time on a slow host (see NOTES.md)."""
    from probes import EventLog
    from workloads import Ingest

    ing = Ingest(wl.spark, wl.seed, wl.work)
    ing.build(layer)
    with EventLog(wl.spark, log_dir, "ingest") as ev:
        traced = runner.measure(ing, "it", 0, True, min_passes=1)
    runner.guarded("ingest final_checks", ing.final_checks)
    ing.drop_inputs()
    return traced[0], ev.events()


def per_layer(args, rec, wl, layer, runner, traced, events) -> dict:
    """Every per-layer metric. Calls a workload does not run, and
    stages or checkpoints it does not have, read 0 (see NOTES.md)."""
    from kernelbench import codec_metrics, cover_metrics, kernel_metrics
    from probes import call_plan_metrics
    from workloads import SLOTS, Curate, GeoJoin, Ingest

    out: dict[str, tuple[float, str]] = {}
    out["session.start_s"] = (rec["session_s"], "s")
    out["synth.build_s"] = (median(rec["build_s"]), "s")
    out["layer.load_s"] = (median(rec["layer_load_s"]), "s")

    p50 = dict(rec["measured"]["call_p50_s"])
    traced_ids = [p["id"] for p in traced]
    stages, ck = {}, {}
    if isinstance(wl, GeoJoin):
        ing_pass, ing_events = ingest_probe(runner, wl, layer, str(WORK / "events"))
        p50.update(ing_pass["calls"])
        traced_ids.append(ing_pass["id"])
        events = events + ing_events
        ck = runner.pass_extra.get(ing_pass["id"]) or {}
        if ck.get("batches", 0) >= 2:
            # the resumed call's time before its first new batch began
            start = runner.windows[f"ckpt_resume|{ing_pass['id']}"][0]
            ck["resume_s"] = ck["progress_mtimes"][1] - ck["batch_walls_s"][1] - start
    else:
        for name, fn in wl.stage_calls().items():
            times = []
            for _ in range(STAGE_REPS):
                t0 = time.perf_counter()
                runner.guarded(f"stage.{name}", fn)
                times.append(time.perf_counter() - t0)
            stages[name] = median(times)

    for k, v in cover_metrics(layer).items():
        out[k] = (v, "count" if k.endswith("_n") else "s")
    for k, v in kernel_metrics(layer, args.seed).items():
        out[k] = (v, "1/s" if k.endswith("_per_s") else "ratio")
    for k, v in codec_metrics(args.seed).items():
        out[k] = (v, "MB/s")

    plan = call_plan_metrics(
        events, {g: w for g, w in runner.windows.items() if g.split("|")[1] in traced_ids},
        SLOTS)
    for call in GeoJoin.calls + Curate.calls + Ingest.calls:
        out[f"call.{call}.p50_s"] = (p50.get(call, 0.0), "s")
        mine = [v for g, v in plan.items() if g.split("|")[0] == call]
        for f in SPARK_FIELDS:
            out[f"spark.{call}.{f}"] = (median([v[f] for v in mine]), SPARK_UNITS[f])
        if call != "tile_pyramid":
            out[f"udf.{call}.mb_in"] = (median([v["udf_mb_in"] for v in mine]), "MB")
            out[f"udf.{call}.mb_out"] = (median([v["udf_mb_out"] for v in mine]), "MB")
    for name in ("region", "crossmodal", "embed", "label_map"):
        out[f"stage.{name}.p50_s"] = (stages.get(name, 0.0), "s")

    out["checkpoint.batches"] = (ck.get("batches", 0), "count")
    out["checkpoint.batch_p50_s"] = (median(ck.get("batch_walls_s", [])), "s")
    out["checkpoint.output_mb"] = (ck.get("output_mb", 0.0), "MB")
    out["checkpoint.progress_files"] = (ck.get("progress_files", 0), "count")
    out["checkpoint.resume_s"] = (ck.get("resume_s", 0.0), "s")

    traced_p50 = median([p["wall_s"] for p in traced])
    out["trace.overhead"] = (traced_p50 / rec["measured"]["pass_p50_s"], "ratio")
    rec["traced_pass_s"] = [p["wall_s"] for p in traced]
    rec["plan_by_group"] = plan
    rec["checkpoint"] = ck
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
