"""End-to-end benchmark of the metoffice_spark ETL program.

Usage (from the repository root):

    python3 etlbench/run.py --workload wow_etl --seed 1 --seconds 18 --trace 0

Generates the seeded input (cached under ``.etlbench/``), starts one
fresh worker process for the workload, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones (``layers.json``
maps each to its end-to-end metric and workloads). Everything the run
writes stays under ``.etlbench/``; the run's full record goes to
``.etlbench/runs/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import proc  # noqa: E402
from workloads import MULTIPLE, WORKLOADS, timed_passes  # noqa: E402

# Whole invocation, set-up and every worker included, ends within this
# (curve recordings, which override the pass counts, get 900 s).
DEADLINE_S = 170
WORK = ".etlbench"


def fail(msg: str) -> None:
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop_session(sid: int) -> None:
    """Kill whatever is left of the worker's session (the JVM and the
    Python daemon and workers under it) and wait until every member has
    ended."""
    deadline = time.monotonic() + 20
    while (left := proc.session_members(sid)) and time.monotonic() < deadline:
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def peak_heap_mb(gc_log: str, window: list[float]) -> float:
    """Largest heap occupancy right after a collection inside the timed
    window (JVM uptime seconds); if no collection fell inside it, the
    occupancy left by the last one before it ends."""
    pat = re.compile(r"\[(\d+\.\d+)s\].*Pause.*?(\d+)M->(\d+)M\(")
    inside, before = [], None
    with open(gc_log) as fh:
        for line in fh:
            m = pat.search(line)
            if not m:
                continue
            t, after = float(m.group(1)), int(m.group(3))
            if window[0] <= t <= window[1]:
                inside.append(after)
            elif t < window[0]:
                before = after
    if inside:
        return float(max(inside))
    return float(before or 0)


def run_worker(workload: str, sf_dir: str, run_dir: str, trace: bool,
               warmup: int, timed: int, timeout_s: float) -> dict:
    """Start the worker in a session of its own; return its record."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # %p: the spark-submit launcher is a JVM too; keep the logs apart
    gc_log = os.path.join(run_dir, "gc-%p.log")
    detail = os.path.join(run_dir, "detail.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.getcwd(),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # no hsperfdata file in /tmp; GC log and temp files stay in run_dir
        "JAVA_TOOL_OPTIONS": f"-XX:+PerfDisableSharedMem -Xlog:gc:file={gc_log}:uptime "
                             f"-Djava.io.tmpdir={tmp}",
    })
    env.pop("SPARK_GRAFT_RETAIN_SCOPES", None)
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(events),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.metrics.staticSources.enabled": "true",
        }
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
        env["ETLBENCH_EVENT_DIR"] = events
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", workload, "--input", sf_dir,
               "--warmup", str(warmup), "--timed", str(timed),
               "--detail", detail, "--trace", str(int(trace)),
               "--spawn-ts", repr(time.time())]
        child = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        try:
            code = child.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_session(child.pid)
            if child.poll() is None:
                child.wait()
    if code != 0 or not os.path.exists(detail):
        fail(f"worker {'timed out' if code is None else f'exited {code}'}; "
             f"see {os.path.join(run_dir, 'worker.log')}")
    with open(detail) as fh:
        rec = json.load(fh)
    rec["peak_heap_mb"] = peak_heap_mb(gc_log.replace("%p", str(rec["jvm_pid"])),
                                       rec["jvm_uptime_window_s"])
    return rec


def end_to_end(rec: dict) -> dict:
    timed = rec["timed"]
    pass_walls = [p["wall_s"] for p in timed]
    per_pass = [list(p["query_s"].values()) or [0.0] for p in timed]
    med = statistics.median
    ok_runs = rec["attempted"] - rec["failed"]
    return {
        "setup_s": (med(rec["resetup_s"]), "s"),
        "cold_pass_s": (rec["cold_pass_s"], "s"),
        "rows_per_s": (rec["input_rows_per_pass"] / med(pass_walls), "rows/s"),
        "query_p50_s": (med(med(q) for q in per_pass), "s"),
        "query_tail_s": (med(max(q) for q in per_pass), "s"),
        "cpu_s_per_pass": (med(p["cpu_s"] for p in timed), "CPU-s"),
        "peak_mem_mb": (rec["peak_heap_mb"] + rec["python_worker_peak_pss_mb"], "MB"),
        "success_ratio": (ok_runs / rec["attempted"], "ratio"),
    }


def untraced_pass_wall(workload: str, warmup: int, timed: int) -> float | None:
    """Median timed-pass wall of the newest untraced run of this workload
    with the same pass counts, for ``trace.overhead_ratio``."""
    runs = sorted(glob.glob(os.path.join(WORK, "runs", f"{workload}-s*-t0-*.json")),
                  key=os.path.getmtime, reverse=True)
    for path in runs:
        with open(path) as fh:
            rec = json.load(fh)
        if (rec["warmup_passes"], rec["timed_passes"]) == (warmup, timed):
            return statistics.median(p["wall_s"] for p in rec["timed"])
    return None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--passes", help="WARMUP,TIMED override, for recording curves")
    args = ap.parse_args()

    deadline = time.monotonic() + (900 if args.passes else DEADLINE_S)
    if not os.path.isdir("metoffice_spark"):
        fail("run from the repository root: metoffice_spark/ not found")
    wl = WORKLOADS[args.workload]
    warmup, timed = wl["warmup"], timed_passes(args.workload, args.seconds)
    if args.passes:
        warmup, timed = (int(x) for x in args.passes.split(","))

    sf_dir = os.path.abspath(os.path.join(WORK, "input", f"seed{args.seed}-m{MULTIPLE:g}"))
    os.makedirs(os.path.dirname(sf_dir), exist_ok=True)
    t0 = time.perf_counter()
    gen.generate(sf_dir, args.seed, MULTIPLE)
    gen_s = time.perf_counter() - t0

    def measure(trace: bool, base_wall: float | None = None) -> tuple[dict, dict]:
        """One worker run, recorded under .etlbench/runs; (record, metrics)."""
        stamp = f"{args.workload}-s{args.seed}-t{int(trace)}-{time.strftime('%Y%m%dT%H%M%S')}"
        run_dir = os.path.abspath(os.path.join(WORK, "work", stamp))
        cpu0, wall0 = proc.cpu_times(), time.time()
        rec = run_worker(args.workload, sf_dir, run_dir, trace, warmup, timed,
                         deadline - time.monotonic())
        rec["steal_pct"] = proc.steal_pct(cpu0, proc.cpu_times())
        rec["run_wall_s"] = time.time() - wall0
        rec["seed"], rec["multiple"], rec["seconds"] = args.seed, MULTIPLE, args.seconds
        rec["generate_s"] = gen_s
        if trace:
            import tracer

            metrics = tracer.layer_metrics(rec, base_wall)
        else:
            metrics = end_to_end(rec)
        rec["metrics"] = {k: v for k, (v, _) in metrics.items()}
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        with open(os.path.join(WORK, "runs", stamp + ".json"), "w") as fh:
            json.dump(rec, fh, indent=1, default=str)
        shutil.rmtree(run_dir, ignore_errors=True)
        return rec, metrics

    if args.trace:
        base_wall = untraced_pass_wall(args.workload, warmup, timed)
        if base_wall is None:  # no comparable untraced run yet: make one
            base, _ = measure(False)
            base_wall = statistics.median(p["wall_s"] for p in base["timed"])
        rec, metrics = measure(True, base_wall)
    else:
        rec, metrics = measure(False)

    checks_ok = not any(rec["check"].values())
    print(json.dumps({
        "correct": checks_ok and rec["failed"] == 0 and rec.get("layer_map_ok", True),
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
