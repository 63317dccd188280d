"""Per-layer tracing for one worker run, entirely from outside the program.

Sources:
- spans: one per query run (children ``build`` and ``exec``) plus one
  per call into a tapped public function, all sharing the run id
  (``t<pass>:<qid>``); kept in memory and written once at the end;
- Spark's event log (jobs, stages, task metrics, SQL plan metrics),
  attributed to a query run by time: the client is one closed-loop
  thread, so query runs never overlap;
- a ``StreamingQueryListener`` for micro-batch progress;
- JVM MXBeans and Spark's CodeGenerator metric source;
- probes run after the timed passes: a noop sink over one tapped
  function at a time, counted once per call the timed passes made.

``Tracer`` runs inside the worker; ``layer_metrics`` runs in ``run.py``
and checks the result against ``layers.json``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

from taps import Taps, table_arg

HERE = os.path.dirname(os.path.abspath(__file__))
MB = 1024.0 * 1024.0

# (module, function) pairs tapped during the timed passes
TAPPED = [
    ("metoffice_spark.io", "load"),
    ("metoffice_spark.obs", "observations"),
    ("metoffice_spark.operators.ingest", "parse_measurement_payloads"),
    ("metoffice_spark.operators.ingest", "wow_payload"),
    ("metoffice_spark.operators.rain", "rain_metrics"),
]

# SQL metric names of Spark's Python operators (PythonSQLMetrics)
PY_METRICS = {
    "data sent to Python workers": "sent",
    "data returned from Python workers": "received",
    "time to start Python workers": "boot",
    "time to run Python workers": "total",
}
PY_NODE_MARKS = ("Python", "Pandas", "Arrow")


def _epoch_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    def __init__(self, spark, sf_dir: str):
        self.spark, self.sf_dir = spark, sf_dir
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.run_id: str | None = None
        self.timed = False
        self.calls: list[dict] = []  # tapped calls made during timed passes
        self.cached_mb: dict[str, float] = {}
        self.progress: list[dict] = []
        self.taps = Taps(self._on_call)

    # -- recording ----------------------------------------------------------
    def start(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Progress())

    def _span(self, name: str, run: str, t0: float, t1: float, parent=None) -> dict:
        span = {"id": len(self.spans), "parent": parent, "run": run, "name": name,
                "t0_ms": t0, "t1_ms": t1}
        self.spans.append(span)
        return span

    def _on_call(self, name, t0, t1, args, kwargs) -> None:
        now = _epoch_ms()
        start = now - (time.perf_counter() - t0) * 1000.0
        end = now - (time.perf_counter() - t1) * 1000.0
        span = self._span(name, self.run_id, start, end)
        if name == "io.load":
            span["table"] = table_arg(args, kwargs)
        if self.timed and self.run_id:
            self.calls.append(span)

    @contextlib.contextmanager
    def query_run(self, run_id: str):
        self.run_id = run_id
        span = self._span("query", run_id, _epoch_ms(), None)
        try:
            yield
        finally:
            span["t1_ms"] = _epoch_ms()
            self.sc.setJobDescription(None)
            if self.timed:
                self.cached_mb[run_id] = self._cached_mb()
            self.run_id = None

    @contextlib.contextmanager
    def phase(self, run_id: str, name: str):
        self.sc.setJobDescription(f"{run_id}/{name}")
        parent = next(s["id"] for s in reversed(self.spans)
                      if s["run"] == run_id and s["name"] == "query")
        span = self._span(name, run_id, _epoch_ms(), None, parent)
        try:
            yield
        finally:
            span["t1_ms"] = _epoch_ms()

    def _cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def timed_begin(self) -> None:
        for mod, fn in TAPPED:
            self.taps.tap(mod, fn)
        self.timed = True

    def timed_end(self) -> None:
        self.timed = False
        self.taps.remove()

    # -- after the timed passes --------------------------------------------
    def _noop_s(self, build, reps: int = 3, clear: bool = True) -> float:
        walls = []
        for _ in range(reps):
            if clear:
                self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)

    def _probes(self, calls_per_pass: dict[str, float], tables: dict[str, float]) -> dict:
        """Seconds per timed pass each tapped layer costs: probe wall per
        call x calls per pass. A layer no timed query called reads 0
        without being probed."""
        from pyspark.sql import functions as F

        from metoffice_spark import io, obs
        from metoffice_spark.functions import weather as W
        from metoffice_spark.operators import ingest, rain

        spark, sf = self.spark, self.sf_dir
        self.sc.setJobDescription("probe")
        out = {"io.scan_s": sum(
            n * self._noop_s(lambda t=t: io.load(spark, sf, t)) for t, n in tables.items())}
        need = {k: v for k, v in calls_per_pass.items() if v}
        substrate = self._noop_s(lambda: obs.observations(spark, sf)) if (
            set(need) & {"obs.observations", "operators.ingest.wow_payload",
                         "operators.rain.rain_metrics"}) else 0.0
        out["obs.substrate_s"] = substrate * need.get("obs.observations", 0)

        def over_cached(frame, derive) -> float:
            """Noop wall of ``derive(frame)`` minus that of ``frame``, both
            over the same cached frame."""
            frame = frame.persist()
            frame.count()
            base = self._noop_s(lambda: frame, clear=False)
            cost = self._noop_s(lambda: derive(frame), clear=False)
            frame.unpersist()
            return cost - base

        n_wow = need.get("operators.ingest.wow_payload", 0)
        n_json = need.get("operators.ingest.parse_measurement_payloads", 0)
        out["functions.weather.eval_s"] = out["operators.ingest.json_parse_s"] = 0.0
        if n_wow or n_json:
            sub = obs.observations(spark, sf)
        if n_wow:
            c = F.col
            raw = ["tempc", "hum", "windspeed_ms", "windgust_ms", "winddir_sector",
                   "pressure_site_hpa", "rain_counter_mm"]
            out["functions.weather.eval_s"] = n_wow * over_cached(
                sub.select(*raw),
                lambda f: f.select(
                    W.dewpoint_c(c("tempc"), c("hum")),
                    W.ms_to_mph(W.corrected_windspeed(c("windspeed_ms"), obs.MAST_HEIGHT_M)),
                    W.ms_to_mph(W.corrected_windgust(
                        c("windgust_ms"), c("windspeed_ms"), obs.MAST_HEIGHT_M)),
                    W.wind_dir_str(c("winddir_sector"), c("windspeed_ms")),
                    W.hpa_to_inhg(W.sea_level_pressure_hpa(
                        c("pressure_site_hpa"), c("tempc"),
                        obs.SITE_LATITUDE_DEG, obs.SITE_ALTITUDE_M)),
                    W.c_to_f(c("tempc")), W.mm_to_in(c("rain_counter_mm")),
                ))
        if n_json:
            fields = {"ts": "long", "t1": "double", "h": "double", "ws": "double",
                      "wg": "double", "wd": "int", "r": "double"}

            def dev(suffix, **given):  # one device of the 3-device document
                return F.struct(
                    F.concat(F.col("station_id"), F.lit(suffix)).alias("deviceid"),
                    F.struct(*(given.get(k, F.lit(None)).cast(t).alias(k)
                               for k, t in fields.items())).alias("measurement"))

            payloads = sub.select("obs_id", F.to_json(F.struct(F.array(
                dev("-th", ts=F.unix_timestamp("ts"), t1=F.col("tempc"), h=F.col("hum")),
                dev("-wind", ws=F.col("windspeed_ms"), wg=F.col("windgust_ms"),
                    wd=F.col("winddir_sector")),
                dev("-rain", ts=F.unix_timestamp("rain_sensor_ts"), r=F.col("rain_counter_mm")),
            ).alias("devices"))).alias("payload"))
            out["operators.ingest.json_parse_s"] = n_json * over_cached(
                payloads,
                lambda f: ingest.parse_measurement_payloads(f, "payload", keep=["obs_id"]))
        out["operators.ingest.wow_payload_s"] = n_wow * (
            self._noop_s(lambda: ingest.wow_payload(spark, sf)) - substrate) if n_wow else 0.0
        n_rain = need.get("operators.rain.rain_metrics", 0)
        out["operators.rain.machine_s"] = n_rain * (
            self._noop_s(lambda: rain.rain_metrics(spark, sf)) - substrate) if n_rain else 0.0
        self.sc.setJobDescription(None)
        return out

    def _jvm(self) -> dict:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        hist = self.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return {
            "jvm.jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
            "jvm.gc_pause_s": gc_ms / 1000.0,
            # the histogram keeps no sum: count x mean of its reservoir
            "jvm.codegen_compile_ms": hist.getCount() * hist.getSnapshot().getMean(),
            "jvm.codegen_classes": float(hist.getCount()),
        }

    def collect(self, timed_passes: int) -> dict:
        """Everything read from inside the JVM; call before spark.stop()."""
        jvm = self._jvm()
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        calls: dict[str, float] = {}
        tables: dict[str, float] = {}
        for s in self.calls:
            calls[s["name"]] = calls.get(s["name"], 0) + 1.0 / timed_passes
            if s["name"] == "io.load":
                tables[s["table"]] = tables.get(s["table"], 0) + 1.0 / timed_passes
        for mod, fn in TAPPED:
            calls.setdefault(f"{mod.removeprefix('metoffice_spark.')}.{fn}", 0.0)
        for s in self.spans:  # a tap span's parent: the innermost span around it
            if s["parent"] is None and s["name"] != "query":
                around = [p for p in self.spans if p is not s and p["run"] == s["run"]
                          and p["t0_ms"] <= s["t0_ms"] and s["t1_ms"] <= p["t1_ms"]]
                if around:
                    s["parent"] = max(around, key=lambda p: p["t0_ms"])["id"]
        probes = self._probes(calls, tables)
        return {"jvm": jvm, "calls_per_pass": calls, "tables_per_pass": tables,
                "probes": probes, "cached_mb": self.cached_mb,
                "progress": self.progress, "spans": self.spans}


# -- event log ---------------------------------------------------------------
def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_python_rows_ids(plan: dict, out: set) -> None:
    if any(m in plan.get("nodeName", "") for m in PY_NODE_MARKS):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m.get("accumulatorId"))
    for child in plan.get("children", []):
        _plan_python_rows_ids(child, out)


def read_event_log(event_dir: str) -> dict:
    jobs, stages, tasks = [], [], []
    py_rows_ids: set = set()
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_dir) for f in fs
                   if not f.startswith("appstatus"))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"])
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if si.get("Submission Time"):
                        stages.append((si["Submission Time"], si.get("Completion Time", 0)))
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    acc = {}
                    for a in info.get("Accumulables", []):
                        acc[a.get("Name")] = acc.get(a.get("Name"), 0) + _num(a.get("Update"))
                        if a.get("ID") in py_rows_ids:
                            acc["__py_rows"] = acc.get("__py_rows", 0) + _num(a.get("Update"))
                    sr = tm.get("Shuffle Read Metrics", {})
                    sw = tm.get("Shuffle Write Metrics", {})
                    tasks.append({
                        "launch": info["Launch Time"], "stage": ev["Stage ID"],
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "peak_exec": tm.get("Peak Execution Memory", 0),
                        "in_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
                        "in_records": tm.get("Input Metrics", {}).get("Records Read", 0),
                        "out_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
                        "sh_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "sh_write": sw.get("Shuffle Bytes Written", 0),
                        "sh_records": sw.get("Shuffle Records Written", 0),
                        "spill": tm.get("Disk Bytes Spilled", 0),
                        "py": {k: acc.get(n, 0.0) for n, k in PY_METRICS.items()},
                        "py_rows": acc.get("__py_rows", 0.0),
                    })
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_python_rows_ids(ev.get("sparkPlanInfo", {}), py_rows_ids)
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def event_metrics(log: dict, spans: list[dict], passes: int, cores: int,
                  pass_walls: list[float]) -> dict:
    """Per-timed-pass layer metrics from the event log, each event
    attributed to the timed query run (or build phase) containing it."""
    runs = [s for s in spans if s["name"] == "query" and s["run"].startswith("t")]
    builds = [s for s in spans if s["name"] == "build" and s["run"].startswith("t")]

    def inside(t, group) -> dict | None:
        return next((s for s in group if s["t0_ms"] <= t <= s["t1_ms"]), None)

    tasks = [t for t in log["tasks"] if inside(t["launch"], runs)]
    stages = [st for st in log["stages"] if inside(st[0], runs)]
    jobs = [j for j in log["jobs"] if inside(j, runs)]
    gap_ms = sum((r["t1_ms"] - r["t0_ms"]) - _covered_ms(stages, r["t0_ms"], r["t1_ms"])
                 for r in runs)

    def total(key) -> float:
        return sum(t[key] for t in tasks)

    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    skews = [max(v) / (sum(v) / len(v)) for v in by_stage.values()
             if len(v) >= cores and sum(v) > 0]
    py = {k: sum(t["py"][k] for t in tasks) for k in PY_METRICS.values()}
    per = 1.0 / passes
    return {
        "registry.build_jobs": per * sum(1 for j in jobs if inside(j, builds)),
        "io.input_mb": per * total("in_bytes") / MB,
        "io.input_records": per * total("in_records"),
        "streaming_batch.written_mb": per * total("out_bytes") / MB,
        "python.total_s": per * py["total"] / 1000.0,
        "python.boot_s": per * py["boot"] / 1000.0,
        "python.sent_mb": per * py["sent"] / MB,
        "python.received_mb": per * py["received"] / MB,
        "python.rows_received": per * total("py_rows"),
        "exchange.shuffle_write_mb": per * total("sh_write") / MB,
        "exchange.shuffle_read_mb": per * total("sh_read") / MB,
        "exchange.shuffle_records": per * total("sh_records"),
        "exchange.spill_mb": per * total("spill") / MB,
        "exchange.stages": per * len({t["stage"] for t in tasks if t["sh_write"] > 0}),
        "executor.cpu_s": per * total("cpu_ns") / 1e9,
        "executor.run_s": per * total("run_ms") / 1000.0,
        "executor.gc_s": per * total("gc_ms") / 1000.0,
        "executor.tasks": per * len(tasks),
        "executor.busy_ratio": total("run_ms") / 1000.0 / (sum(pass_walls) * cores),
        "executor.peak_exec_mb": max((t["peak_exec"] for t in tasks), default=0) / MB,
        "executor.task_skew": statistics.median(skews) if skews else 0.0,
        "driver.jobs": per * len(jobs),
        "driver.gap_s": per * gap_ms / 1000.0,
    }


def stream_metrics(progress: list[dict], spans: list[dict], passes: int) -> dict:
    """Per-timed-pass micro-batch figures from the listener's progress
    events, attributed to timed query runs by trigger time."""
    import datetime as dt

    runs = [s for s in spans if s["name"] == "query" and s["run"].startswith("t")]

    def epoch_ms(stamp: str) -> float:
        t = dt.datetime.strptime(stamp.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        return t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0

    timed = [p for p in progress
             if any(r["t0_ms"] <= epoch_ms(p["timestamp"]) <= r["t1_ms"] for r in runs)]
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0)  # noqa: E731
    ops = [op for p in timed for op in p.get("stateOperators", [])]
    last_rows: dict[str, float] = {}
    for p in timed:  # state size at each query run's last batch
        if p.get("stateOperators"):
            last_rows[p["runId"]] = sum(op.get("numRowsTotal", 0) for op in p["stateOperators"])
    per = 1.0 / passes
    return {
        "streaming_batch.batches": per * len(timed),
        "streaming_batch.trigger_ms": per * sum(dur(p, "triggerExecution") for p in timed),
        "streaming_batch.planning_ms": per * sum(dur(p, "queryPlanning") for p in timed),
        "streaming_batch.add_batch_ms": per * sum(dur(p, "addBatch") for p in timed),
        "streaming_batch.wal_commit_ms": per * sum(dur(p, "walCommit") for p in timed),
        "streaming_batch.state_update_ms": per * sum(op.get("allUpdatesTimeMs", 0) for op in ops),
        "streaming_batch.state_commit_ms": per * sum(op.get("commitTimeMs", 0) for op in ops),
        "streaming_batch.state_rows": per * sum(last_rows.values()),
        "streaming_batch.state_mb": max((op.get("memoryUsedBytes", 0) for op in ops),
                                        default=0) / MB,
    }


def finish(trace: dict, rec: dict, event_dir: str, cores: int) -> dict:
    """Turn the worker's raw trace into the named per-layer metrics."""
    timed = rec["timed"]
    passes = len(timed)
    walls = [p["wall_s"] for p in timed]
    spans = trace["spans"]
    calls = trace["calls_per_pass"]
    builds = [s for s in spans if s["name"] == "build" and s["run"].startswith("t")]
    m = {
        "session.get_spark_s": rec["get_spark_s"],
        "session.cached_mb": max(trace["cached_mb"].values(), default=0.0),
        "registry.import_s": rec["registry_import_s"],
        "registry.build_s": sum(s["t1_ms"] - s["t0_ms"] for s in builds) / 1000.0 / passes,
        "io.load_calls": calls["io.load"],
        "obs.observations_calls": calls["obs.observations"],
        "python.worker_peak_pss_mb": rec["python_worker_peak_pss_mb"],
        "check.mismatches": float(sum(1 for p in rec["check"].values() if p)),
        "check.exceptions": float(len(rec["failures"])),
    }
    m.update(trace["probes"])
    m.update(trace["jvm"])
    m.update(event_metrics(read_event_log(event_dir), spans, passes, cores, walls))
    m.update(stream_metrics(trace["progress"], spans, passes))
    return m


def layer_metrics(rec: dict, untraced_pass_wall: float) -> dict:
    """Named per-layer metrics with units, plus the layer-map check:
    on this workload, bypassed layers must read 0 and exercised ones
    must not. Problems go to the run record and make it incorrect."""
    with open(os.path.join(HERE, "layers.json")) as fh:
        layer_map = json.load(fh)["metrics"]
    values = dict(rec["trace_metrics"])
    traced = statistics.median(p["wall_s"] for p in rec["timed"])
    values["trace.overhead_ratio"] = traced / untraced_pass_wall
    workload = rec["workload"]
    problems = []
    for name, spec in layer_map.items():
        if name not in values:
            problems.append(f"{name}: not reported")
        elif workload in spec["bypassed_by"] and values[name] != 0:
            problems.append(f"{name}: bypassed on {workload} but reads {values[name]}")
        elif workload in spec["exercised_by"] and values[name] == 0:
            problems.append(f"{name}: exercised on {workload} but reads 0")
    rec["layer_map_problems"] = problems
    rec["layer_map_ok"] = not problems
    return {name: (values.get(name, 0.0), spec["unit"]) for name, spec in layer_map.items()}
