"""One benchmark run in a fresh process: set up, check, warm up, time.

Started by ``run.py`` with the generated input directory. Protocol:

1. set up the program's own session and registry, and fetch one row;
2. check every workload query against its DuckDB oracle (this is the
   first warm-up pass);
3. run the remaining fixed warm-up passes, untimed;
4. run the fixed number of timed passes.

A pass is one closed-loop client: one thread runs the workload's
queries one at a time, each through the noop sink, with
``catalog.clearCache()`` before each builder call. The detail record
is written as JSON to ``--detail``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proc  # noqa: E402
from taps import Taps, table_arg  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RESETUPS = 3  # in-JVM set-ups timed after the timed passes


class _TimedOracle:
    """DuckDB connection proxy that times result fetches, so the check
    pass can report the Spark side alone."""

    def __init__(self, con):
        self.con, self.fetch_s = con, 0.0

    def sql(self, text):
        return _TimedRelation(self, self.con.sql(text))


class _TimedRelation:
    def __init__(self, owner, rel):
        self.owner, self.rel = owner, rel
        self.columns, self.types = rel.columns, rel.types

    def fetchall(self):
        t0 = time.perf_counter()
        try:
            return self.rel.fetchall()
        finally:
            self.owner.fetch_s += time.perf_counter() - t0


def resetup(spark):
    """Stop the session, then time a fresh set-up inside the same JVM:
    re-import every program module, build the session, fetch one row."""
    spark.stop()
    for name in [m for m in sys.modules if m.startswith("metoffice_spark")]:
        del sys.modules[name]
    t0 = time.perf_counter()
    session = importlib.import_module("metoffice_spark.session")
    spark = session.get_spark("etlbench")
    registry = importlib.import_module("metoffice_spark.registry")
    registry.all_queries()
    registry.all_oracles()
    spark.range(1).collect()
    return time.perf_counter() - t0, spark


def jvm_uptime_s(spark) -> float:
    return spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getUptime() / 1000.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--spawn-ts", type=float, required=True)
    ap.add_argument("--warmup", type=int, required=True)
    ap.add_argument("--timed", type=int, required=True)
    ap.add_argument("--detail", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    qids = WORKLOADS[args.workload]["queries"]
    sf_dir = args.input
    detail: dict = {"workload": args.workload, "queries": qids,
                    "warmup_passes": args.warmup, "timed_passes": args.timed}

    # -- 1. setup: session, registry import, one one-row result ----------
    t0 = time.perf_counter()
    from metoffice_spark import session

    spark = session.get_spark("etlbench")
    t1 = time.perf_counter()
    from metoffice_spark import oracle_check, registry

    reg = registry.all_queries()
    oracles = registry.all_oracles()
    t2 = time.perf_counter()
    spark.range(1).collect()
    detail["cold_setup_s"] = time.time() - args.spawn_ts
    detail["get_spark_s"] = t1 - t0
    detail["registry_import_s"] = t2 - t1
    jvm_pid = proc.find_child(os.getpid(), "java")
    if jvm_pid is None:
        raise SystemExit("no JVM child process found")
    detail["jvm_pid"] = jvm_pid

    tracer = None
    if args.trace:
        import tracer as tracer_mod

        tracer = tracer_mod.Tracer(spark, sf_dir)
        tracer.start()

    import pyarrow.parquet as pq

    table_rows = {
        f[: -len(".parquet")]: pq.read_metadata(os.path.join(sf_dir, f)).num_rows
        for f in os.listdir(sf_dir) if f.endswith(".parquet")
    }
    detail["table_rows"] = table_rows

    attempted = failed = 0
    failures: list[str] = []

    def run_query(qid: str, run_id: str, sink) -> float | None:
        """Build and sink one query; return its wall, or None on error."""
        nonlocal attempted, failed
        attempted += 1
        spark.catalog.clearCache()
        start = time.perf_counter()
        try:
            if tracer:
                with tracer.query_run(run_id):
                    with tracer.phase(run_id, "build"):
                        df = reg[qid](spark, sf_dir)
                    with tracer.phase(run_id, "exec"):
                        sink(df)
            else:
                sink(reg[qid](spark, sf_dir))
        except Exception as exc:  # counted against success_ratio, never hidden
            failed += 1
            failures.append(f"{run_id}: {type(exc).__name__}: {str(exc)[:300]}")
            traceback.print_exc()
            return None
        return time.perf_counter() - start

    # -- 2. oracle check (first warm-up pass); also learn the tables read --
    loaded: dict[str, set] = {q: set() for q in qids}
    current = [None]
    taps = Taps(lambda name, a, b, args_, kw: loaded[current[0]].add(table_arg(args_, kw)))
    taps.tap("metoffice_spark.io", "load")
    check_t0 = time.perf_counter()
    oracle = _TimedOracle(oracle_check.connect_oracle(sf_dir))
    check: dict[str, list[str]] = {}
    bad_queries: set[str] = set()
    cold_walls: dict[str, float] = {}
    for qid in qids:
        current[0] = qid
        fetch0 = oracle.fetch_s
        problems: list[str] = []

        def compare(df, qid=qid):
            problems.extend(oracle_check.compare(spark, oracle, lambda *_: df, oracles[qid], sf_dir))

        wall = run_query(qid, f"check:{qid}", compare)  # counts a raise itself
        if wall is None:
            problems.append(failures[-1])
        else:
            cold_walls[qid] = wall - (oracle.fetch_s - fetch0)
            failed += bool(problems)  # ran, but did not match its oracle
        check[qid] = problems
        if problems:
            bad_queries.add(qid)
    taps.remove()
    detail["check_wall_s"] = time.perf_counter() - check_t0
    detail["oracle_fetch_s"] = oracle.fetch_s
    detail["check"] = check
    detail["cold_query_s"] = cold_walls
    detail["cold_pass_s"] = sum(cold_walls.values())
    detail["tables_read"] = {q: sorted(t) for q, t in loaded.items()}
    detail["input_rows_per_pass"] = sum(
        table_rows.get(t, 0) for q in qids for t in loaded[q]
    )

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def one_pass(tag: str) -> dict:
        nonlocal failed
        cpu0 = proc.tree_cpu_s(jvm_pid)
        start = time.perf_counter()
        walls = {}
        for qid in qids:
            wall = run_query(qid, f"{tag}:{qid}", noop)
            if wall is not None:
                walls[qid] = wall
                if qid in bad_queries:  # ran, but its check failed
                    failed += 1
        rec = {"wall_s": time.perf_counter() - start, "query_s": walls}
        rec["cpu_s"] = proc.tree_cpu_s(jvm_pid) - cpu0
        return rec

    # -- 3. warm-up, untimed ----------------------------------------------
    detail["warmup"] = [one_pass(f"w{i}") for i in range(1, args.warmup)]

    # -- 4. timed passes ---------------------------------------------------
    if tracer:
        tracer.timed_begin()
    up0 = jvm_uptime_s(spark)
    with proc.PythonPssSampler(jvm_pid) as pss:
        timed = [one_pass(f"t{i}") for i in range(args.timed)]
    up1 = jvm_uptime_s(spark)
    if tracer:
        tracer.timed_end()
    detail["timed"] = timed
    detail["jvm_uptime_window_s"] = [up0, up1]
    detail["python_worker_peak_pss_mb"] = pss.peak_mb
    detail["attempted"], detail["failed"] = attempted, failed
    detail["failures"] = failures
    if tracer:
        raw = tracer.collect(args.timed)
    else:
        detail["resetup_s"] = []
        for _ in range(RESETUPS):
            wall, spark = resetup(spark)
            detail["resetup_s"].append(wall)
    spark.stop()
    if tracer:
        detail["trace_metrics"] = tracer_mod.finish(
            raw, detail, os.environ["ETLBENCH_EVENT_DIR"], os.cpu_count() or 1)
        detail["trace_raw"] = raw
    detail["worker_wall_s"] = time.time() - args.spawn_ts
    with open(args.detail, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)


if __name__ == "__main__":
    main()
