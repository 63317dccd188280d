"""Workload definitions shared by the orchestrator and the worker.

Pass counts are fixed, never adaptive. ``warmup`` counts the oracle
check pass as its first pass; the timed pass count is
``round(seconds / pass_s)`` for the ``--seconds`` given, so a fixed
``--seconds`` gives the same count on every run and every commit.
``pass_s`` is a committed constant (the wall of an early warm pass in
``curves/``), not a measurement taken during the run.

The curves in ``curves/`` (one process, 17 passes each) flatten only
from pass 6-7, but set-up plus the cold check pass already take about
35 s, and a run has to stay near one minute so that a full A/B
comparison (about 50 runs) fits in an hour. That leaves room for two
timed passes: passes 2 and 3, on the JIT slope, but at the same place
in every run, which is what makes runs comparable.
"""

# Input size as a multiple of the sf0.01 shape (see gen.row_counts).
MULTIPLE = 1.0

WORKLOADS = {
    "wow_etl": {
        "queries": [
            "q_src_json_rest",
            "q_sink_http_form",
            "q_rain_daily_delta",
            "q_rollup_hypertable",
        ],
        "warmup": 1,
        "pass_s": 7.5,
    },
    "stream_replay": {
        "queries": ["q_stream_stateful", "q_stream_sink"],
        "warmup": 1,
        "pass_s": 8.5,
    },
    "analytics_mix": {
        "queries": [
            "q_graph_pagerank",
            "q_nb_langid",
            "q_udf_cogrouped",
            "q_join_shuffle",
        ],
        "warmup": 1,
        "pass_s": 8.0,
    },
}


def timed_passes(workload: str, seconds: float) -> int:
    return max(2, round(seconds / WORKLOADS[workload]["pass_s"]))
