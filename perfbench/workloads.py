"""Workload definitions and the pure statistics the benchmark reports.

Nothing here imports Spark, so the tests can pin every rule on its own.

Each batch workload runs a FIXED list of registered queries. The seed
shuffles the order and generates the corpus; it never changes which
queries run, so two seeds measure the same work on different data. The
lists are representative slices of the engine modules named in
``MODULES``: one pass over a whole module set takes far longer than one
benchmark run may (the 84 relational-module queries take about 35 s
warm at 4 cores, 55 s from a fresh JVM).
"""

from __future__ import annotations

import statistics

#: Engine modules (under ``bigdata_riveranalysis_spark.plans``) whose
#: registered queries each batch workload draws from.
MODULES = {
    "relational": ("relational", "events", "river", "sqlapi", "scale"),
    "curation": ("llmdata", "traindata", "mining", "streaming_queries"),
}

#: The timed query list of each batch workload.
QUERIES = {
    "relational": (
        # plans.relational: scan + aggregate, joins, AQE-heavy job
        # count, window-based rewrite, running windows
        "flagship_revenue_by_segment",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_volume",
        "q21_sole_late_supplier",
        "window_running_total",
        # plans.events, plans.river, plans.sqlapi, plans.scale
        "events_sessionize",
        "sensor_gapfill_ffill",
        "sql_q10_returned_revenue",
        "agg_salted_skew",
    ),
    "curation": (
        # plans.llmdata: an Arrow UDF, the staged IVF quantizer
        # (functions.vectors), functions.text
        "multimodal_features",
        "ann_ivf_cells",
        "text_quality_scores",
        # plans.traindata; plans.mining, whose basket stage is reused by
        # the pair-count stage it feeds (a staging hit inside one query)
        "dq_constraint_report",
        "basket_part_pairs",
        # plans.streaming_queries: availableNow drains through the state
        # store with applyInPandasWithState
        "stream_ewma_spikes",
        "stream_session_fold_ttl",
    ),
}

#: Nominal seconds of one pass over each list from a fresh JVM at 4
#: cores. A run makes ``passes(workload, seconds)`` passes, so
#: ``--seconds`` sets the amount of work, and every run of one workload
#: does the same work.
NOMINAL_PASS_S = {"relational": 14.0, "curation": 14.0}

#: A tail is only reported over at least this many samples.
MIN_TAIL_SAMPLES = 20

WORKLOADS = ("relational", "curation", "river-live")

def passes(workload: str, seconds: float) -> int:
    """Whole passes one run makes: ``seconds`` of work at the nominal
    pass time, and at least one."""
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``: the ``n - 10``-th smallest of
    ``n`` samples, which is the ``100 * (n - 10) / n`` percentile. None
    when fewer than ``MIN_TAIL_SAMPLES`` samples can support it.
    """
    n = len(values)
    if n < MIN_TAIL_SAMPLES:
        return None
    k = n - 10
    return sorted(values)[k - 1], 100.0 * k / n, n


def set_wall(walls: dict[str, list[float]]) -> float:
    """Wall time of one pass over the timed set: the sum over queries
    of each query's median wall."""
    return sum(statistics.median(v) for v in walls.values() if v)
