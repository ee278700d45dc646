"""Tests of the benchmark's pure parts; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pytest

from perfbench import check, datagen, host, river, run, workloads
from perfbench.trace import parse_sql_metric, streaming_record, union_ms

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
#: Metric names and units the benchmark contract accepts.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --- tail percentile ---------------------------------------------------------


def test_tail_needs_enough_samples():
    assert workloads.tail([1.0] * (workloads.MIN_TAIL_SAMPLES - 1)) is None


def test_tail_leaves_ten_samples_beyond_it():
    for n in (20, 37, 100):
        values = [float(i) for i in range(n, 0, -1)]
        value, pct, count = workloads.tail(values)
        assert sum(v > value for v in values) == 10
        assert pct == pytest.approx(100.0 * (n - 10) / n)
        assert count == n


def test_set_wall_sums_per_query_medians():
    assert workloads.set_wall({"a": [1.0, 3.0, 2.0], "b": [0.5], "c": []}) == 2.5


# --- workload query lists ----------------------------------------------------


def test_query_lists_resolve_in_registry():
    from bigdata_riveranalysis_spark.plans import REGISTRY

    for wl, names in workloads.QUERIES.items():
        missing = [n for n in names if n not in REGISTRY]
        assert not missing, (wl, missing)
        assert len(set(names)) == len(names), wl


def test_query_lists_are_disjoint():
    seen: dict[str, str] = {}
    for wl, names in workloads.QUERIES.items():
        for n in names:
            assert n not in seen, (n, wl, seen.get(n))
            seen[n] = wl


def test_query_lists_cover_their_modules():
    from bigdata_riveranalysis_spark.plans import REGISTRY

    for wl, names in workloads.QUERIES.items():
        mods = {REGISTRY[n].fn.__module__.rsplit(".", 1)[1] for n in names}
        assert mods == set(workloads.MODULES[wl]), wl


def test_every_workload_has_a_nominal_pass():
    assert set(workloads.NOMINAL_PASS_S) == set(workloads.QUERIES)
    assert set(workloads.WORKLOADS) == set(workloads.QUERIES) | {"river-live"}
    assert workloads.passes("relational", 0.1) == 1


# --- metric names and the contract file --------------------------------------


def test_metric_names_and_units_are_valid():
    for table in (run.END_TO_END, run.PER_LAYER):
        for name, unit in table.items():
            assert NAME_RE.match(name), name
            assert UNIT_RE.match(unit), unit
    assert not set(run.END_TO_END) & set(run.PER_LAYER)


def test_name_charset_rejects_bad_names():
    assert not NAME_RE.match("_leading")
    assert not NAME_RE.match("has space")
    assert not NAME_RE.match("x" * 65)
    assert not UNIT_RE.match("way-too-long-unit-name")


def test_benchmark_json_matches_the_runner():
    spec = _bench_json()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(m["better"] == "lower" and 0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# --- output check ------------------------------------------------------------


def _frame():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", "b", "c"]})


def test_hash_check_accepts_equal_results_in_any_order():
    got = _frame().iloc[::-1][["s", "v", "k"]]
    assert check.mismatch(got, _frame()) is None


def test_hash_check_flags_a_changed_value():
    got = _frame()
    got.loc[1, "v"] = 1.2500001
    assert "hash" in check.mismatch(got, _frame())


def test_hash_check_flags_a_planted_wrong_hash():
    want = _frame()
    h, cols, n = check.frame_hash(want)
    planted = ("0" * 16, cols, n)
    assert check.mismatch(_frame(), want, planted) is not None


def test_hash_check_flags_rows_columns_and_dtypes():
    assert "rows" in check.mismatch(check.corrupt(_frame()), _frame())
    assert "columns" in check.mismatch(_frame().drop(columns="s"), _frame())
    as_float = _frame().astype({"k": "float64"})
    assert "dtype" in check.mismatch(as_float, _frame())


def test_corrupting_an_empty_result_adds_a_row():
    empty = _frame().iloc[:0]
    assert len(check.corrupt(empty)) == 1


# --- status-store parsing ----------------------------------------------------


@pytest.mark.parametrize(
    "text, value",
    [
        ("24 ms", 24.0),
        ("1.3 s", 1300.0),
        ("2.5 m", 150000.0),
        ("61.3 KiB", 61.3 * 1024),
        ("0.0 B", 0.0),
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n2.0 s (0 ms, 1.0 s, 1.0 s (stage 3.0: task 4))", 2000.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_union_counts_overlaps_once():
    assert union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert union_ms([]) == 0


def test_streaming_record_sums_batches_and_takes_last_state():
    progress = [
        {"runId": "r", "numInputRows": 5, "durationMs": {"addBatch": 10, "walCommit": 2},
         "stateOperators": [{"numRowsTotal": 3, "memoryUsedBytes": 100, "commitTimeMs": 4}]},
        {"runId": "r", "numInputRows": 7, "durationMs": {"addBatch": 20, "walCommit": 3},
         "stateOperators": [{"numRowsTotal": 6, "memoryUsedBytes": 150, "commitTimeMs": 1}]},
    ]
    rec = streaming_record(progress)
    assert rec["streaming.batches"] == 2
    assert rec["streaming.input_rows"] == 12
    assert rec["streaming.add_batch_ms"] == 30
    assert rec["streaming.wal_commit_ms"] == 5
    assert rec["streaming.state_rows"] == 6
    assert rec["streaming.state_mem_bytes"] == 150
    assert rec["streaming.state_commit_ms"] == 5


def test_summarize_layers_means_and_hit_ratio():
    out = run.summarize_layers(
        [{"exec.run_s": 1.0, "staging.calls": 3, "staging.builds": 1},
         {"exec.run_s": 3.0, "staging.calls": 1, "staging.builds": 1}]
    )
    assert out["exec.run_s"] == 2.0
    assert out["staging.hit_ratio"] == 0.5


# --- host CPU share ----------------------------------------------------------


def test_granted_is_the_unstolen_share_of_demanded_cpu():
    assert host.granted((100, 10), (180, 30)) == pytest.approx(0.8)
    assert host.granted((5, 5), (5, 5)) == 1.0


def test_cpu_ticks_read_this_machine():
    busy, steal = host.cpu_ticks()
    assert busy > 0 and steal >= 0


def test_process_tree_and_liveness():
    assert host.running(os.getpid())
    assert os.getpid() in host.tree(os.getppid())
    assert not host.running(2**22 + 1)


def test_sampler_share_spans_the_enclosing_samples():
    s = host.HostSampler()
    s.times = [0.0, 1.0, 2.0, 3.0]
    s.ticks = [(0, 0), (90, 10), (150, 50), (250, 50)]
    assert s.granted_between(1.0, 2.0) == pytest.approx(60 / 100)
    assert s.granted_between(0.5, 2.5) == pytest.approx(250 / 300)


# --- inputs ------------------------------------------------------------------


def test_corpus_is_a_function_of_the_seed():
    from bigdata_riveranalysis_spark.sources.tables import TABLES

    a, b, c = datagen.tables(7, 0.001), datagen.tables(7, 0.001), datagen.tables(8, 0.001)
    assert set(a) == set(TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_wire_rows_are_all_string_json():
    import numpy as np

    rows = [json.loads(r) for r in datagen.wire_rows(np.random.default_rng(1), 50)]
    assert all(isinstance(v, str) for r in rows for v in r.values())
    assert set(rows[0]) == {"FullDate", "WaterbodyName", "pH", "Dissolved Oxygen", "Conductivity @25°C"}
    assert len(set(datagen.WATERBODIES)) == 160


def test_file_batches_reads_plain_and_compacted_logs(tmp_path):
    log_dir = tmp_path / "sources" / "0"
    log_dir.mkdir(parents=True)
    entry = lambda name, bid: json.dumps({"path": f"file:///x/{name}", "timestamp": 1, "batchId": bid})  # noqa: E731
    (log_dir / "9.compact").write_text("v1\n" + entry("a.json", 0) + "\n" + entry("b.json", 9) + "\n")
    (log_dir / "10").write_text("v1\n" + entry("c.json", 10) + "\n")
    (log_dir / ".10.crc").write_text("junk")
    assert river.file_batches(str(tmp_path)) == {"a.json": 0, "b.json": 9, "c.json": 10}
