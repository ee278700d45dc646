"""Behavioral tests for the round-5 operators.

The oracle diff (tests/test_oracle_diff.py) pins Spark == DuckDB on
the generated fixtures; these tests pin the SEMANTICS on crafted
inputs the fixtures never produce — out-of-order funnel events, a
planted sensor spike, grain-coherence invariants — so a fixture
regeneration can't quietly stop exercising the interesting branches.
"""

from __future__ import annotations

import pandas as pd

from bigdata_riveranalysis_spark.plans.llmdata import embedding_quantize_int8
from bigdata_riveranalysis_spark.plans.registry import REGISTRY


def _write_events(tmp_path, rows):
    """rows: list of (event_id, ts_iso, user_id, event_type, value)."""
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    df["ts"] = pd.to_datetime(df["ts"])
    df["props"] = '{"k": 1}'
    df = df.astype(
        {"event_id": "int64", "user_id": "int64", "event_type": "string", "value": "float64"}
    )
    df.to_parquet(tmp_path / "events.parquet", index=False)
    return str(tmp_path)


def test_funnel_requires_stage_order(spark, tmp_path):
    """A purchase BEFORE the first click (or a click before the first
    view) must not advance the funnel — the ordered semantics the
    generated fixtures satisfy only statistically."""
    rows = [
        # u1: view < click < purchase — full funnel
        (1, "2026-01-01 10:00:00", 1, "view", 1.0),
        (2, "2026-01-01 10:05:00", 1, "click", 1.0),
        (3, "2026-01-01 10:10:00", 1, "purchase", 1.0),
        # u2: purchase first, then view, then click — reaches
        # view+click (click ≥ first view) but NOT full funnel
        (4, "2026-01-01 09:00:00", 2, "purchase", 1.0),
        (5, "2026-01-01 09:30:00", 2, "view", 1.0),
        (6, "2026-01-01 09:45:00", 2, "click", 1.0),
        # u3: click before the only view — view stage only
        (7, "2026-01-01 08:00:00", 3, "click", 1.0),
        (8, "2026-01-01 08:30:00", 3, "view", 1.0),
        # u4: view only
        (9, "2026-01-01 07:00:00", 4, "view", 1.0),
        # u5: never views
        (10, "2026-01-01 06:00:00", 5, "error", 1.0),
        # u1 boundary re-check: same-timestamp click+purchase advance
        # (>= compare) for u6
        (11, "2026-01-02 10:00:00", 6, "view", 1.0),
        (12, "2026-01-02 10:00:00", 6, "click", 1.0),
        (13, "2026-01-02 10:00:00", 6, "purchase", 1.0),
    ]
    sf_dir = _write_events(tmp_path, rows)
    out = REGISTRY["events_funnel_conversion"].fn(spark, sf_dir).collect()[0]
    assert out.n_users == 6
    assert out.n_view == 5  # u1, u2, u3, u4, u6
    assert out.n_view_click == 3  # u1, u2, u6
    assert out.n_full_funnel == 2  # u1, u6
    assert abs(out.full_rate - 0.3333) < 1e-9


def test_mad_flags_planted_spike_and_excludes_constant_sensor(spark, tmp_path):
    """MAD semantics on a crafted series: median 51.00, MAD 1.00 →
    threshold 4.4478; the 500.00 spike is flagged, the in-band
    readings are not, and an all-constant sensor (MAD 0) is excluded
    entirely rather than flagging everything."""
    rows = []
    eid = 0
    for v in [50.0] * 10 + [51.0] * 10 + [500.0]:
        eid += 1
        rows.append((eid, f"2026-01-01 00:{eid:02d}:00", 1, "view", v))
    for _ in range(5):  # sensor 2: constant → MAD 0 → excluded
        eid += 1
        rows.append((eid, f"2026-01-01 01:{eid:02d}:00", 2, "view", 42.0))
    sf_dir = _write_events(tmp_path, rows)
    out = REGISTRY["anomaly_mad_sensor"].fn(spark, sf_dir).collect()
    assert len(out) == 1
    row = out[0]
    assert row.sensor_id == 1 and row.value == 500.0
    # robust_z = (50000 - 5100) / (1.4826 * 100)
    assert abs(row.robust_z - round((50000 - 5100) / 148.26, 4)) < 1e-9


def test_rollup_grains_are_coherent(spark):
    """Hour/day/month rows of the hypertable rollup must agree: each
    grain's reading counts sum to the same total, and every day row's
    count equals the sum of its hour rows (per sensor)."""
    df = REGISTRY["sensor_rollup_time_grains"].fn(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    by_grain = df.groupby("grain")["n_readings"].sum()
    assert by_grain["hour"] == by_grain["day"] == by_grain["month"]
    hours = df[df.grain == "hour"].copy()
    hours["day_ts"] = hours.bucket_ts.str[:10]
    per_day = hours.groupby(["sensor_id", "day_ts"])["n_readings"].sum()
    days = df[df.grain == "day"].set_index(
        ["sensor_id", df[df.grain == "day"].bucket_ts.str[:10]]
    )["n_readings"]
    assert per_day.sort_index().equals(days.sort_index())


def test_decimal_bigsum_agrees_with_long_path(spark):
    """The DECIMAL(38) sums must be the exact integers the long-sum
    q1 path rounds from: re-derive q1's rounded sum_disc_price /
    sum_charge from the decimal strings with integer math and compare
    value-for-value (same groups, same filter)."""
    sf = "/root/testdata/sf0.001"
    dec = {
        (r.l_returnflag, r.l_linestatus): r
        for r in REGISTRY["agg_decimal_bigsum"].fn(spark, sf).collect()
    }
    q1 = {
        (r.l_returnflag, r.l_linestatus): r
        for r in REGISTRY["q1_pricing_summary"].fn(spark, sf).collect()
    }
    assert set(dec) == set(q1)
    for key, d in dec.items():
        s4 = int(d.sum_disc_price_s4)  # scale 4: plain /10^4
        assert q1[key].sum_disc_price == s4 / 10000.0, key
        s6 = int(d.sum_charge_s6)  # scale 6: half-up to 4 decimals
        assert q1[key].sum_charge == ((2 * s6 + 100) // 200) / 10000.0, key
        assert q1[key].count_order == d.n_rows, key


def test_retention_cohorts_triangle(spark, tmp_path):
    """Two cohorts with known return patterns produce the expected
    triangle — including a user who skips a week (gap weeks get no
    row, they don't shift later offsets)."""
    rows = [
        # cohort A (week of 2026-01-05): u1 active wk0, wk1, wk3; u2 wk0 only
        (1, "2026-01-05 10:00:00", 1, "view", 1.0),
        (2, "2026-01-13 10:00:00", 1, "view", 1.0),
        (3, "2026-01-28 10:00:00", 1, "view", 1.0),
        (4, "2026-01-07 10:00:00", 2, "view", 1.0),
        # cohort B (week of 2026-01-12): u3 active wk0 and wk1
        (5, "2026-01-14 10:00:00", 3, "view", 1.0),
        (6, "2026-01-20 10:00:00", 3, "view", 1.0),
    ]
    sf_dir = _write_events(tmp_path, rows)
    out = {
        (r.cohort_week, r.weeks_since): r.n_active_users
        for r in REGISTRY["events_retention_cohorts"].fn(spark, sf_dir).collect()
    }
    assert out == {
        ("2026-01-05", 0): 2,  # u1, u2
        ("2026-01-05", 1): 1,  # u1
        ("2026-01-05", 3): 1,  # u1 (wk2 gap: no row)
        ("2026-01-12", 0): 1,  # u3
        ("2026-01-12", 1): 1,  # u3
    }


def _write_docs(tmp_path, n, start=0):
    df = pd.DataFrame(
        {
            "doc_id": range(start, start + n),
            "text": [f"document number {i} body text" for i in range(start, start + n)],
            "lang": ["en"] * n,
            "source": ["srcA"] * n,
        }
    )
    df["n_chars"] = df["text"].str.len().astype("int64")
    df = df.astype({"doc_id": "int64"})
    df.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_stratified_topn_exact_count_and_growth_stability(spark, tmp_path):
    """Exactly N picks per stratum, and corpus growth by one doc
    displaces at most one prior pick (hash-rank stability — the
    property that keeps eval sets comparable across crawls)."""
    sf_dir = _write_docs(tmp_path, 30)
    q = REGISTRY["sample_stratified_topn"].fn
    before = {r.doc_id for r in q(spark, sf_dir).collect()}
    assert len(before) == 10
    _write_docs(tmp_path, 31)  # same 30 docs + one new
    after = {r.doc_id for r in q(spark, sf_dir).collect()}
    assert len(after) == 10
    assert len(before & after) >= 9


def test_pareto_top80_integer_boundary(spark, tmp_path):
    """The in_top80 flag is integer-exact at the boundary: a user whose
    preceding cumulative share is exactly 80% is OUT (strict <), with
    no float wobble deciding it."""
    rows = [
        (1, "2026-01-01 10:00:00", 1, "view", 80.0),  # head: 80% of value
        (2, "2026-01-01 10:01:00", 2, "view", 15.0),
        (3, "2026-01-01 10:02:00", 3, "view", 5.0),
    ]
    sf_dir = _write_events(tmp_path, rows)
    out = {r.user_id: r for r in REGISTRY["events_pareto_users"].fn(spark, sf_dir).collect()}
    assert out[1].in_top80 is True and out[1].rnk == 1
    # cum before u2 is exactly 80/100 -> excluded by strict <
    assert out[2].in_top80 is False
    assert out[3].in_top80 is False
    assert out[1].cum_share == 0.8 and out[3].cum_share == 1.0


def test_quantizer_constant_dimension_and_range(spark, tmp_path):
    """A constant dimension (max = min) must encode 0 — not NaN or a
    division error — and varying dims must hit the exact [0, 255]
    endpoints (min → 0, max → clamped 255)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "vec_id": pa.array([1, 2, 3], type=pa.int64()),
            "embedding": pa.array(
                [[1.0, 5.0], [2.0, 5.0], [3.0, 5.0]],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 0, 0], type=pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    out: dict[int, dict[int, int]] = {}
    rows = embedding_quantize_int8(spark, str(tmp_path)).collect()
    for r in rows:
        out.setdefault(r.vec_id, {})[r.dim] = r.code
    assert out == {
        1: {0: 0, 1: 0},
        2: {0: 128, 1: 0},
        3: {0: 255, 1: 0},
    }


def test_drift_report_fires_on_planted_shift(spark, tmp_path):
    """A batch whose lengths land in a different histogram bucket than
    the corpus must produce witness=false rows for both the vacated
    and the newly-filled bucket."""
    n = 100
    # cutoff = max(doc_id)*9//10 = 89, so the batch is doc_id 89..99:
    # one straggler short doc plus the ten shifted ones.
    texts = ["x" * 100] * 90 + ["y" * 500] * 10
    df = pd.DataFrame(
        {
            "doc_id": range(n),
            "text": texts,
            "lang": ["en"] * n,
            "source": ["srcA"] * n,
        }
    )
    df["n_chars"] = df["text"].str.len().astype("int64")
    df = df.astype({"doc_id": "int64"})
    df.to_parquet(tmp_path / "documents.parquet", index=False)
    rows = {r.bucket: r for r in REGISTRY["dq_drift_report"].fn(spark, str(tmp_path)).collect()}
    assert rows[1].corpus_n == 89 and rows[1].batch_n == 1
    assert rows[8].corpus_n == 0 and rows[8].batch_n == 10
    assert rows[1].share_within_10pct is False
    assert rows[8].share_within_10pct is False
