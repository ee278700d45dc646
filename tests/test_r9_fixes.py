"""Round-9 fixes: the pandas-path comparator blind spot and nanos
fixtures.

Root cause of the r7/r8 driver reds (stream_windowed_cms ×2,
events_attribution_linear, sensor_trend_ols — all hash-only,
rows/schema matched, locally green for two rounds): diffcheck.py
compares ``fetchall()`` rows where both engines' wide integers are
EXACT Python objects, while the driver compares through DataFrame
conversion where DuckDB ``.df()`` renders HUGEINT as float64 (lossy
past 2^53 and '38.0' vs '38' below it) and Spark ``.toPandas()``
renders DECIMAL(38,0) as object Decimal. Exactly the three queries
with HUGEINT/DECIMAL final output columns red — reproduced locally by
tools/strictcheck.py and fixed by casting every final column to a
shared dtype family (long/double/string). These tests pin the rule
structurally for the whole registry plus the nanos-unit fixture axis
(VERDICT r8 #6) that the same blindness analysis surfaced.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql import types as T

from bigdata_riveranalysis_spark.plans.registry import REGISTRY

from .conftest import SF_SMOKE


def test_no_oracle_emits_hugeint_or_decimal_columns(duck):
    """DuckDB `DESCRIBE <oracle>` (plans without executing): no
    registered oracle may emit HUGEINT/INT128 *or DECIMAL* in its
    FINAL schema — a pandas-path comparator converts both to float64
    ('5.0' vs Spark's '5', lossy past 2^53), which is the exact r7/r8
    driver-red mechanism. Wide arithmetic stays internal (CTEs may
    use HUGEINT/DECIMAL freely). DECIMAL included per review: the
    'wide decimal sums' policy makes a CAST(... AS DECIMAL(38,0))
    final the most likely future recurrence of the class."""
    offenders = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        desc = duck.execute(f"DESCRIBE {q.oracle}").fetchall()
        bad = [
            (col, typ) for col, typ, *_ in desc
            if any(t in typ.upper() for t in ("HUGEINT", "INT128", "DECIMAL"))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"oracles with HUGEINT/DECIMAL final columns (driver-red class): "
        f"{offenders}"
    )


def test_no_query_emits_decimal_columns(spark):
    """Spark side of the same rule: no query's FINAL schema may carry
    DecimalType — ``toPandas()`` renders it as object-dtype
    ``decimal.Decimal``, which canonicalizes differently from the
    oracle's int64/float64 under repr-style canons. Batch plans are
    lazy (schema analysis only); streaming drains DO execute at
    SF_SMOKE — a few seconds each, the price of covering the tier the
    r7 red actually lived in (review: the earlier skip left a
    streaming DECIMAL final invisible to pytest, backstopped only by
    the manually-run strictcheck)."""
    offenders = {}
    for name, q in REGISTRY.items():
        schema = q.fn(spark, SF_SMOKE).schema
        bad = [f.name for f in schema.fields
               if isinstance(f.dataType, T.DecimalType)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"queries with DECIMAL final columns (driver-red class): {offenders}"
    )


def test_strict_canon_distinguishes_dtype_families():
    """The strictcheck canonicalizer must NOT collapse 5.0 to '5' —
    that collapse is precisely what made diffcheck blind to the
    HUGEINT->float64 conversion for two rounds."""
    from tools.canon import canon_strict

    assert canon_strict(5.0) != canon_strict(5)
    assert canon_strict(9007199254740993.0) != canon_strict(9007199254740993)
    assert canon_strict(None) == "NULL"
    assert canon_strict(float("nan")) == "NaN"
    # Signed zero stays visible: round() of a signed statistic can
    # land on -0.0 in one engine and +0.0 in the other (agg_stats_corr
    # qty_skew at sf0.001). Queries normalize with `+ 0.0` after the
    # round; the canon must KEEP flagging any query that doesn't.
    assert canon_strict(-0.0) != canon_strict(0.0)


def test_dtype_family_flags_decimal_and_float_vs_int():
    import decimal

    import pandas as pd

    from tools.canon import dtype_family, family_mismatches

    sp = pd.DataFrame(
        {"a": pd.array([1, 2], dtype="int64"),
         "b": [decimal.Decimal(3), decimal.Decimal(4)]}
    )
    du = pd.DataFrame({"a": [1.0, 2.0], "b": [3, 4]})
    assert dtype_family(sp["b"]) == "decimal"
    got = sorted(family_mismatches(sp, du))
    assert got == ["a: spark=int duckdb=float", "b: spark=decimal duckdb=int"]


# ---------------------------------------------------------------------------
# nanos-unit fixtures (VERDICT r8 #6): the legacy-read path
# (sources/tables.py nanosAsLong + ts DIV 1000) had never been fed a
# genuinely nanos parquet by any sweep.
# ---------------------------------------------------------------------------


def _nanos_fixture(tmp_path, ns_offsets: int = 0) -> str:
    """Copy sf0.001 with events.ts rewritten as TIMESTAMP(NANOS);
    optionally add sub-µs remainders to every 3rd row."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = str(tmp_path / "sfnanos")
    os.makedirs(d)
    for t in ("events",):
        tbl = pq.read_table(f"{SF_SMOKE}/{t}.parquet")
        ts = tbl.column("ts").cast(pa.timestamp("ns"))
        if ns_offsets:
            raw = ts.cast(pa.int64())
            bump = pa.array(
                [ns_offsets if i % 3 == 0 else 0 for i in range(len(raw))],
                type=pa.int64(),
            )
            ts = pc.add(raw, bump).cast(pa.timestamp("ns"))
        idx = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(idx, pa.field("ts", pa.timestamp("ns")), ts)
        pq.write_table(tbl, f"{d}/{t}.parquet")
    return d


def test_nanos_events_golden_batch_parity(spark, tmp_path):
    """A ns-unit generation carrying the SAME instants (zero sub-µs
    remainder — what a µs-grained generator writing datetime64[ns]
    produces) must yield bit-identical results to the µs fixture
    through the legacy-read path, for a batch events query that was
    driver-red (events_attribution_linear)."""
    d = _nanos_fixture(tmp_path, ns_offsets=0)
    fn = REGISTRY["events_attribution_linear"].fn
    got = sorted(map(tuple, fn(spark, d).collect()))
    want = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
    assert got == want and len(got) > 0


def test_nanos_events_golden_stream_parity(spark, tmp_path):
    """Same ns-unit golden through a real Structured Streaming drain
    (stream_windowed_cms — red r7+r8): the file-stream source must
    apply the identical nanos truncation as the batch scan."""
    d = _nanos_fixture(tmp_path, ns_offsets=0)
    fn = REGISTRY["stream_windowed_cms"].fn
    got = sorted(map(tuple, fn(spark, d).collect()))
    want = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
    assert got == want and len(got) > 0


def test_nanos_submicro_remainders_truncate_not_round(spark, tmp_path):
    """Nonzero sub-µs remainders (planted +999 ns on every 3rd event)
    must TRUNCATE toward the µs floor — ts DIV 1000, matching DuckDB's
    epoch_us floor — so results still equal the µs fixture exactly.
    A rounding read would move knife-edge rows across window/interval
    boundaries."""
    d = _nanos_fixture(tmp_path, ns_offsets=999)
    fn = REGISTRY["events_attribution_linear"].fn
    got = sorted(map(tuple, fn(spark, d).collect()))
    want = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
    assert got == want


def test_nanos_oracle_agrees_on_zero_remainder_fixture(spark, tmp_path):
    """DuckDB reads a ns-unit parquet natively at ns precision; the
    engine truncates to µs. On a zero-remainder generation the two
    agree exactly — pinned end-to-end here by running the REGISTERED
    oracle against the nanos fixture and diffing canonical rows.
    (With nonzero sub-µs remainders an ns-precision oracle may
    legitimately diverge at interval knife-edges; real generations
    are µs-grained, and the engine's truncation is the documented
    contract either way.)"""
    import duckdb

    d = _nanos_fixture(tmp_path, ns_offsets=0)
    q = REGISTRY["events_attribution_linear"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    drows = sorted(
        tuple(str(v) for v in r) for r in con.execute(q.oracle).fetchall()
    )
    srows = sorted(
        tuple(str(v) for v in r) for r in q.fn(spark, d).collect()
    )
    assert srows == drows and len(srows) > 0


def test_ewma_physical_nan_reading_matches_oracle(spark, tmp_path):
    """A PHYSICALLY-NaN double reading (non-null NaN — schema-legal in
    parquet, distinct from NULL) must behave exactly like a NULL one
    on both sides: the engine's v != v check skips it and the Arrow
    output boundary nullifies it; the oracle normalizes it at the
    scan (review r9 — 'value IS NULL' alone would seed the recurrence
    with NaN and poison every later ewma). Targeted here rather than
    planted corpus-wide by fixturefuzz because DuckDB raises on
    CAST(NaN AS BIGINT), which would crash every cents-based oracle
    on out-of-domain data."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "sfnan")
    os.makedirs(d)
    day = 1_705_363_200_000_000  # 2024-01-16 UTC µs
    rows = [
        (1, day + 1_000_000, 7, "reading", float("nan")),  # physical NaN first
        (2, day + 2_000_000, 7, "reading", 10.0),
        (3, day + 3_000_000, 7, "reading", 100.0),  # spike vs ewma=10
        (4, day + 1_000_000, 8, "reading", 5.0),
        (5, day + 2_000_000, 8, "reading", float("nan")),  # mid-stream NaN
        (6, day + 3_000_000, 8, "reading", 6.0),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.int64()).cast(
                pa.timestamp("us")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            # plain pa.array keeps NaN as a VALUE (from_pandas=True
            # would nullify it — the whole point is that it doesn't)
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, f"{d}/events.parquet")
    assert tbl.column("value").null_count == 0  # physically NaN, not null

    q = REGISTRY["stream_ewma_spikes"]
    collected = [tuple(r) for r in q.fn(spark, d).collect()]  # one drain
    srows = sorted(tuple(map(str, r)) for r in collected)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    drows = sorted(tuple(map(str, r)) for r in con.execute(q.oracle).fetchall())
    assert srows == drows
    # and the NaN readings surface as SQL NULL, with state unpoisoned
    # (output schema: sensor_id, event_id, value, ewma, is_spike)
    by_id = {int(r[1]): r for r in collected}
    assert by_id[1][2] is None and by_id[1][3] is None  # value, ewma NULL
    assert by_id[3][4] is True  # spike still detected after the NaN
    assert by_id[5][3] == 5.0  # mid-stream NaN passes prior ewma through


def test_sample_domain_mix_has_no_join_stage(spark):
    """VERDICT r8 #4/#8: the per-call 5-row createDataFrame +
    broadcast join billed this trivial aggregate at 4.33 s. The
    weight lookup now rides in the plan as a literal map — the
    physical plan must contain NO join operator and at most the one
    aggregate exchange."""
    df = REGISTRY["sample_domain_mix"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    # One hash exchange (the aggregate). The RoundRobin spread of the
    # single-file scan from _docs() is deliberate and not a shuffle
    # this query added.
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_events_extra_nanos_column_rejected_before_conf_flip(spark, tmp_path):
    """Review r9 second pass: (a) a nanos events file carrying a
    SECOND nanos column must be rejected — only ts has the truncation
    treatment, so the extra column would flow into plans as a raw
    long; (b) the rejection must fire BEFORE the nanosAsLong conf
    flip, so a caller-provided session is left untouched by a load
    that never happened. Uses newSession() with the conf explicitly
    cleared — the caller-session shape (the engine fixture pins the
    conf at build time; getOrCreate would just return it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_riveranalysis_spark.sources.tables import load_table

    d = str(tmp_path / "sfbad2")
    os.makedirs(d)
    tbl = pq.read_table(f"{SF_SMOKE}/events.parquet")
    ts = tbl.column("ts").cast(pa.timestamp("ns"))
    idx = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(idx, pa.field("ts", pa.timestamp("ns")), ts)
    tbl = tbl.append_column(pa.field("ingest_ts", pa.timestamp("ns")), ts)
    pq.write_table(tbl, f"{d}/events.parquet")

    caller = spark.newSession()
    caller.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(ValueError, match="ingest_ts"):
        load_table(caller, d, "events")
    assert (
        caller.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    ), "rejected load must not flip the caller session's nanos conf"


def test_non_events_nanos_column_rejected_loudly(spark, tmp_path):
    """ADVICE r8 #3: engine sessions pin nanosAsLong=true, which would
    silently hand a foreign NANOS column to plans as LongType. Only
    events has a nanos strategy; every other table must fail loudly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_riveranalysis_spark.sources.tables import load_table

    d = str(tmp_path / "sfbad")
    os.makedirs(d)
    shutil.copy(f"{SF_SMOKE}/region.parquet", f"{d}/region.parquet")
    tbl = pq.read_table(f"{SF_SMOKE}/orders.parquet")
    idx = tbl.schema.get_field_index("o_orderdate")
    col = tbl.column("o_orderdate").cast(pa.timestamp("ns"))
    tbl = tbl.set_column(idx, pa.field("o_orderdate", pa.timestamp("ns")), col)
    pq.write_table(tbl, f"{d}/orders.parquet")
    # untouched table still loads
    assert load_table(spark, d, "region").count() > 0
    with pytest.raises(ValueError, match="o_orderdate"):
        load_table(spark, d, "orders")
