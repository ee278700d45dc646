"""r15 regression pins.

  1. retime probe-honesty (VERDICT r14 nit #2 / next-round #3): a
     re-time whose own dgemm probes are hot retries up to the bounded
     attempt budget; if every attempt is contaminated the record says
     ``inconclusive`` instead of presenting a loaded number as
     adjudication evidence. r14 recorded two such contaminated
     re-times (dedup_containment_ngram, fuzzy_part_name_pairs with
     0.21 s after-probes against a ~0.03 s idle floor).
  2. Zero-floor visibility (ADVICE r14): a quiet-band floor recorded
     as 0.0 no longer makes the row silently unflaggable —
     ``flag_rows`` guards explicitly and ``requalify`` records the
     row as ``{"zero_floor": true}`` in the evidence map.
  3. Staging memo hygiene (ADVICE r14): moving the SparkContext's
     checkpoint dir to a DIFFERENT path mid-session re-routes new
     materializations; clear_index_memo deletes durable
     checkpoint FILES (reliable-checkpoint files are not blocks —
     without cleanCheckpoints on the host session they leak forever);
     different stage keys build in parallel instead of serializing
     behind one global lock.
"""

from __future__ import annotations

import glob
import os
import threading

from .conftest import SF_SMOKE, checkpoint_dir


def _toy_query(s, d):
    return s.range(1000).selectExpr("sum(id) AS s")


# ---------------------------------------------------------------------------
# 1. probe-honest requalification
# ---------------------------------------------------------------------------


def _patch_probes(monkeypatch, values):
    """Feed a fixed sequence into tools.retime._idle_probe; repeats
    the last value once the scripted sequence is exhausted."""
    import tools.retime as R

    seq = list(values)

    def fake_probe():
        return seq.pop(0) if len(seq) > 1 else seq[0]

    monkeypatch.setattr(R, "_idle_probe", fake_probe)


def test_requalify_retries_until_probes_idle(spark, monkeypatch):
    """First attempt contaminated (hot after-probe) → a second attempt
    with idle probes replaces it; no inconclusive marker, one hot try
    counted."""
    from tools.retime import requalify

    # attempt 1: before 0.03 / after 0.25 (hot) — attempt 2: 0.03/0.03.
    _patch_probes(monkeypatch, [0.03, 0.25, 0.03, 0.03])
    rec = requalify(
        spark,
        SF_SMOKE,
        {"toy": _toy_query},
        {"toy": 2.5},
        {"toy": 4.0},
        runs=1,
        attempts=3,
    )["toy"]
    assert "inconclusive" not in rec
    assert rec["attempts_probe_hot"] == 1
    assert rec["probe_sec"] == 0.03 and rec["probe_sec_after"] == 0.03
    assert rec["retime_min"] > 0 and rec["ratio"] == 1.6


def test_requalify_marks_inconclusive_when_probes_stay_hot(spark, monkeypatch):
    """Every attempt contaminated → bounded attempts, then the least-
    contaminated attempt is kept and flagged inconclusive."""
    from tools.retime import requalify

    # Three attempts, all hot; the middle one is least hot (0.12) so
    # its probes must be the ones kept. The r16 end-of-pass retry then
    # takes one more attempt (probes repeat the scripted tail: 0.40,
    # still hot), which bumps the hot counter to 4 without unseating
    # the least-contaminated record — tested clean-side in
    # tests/test_r16_fixes.py.
    _patch_probes(monkeypatch, [0.30, 0.25, 0.12, 0.10, 0.40, 0.40])
    rec = requalify(
        spark,
        SF_SMOKE,
        {"toy": _toy_query},
        {"toy": 2.5},
        {"toy": 4.0},
        runs=1,
        attempts=3,
    )["toy"]
    assert rec["inconclusive"] is True
    assert rec["attempts_probe_hot"] == 4
    assert rec["probe_sec"] == 0.12 and rec["probe_sec_after"] == 0.10
    assert "retime_min" in rec, "the least-bad re-time is still recorded"


def test_requalify_single_clean_attempt_unchanged(spark, monkeypatch):
    """Idle probes on the first attempt → exactly the r14 record shape
    (no inconclusive, no attempts_probe_hot keys)."""
    from tools.retime import requalify

    _patch_probes(monkeypatch, [0.03, 0.03])
    rec = requalify(
        spark,
        SF_SMOKE,
        {"toy": _toy_query},
        {"toy": 2.5},
        {"toy": 4.0},
        runs=2,
    )["toy"]
    assert "inconclusive" not in rec and "attempts_probe_hot" not in rec
    assert rec["band"] == 2.5 and rec["bench_min"] == 4.0
    assert len(rec["retime_runs"]) == 2


# ---------------------------------------------------------------------------
# 2. zero-floor rows are visible, not exempt
# ---------------------------------------------------------------------------


def test_flag_rows_zero_floor_guard():
    from tools.retime import flag_rows, zero_floor_rows

    band = {"a": 1.0, "z": 0.0}
    timings = {"a": 2.0, "z": 9.9}
    flagged = flag_rows(timings, band, factor=1.35)
    assert flagged == {"a": 2.0}, "zero-floor row must not divide-by-zero or flag"
    assert zero_floor_rows(timings, band) == ["z"]


def test_requalify_records_zero_floor_rows(spark, monkeypatch):
    from tools.retime import requalify

    _patch_probes(monkeypatch, [0.03, 0.03])
    out = requalify(
        spark,
        SF_SMOKE,
        {"z": _toy_query},
        {"z": 0.0},
        {"z": 9.9},
        runs=1,
    )
    assert out["z"] == {"zero_floor": True, "band": 0.0, "bench_min": 9.9}


# ---------------------------------------------------------------------------
# 3. staging memo hygiene
# ---------------------------------------------------------------------------


def _ckpt_rdd_dirs(root) -> list[str]:
    """rdd-* reliable-checkpoint dirs anywhere under a checkpoint root
    (Spark nests them under a per-setCheckpointDir UUID subdir)."""
    return glob.glob(os.path.join(str(root), "**", "rdd-*"), recursive=True)


def test_checkpoint_dir_flip_reroutes(spark, tmp_path):
    """Moving the SparkContext's checkpoint dir mid-session must
    re-route new materializations, not be silently ignored."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    d1, d2 = tmp_path / "ck1", tmp_path / "ck2"
    with checkpoint_dir(spark, d1):
        S.stage(spark, SF_SMOKE, "r15_flip_a", lambda: spark.range(10))
    assert _ckpt_rdd_dirs(d1), "first stage must checkpoint under dir 1"

    with checkpoint_dir(spark, d2):
        S.stage(spark, SF_SMOKE, "r15_flip_b", lambda: spark.range(20))
    assert _ckpt_rdd_dirs(d2), "post-flip stage must checkpoint under dir 2"
    S.clear_index_memo()


def test_clear_index_memo_deletes_durable_checkpoint_files(spark, tmp_path):
    """Reliable-checkpoint files are not blocks: clear_index_memo must
    delete them (Spark only would with cleanCheckpoints enabled)."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    ck = tmp_path / "ck_durable"
    with checkpoint_dir(spark, ck):
        got = S.stage(spark, SF_SMOKE, "r15_durable_probe", lambda: spark.range(500))
        assert got.count() == 500
        before = _ckpt_rdd_dirs(ck)
        assert before, "precondition: durable mode must write checkpoint files"
        S.clear_index_memo()
        assert not _ckpt_rdd_dirs(ck), (
            "clear must delete the dropped frames' durable checkpoint dirs"
        )


def test_stage_different_keys_build_in_parallel(spark):
    """A slow build of stage A must not block an unrelated stage B
    (per-key locks; the old single global RLock serialized them)."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()
    slow_started = threading.Event()
    release_slow = threading.Event()
    done: list[str] = []

    def slow_build():
        slow_started.set()
        assert release_slow.wait(timeout=30), "test deadlock"
        return spark.range(5)

    def slow_worker():
        S.stage(spark, SF_SMOKE, "r15_slow_stage", slow_build)
        done.append("slow")

    t_slow = threading.Thread(target=slow_worker)
    t_slow.start()
    assert slow_started.wait(timeout=30)
    # While the slow build holds ITS key lock, a different key must
    # stage to completion.
    fast_done = threading.Event()

    def fast_worker():
        S.stage(spark, SF_SMOKE, "r15_fast_stage", lambda: spark.range(3))
        fast_done.set()

    t_fast = threading.Thread(target=fast_worker)
    t_fast.start()
    assert fast_done.wait(timeout=30), (
        "an unrelated stage must not serialize behind the slow build"
    )
    release_slow.set()
    t_slow.join(timeout=30)
    t_fast.join(timeout=5)
    assert done == ["slow"]
    S.clear_index_memo()


def test_stage_builder_reentry_same_thread(spark):
    """A builder that itself stages a sub-artifact (different key) must
    not deadlock under the per-key locks."""
    from bigdata_riveranalysis_spark.plans import staging as S

    S.clear_index_memo()

    def outer_build():
        inner = S.stage(spark, SF_SMOKE, "r15_inner", lambda: spark.range(4))
        return inner.selectExpr("id * 2 AS id2")

    got = S.stage(spark, SF_SMOKE, "r15_outer", outer_build)
    assert got.count() == 4
    S.clear_index_memo()


# ---------------------------------------------------------------------------
# 4. feature_map_bundle: sentinel collision closed + tested state TTL
# ---------------------------------------------------------------------------


def _ev(event_id, ts, user_id, event_type):
    import json

    return json.dumps(
        {
            "event_id": event_id,
            "ts": ts,
            "user_id": user_id,
            "event_type": event_type,
            "value": 1.0,
            "props": "{}",
        }
    )


def _replay_batches(
    spark, tmp_path, batches, *, ttl_ms=None, n_rows=None, name="r15_feat"
):
    """One JSON file per micro-batch through feature_map_bundle into a
    memory sink; returns {event_id: row}.

    Default mode drains with availableNow. TTL mode must run a
    CONTINUOUS trigger and stop explicitly once ``n_rows`` output rows
    land: Trigger.AvailableNow never terminates under
    ProcessingTimeTimeout (shouldRunAnotherBatch is unconditionally
    true — see stateful.feature_map_bundle's docstring)."""
    import os
    import time

    from bigdata_riveranalysis_spark.streaming.sources import file_json_stream
    from bigdata_riveranalysis_spark.streaming.stateful import feature_map_bundle

    src = tmp_path / f"src_{name}"
    src.mkdir()
    t0 = time.time() - len(batches)
    for i, rows in enumerate(batches):
        p = src / f"batch_{i:03d}.json"
        p.write_text("\n".join(rows) + "\n")
        os.utime(p, (t0 + i, t0 + i))
    stream = file_json_stream(spark, str(src), max_files_per_trigger=1)
    out = feature_map_bundle(stream, ttl_ms=ttl_ms)
    writer = out.writeStream.format("memory").queryName(name).outputMode("append")
    if ttl_ms is None:
        q = writer.trigger(availableNow=True).start()
        try:
            assert q.awaitTermination(120), "streaming query timed out"
        finally:
            q.stop()
    else:
        q = writer.start()
        try:
            deadline = time.time() + 120
            while spark.table(name).count() < n_rows:
                assert q.exception() is None, str(q.exception())
                assert time.time() < deadline, (
                    f"only {spark.table(name).count()}/{n_rows} rows in 120s"
                )
                time.sleep(0.5)
        finally:
            q.stop()
    return {r.event_id: r for r in spark.table(name).collect()}


def test_feature_map_bundle_sentinel_value_distinct_from_null(spark, tmp_path):
    """A genuine event_type equal to any former sentinel spelling must
    NOT merge with NULL-typed events (ADVICE r14: injective key
    encoding). User 1 interleaves NULL and the literal strings
    '\\x00null' / '\\x00': each must count as its own type."""
    rows = _replay_batches(
        spark,
        tmp_path,
        [
            [
                _ev(1, "2024-01-01 00:00:00", 1, None),
                _ev(2, "2024-01-01 00:01:00", 1, "\x00null"),
                _ev(3, "2024-01-01 00:02:00", 1, "\x00"),
                _ev(4, "2024-01-01 00:03:00", 1, None),
                _ev(5, "2024-01-01 00:04:00", 1, "\x00null"),
            ]
        ],
        name="r15_sentinel",
    )
    # NULL is its own partition: occurrences 1 then 2.
    assert (rows[1].type_occurrence, rows[1].is_new_type) == (1, True)
    assert (rows[4].type_occurrence, rows[4].is_new_type) == (2, False)
    # the literal strings are each their own type, not merged with NULL
    assert (rows[2].type_occurrence, rows[2].is_new_type) == (1, True)
    assert (rows[3].type_occurrence, rows[3].is_new_type) == (1, True)
    assert (rows[5].type_occurrence, rows[5].is_new_type) == (2, False)
    # 3 distinct types after event 3 (NULL, '\x00null', '\x00')
    assert rows[3].n_types_so_far == 3
    assert rows[5].n_types_so_far == 3 and rows[5].events_so_far == 5


def test_feature_map_bundle_ttl_expires_and_rebuilds(spark, tmp_path):
    """ttl_ms mode: a user idle past the TTL has their bundle removed
    (ProcessingTimeTimeout) and a later event rebuilds from empty —
    occurrence indices restart at 1."""
    rows = _replay_batches(
        spark,
        tmp_path,
        [
            # batch 1: user 1 builds state; user 2 keeps the stream busy
            [
                _ev(1, "2024-01-01 00:00:00", 1, "view"),
                _ev(2, "2024-01-01 00:01:00", 2, "view"),
            ],
            # batch 2: user 1 absent → its 1 ms TTL has expired by the
            # time this batch processes → bundle removed
            [_ev(3, "2024-01-01 00:02:00", 2, "view")],
            # batch 3: user 1 returns → rebuilt from EMPTY
            [_ev(4, "2024-01-01 00:03:00", 1, "view")],
        ],
        ttl_ms=1,
        n_rows=4,
        name="r15_ttl",
    )
    assert (rows[1].type_occurrence, rows[1].is_new_type) == (1, True)
    # user 2's state survived (it had data in every batch, TTL reset)
    assert (rows[3].type_occurrence, rows[3].events_so_far) == (2, 2)
    # user 1's second 'view' would be occurrence 2 without the expiry
    assert (rows[4].type_occurrence, rows[4].is_new_type) == (1, True)
    assert rows[4].events_so_far == 1, "bundle must rebuild from empty"


def test_feature_map_bundle_default_no_ttl_semantics_unchanged(spark, tmp_path):
    """Without ttl_ms the operator keeps state across arbitrarily
    spaced batches — the registered query's semantics are untouched by
    the TTL switch."""
    rows = _replay_batches(
        spark,
        tmp_path,
        [
            [_ev(1, "2024-01-01 00:00:00", 1, "view")],
            [_ev(2, "2024-01-01 00:02:00", 1, "view")],
        ],
        name="r15_nottl",
    )
    assert (rows[2].type_occurrence, rows[2].events_so_far) == (2, 2)


# ---------------------------------------------------------------------------
# 5. record_band --merge-min: floors only ratchet DOWN
# ---------------------------------------------------------------------------


def test_record_band_merge_min_ratchets_floors_down(tmp_path):
    """A gate-passing run can still carry burst landfall on individual
    rows (probes sample between queries); with --merge-min each floor
    is min(run, prior band) so a burst-hit row can't loosen its own
    regression tripwire, while genuinely faster rows and new queries
    record from the run."""
    import json
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = str(tmp_path / "rbm")
    os.makedirs(os.path.join(tmp, "tools"), exist_ok=True)
    shutil.copy(
        os.path.join(repo, "tools", "record_band.py"),
        os.path.join(tmp, "tools", "record_band.py"),
    )
    quiet_noise = [
        {"pass": 2, "loadavg_1m": 5.0, "probe_sec": 0.03},
        {"pass": 3, "loadavg_1m": 5.0, "probe_sec": 0.035},
    ]
    with open(os.path.join(tmp, "BENCH.json"), "w") as f:
        json.dump(
            {
                "value": 3.0,
                "sf": 0.1,
                # a: burst-inflated vs prior; b: faster than prior; c: new
                "queries": {"a": 2.0, "b": 0.4, "c": 0.6},
                "loadavg_at_min": {"a": 5.0, "b": 5.0, "c": 5.0},
                "noise": quiet_noise,
                "errors": {},
            },
            f,
        )
    with open(os.path.join(tmp, "QUIET_BAND.json"), "w") as f:
        json.dump(
            {
                "queries": {
                    "a": {"min": 0.5, "loadavg_at_min": 4.0},
                    "b": {"min": 0.6, "loadavg_at_min": 4.0},
                }
            },
            f,
        )
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(tmp, "tools", "record_band.py"),
            "t",
            "--merge-min",
        ],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    band = json.load(open(os.path.join(tmp, "QUIET_BAND.json")))["queries"]
    assert band["a"] == {"min": 0.5, "loadavg_at_min": 4.0}, (
        "inflated row keeps the tighter prior floor and its context"
    )
    assert band["b"]["min"] == 0.4, "faster row tightens"
    assert band["c"]["min"] == 0.6, "new query records from the run"
    # without --merge-min the run replaces wholesale (prior behavior)
    r2 = subprocess.run(
        [sys.executable, os.path.join(tmp, "tools", "record_band.py"), "t"],
        capture_output=True,
        text=True,
    )
    assert r2.returncode == 0
    band2 = json.load(open(os.path.join(tmp, "QUIET_BAND.json")))["queries"]
    assert band2["a"]["min"] == 2.0
