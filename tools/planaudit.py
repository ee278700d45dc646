"""Physical-plan audit: one row of plan-quality metrics per query.

Writes PLANS.md — for every registered query, the properties that
matter at 100 TB, extracted from the physical plan:

  * exchanges   — shuffle count (the scale cost driver)
  * joins       — strategies chosen (broadcast vs sort-merge vs hash)
  * pushdown    — whether any parquet scan carries PushedFilters
  * codegen     — whole-stage-codegen span count
  * python      — Arrow-batched Python stages (mapInPandas etc.);
                  row-at-a-time BatchEvalPython is a FAILURE

Usage: python tools/planaudit.py [sf_dir]

Streaming queries execute their (availableNow) job when built, so
this audits their *result* plan; the streaming micro-batch plan
itself is asserted in tests/test_streaming.py.
"""

from __future__ import annotations

import os
import re
import sys

# Anchor imports to the repo root (this file's parent's parent) so the
# tool runs from any cwd — same fix bench.py carries (review finding).
# PYTHONPATH too: the driver's sys.path does NOT propagate to Python
# workers, so Arrow-UDF queries (mapInPandas) would fail to unpickle
# their module references when launched from a foreign cwd.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

JOIN_OPS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def global_windows(plan: str) -> int:
    """Count Window nodes with NO partition spec — the single-reducer
    shape. A Window line prints `Window [exprs], [part], [order]`
    (two `], [` separators) when partitioned-and-ordered,
    `Window [exprs], [spec]` (one) for partition-ONLY or
    unpartitioned-ordered, and `Window [exprs]` (zero) for the fully
    global frame. The one-separator case is disambiguated by content:
    an order spec always prints SortOrder's ` NULLS ` keyword, a
    partition spec never does (verified empirically; a partition-only
    window is per-key parallel and must NOT be counted — it was, in
    the first cut of this audit). Remaining global windows must run
    over BOUNDED inputs only (per-month rows, the P-row band-offset
    table of scale.two_level_prefix, …) — the footnote in PLANS.md
    names them; an unbounded-input one is a scale defect (VERDICT
    r5 #3)."""
    return sum(
        1
        for line in plan.splitlines()
        if re.search(r"\bWindow \[", line) and is_global_window_line(line)
    )


def is_global_window_line(line: str) -> bool:
    """Single-line classifier shared with tests/test_r6_operators.py;
    see global_windows for the print-format grammar."""
    seps = line.count("], [")
    if seps >= 2:
        return False  # partitioned + ordered
    if seps == 1 and " NULLS " not in line.rsplit("], [", 1)[1]:
        return False  # partition-only spec — per-key parallel
    return True


def audit_plan(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "joins": sorted({op for op in JOIN_OPS if op in plan}),
        "pushdown": bool(re.search(r"PushedFilters: \[(?!\])", plan)),
        # codegen'd operators print as "*(n) Op"; count distinct spans
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "arrow_python": len(
            re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)
        ),
        "row_python": len(re.findall(r"BatchEvalPython", plan)),
        "global_window": global_windows(plan),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from bigdata_riveranalysis_spark.plans import REGISTRY
    from bigdata_riveranalysis_spark.session import get_spark

    spark = get_spark("planaudit")
    lines = [
        "# PLANS — physical-plan audit (generated by tools/planaudit.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Columns: shuffle Exchange count, join",
        "strategies, parquet filter pushdown present, whole-stage-codegen spans,",
        "Arrow-batched Python stages, and unpartitioned (single-reducer)",
        "Window nodes — all read from the EXECUTED final AQE",
        "plan (the plan that actually ran, post broadcast-conversion and",
        "coalescing), not the pre-AQE estimate. Row-at-a-time Python",
        "(BatchEvalPython) anywhere is a defect and fails tools/planaudit.py.",
        "",
        "Every remaining global-window count runs over a BOUNDED input —",
        "per-month aggregates (orders_monthly_momentum), the ≤10-row bucket",
        "histogram (dq_drift_report), or the P-row band-offset table inside",
        "scale.two_level_prefix (the banded rewrite that replaced the",
        "unbounded-cardinality global windows of customer_rfm_segments and",
        "events_pareto_users; pinned by tests/test_r6_operators.py).",
        "",
        "| query | exchanges | joins | pushdown | codegen | arrow-python | global-window |",
        "|---|---|---|---|---|---|---|",
    ]
    offenders = []
    for name, q in REGISTRY.items():
        try:
            df = q.fn(spark, sf_dir)
            # Execute the DataFrame's OWN QueryExecution (collect, not a
            # noop write — the write executes a SEPARATE QueryExecution
            # and leaves this one at isFinalPlan=false, so the audit
            # previously recorded the pre-AQE initial plan: wrong join
            # strategies and exchange counts whenever AQE re-planned;
            # review finding, verified empirically). The final AQE plan
            # section prints the complete tree INCLUDING codegen spans,
            # so the separate AQE-off static rebuild is gone too.
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            final = plan.split("== Initial Plan ==")[0]
        except Exception as e:  # noqa: BLE001
            lines.append(f"| {name} | ERROR: {str(e)[:60]} | | | | | |")
            offenders.append(name)
            continue
        a = audit_plan(final)
        if a["row_python"]:
            offenders.append(name)
        lines.append(
            f"| {name} | {a['exchanges']} | {', '.join(a['joins']) or '—'} "
            f"| {'✓' if a['pushdown'] else '—'} | {a['codegen']} "
            f"| {a['arrow_python'] or '—'} | {a['global_window'] or '—'} |"
        )

    with open(os.path.join(_REPO, "PLANS.md"), "w") as f:  # cwd-independent
        f.write("\n".join(lines) + "\n" + MEASURED_NOTES + _quiet_band_section())
    print(f"wrote PLANS.md ({len(REGISTRY)} registered queries)")
    if offenders:
        print(f"FAIL: row-at-a-time Python or plan error in: {offenders}")
        return 1
    return 0


def _quiet_band_section() -> str:
    """Render the standing quiet-box per-query baseline band from the
    committed QUIET_BAND.json (VERDICT r11/r12 task #4: one idle-load
    min-of-3 pass over the whole registry, committed as a lookup
    table so load-vs-regression adjudication stops being a per-round
    recomputation). Data lives in the JSON — tools/record_band.py
    snapshots it from a BENCH.json whose noise probes qualify — and
    this renderer keeps the table alive across PLANS.md
    regenerations, per the MEASURED_NOTES survival rule."""
    import json

    path = os.path.join(_REPO, "QUIET_BAND.json")
    if not os.path.exists(path):
        return ""
    with open(path) as f:
        band = json.load(f)
    q = band["queries"]
    rows = "\n".join(
        f"| {n} | {q[n]['min']} | {q[n]['loadavg_at_min']} |" for n in sorted(q)
    )
    return f"""
## Quiet-box per-query baseline band ({band['label']})

Standing reference for load-vs-regression adjudication (VERDICT r11
#5 / r12 #4): min-of-3 interleaved passes over all {len(q)} registered
queries at sf={band['sf']}, recorded while the box was QUIET —
loadavg span {band['loadavg_min']}–{band['loadavg_max']}, dgemm
probe span {band['probe_min']}–{band['probe_max']} s (idle ≈ 0.025 s).
Total {band['total']} s. A later bench row within ~1.35× of its band
value under contaminated probes (probe ≫ 0.025 s) is LOAD; a row
outside that with quiet probes is a plan regression — look at the
plan, not the neighbors. Regenerate with tools/record_band.py after
any intentional plan change. Source: {band['source']}.

| query | quiet min (s) | loadavg@min |
|---|---|---|
{rows}
"""


#: Hand-measured findings that must SURVIVE regeneration (this tool
#: rewrites PLANS.md wholesale; a paragraph appended to the file by
#: hand would be silently wiped on the next audit run).
MEASURED_NOTES = """
## r16 — event-time state TTL, memo-honest re-times, lock/dir hardening

- **`stream_session_fold_ttl`** (VERDICT r15 #4 — the slot decision;
  the displacement was REVERSED by the r16 optimization round's
  driver contract, which forbids removing a declared query, so both
  sessionizers are registered and the registry sits at the 150 cap
  exactly): per-user sessionization whose open session lives in the
  state store under ``GroupStateTimeout.EventTimeTimeout``
  (streaming/stateful.py::session_fold_event_ttl) — the WATERMARK
  flushes idle keys, so expiry is replayable, data-driven, and
  (measured) terminates under availableNow, the exact property the
  r15 ProcessingTimeTimeout mode lacks. Spark's expiry boundary was
  MEASURED and is pinned to the millisecond
  (tests/test_r16_fixes.py): a state times out iff
  ``floor_ms(last event) + gap < floor_ms(max event time) - delay``
  STRICTLY — planted equality stays open, 1 ms inside expires — and
  the DuckDB oracle replicates that exact inequality on ``epoch_ms``
  values next to the gaps-and-islands session CTE. Multi-batch pins
  cover timeout firing in cleanup batches and late-within-watermark
  folds that must not move a session's end backward. The batch twin
  events_sessionize stays REGISTERED (r16 optimization round:
  declared queries may never disappear).
- **TTL knife-edge** (VERDICT r15 #6): the deterministic form of "an
  event landing exactly AT the TTL expiry instant" is the data-vs-
  timeout race inside one micro-batch, and Spark's semantics are
  DATA WINS — a key with rows in the batch is never handed its
  timed-out branch, even when the wall clock passed its
  ProcessingTimeTimeout expiry long before. Pinned under a real
  multi-batch continuous-trigger sequence
  (tests/test_r16_fixes.py::test_feature_map_bundle_data_beats_expired_ttl):
  ttl_ms=1, the batch processes seconds later, and the bundle
  CONTINUES (occurrence 2) instead of resetting — the exact opposite
  outcome of the r15 idle-user expiry test from the same config.
- **Re-times are staging-memo-honest** (VERDICT r15 #3, the
  dedup_containment_ngram band nit): every requalified bench row now
  records ``memo_entries``/``memo_warm`` — whether plans/staging.py
  held staged artifacts for the bench corpus when the re-time ran —
  because staged-family floors were recorded mid-bench with the memo
  WARM, and a cold-memo re-time legitimately pays the one-off build
  (the r15 2× clean-probed spread on the same code). Inconclusive
  rows also get ONE end-of-pass retry (VERDICT r15 #5): by then the
  burst has usually moved on; a clean late attempt replaces the
  record (marked ``late_retry``), a hot one keeps the inconclusive
  marker and bumps the hot-attempt count. Both pinned.
- **Checkpoint-dir comparison is defaultFS-qualified** (ADVICE r15
  medium): the installed dir is stored fully qualified, so the env
  path is resolved through ``fs.makeQualified`` before comparing —
  a bare ``/ckpt`` under hdfs defaultFS no longer re-installs (and
  scatters) the checkpoint dir on every materialization. Staging KEY
  LOCKS are never dropped (ADVICE r15: clear/evict during an
  in-flight build minted a second lock and ran a duplicate build —
  pinned with a mid-build clear race); ``record_band --merge-min``
  treats a prior floor ≤ 0 as absent so zero floors are repairable;
  pre-r15 map-state keys migrate on read so checkpoint resume keeps
  occurrence chains (boundary documented in DEPLOY.md).

r16 release evidence chain (build phase, pre-interruption):
fixture-fuzz green on 3 sf0.001 seeds + the nanos-axis seed, every
seed × (diffcheck + strictcheck), full registry INCLUDING the new
session query against the planted exactly-at-threshold session gaps;
full pytest 408 passed / 0 failed (20m14s) with the 15 new r16 pins.

r16 OPTIMIZATION-round certification (the round that closed r16; full
log in OPTIMIZATION_r16.md): the interrupted build's slot swap was
reversed — events_sessionize re-registered unchanged, registry at the
150 cap exactly — and every optimization is hash-neutral: full
diffcheck 150/150 PASS, strictcheck 150/150 PASS with every hash
byte-identical to HASHES_r16 (which differs from HASHES_r15 only by
the stream_session_fold_ttl addition), vanilla driver smoke green,
full pytest 429 passed / 0 failed. Optimizations (guide-section
mapping and before/after evidence in OPTIMIZATION_r16.md and
plans/r16/): vectorized session fold (§4.2, 3.1× less Python CPU,
fuzz-pinned bit-parity), per-operator-class stream partition sizing
(§1.2/§2 — python-stateful parallelism//2, JVM stateful //8, control
measurement showing the JVM class regresses at 16), _totn grand
totals off the two_level_prefix band table (§2.4 — RFM 14→11
exchanges, equidepth loses its BroadcastNestedLoopJoin), and
overlapped RFM score-branch builds (§2.6). The committed BENCH.json
is a band-quality quiet run hunted by tools/benchhunt.py (attempt 6
of 6 through recurring hypervisor-steal windows): **93.457 s over
150 queries**, steady-probe median 0.0333 s, zero errors — 0.86× the
same-tree 108.37 s baseline (plans/r16/BENCH_r16_baseline.json) and
0.80× the 116.97 s pre-optimization band total with one MORE query.
Changed rows: stream_session_fold_ttl 4.213→2.861,
stream_feature_map_state 2.367→1.525, stream_ewma_spikes
2.187→1.435, customer_rfm_segments 2.316→1.469,
orders_price_equidepth 1.334→1.250. QUIET_BAND.json re-recorded via
``record_band r16-opt --merge-min``: 89 floors ratcheted down, none
loosened, events_sessionize re-entered.

## r15 — probe-honest requalification, curation acceptance, NULL-type fuzz

- **Requalification is probe-honest** (VERDICT r14 nit #2 / task #3):
  a re-time whose own dgemm probes exceed the 0.08 s single-shot
  threshold retries up to 3 attempts and, if every attempt stays
  contaminated, keeps the least-contaminated attempt flagged
  ``"inconclusive": true`` (tools/retime.py) — a verdict reader now
  sees "could not be isolated" instead of a loaded number dressed as
  evidence (the r14 failure shape: two re-times recorded with 0.21 s
  after-probes). Zero-floor band rows (ADVICE r14) are recorded as
  ``{"zero_floor": true}`` instead of being silently unflaggable.
  Both paths pinned by tests/test_r15_fixes.py.
- **`curation_acceptance_summary`** (VERDICT r14 #4, registry
  149/150, one held slot left): the curation-tier composition row —
  quality screen (docs_quality_funnel's final-stage predicate) →
  exact dedup (min-doc_id per md5(text)) → greedy packing
  (seq_pack_greedy's exclusive-cumsum bins at PACK_BUDGET over the
  SURVIVORS) — with corpus-in / per-stage-surviving counts, packs
  produced, tokens packed, and exact half-up retention ratios. The
  slim survivor frame (doc_id, source, n_tok, dup-rank) is staged
  once per (application, corpus) and read by both the accounting
  aggregate and the packing window; the corpus-size leg reads raw
  scan metadata (zero-column count — no split-spread exchange).
  diffcheck + strictcheck green at sf0.001/sf0.01 in its first
  session; leads the r15 driver window as the never-checked query.
- **NULL event_types fuzz-planted** (VERDICT r14 #5): the events
  plant now interleaves ~1% NULL and typed events on fresh users —
  the map-state bundle folds NULLs under an internal non-null map
  key while the oracle's PARTITION BY groups NULLs natively, the
  exact both-sides-agree-by-construction seam the r9 NULL-vs-NaN
  divergence hid in. Evidence: 3 seeds × (diffcheck + strictcheck)
  green, plus the nanos-axis seed — 0 failures, full registry.
- **Map-state key encoding is injective** (ADVICE r14): NULL →
  "\\x00", real type s → "\\x01"+s, so a genuine event_type equal to
  any sentinel spelling can no longer merge with the NULL bucket.
  Output byte-identical (HASHES_r15 drift-free vs r14 on all 148
  overlapping queries; stream_feature_map_state hash unchanged).
- **State TTL is a tested switch** (VERDICT r14 #6):
  ``feature_map_bundle(..., ttl_ms=N)`` runs ProcessingTimeTimeout —
  an idle user's bundle is removed and rebuilt from empty on return
  (pinned expire-then-rebuild). Measured and documented: TTL mode
  requires a continuous trigger, because Trigger.AvailableNow NEVER
  terminates under ProcessingTimeTimeout (shouldRunAnotherBatch is
  unconditionally true — an empty source looped 47 cleanup batches
  in 45 s). The registered query keeps NoTimeout.
- **Staging memo hygiene** (ADVICE r14, all three): mid-session
  SPARK_GRAFT_CHECKPOINT_DIR dir-to-dir flips re-route (parent-dir
  comparison, not isEmpty-only); clear_index_memo deletes reliable
  checkpoint FILES through the Hadoop FileSystem API (they are not
  blocks — without cleanCheckpoints they leaked forever across
  clear+rebuild cycles); stage() moved from one global RLock to
  per-key locks so unrelated stages no longer serialize behind a
  long build (same-key races still derive once — the r14 race test
  holds unchanged).

r15 release evidence chain: HASHES_r15.json (strictcheck, sf0.01,
149 hashes) committed, drift-free vs HASHES_r14 on all 148
overlapping queries — the sentinel re-encoding, staging refactor,
and TTL switch were output-neutral as designed; strictcheck green at
all three SFs plus --vanilla on the final tree (149/149 PASS each);
fixture-fuzz green on 3 sf0.001 seeds + the nanos-axis seed + 2
seeds fuzzed FROM sf0.01, every seed × (diffcheck + strictcheck),
all carrying the new NULL-event_type plant; planaudit 0
BatchEvalPython across 149 registered + 10 retired; rotation
verified by registry import — curation_acceptance_summary
(never-checked) leads the driver window, window_running_total
(r11-latest, the staleness boundary) second, and all 47 r12-latest
rows fit with one slot spare. Full pytest: 394 passed / 0 failed
(17m22s) including the 13 new r15 pins. Closing certification on the
final tree: full diffcheck 0 failures (149 queries), band/rotation/
r15-pin spot suite 39/39, and the vanilla driver smoke green (entry
5 rows; 149 queries = 149 oracles).

Bench (r15, gate-passing hunted run): **111.09 s over 149 queries =
0.745 s/query** (total_last 117.4 s), steady dgemm median 0.0359 s /
peak 0.0876 s — passes BOTH record_band gates, so QUIET_BAND.json is
re-recorded from it via the new ``--merge-min`` mode (149 floors —
each query keeps min(this run, r14 floor), so a gate-passing run
that still carries burst landfall on individual rows cannot loosen
those rows' regression tripwires; 4 floors tightened, the new
curation query's floor is 0.39 s, every other floor is exactly its
r14 value — pinned by tests/test_r15_fixes.py). The box spent this round under recurring EXTERNAL
contention bursts (warm single-thread probes 0.2-2.0 s at loadavg
0.05 between quiet spells — hypervisor steal; five earlier bench
attempts landed 114.5-135.4 s with steady medians 0.057-0.127 and
were discarded by the probe gates). Isolated per-query speed is
UNCHANGED from r14: every over-band row in every attempt re-timed
clean-probed at or below its r14-era floor (join_salted_replicate
2.31 s in-bench → 0.579 s vs floor 0.674; multimodal_features
0.999 → 0.398 vs 0.388; dedup_ngram_jaccard 1.586 → 0.638 vs 0.839;
11 rows, zero inconclusive in the final run) — the 93.1 → 111.1 s
tree-total delta is burst landfall inside a 12-minute window, proven
inline by the requalified map rather than asserted. The probe-honest
retry machinery built this round is what made those adjudications
trustworthy on a box this noisy.

## r14 — durable staging, mechanical requalification, map-state streaming

- **Staging memo durability switch** (VERDICT r13 #3): builders now
  return logical plans and plans/staging.py::stage cuts lineage
  through ONE materialize() choke point — localCheckpoint by default,
  reliable checkpoint() under SPARK_GRAFT_CHECKPOINT_DIR (the
  long-lived-cluster posture: staged artifacts survive lost
  executors). Both modes hash-identical on an ANN and a MinHash
  consumer (tests/test_r14_fixes.py). The memo also gained the four
  ADVICE r13 hardenings: RLock-enforced derive-once under
  concurrency, dead-application eviction on insert, best-effort
  unpersist on clear, and the BPE trainer routes through stage()
  instead of raw memo writes.
- **Requalification** (VERDICT r13 #4): bench rows >1.35× their
  QUIET_BAND floor are re-timed in isolation immediately after the
  passes (one untimed warm-up — the Arrow pool is reaped and the JVM
  mid-cleanup at that point — then min-of-3, probe/loadavg-stamped
  before AND after) and recorded in BENCH.json's "requalified" map
  (tools/retime.py, capped at the 12 worst rows). First live passes
  adjudicated every flag mechanically: e.g. multimodal_features
  0.96 s bench-min → 0.449 s re-time against a 0.416 s band, and
  dedup_ngram_jaccard 0.839 → 0.429 s — load, proven inline, no
  code-archaeology needed.
- **`stream_feature_map_state`** (VERDICT r13 #6, registry 148/150):
  per-user feature bundles as a genuine MapType column in
  applyInPandasWithState state (streaming/stateful.py::
  feature_map_bundle), emitting exact-integer per-event features
  (type occurrence, new-type flag, distinct-type count, running
  total) that a window-function DuckDB oracle reproduces — the same
  sequential-chain determinism argument as stream_ewma_spikes, no
  recursion needed. A two-file replay test pins the map's
  state-store round trip. Warm sf0.1 ~2.0 s (the stateful-stream
  floor: stream_ewma_spikes sits at 2.06 s).
- **The pass-1 C2 storm, found and gated**: every bench pass-1 dgemm
  probe reads 0.26-1.2 s on a provably idle box while passes 2-3 sit
  at 0.028-0.21 s (replicated across four r14 runs) — the probes race
  the JVM's C2 compilation of 148 queries' first whole-stage-codegen
  executions, i.e. self-load the interleaved min-of-3 already
  tolerates. bench.py now annotates each noise sample with its pass
  and record_band applies both probe gates to steady (pass ≥ 2)
  samples — which is what let the r14 band record from a genuinely
  quiet run: steady median 0.034 s, steady peak 0.213 s.

- **clear_index_memo actually releases blocks**: measured that
  DataFrame.unpersist() is a no-op for checkpoint blocks (they belong
  to the LogicalRDD's RDD, not the SQL cache — getRDDStorageInfo
  stays at 1 after it, drops to 0 only on the RDD-level unpersist),
  so clear now unpersists the underlying RDD via the JVM handle with
  the DataFrame-level call as fallback; a block-count test pins the
  real release (tests/test_r14_fixes.py).

r14 release evidence chain: HASHES_r14.json (strictcheck, sf0.01,
148 hashes) committed, drift-free vs HASHES_r13 on all 147
overlapping queries; strictcheck green at all three SFs on the
final tree (sf0.001 / sf0.01 / sf0.1, 0 failures each); fixture-fuzz
green on 5 seeds × (diffcheck + strictcheck) plus the nanos-axis
seed; planaudit 0 BatchEvalPython across 148 registered + 10 retired
plans; rotation verified — the never-checked stream_feature_map_state
leads the driver window, followed by all 13 r10-stale queries
(VERDICT r13 #1). Durable-mode sweep: all 17 staged-family consumers
re-ran green against their oracles with SPARK_GRAFT_CHECKPOINT_DIR
set (286 reliable-checkpoint files written), and a 6-query strict
hash spot-check is byte-identical to HASHES_r14 — the switch changes
failure posture, never results. Closing certification on the final
tree: full pytest suite 381 passed / 0 failed (13m35s), strictcheck
--vanilla (the driver-shaped plain session) 0 failures, and a second
fuzz axis — 2 seeds fuzzed FROM the sf0.01 corpus — green on both
harnesses.

Bench (r14, quiet run): 93.14 s over 148 queries = 0.63 s/query
(BENCH.json headline; total_last 108.9 s), vs r13's 120.0 s over 147
(0.82 s/q) — the gain is the round's lighter tail (requalification
replaces band-blind retries) plus a quiet box; no plan regressed
(both flagged rows re-timed to their band). QUIET_BAND.json
re-recorded from this run (VERDICT r13 #5): 148 per-query mins, tree
total 93.1 s vs r13b's 99.4 s/147. loadavg_at_min still reads the
bench's own 32-thread self-load (median ~6) — the steady dgemm
probes are the external-quiet proof, which is the discriminator
loadavg physically cannot be on a self-loading bench.

## r13 completions — ANN index amortization, map battery, dedup summary

- **ANN index-staging memo** (VERDICT r11/r12 #2, the carried top
  task): the IVF coarse quantizer, PQ subvector table, codebook,
  encodings, the composed index (cells ⋈ enc), and the IVF×PQ search
  output are trained/derived ONCE per (SparkSession, corpus dir) and
  memoized as localCheckpointed frames (plans/llmdata.py::
  _index_stage); ann_ivf_pq_recall consumes the search's checkpointed
  output instead of re-running the pipeline. Warm sf0.1 min-of-3 for
  the trio dropped 14.75 s → ~3.1 s (ann_ivf_pq ~1.3, recall ~0.8,
  adc_sampled ~1.0) with engine hashes byte-identical to HASHES_r11
  (strictcheck). This is the in-session twin of the persisted-index
  contract (tests/test_pq.py pins the durable one): production trains
  an index once and every query batch reads the artifact.
- **`map_functions_battery`** (VERDICT r11/r12 #3): the last promised
  scalar sub-category under a driver row — map_from_entries /
  map_keys / map_values / map_filter / transform_values /
  transform_keys / element_at / map_zip_with over per-(priority,
  year) month→count and month→distinct-customer maps; all derived
  outputs are order-free integer scalars (maps never reach the
  hashed output, per the oracle-determinism rules). Oracle computes
  the same semantics relationally — an independent path, not a map
  transliteration.
- **`dedup_pipeline_summary`** (VERDICT r12 #7's named candidate):
  the end-to-end composition row — MinHash-LSH → connected
  components → keep-one accounting (docs in, clustered, clusters,
  dropped, kept, max cluster, exact-rational kept ratio) — invoked
  exactly as a deployment invokes the stack (one call, one shared
  LSH+components materialization). Everything past components is a
  constant-size aggregate.

## r13 second amortization pass — every shared derived artifact staged

The ANN memo generalized to every other multi-consumer derived
artifact in the engine (the memo moved to plans/staging.py; llmdata
re-exports it so the ANN stages and the tests are unchanged). Staged
this pass, each per (application, corpus), each localCheckpointed,
each verified hash-identical to HASHES_r11 by strictcheck AND green
against its DuckDB oracle by diffcheck:

- **MinHash**: the signature table (one tokenize→shingle→hash pass
  now feeds dedup_minhash_lsh AND dedup_incremental_minhash — the
  checkpoint also subsumes the old cache+count() block-lock dance),
  the LSH pair table (consumers: dedup_cluster_components,
  minhash_estimate_error), and the components labeling (consumers:
  dedup_keep_best, dedup_pipeline_summary). Family total at sf0.1:
  10.8 s → 1.7 s warm.
- **BPE**: the trained tokenizer (final state + the per-round winner
  rows, which _bpe_winner already checkpoints) now feeds
  bpe_pair_merges AND bpe_encode_stats: 3.8 → 0.8 s.
- **Unigram vocab**: one (t, c) table feeds doc_surprisal_proxy and
  vocab_coverage_topn: 2.7 → 1.6 s.
- **Basket graph** (plans/mining.py): the basket table and the
  UNFILTERED pair-count co-occurrence graph feed basket_part_pairs,
  graph_triangle_count and graph_pagerank_3iter, which filter at
  their own support thresholds: 8.9 → 3.1 s.

Release evidence chain: HASHES_r13.json (strictcheck, sf0.01) is
drift-free against HASHES_r11.json on all 145 overlapping queries
(zero changed hashes; the 2 new entries are this round's
map_functions_battery and dedup_pipeline_summary), and the full
registry passed diffcheck AND strictcheck at all three SFs on the
final tree (sf0.001, sf0.01, sf0.1 — plus the fuzzed nanos × sf0.1
seed).

Quiet-band total: 121.3 s (r13 band #1) → 99.4 s (r13b, −18%) — both
are QUIET_BAND-style min-of-3 tree totals, not the committed
BENCH.json headline, which is 108.1 s (ADVICE r13 relabel); r12's
BENCH headline was 139.8 s.
Min-of-3 prices the warm serving path; the one-time build lands in
the first consumer's first run — visible as the gap between
"total_last" and the min-of-3 total (117.3 vs 108.1 s in the
committed BENCH.json run). The regime-gate parity tests clear the memo before re-gated
runs and spy the distributed entrypoints so they can never pass
vacuously off a memoized frame (tests/test_properties.py,
tests/test_r13_fixes.py). Memoization preserved every engine hash
because every staged artifact is deterministic (hash-family minhash,
tie-broken BPE argmax, integer pair counts) — pinned by the full
oracle differential, which runs all 147 queries through fresh
sessions every pytest pass.

## r13 registry slot plan (VERDICT r12 #7)

147/150 after the two r13 additions. Decision for the last 3 slots:
**hold as headroom.** (a) Every SURVEY §2 row and every non-boundary
"missing" item now has a registered, driver-checked query; the two
remaining gaps (live Kafka broker I/O, compressed media codecs) are
declared sandbox boundaries no registry slot can close. (b) A slot
spent costs a 3-round cadence debt; holding costs nothing. Ranked
candidates if a verdict funds one later: (1) a stateful-streaming
map-feature query (applyInPandasWithState carrying per-key feature
bundles as map columns — couples the r13 map surface to the
streaming tier, rows-only check); (2) an IVF×PQ nprobe sweep
(recall@5 at nprobe ∈ {1,2,4} in one output — formalizes the tuning
loop ann_ivf_pq_recall measures one point of); (3) a text-curation
acceptance composition (quality filter → dedup → pack) mirroring
dedup_pipeline_summary for the curation tier.

## r11 completions — IVF×PQ, sampled trainer, multi-merge BPE, EXCEPT fold

- **`ann_ivf_pq`** (VERDICT r9/r10 top task): IVF cells gate PQ/ADC
  lookups at nprobe=2 — index build = ONE join of the zero-Exchange
  coarse assignment with the PQ encodings (the table production
  persists partitioned by cell); search = broadcast probe list +
  broadcast LUT into one index scan, no corpus-growing shuffle.
  Warm sf0.1 ~5.3 s (the sum of its parts: quantize+train ~3.5 s +
  IVF index ~1 s + search); `ann_ivf_pq_recall` audits recall@5 of
  the composition against exact KNN (~5.6 s — the serving path plus
  the broadcast brute-force harness). Refactor evidence: the shared
  trainer/LUT/search helpers leave `ann_pq_adc`'s engine hash
  byte-identical to HASHES_r10 (f604e8f2b7eb7ff9).
- **Sampled-codebook decision** (VERDICT r9 #6): built, not just
  documented — `ann_pq_adc_sampled` trains the codebook on the
  deterministic hash32(vec_id) % 2 = 0 bucket (~50 %) and encodes /
  searches the FULL corpus (~4.3 s warm sf0.1). At 100 TB the
  trainer never scans every vector; the hash-bucket sample is stable
  under re-runs and corpus growth, and the full-trainer twin
  (`ann_pq_adc`, retired tier) remains the A/B for codebook-quality
  drift. Registry funding: ann_pq_adc / ann_ivf_recall_nprobe2 /
  embedding_quantize_int8 retired (each subsumed; see decorators).
- **BPE encode** (r11, follow-on): `bpe_encode_stats` applies the
  trained merges to the whole corpus — per-source token/char totals
  and exact chars-per-token under the learned vocabulary (reference-
  encoder parity in test_r11_fixes; slot funded by retiring
  docs_length_histogram, whose buckets dq_drift_report recomputes).
- **Multi-merge BPE** (VERDICT r9 #3): `bpe_pair_merges` runs 4
  unrolled merge rounds with re-tokenization between rounds over the
  DISTINCT-WORD frequency table (weighted pair counts ≡ occurrence
  counts; state is Zipf-bounded, ~30 distinct words on the synthetic
  corpus). Greedy-left rewrite = SQL replace() in both engines.
  Hash-identical at sf0.001/0.01/0.1 between the occurrence-counting
  first cut and the word-frequency form (cdda…/0a58…/220d…); warm
  sf0.1 min-of-3 ~1.8 s (first pass ~5 s is plan-compile warmup).
  Parity vs an independent in-test BPE trainer incl. overlap
  counting ('aaaa') and greedy-left runs ('aaa') in test_r11_fixes.
- **EXCEPT under a driver row** (VERDICT r9 #5): folded into
  `setop_union_all_keys` as a triptych (UNION ALL counts, subtract,
  exceptAll) — real set-op plan nodes, not agg rewrites.
- **Retired-tier planaudit** (VERDICT r9 #7): this tool now executes
  and gates the RETIRED queries' plans too (section above) — 0
  BatchEvalPython across all registered + retired queries (exact
  counts in this file's header line; the gate executes BOTH tiers).
- **SQ8 array-form refactor** (r11, found by a 20× embeddings-corpus
  A/B in /tmp): every PQ/k-means consumer used to take the registered
  EXPLODED quantize output (n·d scalar rows — the driver-hashable
  shape) and shuffle it back into arrays; codes now stay in array
  form end-to-end (`_sq8_codes_array`: scan → broadcast calibration
  row → one transform, ZERO Exchange; subvectors are row-local
  slices). Measured min-of-3 at 20× sf0.1 (40k vectors):
  `kmeans_int8_lloyd2` 2.1 s (flat vs 1× — reshape had dominated),
  `ann_pq_adc_sampled` 17.2 → 5.1 s, `ann_ivf_pq` 7.5 → 6.3 s; 20×
  data now costs ≤1.7× the 1× time on the PQ legs. Output parity:
  `kmeans_int8_lloyd2` engine hash unchanged vs HASHES_r10
  (e3839ee1bc77b8ba); the exploded query output is a posexplode OF
  the array form, sharing `_sq8_code` bit-for-bit.

## r11 bench adjudication

`join_salted_replicate` read 2.2 s in two loaded bench passes (r10:
0.8 s); isolated min-of-3 on the same code = **1.08 s** (and
`agg_salted_skew` 1.40 s, its usual band) — the bench rows were
neighbor contention during the salted fact shuffle, not a
regression. No r11 change touches plans/scale.py.

## r13 fuzz sweep — combined axes + BPE tie plant (VERDICT r12 #6)

New plant in tools/fixturefuzz.py: the BPE tie cohort — four docs
('vk'/'vq'/'zk'/'zq' repeated), each pair's total EQUALIZED exactly
1000 above the corpus's hottest natural word-internal pair (counted
at the engines' own tokenization grain, including the containment
plant's 'zzqx' overlap), so all four merge rounds of bpe_pair_merges
are decided purely by the (count DESC, pair ASC) tie-break and
bpe_encode_stats encodes under a tie-trained vocabulary.
tests/test_r13_fixes.py pins the dominance/tie with an independent
pandas pair count. Sweep record this round: 3 attribute-jitter seeds
at sf0.001 + 1 COMBINED TIMESTAMP(NANOS) × sf0.1 seed (the r12
verdict's missing axis combination — nanos had only ever run at
sf0.001), each × diffcheck AND strictcheck × all 147 registered
queries — zero failures. RE-CONFIRMED on the final post-amortization
tree (the staging memo changed 16 queries' physical plans after the
first sweep): 2 jitter seeds at sf0.001 + the nanos × sf0.1 seed,
both harnesses, zero failures — per-seed temp dirs mean every fuzz
corpus takes fresh memo keys, so the sweep also exercises the
staging isolation path end to end.

## r11 fuzz + strict release sweep (VERDICT r9 #4)

New plants in tools/fixturefuzz.py: the 8-clone cohort of the
smallest query embedding (exact ANN score ties at and past every
top-k boundary — the K-th-slot (score, id) tie-break class) and the
containment 0.8 knife-edge (distinct-bigram sets of size 5 sharing
exactly 4 → 5·common ≥ 4·min with equality, plus the excluded
3-common step). Sweep record this round: 3 attribute-jitter seeds at
sf0.001 + 1 TIMESTAMP(NANOS) seed + 1 sf0.1 seed (first at that SF),
each × diffcheck AND strictcheck × all 145 registered queries — zero
failures; re-confirmed on the FINAL r11 tree (post BPE-fold fix and
bpe_encode_stats) with 2 fresh jitter seeds + 1 nanos seed, both
harnesses, zero failures. HASHES_r10.json vs HASHES_r09.json: zero
drift (code was byte-identical); HASHES_r11.json records the
post-r11 surface — drift vs r10 confined to the two deliberately
changed queries (bpe_pair_merges, setop_union_all_keys).

## Driver-red root cause + dtype-family rule (r9, VERDICT r8 #1-#3)

The r7/r8 hash-only driver reds (`stream_windowed_cms` ×2,
`events_attribution_linear`, `sensor_trend_ols`) were NOT fixture or
environment variance: all three — and only those three — emitted a
HUGEINT (oracle) / DECIMAL(38,0) (Spark) FINAL output column, and the
driver compares through DataFrame conversion where DuckDB `.df()`
renders HUGEINT as float64 (verified: lossy at 9007199254740993 →
…992.0; '38.0' vs '38' below 2^53) while `fetchall()` — diffcheck's
path — yields exact Python ints. `tools/strictcheck.py` reproduces
the driver path locally: pre-fix it failed exactly the three reds out
of 150 and nothing else; post-fix 0 failures. Rule (enforced by
tests/test_r9_fixes.py): final columns must share a dtype family
across engines (long↔BIGINT, double↔DOUBLE, string↔VARCHAR);
HUGEINT/DECIMAL stay internal; unbounded exact integers (trend-OLS
rational terms, >2^53 at sf0.01, >int64 near sf1) emit as decimal
strings. Per-round engine hashes now land in HASHES_r{N}.json for
drift attribution. The r8 VERDICT's diagnostic-twin task (#3) is
superseded by this root cause: a reproduced mechanism + structural
gate beats per-column decompositions of a mis-compared output.

## sample_domain_mix: weight join → literal map (r9, VERDICT r8 #4/#8)

The 4.33 s BENCH row was first-touch cost of a per-call 5-row
`createDataFrame` + broadcast-join. Config-sized lookups now ride in
the plan as a `create_map` literal: scan → project → single aggregate
exchange, no join stage at all. Documented cutover: >10k sources goes
back to an explicit broadcast join.

## r9 bench adjudications (VERDICT r8 #4)

Full 145-query pass at loadavg 2.2-5.0 (r8 ran under 2.9-11.0):
total 112.4 s = **0.775 s/query** vs r8's 0.910 and r7's 0.796 — the
r8 +14% was load, as suspected. Flagged rows: `sample_domain_mix`
4.33 → 0.53 s (the literal-map rewrite above); `dedup_embedding_cosine`
1.22 → 0.67 s (load artifact, no code change). The one new outlier,
`dedup_ngram_jaccard` 0.88 → 1.20 s, was adjudicated by an idle-box
(loadavg 0.7) min-of-3 A/B against the r8-shipped code in a separate
worktree: r9 code 1.12 s vs r8 code 1.156 s — identical, so the r8
RECORDING of 0.88 s was the anomaly (lucky min), not an r9
regression; this query's honest cost at sf0.1 is ~1.1 s.

## Fixture-generation fuzz + signed-zero class (r9)

`tools/fixturefuzz.py` (SURVEY §5 #6c) found two real latent
divergences the committed fixtures never exercise: (a) a NULL reading
through applyInPandasWithState leaves the engine as SQL NULL while
the ewma oracle emitted NaN — oracle aligned, plus the physical-NaN
sibling normalized at the oracle scan and pinned by a targeted test;
(b) IEEE signed zero: DuckDB round(-1e-9, 6) = -0.0 vs Spark +0.0 —
normalized once via `functions/exact.py::round_pz` (+0.0 after the
round) at every rounded signed float output (stats battery, three
top-k cosine queries), refactor verified hash-identical. Fuzz record:
3 attribute-jitter seeds + 1 TIMESTAMP(NANOS) seed × both harnesses ×
145 queries — zero failures.

## Decimal128 exactness tax — measured A/B (r7, VERDICT r6 #5)

`SPARK_GRAFT_LONG_SUMS=1` switches every `functions/exact.py` sum back
to plain long aggregation (the pre-r6 overflow-prone path) as an A/B
instrument. Full 112-query bench at sf0.1, min-of-3 interleaved, both
runs on the shared box with the per-pass noise samples (`loadavg_1m`
3.4-11.9, idle-probe 0.03-0.39 s vs ~0.025 s idle — i.e. both legs ran
under comparable neighbor load):

- **Aggregate: 83.8 s (decimal) vs 79.8 s (long) → the Decimal128 tax
  is ~ +4.9% of total query wall**, not the +35% r6-over-r5 swing the
  r6 verdict flagged — the remainder of that swing was new queries
  (+12) and box noise, now attributable via the recorded probes.
- The tax concentrates exactly where sums dominate the plan:
  `q1_pricing_summary` 0.59→1.04 s, `agg_salted_skew` 0.89→1.55 s,
  `unpivot_lineitem_measures` 0.60→0.95 s, `rollup_pricing`
  0.57→0.89 s; the long tail of join/window/stream queries moves
  inside the noise band.
- Verdict unchanged: the long path is an ANSI overflow cliff at ~sf30
  (DuckDB silently promotes to HUGEINT; Spark raises), so the ~5% ALU
  cost is the price of cross-engine exactness — and at the 100 TB
  design point the sum-dense scans are IO-bound, where the Decimal128
  ALU cost amortizes to ~0.

## Unbounded-broadcast removals — q21 / degree joins (r8, VERDICT r7 #3-#4)

`q21_sole_late_supplier` no longer hints `broadcast(qual)`: the
qualifying-order set is ORDER-cardinality (unbroadcastable at the
100 TB design point). Both join inputs descend from the same
checkpointed `(l_orderkey, l_suppkey)` aggregate, so the unhinted join
shuffles only already-aggregated key sets. Executed plan at sf0.1
(AQE final): the qual join runs as a key-partitioned SortMergeJoin
(the supplier dim keeps its BroadcastHashJoin) — the runtime choice
is AQE's from measured sizes, and bench shows no regression. The
absence of the HINT (not the runtime choice) is pinned by
`tests/test_r8_operators.py::test_q21_plan_hints_only_the_supplier_dim`.
Same move in `mining.degree_oriented_edges` (triangle counting): the
node-degree table joins unhinted, AQE gates the broadcast by measured
bytes, and forced-no-broadcast parity is pinned by
`test_degree_orientation_parity_without_broadcast`.

## Jaccard sweep variance — root cause + fix (r8, VERDICT r7 #2)

The r7 bench contradiction (claim 0.94 s vs driver 2.74 s) was NOT
resolved by load probes alone: re-measured at loadavg 1.7-1.9 the
query still swung 1.0-5.5 s. Segment profile: the per-tile
temporaries of the dense sweep (np.add.outer's 100 MB union-size
matrix + scaled copies + bool temp) swung 0.6-3.0 s while the GEMM
itself held 0.17-0.40 s. Fix: preallocated tile buffers + in-place
integer-only f32 threshold (3·common − |B| ≥ |A|, exact under the
2^24/3 vocab gate). Post-fix steady state ~1.0-1.4 s; expect a driver
row of ~1.0-1.5 s at comparable load. Per-query `loadavg_at_min` now
lands in BENCH.json so future verdicts read contention per row.

## r8 registry completions — measured shapes (150/150 cap)

Six additions land the registry exactly at the 150-query cadence cap
(`tests/test_rotation.py::test_registry_size_keeps_three_round_cadence_arithmetic`
fails the build at 151+ — further growth now requires an explicit
prune/merge/cadence decision). Warm sf0.1 Spark-side timings (min-of-3,
local[32], loadavg < 3):

- `kmeans_int8_lloyd2` — the second iterative-algorithm query (after
  PageRank). r8 array-form rewrite: codes reshape ONCE to per-vector
  arrays (n rows, localCheckpointed); each assignment is then a
  ZERO-SHUFFLE map-side pass — the k×d centroids ride in as one
  broadcast row and the (dist2, cid) argmin runs inside a
  higher-order aggregate; the only per-iteration shuffle is the
  centroid update (n·d → k·d). The first cut broadcast-joined the
  long format and paid two n·k-keyed shuffles per assignment:
  measured 5.3-6.8 s → 3.1-4.9 s at the same loadavg ~6, and a
  2.50 s min-of-3 in the final r8 bench pass (vs ~3.8 s pre-rewrite),
  with ~1.4-2.1 s of that the quantize pass it composes on. Results
  bit-identical (same oracle hash at sf0.001/0.01/0.1).
- `dedup_containment_ngram` ~1.0-1.7 s warm via the same local-dense
  gate as Jaccard (first run pays the Arrow collect). Post-review the
  sweep shares Jaccard's preallocated-tile in-place form (the first
  cut reintroduced the per-tile temporary churn — int64 casts, the
  mins outer, scaled copies, ~2.3 GB/tile — that the r8 Jaccard fix
  had just eliminated; min distributes over the comparison, so
  q·c ≥ p·min becomes two in-place f32 compares OR-ed into reused
  bool buffers), and the collect/factorize/df-cap setup is factored
  into `_dense_shingle_matrix`, shared with `_jaccard_local`.
  Measured post-rewrite: 1.74/1.04/1.50 s warm at loadavg 5.6. The
  distributed twin carries NO size-ratio prune — containment's
  semantics forbid it (a tiny doc 80 %-contained in a huge one is
  the target pair) — so the df-cap is the sole hot-key defense;
  regime parity pinned in `tests/test_r8_queries.py`.
- `dedup_keep_best` ~2.0 s (dominated by the components pass it
  composes on), `events_attribution_linear` ~0.7 s,
  `docs_interleave_schedule` ~0.4 s (closed-form global position — no
  single-reducer window), `sensor_trend_ols` ~0.4 s (one scan, one
  groupBy; Σx² forces direct DECIMAL(38,0) sums — even the
  SPARK_GRAFT_LONG_SUMS A/B leg would overflow a long here, so the
  query ignores the switch by design).
"""


if __name__ == "__main__":
    raise SystemExit(main())
