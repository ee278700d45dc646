"""Benchmark harness — the driver contract (BASELINE.md).

Runs every registered engine query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is materialized with the noop sink (full computation, no
driver collect) — the honest way to time a distributed plan. A
warm-up query runs first so JVM/codegen startup isn't attributed to
the first timed query; each query is then timed as the min of three
runs (single-run numbers on a shared 32-core box swing several
seconds with neighbor-load stall windows — the min measures the
plan, not the neighbor's garbage), with the cache cleared between
queries so one query's leftover cache never subsidizes another.

Contract hardening (r1's BENCH was unparseable to the driver): file
descriptor 1 is redirected to stderr for the WHOLE run — including
the JVM child, which inherits it — so nothing (Ivy resolution, log4j
fallback lines, JVM warnings) can precede the result. The single JSON
line is written to the saved real stdout at the end, and duplicated
to BENCH.json next to this script.

r2/r3 post-mortem: the driver stores only the LAST 2000 characters of
stdout and parses the JSON out of that tail. The full per-query dict
is ~4000 chars, so the tail began mid-line and could never parse.
The stdout line therefore carries a HEADLINE subset of per-query
timings (one per operator family) while "value" stays the total over
ALL queries; the complete per-query dict still lands in BENCH.json.

r13 (VERDICT r12 #4): the payload now SAYS all of that about itself —
"queries_is_headline_subset": true, "queries_full_in": "BENCH.json",
and "bench_json_sha256_16" pinning the exact BENCH.json whose
"queries" is the canonical full map — so the archived BENCH_r{N}.json
the driver writes from this line is internally consistent as-parsed
and never needs the hand-backfill it got in r10/r11/r12.
tools/normalize_bench.py exists for anyone who wants the full map
inlined into an archived artifact: it verifies the hash and the
overlap before attaching a separate, labeled "queries_full" key.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)


def main() -> None:
    # Save the real stdout, then point fd 1 (and python's sys.stdout)
    # at stderr before the JVM starts so every byte of chatter —
    # ours, py4j's, or the JVM child's — lands on stderr.
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    from bigdata_riveranalysis_spark.plans import query_catalog
    from bigdata_riveranalysis_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    qs = query_catalog()

    # Warm-up: JVM + codegen + parquet footer caches, plus the Python
    # worker pool (daemon + per-core workers spawn lazily on the first
    # Arrow-UDF stage; without this the first mapInPandas query in the
    # catalog is charged the whole pool's startup — session overhead,
    # not plan cost).
    qs["flagship_revenue_by_segment"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    def _ident(batches):
        yield from batches

    def _warm_python_workers():
        (
            spark.range(
                0, spark.sparkContext.defaultParallelism, 1, spark.sparkContext.defaultParallelism
            )
            .mapInPandas(_ident, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    # min-of-3, INTERLEAVED: three full passes over the catalog rather
    # than three back-to-back runs per query. This box shows
    # multi-second external stall windows (neighbor load on shared
    # cores); back-to-back runs can land all three inside one window
    # and the min still reads 5-10× the plan's true cost, while
    # interleaving separates a query's runs by a full catalog pass
    # (~minutes) so a stall can only contaminate one of them. Both the
    # min (the plan's cost) and the last run (a single honest sample)
    # are recorded so regression calls can see the noise band instead
    # of chasing it (VERDICT r4 item 7).
    # Per-query guard: one transient failure (executor OOM, flaky
    # stream) must NOT abort the whole run after minutes of completed
    # timing passes — the driver would then receive NO JSON at all,
    # violating this module's own contract (review finding). Errored
    # queries are reported in an "errors" key and excluded from totals.
    runs: dict[str, list[float]] = {name: [] for name in qs}
    errors: dict[str, str] = {}

    # Box-noise instrumentation (VERDICT r6 #5): this is a shared box,
    # and r6's verdict couldn't attribute broad ~15-25% inflation on
    # untouched plans to neighbors vs regressions. Record, per pass,
    # the 1-min load average and an IDLE PROBE — a fixed pure-CPU
    # numpy workload (1024² dgemm) whose wall time is a direct read of
    # CPU contention, independent of Spark. A probe >> its idle
    # baseline (~25 ms) marks that pass's timings as noise-inflated.
    def _idle_probe() -> float:
        import numpy as _np

        a = _np.ones((1024, 1024))
        t0 = time.perf_counter()
        for _ in range(3):
            a = a @ a
            a /= a[0, 0]
        return round(time.perf_counter() - t0, 4)

    noise: list[dict] = []

    # Samples carry their PASS index (r14): every bench run's pass-1
    # probes race the JVM's C2 compilation storm — 148 queries'
    # first whole-stage-codegen executions — and read 0.5-1.0 s on a
    # provably idle box (observed across three r14 runs; passes 2-3
    # sit at 0.03-0.08 s). That is SELF-load the interleaved min-of-3
    # is already robust to (a query's min needs only one quiet pass),
    # so record_band's neighbor-stall peak gate applies to pass ≥ 2
    # samples, where steady state is reached.
    def _noise_sample(tag) -> None:
        noise.append(
            {
                "pass": tag,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "probe_sec": _idle_probe(),
            }
        )

    # Per-QUERY contention context (VERDICT r7 #5): run-level probes
    # can't adjudicate a single query's 2× delta (the r7
    # dedup_ngram_jaccard 2.74 s-vs-claimed-0.94 s stand-off), so each
    # timed run also records the 1-min loadavg read immediately before
    # it (os.getloadavg is a sysinfo call — nanoseconds, safe per
    # query), and a full dgemm probe is interleaved every
    # _PROBE_EVERY queries inside each pass, not just at pass
    # boundaries. BENCH.json then carries, per query, the loadavg of
    # every pass AND of the exact pass the min came from — a verdict
    # reading a regressed row sees its contention context inline.
    _PROBE_EVERY = 25
    runs_load: dict[str, list[float]] = {name: [] for name in qs}

    for pass_no in range(1, 4):
        _noise_sample(pass_no)
        # Re-warm the Python worker pool at the top of EVERY pass, not
        # just once: a catalog pass is minutes of JVM-only stages, long
        # enough for idle Arrow workers to be reaped, so the first
        # mapInPandas query of each later pass was re-charged the pool
        # spawn (~1.8 s) — visible as multimodal_features' last-run
        # 2.38 s vs 0.56 s min in BENCH_r05 (VERDICT r5 #8). The warm
        # runs OUTSIDE the per-query timers.
        _warm_python_workers()
        for qi, (name, fn) in enumerate(qs.items()):
            # Probe BEFORE the error skip: errored queries still
            # advance qi, so skipping after would silently drop the
            # probe slot whenever the boundary query errored and the
            # cadence would drift from the documented every-25
            # (review finding r8).
            if qi and qi % _PROBE_EVERY == 0:
                _noise_sample(pass_no)
            if name in errors:
                continue
            spark.catalog.clearCache()
            load_at = round(os.getloadavg()[0], 2)
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                errors[name] = str(e)[:200]
                runs.pop(name, None)
                runs_load.pop(name, None)
                continue
            runs[name].append(time.perf_counter() - t0)
            runs_load[name].append(load_at)
    _noise_sample("end")
    timings = {name: round(min(ts), 3) for name, ts in runs.items() if ts}
    last = {name: round(ts[-1], 3) for name, ts in runs.items() if ts}
    # loadavg read just before the run that produced each query's min.
    loadavg_at_min = {
        name: runs_load[name][ts.index(min(ts))]
        for name, ts in runs.items()
        if ts and len(runs_load.get(name, [])) == len(ts)
    }

    total = round(sum(timings.values()), 3)
    total_last = round(sum(last.values()), 3)

    # Requalification (VERDICT r13 #4): any row landing >1.35× its
    # quiet-band floor is immediately re-timed in isolation —
    # min-of-3, cache-cleared, probe+loadavg recorded — so the
    # load-vs-regression call on a hot row is mechanical, not a
    # judgement about whether the code changed. Runs BEFORE BENCH.json
    # is written so the records live next to the rows they qualify
    # (and inside the sha the stdout payload pins). Capped at the 12
    # worst rows: a systemically loaded run must not turn this into a
    # second full bench.
    requalified: dict[str, dict] = {}
    try:
        with open(os.path.join(_REPO, "QUIET_BAND.json")) as fh:
            band = {
                n: q["min"] for n, q in json.load(fh).get("queries", {}).items()
            }
    except (OSError, ValueError):
        band = {}
    if band:
        from tools.retime import requalify as _requalify

        requalified = _requalify(spark, sf_dir, qs, band, timings)
    try:
        # '1.2.3'.replace('.','').isdigit() is True but float() raises —
        # and a crash HERE would discard the whole 3-pass record
        # (review finding), so parse defensively.
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # Full record → BENCH.json (all queries).
    with open(os.path.join(_REPO, "BENCH.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "metric": "engine_total_query_wall",
                    "value": total,
                    "unit": "sec",
                    "n_queries": len(timings),
                    "queries": timings,
                    "queries_last": last,
                    "queries_loadavg": {
                        n: ls for n, ls in runs_load.items() if ls
                    },
                    "loadavg_at_min": loadavg_at_min,
                    "total_last": total_last,
                    "errors": errors,
                    "requalified": requalified,
                    "noise": noise,
                    "sf": sf_val,
                }
            )
            + "\n"
        )

    # Headline record → stdout. Must fit, whole, inside the driver's
    # 2000-char stdout tail, so carry one representative query per
    # operator family instead of all 79.
    headline_names = [
        "flagship_revenue_by_segment",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_volume",
        "window_running_total",
        "topk_orders_per_segment",
        "events_sessionize",
        "sensor_gapfill_ffill",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine",
        "knn_bruteforce_cosine",
        "ann_ivf_cells",
        "embedding_centroids",
        "text_quality_scores",
        "multimodal_features",
        "dq_constraint_report",
        "seq_pack_greedy",
        "sql_q10_returned_revenue",
        "stream_windowed_quality",
        "stream_stream_join",
        "stream_windowed_cms",
        "events_funnel_conversion",
        "sensor_rollup_time_grains",
        "basket_part_pairs",
        "events_transition_matrix",
        "cms_heavy_hitters",
        "graph_triangle_count",
        "sample_weighted_systematic",
        "q7_volume_shipping",
        "q19_disjunctive_revenue",
        "graph_pagerank_3iter",
        "bpe_pair_merges",
        "doc_surprisal_proxy",
        "events_rolling_1h_range",
        "part_frontier_by_brand",
        "customer_order_streaks",
        "kmeans_int8_lloyd2",
        "dedup_containment_ngram",
        "events_attribution_linear",
        "ann_ivf_pq",
        "map_functions_battery",
        "dedup_pipeline_summary",
        # r16 addition — LAST on purpose: the over-budget trim pops
        # from the tail, so a squeeze can only ever drop the new
        # entry, never a name a prior round's stdout already carried.
        "stream_session_fold_ttl",
    ]
    headline = {n: timings[n] for n in headline_names if n in timings}
    # Stdout carries a SUMMARY of the noise samples, not the array:
    # the r8 interleaved probes grew the array to ~19 entries (~850
    # chars), which silently tripped the >1800 fallback below and
    # shipped a query-less tail — the exact regression the fallback
    # exists to avoid. Full samples stay in BENCH.json.
    noise_summary = {
        "n": len(noise),
        "loadavg_min": min(s["loadavg_1m"] for s in noise),
        "loadavg_max": max(s["loadavg_1m"] for s in noise),
        "probe_min": min(s["probe_sec"] for s in noise),
        "probe_max": max(s["probe_sec"] for s in noise),
    }
    # The stdout payload is SELF-DESCRIBING about its coverage (r13,
    # VERDICT r12 #4): "queries" (a driver-contract key, so it keeps
    # its name) carrying the headline subset next to the full
    # n_queries count read as "this is the complete map, truncated",
    # and the archived BENCH_rN.json was hand-backfilled three rounds
    # running. The payload now states the subsetting outright
    # ("queries_is_headline_subset"), DECLARES where the canonical
    # full map lives, and pins WHICH BENCH.json that is by sha256 of
    # the exact bytes just written — so the archived artifact needs
    # no post-hoc edit, and any inline backfill someone still wants
    # is provenance-checked by tools/normalize_bench.py against that
    # hash instead of trusted.
    import hashlib

    with open(os.path.join(_REPO, "BENCH.json"), "rb") as fh:
        bench_sha = hashlib.sha256(fh.read()).hexdigest()[:16]
    def _payload(hl: dict[str, float]) -> str:
        return json.dumps(
            {
                "metric": "engine_total_query_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": hl,
                "queries_is_headline_subset": True,
                "queries_full_in": "BENCH.json",
                "bench_json_sha256_16": bench_sha,
                "total_last": total_last,
                "n_requalified": len(requalified),
                "noise": noise_summary,
                "sf": sf_val,
            }
        )

    # Never regress the tail contract — but degrade GRACEFULLY: trim
    # headline entries from the tail of the list until the payload
    # fits, instead of the old all-or-nothing {} fallback (review r13:
    # the payload sits ~70 chars under the cap, so the next headline
    # addition would have silently shipped a query-less artifact —
    # the exact defect this file just fixed). A trim is loud on
    # stderr so the margin shrinkage is seen, not discovered.
    payload = _payload(headline)
    while len(payload) > 1800 and headline:
        dropped, _ = headline.popitem()
        print(f"bench: stdout payload over budget; dropped headline entry {dropped}")
        payload = _payload(headline)
    os.write(real_stdout, (payload + "\n").encode())


if __name__ == "__main__":
    main()
