"""r13 regression pins.

  1. ANN index-staging memo (VERDICT r12 #2): staging frames are
     memoized per (application, corpus) — same corpus returns the
     SAME localCheckpointed frame (no retraining), different corpus
     dirs never share state, clear_index_memo() really clears, and a
     memoized frame survives spark.catalog.clearCache() (the bench
     clears the SQL cache between queries; RDD-level localCheckpoint
     blocks must not be collateral).
  2. normalize_bench provenance gates (ADVICE r12): the backfill tool
     refuses a wrong-source BENCH.json (sha pin), refuses totals /
     count / headline drift, never touches parsed/tail, and attaches
     a labeled queries_full on the happy path.
  3. record_band qualification (VERDICT r12 #5): a contended run
     (hot dgemm probe) is refused; a quiet one records the band with
     per-query loadavg context.
  4. The BPE tie plant (VERDICT r12 #6): planted pair counts dominate
     the corpus (corpus-adaptive reps) so all four merge rounds are
     tie-break-decided — checked against an independent pandas pair
     count, not against the engine.
  5. Dedup/BPE staging memo (the r13 second amortization pass): the
     MinHash signature table, LSH pair table, components labeling and
     trained BPE state each feed 2-4 registered consumers and must
     build exactly once per (application, corpus).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from .conftest import SF_ORACLE, SF_SMOKE

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# 1. index-staging memo
# ---------------------------------------------------------------------------


def test_index_memo_identity_and_isolation(spark):
    from bigdata_riveranalysis_spark.plans import llmdata as L

    L.clear_index_memo()
    a1 = L._pq_codes_xs(spark, SF_SMOKE)
    a2 = L._pq_codes_xs(spark, SF_SMOKE)
    assert a1 is a2, "same corpus must hit the memo, not rebuild"
    b = L._pq_codes_xs(spark, SF_ORACLE)
    assert b is not a1, "different corpus dirs must never share staging"
    # trailing-slash / relative spelling of the same dir is the same key
    a3 = L._pq_codes_xs(spark, SF_SMOKE + "/")
    assert a3 is a1
    L.clear_index_memo()
    a4 = L._pq_codes_xs(spark, SF_SMOKE)
    assert a4 is not a1, "clear_index_memo must drop entries"


def test_index_memo_survives_catalog_clearcache(spark):
    from bigdata_riveranalysis_spark.plans import llmdata as L

    L.clear_index_memo()
    cents, enc = L._pq_index(spark, SF_SMOKE)
    before = enc.count()
    spark.catalog.clearCache()  # what bench.py does between queries
    assert enc.count() == before
    cents2, enc2 = L._pq_index(spark, SF_SMOKE)
    assert enc2 is enc and cents2 is cents
    L.clear_index_memo()


def test_recall_consumes_memoized_search(spark):
    """The recall audit must populate/reuse the ivfpq_topk memo slot
    rather than re-running the search pipeline wholesale."""
    from bigdata_riveranalysis_spark.plans import llmdata as L

    L.clear_index_memo()
    L.ann_ivf_pq_recall(spark, SF_SMOKE).collect()
    keys = {k[2] for k in L._INDEX_MEMO}
    assert "ivfpq_topk" in keys
    L.clear_index_memo()


# ---------------------------------------------------------------------------
# 2. normalize_bench provenance gates
# ---------------------------------------------------------------------------


def _write(tmp, name, obj):
    p = os.path.join(tmp, name)
    with open(p, "w") as f:
        json.dump(obj, f, indent=2)
    return p


def _mk_bench(tmp, queries, total):
    return _write(
        tmp, "BENCH.json", {"value": total, "queries": queries, "unit": "sec"}
    )


def _mk_artifact(tmp, parsed):
    return _write(tmp, "BENCH_rX.json", {"tail": "...", "parsed": parsed})


def test_normalize_bench_happy_path(tmp_path):
    from tools.normalize_bench import normalize

    tmp = str(tmp_path)
    full = {"a": 1.0, "b": 2.0, "c": 3.0}
    bench = _mk_bench(tmp, full, 6.0)
    art = _mk_artifact(
        tmp, {"value": 6.0, "n_queries": 3, "queries": {"a": 1.0}}
    )
    normalize(art, bench)
    out = json.load(open(art))
    assert out["queries_full"] == full
    assert out["parsed"]["queries"] == {"a": 1.0}, "parsed must stay a faithful parse"
    assert out["queries_full_source"]["file"] == "BENCH.json"
    assert len(out["queries_full_source"]["sha256"]) == 64
    with open(art, "rb") as f:
        assert f.read().endswith(b"\n"), "trailing newline preserved"


@pytest.mark.parametrize(
    "parsed_patch, bench_patch, msg",
    [
        ({"value": 9.9}, {}, "total mismatch"),
        ({"n_queries": 7}, {}, "count mismatch"),
        ({"queries": {"a": 1.5}}, {}, "headline entries disagree"),
        ({}, {"queries": {"a": 1.0, "b": 2.0, "c": 9.0}, "value": 12.0, "n": 3}, "count mismatch|total mismatch|sums"),
    ],
)
def test_normalize_bench_refusals(tmp_path, parsed_patch, bench_patch, msg):
    from tools.normalize_bench import normalize

    tmp = str(tmp_path)
    full = {"a": 1.0, "b": 2.0, "c": 3.0}
    bench_obj = {"value": 6.0, "queries": full}
    bench_obj.update({k: v for k, v in bench_patch.items() if k != "n"})
    bench = _write(tmp, "BENCH.json", bench_obj)
    parsed = {"value": 6.0, "n_queries": 3, "queries": {"a": 1.0}}
    parsed.update(parsed_patch)
    art = _mk_artifact(tmp, parsed)
    with pytest.raises(SystemExit, match=msg):
        normalize(art, bench)
    assert "queries_full" not in json.load(open(art))


def test_normalize_bench_sha_pin(tmp_path):
    from tools.normalize_bench import normalize

    tmp = str(tmp_path)
    bench = _mk_bench(tmp, {"a": 1.0}, 1.0)
    art = _mk_artifact(
        tmp,
        {
            "value": 1.0,
            "n_queries": 1,
            "queries": {},
            "bench_json_sha256_16": "0" * 16,  # pins a DIFFERENT file
        },
    )
    with pytest.raises(SystemExit, match="provenance mismatch"):
        normalize(art, bench)


# ---------------------------------------------------------------------------
# 3. record_band qualification
# ---------------------------------------------------------------------------


def _run_record_band(repo_benchfile, tmp, args=()):
    """record_band reads/writes next to itself, so run it against a
    scratch copy of the repo tools dir."""
    import shutil

    os.makedirs(os.path.join(tmp, "tools"), exist_ok=True)
    shutil.copy(
        os.path.join(_REPO, "tools", "record_band.py"),
        os.path.join(tmp, "tools", "record_band.py"),
    )
    shutil.copy(repo_benchfile, os.path.join(tmp, "BENCH.json"))
    return subprocess.run(
        [sys.executable, os.path.join(tmp, "tools", "record_band.py"), "test", *args],
        capture_output=True,
        text=True,
    )


def test_record_band_refuses_contended_run(tmp_path):
    tmp = str(tmp_path)
    bench = _write(
        str(tmp_path),
        "src_bench.json",
        {
            "value": 3.0,
            "sf": 0.1,
            "queries": {"a": 1.0, "b": 2.0},
            "loadavg_at_min": {"a": 1.0, "b": 1.2},
            "noise": [{"loadavg_1m": 2.0, "probe_sec": 0.6}],  # hot probe
            "errors": {},
        },
    )
    r = _run_record_band(bench, tmp)
    assert r.returncode == 1 and "refusing" in r.stdout
    assert not os.path.exists(os.path.join(tmp, "QUIET_BAND.json"))


def test_record_band_records_quiet_run(tmp_path):
    tmp = str(tmp_path)
    bench = _write(
        str(tmp_path),
        "src_bench.json",
        {
            "value": 3.0,
            "sf": 0.1,
            "queries": {"a": 1.0, "b": 2.0},
            "loadavg_at_min": {"a": 1.0, "b": 1.2},
            "noise": [{"loadavg_1m": 2.0, "probe_sec": 0.03}],
            "errors": {},
        },
    )
    r = _run_record_band(bench, tmp)
    assert r.returncode == 0, r.stdout + r.stderr
    band = json.load(open(os.path.join(tmp, "QUIET_BAND.json")))
    assert band["queries"]["b"] == {"min": 2.0, "loadavg_at_min": 1.2}
    assert band["n_queries"] == 2


# ---------------------------------------------------------------------------
# 4. BPE tie plant dominates (independent pandas count)
# ---------------------------------------------------------------------------


def test_bpe_tie_plant_dominates(tmp_path):
    import collections

    import pyarrow.parquet as pq

    from tools.fixturefuzz import fuzz_dir

    dst = str(tmp_path / "fz")
    fuzz_dir(SF_SMOKE, dst, seed=7)
    texts = pq.read_table(f"{dst}/documents.parquet").column("text").to_pylist()
    # independent round-1 pair count at the engines' tokenization
    # grain (lowercased whitespace tokens = TX.tokens); independent of
    # BOTH engines on purpose — the differential can't catch
    # both-engines-wrong
    words = collections.Counter()
    for t in texts:
        if t:
            words.update(t.lower().split())
    pairs = collections.Counter()
    for w, c in words.items():
        for i in range(len(w) - 1):
            pairs[(w[i], w[i + 1])] += c
    top4 = pairs.most_common(4)
    planted = {("v", "k"), ("v", "q"), ("z", "k"), ("z", "q")}
    assert {p for p, _ in top4} == planted, top4
    assert len({c for _, c in top4}) == 1, f"planted counts must tie: {top4}"
    fifth = pairs.most_common(5)[4]
    assert fifth[1] < top4[0][1], "plant must strictly dominate the corpus"


# ---------------------------------------------------------------------------
# 5. dedup-family + BPE staging memo (the r13 second amortization pass:
#    the MinHash signature table, the LSH pair table, the components
#    labeling and the trained BPE state were each rebuilt wholesale by
#    2-4 registered consumers — same waste class as VERDICT r12 #2's
#    ANN trio)
# ---------------------------------------------------------------------------


def test_dedup_family_shares_one_lsh_materialization(spark):
    """dedup_cluster_components, dedup_keep_best, dedup_pipeline_summary
    and minhash_estimate_error must all read the memoized lsh_pairs /
    lsh_components stages — the signature+banding+self-join pipeline
    builds exactly once per corpus."""
    from bigdata_riveranalysis_spark.plans import llmdata as L

    L.clear_index_memo()
    builds = []
    orig = L._lsh_pairs_build
    L._lsh_pairs_build = lambda s, d: (builds.append(d), orig(s, d))[1]
    try:
        p1 = L.dedup_minhash_lsh(spark, SF_SMOKE)
        comp = L.dedup_cluster_components(spark, SF_SMOKE)
        L.dedup_keep_best(spark, SF_SMOKE).collect()
        L.dedup_pipeline_summary(spark, SF_SMOKE).collect()
        L.minhash_estimate_error(spark, SF_SMOKE).collect()
        assert L.dedup_minhash_lsh(spark, SF_SMOKE) is p1
        assert L.dedup_cluster_components(spark, SF_SMOKE) is comp
    finally:
        L._lsh_pairs_build = orig
        L.clear_index_memo()
    assert builds == [SF_SMOKE], "the LSH pipeline must build exactly once"


def test_incremental_minhash_shares_signature_stage(spark):
    """The full-corpus LSH and the incremental twin read ONE memoized
    signature table — one tokenize→shingle→hash pass per corpus."""
    from bigdata_riveranalysis_spark.plans import llmdata as L

    L.clear_index_memo()
    sigs = []
    orig = L._minhash_signature_df
    L._minhash_signature_df = lambda s, d: (sigs.append(d), orig(s, d))[1]
    try:
        L.dedup_minhash_lsh(spark, SF_SMOKE)
        L.dedup_incremental_minhash(spark, SF_SMOKE).collect()
    finally:
        L._minhash_signature_df = orig
        L.clear_index_memo()
    assert sigs == [SF_SMOKE], "one hashing pass must feed both LSH flavors"


def test_bpe_train_memoizes_per_corpus(spark):
    """bpe_pair_merges and bpe_encode_stats consume ONE trained
    tokenizer: the multi-round loop runs once, the memo returns the
    identical state/winner frames, and corpora never share state."""
    from bigdata_riveranalysis_spark.plans import llmdata as L

    L.clear_index_memo()
    runs = []
    orig = L._bpe_train_build
    L._bpe_train_build = lambda s, d: (runs.append(d), orig(s, d))[1]
    try:
        s1, w1 = L._bpe_train(spark, SF_SMOKE)
        s2, w2 = L._bpe_train(spark, SF_SMOKE)
        assert s2 is s1
        assert len(w1) == len(w2) and all(a is b for a, b in zip(w1, w2))
        L.bpe_pair_merges(spark, SF_SMOKE).collect()
        L.bpe_encode_stats(spark, SF_SMOKE).collect()
        assert runs == [SF_SMOKE], "the tokenizer must train exactly once"
        L._bpe_train(spark, SF_ORACLE)
        assert runs == [SF_SMOKE, SF_ORACLE], "corpora must not share state"
    finally:
        L._bpe_train_build = orig
        L.clear_index_memo()


def test_token_vocab_memoizes_across_consumers(spark):
    """doc_surprisal_proxy and vocab_coverage_topn read ONE memoized
    unigram vocab — the tokenize+shuffle vocab build runs once."""
    from bigdata_riveranalysis_spark.plans import llmdata as L

    L.clear_index_memo()
    try:
        v1 = L._token_vocab(spark, SF_SMOKE)
        L.doc_surprisal_proxy(spark, SF_SMOKE).collect()
        L.vocab_coverage_topn(spark, SF_SMOKE).collect()
        assert L._token_vocab(spark, SF_SMOKE) is v1
    finally:
        L.clear_index_memo()


def test_basket_graph_memoizes_pair_counts(spark):
    """basket_part_pairs, graph_triangle_count and graph_pagerank_3iter
    share ONE memoized basket + pair-count materialization — the
    lineitem scan + basket shuffle + pair expansion runs once."""
    from bigdata_riveranalysis_spark.plans import llmdata as L
    from bigdata_riveranalysis_spark.plans import mining as M

    L.clear_index_memo()
    builds = []
    orig = M._basket_pair_counts
    M._basket_pair_counts = lambda b: (builds.append(1), orig(b))[1]
    try:
        M.basket_part_pairs(spark, SF_SMOKE).collect()
        M.graph_triangle_count(spark, SF_SMOKE).collect()
        M.graph_pagerank_3iter(spark, SF_SMOKE).collect()
        # the shared memo dict is THE staging module's
        from bigdata_riveranalysis_spark.plans import staging as S

        assert L._INDEX_MEMO is S._INDEX_MEMO
        assert {k[2] for k in S._INDEX_MEMO} >= {
            "baskets",
            "basket_pair_counts",
        }
    finally:
        M._basket_pair_counts = orig
        L.clear_index_memo()  # one clear clears all modules' stages
    assert builds == [1], "the pair-count graph must build exactly once"
    assert not S._INDEX_MEMO


def test_registry_keys_match_function_names():
    """Every registered entry's key equals its function's
    __name__ — pins the decorator-capture failure class: a helper def
    inserted between @query(...) and its intended function silently
    registers the HELPER under the query's name (caught live in r13
    when _minhash_sig_arr briefly became 'dedup_minhash_lsh'; the
    differential caught it, this catches it in milliseconds)."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    for name, q in REGISTRY.items():
        assert q.fn.__name__ == name, (name, q.fn.__name__)
