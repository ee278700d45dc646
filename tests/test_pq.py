"""Product-quantization ANN (ann_pq_adc) — planted-geometry checks.

The registered PQ oracles (ann_pq_adc_sampled, ann_ivf_pq) are the
primary gate (integer-exact end-to-end); these tests pin the
geometric invariants a differential hash can't name: identical
vectors encode identically, and ADC distance between
identically-encoded vectors is exactly zero.
"""

from __future__ import annotations

import os

import pandas as pd

from bigdata_riveranalysis_spark.plans.llmdata import (
    PQ_K,
    PQ_NQUERY,
    PQ_SUBDIM,
    ann_pq_adc,
)
from bigdata_riveranalysis_spark.plans.registry import REGISTRY

_DIM = 64
_M = _DIM // PQ_SUBDIM


def _planted_embeddings(tmp_path) -> str:
    """2·PQ_NQUERY vectors, 64 dims: vec i and vec i+PQ_NQUERY are
    IDENTICAL for i in the query range (queries are
    vec_id < PQ_NQUERY), with enough spread that the seed centroids
    differ. Constants are IMPORTED, not restated — a PQ_K change must
    not silently desync this codebook from the operator's (the r8
    Jaccard-coefficient decoupling class)."""
    d = str(tmp_path / "sfpq")
    os.makedirs(d)
    rows = []
    for i in range(PQ_NQUERY):
        vec = [float((i * 7 + j * 3) % 97) for j in range(_DIM)]
        rows.append((i, i % 3, vec))
        rows.append((i + PQ_NQUERY, i % 3, vec))
    pd.DataFrame(rows, columns=["vec_id", "label", "embedding"]).to_parquet(
        f"{d}/embeddings.parquet", index=False
    )
    return d


def test_pq_identical_twin_ranks_first(spark, tmp_path):
    """An identical copy of the query vector must be the top ADC
    neighbor. Its adc_dist2 is NOT zero — ADC is asymmetric: the
    unquantized query is compared against the NEIGHBOR'S codebook
    reconstruction, so the twin's distance equals the query's own
    quantization error (> 0 unless the query sits on a centroid) —
    but no other vector can beat it, because the twin shares the
    query's codes and every other code is at least as far from the
    query by the argmin that chose those codes."""
    d = _planted_embeddings(tmp_path)
    rows = ann_pq_adc(spark, d).collect()
    out = {(r.query_id, r.neighbor_id): r for r in rows}
    assert all(r.adc_dist2 >= 0 for r in rows)
    for q in range(PQ_NQUERY):
        m = min(x.adc_dist2 for x in rows if x.query_id == q)
        r = out.get((q, q + PQ_NQUERY))
        if r is not None:
            # est-optimal, not necessarily rnk 1: another vector may
            # share ALL the twin's codes (the codebook is coarse by
            # design) and win the deterministic nid tie-break — ADC
            # cannot distinguish same-coded vectors.
            assert r.adc_dist2 == m, q
        else:
            # the twin can even be EVICTED from top-k by >= k
            # same-coded smaller-nid vectors; eviction is only
            # possible via ties at the minimum, so every returned row
            # must then sit exactly at the twin's (minimal) distance.
            assert all(
                x.adc_dist2 == m for x in rows if x.query_id == q
            ), q


def test_pq_codes_deterministic_and_identical_for_twins(spark, tmp_path):
    from bigdata_riveranalysis_spark.plans.llmdata import (
        _pq_assign,
        _pq_cents_row,
        _pq_codes_xs,
        _pq_update,
    )
    from pyspark.sql import functions as F

    d = _planted_embeddings(tmp_path)
    Xs = _pq_codes_xs(spark, d)
    from pyspark.sql import Window as W

    seed_ids = (
        Xs.select("vec_id").distinct().orderBy("vec_id").limit(PQ_K)
    ).select(
        "vec_id", (F.row_number().over(W.orderBy("vec_id")) - 1).alias("cid")
    )
    seeds = Xs.join(F.broadcast(seed_ids), "vec_id").select(
        "sub", "cid", F.posexplode("xs").alias("sdim", "cent")
    )
    a1 = _pq_assign(Xs, _pq_cents_row(seeds))
    enc = _pq_assign(Xs, _pq_cents_row(_pq_update(a1))).select(
        "vec_id", "sub", "cid"
    )
    by_vec = {}
    for r in enc.collect():
        by_vec.setdefault(r.vec_id, {})[r.sub] = r.cid
    for i in range(PQ_NQUERY):
        assert by_vec[i] == by_vec[i + PQ_NQUERY], (i, by_vec[i])
        assert len(by_vec[i]) == _M  # every subspace encoded


def test_ivf_pq_twin_est_optimal_and_gated(spark, tmp_path):
    """The IVF gate cannot exclude an identical twin (same vector →
    same cell → always a candidate), and the composed search keeps
    the ann_pq_adc distance semantics: the twin's ADC distance is the
    per-query minimum (ties/eviction logic identical to the
    ann_pq_adc twin test, since ADC cannot split same-coded
    vectors)."""
    d = _planted_embeddings(tmp_path)
    rows = REGISTRY["ann_ivf_pq"].fn(spark, d).collect()
    out = {(r.query_id, r.neighbor_id): r for r in rows}
    assert all(r.adc_dist2 >= 0 for r in rows)
    for q in range(PQ_NQUERY):
        per_q = [x for x in rows if x.query_id == q]
        assert per_q, q  # the twin guarantees >=1 candidate
        m = min(x.adc_dist2 for x in per_q)
        r = out.get((q, q + PQ_NQUERY))
        if r is not None:
            assert r.adc_dist2 == m, q
        else:
            assert all(x.adc_dist2 == m for x in per_q), q


def test_ivf_pq_common_pairs_match_full_adc(spark, tmp_path):
    """Cell gating changes WHICH candidates are scored, never the
    score: any (query, neighbor) pair present in both ann_ivf_pq and
    ann_pq_adc output carries the identical adc_dist2 (both searches
    share the full-corpus codebook)."""
    d = _planted_embeddings(tmp_path)
    ivf = {
        (r.query_id, r.neighbor_id): r.adc_dist2
        for r in REGISTRY["ann_ivf_pq"].fn(spark, d).collect()
    }
    full = {
        (r.query_id, r.neighbor_id): r.adc_dist2
        for r in ann_pq_adc(spark, d).collect()
    }
    common = set(ivf) & set(full)
    assert common  # twins guarantee overlap
    assert all(ivf[k] == full[k] for k in common)


def test_ivf_pq_recall_accounting(spark, tmp_path):
    """One row per query; n_probed_cells pins the IVFPQ_NPROBE
    constant into the output; n_hits bounded by PQ_TOPK and the
    recall column is exactly its /PQ_TOPK ratio."""
    from bigdata_riveranalysis_spark.plans.llmdata import IVFPQ_NPROBE, PQ_TOPK

    d = _planted_embeddings(tmp_path)
    rows = REGISTRY["ann_ivf_pq_recall"].fn(spark, d).collect()
    assert sorted(r.query_id for r in rows) == list(range(PQ_NQUERY))
    for r in rows:
        assert r.n_probed_cells == IVFPQ_NPROBE
        assert 0 <= r.n_hits <= PQ_TOPK
        assert abs(getattr(r, f"recall_at_{PQ_TOPK}") - round(r.n_hits / PQ_TOPK, 6)) < 1e-12


def test_pq_sampled_trainer_deterministic_same_shape(spark, tmp_path):
    """The hash-sampled trainer is a pure function of vec_id: two
    invocations produce identical rows (rand()-style sampling would
    not), and the output schema matches ann_pq_adc's exactly."""
    d = _planted_embeddings(tmp_path)
    fn = REGISTRY["ann_pq_adc_sampled"].fn
    df_a, df_b = fn(spark, d), fn(spark, d)
    a = sorted(map(tuple, df_a.collect()))
    b = sorted(map(tuple, df_b.collect()))
    assert a == b and len(a) > 0
    assert (
        df_a.schema.simpleString()
        == ann_pq_adc(spark, d).schema.simpleString()
    )


def test_ivf_pq_index_persists_partitioned_by_cell(spark, tmp_path):
    """The ann_ivf_pq docstring's production claim, made executable:
    the (cell, vec_id, sub, cid) index written partitionBy(cell)
    serves probes via PARTITION PRUNING (the filter reaches the scan
    as a PartitionFilter, not a post-filter), and searching the
    PERSISTED index returns row-for-row the in-query search."""
    from pyspark.sql import functions as F

    from bigdata_riveranalysis_spark.plans import llmdata as L
    from bigdata_riveranalysis_spark.sources.sinks import write_partitioned_parquet

    d = _planted_embeddings(tmp_path)
    emb = L._embs(spark, d)
    cent_arr = L._ivf_cent_arr(spark, d)
    cells = L._ivf_assign(emb, cent_arr).select("vec_id", "cell")
    Xs = L._pq_codes_xs(spark, d)
    cents1 = L._pq_train(Xs)
    enc = L._pq_assign(Xs, cents1).select("vec_id", "sub", "cid")
    idx_path = str(tmp_path / "ivfpq_index")
    write_partitioned_parquet(
        cells.join(enc, ["vec_id"]), idx_path, partition_by=("cell",)
    )

    index = spark.read.parquet(idx_path)
    probes = L._ivf_probe(
        emb.filter(F.col("vec_id") < PQ_NQUERY), cent_arr, L.IVFPQ_NPROBE
    ).select(F.col("query_id").alias("qid"), "cell")
    probe_cells = sorted({r.cell for r in probes.select("cell").collect()})
    pruned = index.filter(F.col("cell").isin(probe_cells))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:200]

    hits = pruned.join(F.broadcast(probes), ["cell"]).filter(
        F.col("vec_id") != F.col("qid")
    )
    lookups = hits.join(F.broadcast(L._pq_lut(Xs, cents1)), ["qid", "sub", "cid"])
    got = sorted(map(tuple, L._pq_adc_topk(lookups, extra=("cell",)).collect()))
    want = sorted(map(tuple, REGISTRY["ann_ivf_pq"].fn(spark, d).collect()))
    assert got == want and len(got) > 0
