"""Corpus-staging memo — derive an expensive artifact once per
(application, corpus), reuse it from every consumer.

Several registered queries are CONSUMERS of one shared derived
artifact: the ANN stack's trained index (coarse quantizer, PQ
codebook, encodings), the MinHash signature/pair/components tables,
the trained BPE tokenizer state, the unigram vocabulary, the basket
pair-count graph. Re-deriving the artifact inside every consumer
triple-pays the build (VERDICT r11/r12 on the ANN trio: 14.75 s of
the 139.84 s r12 bench was repeated training). This module is the
in-session twin of the PERSISTED artifact contract production runs
(e.g. sinks.write_ivfpq_index + the partition-pruned read pinned by
tests/test_pq.py): an artifact is derived once, and every query batch
reads it.

Keys: applicationId, because checkpoint blocks die with their
session (a new session must rebuild, never dereference another
session's blocks); abspath(sf_dir), so the sf0.01 correctness run,
the sf0.1 bench, and fixturefuzz's per-seed temp corpora never share
state; and a stage name. Every memoized frame is MATERIALIZED and
lineage-cut by ``stage`` itself (the builder returns the logical
plan; ``materialize`` below is the single choke point that cuts it),
so reuse is a block read, not a recompute. Most stages are sublinear
in the input (a codebook row, the Zipf-bounded vocab, LSH pairs,
top-k); two are input-proportional but SLIM — the MinHash signature
table (doc_id + 8 longs per doc) and the basket table (one row per
order) — i.e. exactly the persisted per-corpus index artifacts a
production run maintains on durable storage, held here as session
blocks.

Cluster-mode posture (the 1000-executor design, VERDICT r13 item 3): by
default ``materialize`` uses ``localCheckpoint`` — blocks live on
executors, lineage is cut, so a LOST EXECUTOR makes its blocks
unrecoverable. Fine on local[n] (one process, dies atomically) and
for cheap-to-rebuild stages. A long-lived cluster session gives its
SparkContext a checkpoint dir on durable storage (HDFS/S3/NFS) —
``--conf spark.checkpoint.dir=<path>`` at submit, or
``sc.setCheckpointDir`` — and ``materialize`` then routes every
staged frame through a RELIABLE ``checkpoint()`` under that dir, so
staged artifacts survive executor loss exactly like the persisted
index twins (sinks.write_ivfpq_index et al.). The engine never
installs or changes the dir; it reads the context's at each
materialization. Both modes produce byte-identical results (pinned
by tests/test_r14_fixes.py). spark.catalog.clearCache() does NOT drop
RDD-level checkpoint blocks (pinned by tests/test_r13_fixes.py), so
the bench's between-query cache clearing leaves the memo intact,
exactly like a persisted index would be.
"""

from __future__ import annotations

import logging as _logging
import os as _os
import threading as _threading

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from bigdata_riveranalysis_spark import sizing

_LOG = _logging.getLogger(__name__)

#: (applicationId, abspath(sf_dir), stage) → materialized frame.
_INDEX_MEMO: dict[tuple[str, str, str], DataFrame] = {}

#: Guards the memo dict and the per-key lock table ONLY — never held
#: across a build. Each stage key gets its own reentrant lock (ADVICE
#: r14): "derive once" stays real under same-key races (a second
#: thread asking for a stage mid-build blocks until the first thread's
#: build lands, then reads the memo), while requests for DIFFERENT
#: stages no longer serialize behind one long build (e.g. the BPE
#: trainer). Reentrant because a builder may itself stage a
#: sub-artifact (the basket pair-count builder stages the basket
#: table first) — a same-key re-entry runs under the lock it already
#: holds; a different-key re-entry takes that key's own lock.
_LOCK = _threading.Lock()
_KEY_LOCKS: dict[tuple[str, str, str], _threading.RLock] = {}

#: Bumped by clear_index_memo under _LOCK. A build inserts its frame
#: only if the generation is unchanged from when its stage() call
#: began: a clear that lands mid-build (the corpus was rewritten in
#: place — the documented reason clear exists) invalidates that
#: build's INSERT, so a post-clear stage() never reads a frame
#: derived from pre-clear data out of the memo. The in-flight builder
#: itself still returns its frame — its call happened-before the
#: clear, so pre-clear data is the linearizable answer for it. This
#: is the companion to retaining _KEY_LOCKS across clears (ADVICE
#: r15): the lock retention prevents duplicate CONCURRENT builds; the
#: generation guard prevents the retained lock from handing a
#: post-clear caller the pre-clear build's stale artifact.
_GENERATION = 0


def _is_lineage_cut(df: DataFrame) -> bool:
    """True iff the frame's analyzed plan is a checkpoint scan
    (LogicalRDD) — i.e. already materialized, no lineage to recompute.
    Introspection-failure (e.g. a non-JVM backend) counts as cut:
    the check is a belt over ``materialize``, not the contract."""
    try:
        root = df._jdf.queryExecution().analyzed()
        return root.getClass().getSimpleName() == "LogicalRDD"
    except (Py4JError, AttributeError):  # pragma: no cover - no JVM handle
        return True


def _durable(df: DataFrame) -> bool:
    """True iff the frame's SparkContext has a checkpoint dir."""
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage and materialize a staging frame — THE choke point
    every memoized artifact passes through.

    Default: ``localCheckpoint(eager=True)`` — executor-local blocks,
    no durable I/O, the right call on local[n] and for short-lived
    sessions. When the SparkContext has a checkpoint dir (see the
    module docstring): a reliable ``checkpoint(eager=True)`` under that
    dir — staged artifacts survive lost executors, the long-lived-
    cluster posture."""
    if _durable(df):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _rightsize(df: DataFrame) -> DataFrame:
    """Re-land an over-partitioned SLIM staged frame at the
    ``sizing.partitions("staged")`` count for its block bytes. A
    staged frame inherits its build plan's cores-derived partitioning;
    after materialization its true byte size is in the storage report.
    No-op when its blocks aren't there (reliable-checkpoint durable
    mode — partition counts there come from real cluster data sizes),
    and skipped with one log line when the py4j introspection fails.
    The one extra pass reads the just-landed blocks once (slim by the
    staging contract) and the superseded blocks are released."""
    try:
        jrdd = df._jdf.queryExecution().analyzed().rdd()
        n = jrdd.getNumPartitions()
        nbytes = _stored_bytes(df, jrdd.id())
    except (Py4JError, AttributeError) as e:
        first = str(e).partition("\n")[0]
        _LOG.warning("rightsize skipped: introspection failed: %s: %s", type(e).__name__, first)
        return df
    target = n if nbytes is None else sizing.partitions("staged", nbytes=nbytes, current=n)
    if target >= n:
        return df
    out = df.coalesce(target).localCheckpoint(eager=True)
    jrdd.unpersist(False)
    return out


def _stored_bytes(df: DataFrame, rid: int) -> int | None:
    """Memory + disk bytes of RDD ``rid``'s blocks, or None when the
    storage report does not list it."""
    infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
    return next((int(i.memSize() + i.diskSize()) for i in infos if i.id() == rid), None)


def stage(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """Return the memoized frame for (this application, corpus,
    ``name``), deriving it exactly once via ``build()``.

    ``build()`` returns the LOGICAL plan of the artifact; ``stage``
    materializes it through ``materialize`` — a builder cannot
    accidentally memoize a lazy lineage-bearing frame (the
    per-consumer-recompute defect the memo exists to kill, ADVICE
    r13). A builder that pre-materialized (e.g. an iterative trainer
    whose final state is already checkpointed) passes through
    untouched — ``_is_lineage_cut`` detects the LogicalRDD root."""
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir), name)
    with _LOCK:
        df = _INDEX_MEMO.get(key)
        if df is not None:
            return df
        gen = _GENERATION
        klock = _KEY_LOCKS.setdefault(key, _threading.RLock())
    # The build runs under the KEY's lock only (ADVICE r14): same-key
    # racers block until the one build lands; different-key requests
    # proceed in parallel instead of serializing behind a long build.
    with klock:
        with _LOCK:
            df = _INDEX_MEMO.get(key)
            if df is not None:
                return df
        df = build()
        # Default mode: cut lineage unless the builder already did
        # (iterative trainers settle their state pre-cut). Durable
        # mode: ALWAYS route through the reliable checkpoint, even
        # over an already-cut local frame — the memo's guarantee
        # there is "every staged frame survives executor loss",
        # and staged frames are slim by design, so the extra copy
        # of a pre-cut frame is a few KB of durable I/O.
        pre_cut = _is_lineage_cut(df)
        durable = _durable(df)
        if durable or not pre_cut:
            df = materialize(df)
        if not durable and not pre_cut:
            # Right-size only frames THIS call materialized: a builder
            # that pre-cut keeps both its object identity (the r14
            # pass-through contract) and its blocks — releasing a
            # frame the builder may still hold elsewhere is not ours
            # to do.
            df = _rightsize(df)
        with _LOCK:
            # FRAME entries keyed by OTHER applications are dead
            # weight: the blocks (local or durable) belong to a stopped
            # session and can never be read again from this one. Evict
            # on insert so a process that cycles SparkSessions (test
            # harnesses, long-lived drivers) doesn't retain frames
            # forever. LOCKS are deliberately NEVER evicted (ADVICE
            # r15): dropping a lock while a build for its key is in
            # flight mints a second lock for the next requester, and
            # two concurrent builds of the same key run — "derive
            # exactly once" silently broken. RLocks are a few hundred
            # bytes, bounded by distinct stage keys seen in-process, so
            # keeping them forever is the correct trade.
            for k in [k for k in _INDEX_MEMO if k[0] != key[0]]:
                del _INDEX_MEMO[k]
            # Generation guard (see _GENERATION): a clear_index_memo
            # that landed after this stage() call began means the
            # corpus may have been rewritten under this build — the
            # frame is correct for THIS caller (whose call preceded
            # the clear) but must not enter the memo, where a
            # post-clear caller would read it as current.
            if _GENERATION == gen:
                _INDEX_MEMO[key] = df
    return df


def memo_entries(spark: SparkSession, sf_dir: str) -> int:
    """How many artifacts are currently staged for (this application,
    ``sf_dir``) — the WARMTH of the memo for a corpus. Used by
    tools/retime.py to record, per requalified bench row, whether the
    staged families' shared artifacts were already materialized when
    the re-time ran (VERDICT r15 #3: a cold-memo re-time of a staged
    consumer legitimately reads ~2× its warm-band floor; without the
    memo-state field the adjudication rule misread that as a plan
    regression)."""
    app = spark.sparkContext.applicationId
    corpus = _os.path.abspath(sf_dir)
    with _LOCK:
        return sum(1 for k in _INDEX_MEMO if k[0] == app and k[1] == corpus)


def clear_index_memo() -> None:
    """Drop all memoized frames. A test that REWRITES a corpus in
    place at an already-memoized path, or re-gates a regime constant
    and needs a rebuild, must call this (fixturefuzz doesn't need to:
    each seed gets a fresh temp dir, a fresh key). Blocks behind the
    dropped frames are released best-effort — without it, repeated
    clear+rebuild cycles leak orphaned executor blocks until the
    ContextCleaner notices (ADVICE r13). DataFrame.unpersist() alone
    is NOT the release: it only clears SQL-cache entries, while
    checkpoint blocks belong to the LogicalRDD's underlying RDD — so
    unpersist THAT (measured: getRDDStorageInfo drops to zero only on
    the RDD-level unpersist; the DataFrame-level call is kept as the
    fallback for non-JVM frames and is pinned as such by
    tests/test_r14_fixes.py).

    Durable mode (ADVICE r14): a reliable checkpoint's FILES are not
    blocks — Spark deletes them only with
    spark.cleaner.referenceTracking.cleanCheckpoints, which the
    engine doesn't force on the host session, so repeated
    clear+rebuild cycles would leak durable-storage files forever.
    Each dropped frame's checkpoint directory (RDD.getCheckpointFile,
    defined only for reliable checkpoints — localCheckpoint returns
    none) is therefore best-effort deleted through the Hadoop
    FileSystem API, so HDFS/S3 paths clean up the same way local ones
    do (pinned by tests/test_r15_fixes.py)."""
    global _GENERATION
    with _LOCK:
        _GENERATION += 1  # invalidate in-flight builds' memo inserts
        for df in _INDEX_MEMO.values():
            try:
                rdd = df._jdf.queryExecution().analyzed().rdd()
                rdd.unpersist(False)
                ckpt = rdd.getCheckpointFile()
                if ckpt.isDefined():
                    sess = df.sparkSession
                    path = sess._jvm.org.apache.hadoop.fs.Path(ckpt.get())
                    fs = path.getFileSystem(
                        sess.sparkContext._jsc.hadoopConfiguration()
                    )
                    fs.delete(path, True)
            except Exception:  # noqa: BLE001 - no JVM handle / stopped
                try:
                    df.unpersist()
                except Exception:  # noqa: BLE001 - session may be stopped
                    pass
        _INDEX_MEMO.clear()
        # _KEY_LOCKS is NOT cleared (ADVICE r15): a build may be in
        # flight holding its key lock at the instant of the clear; a
        # stage() call for the same key arriving after the clear would
        # then mint a FRESH RLock and run a duplicate concurrent build
        # (last insert wins) — the r14 "derive exactly once" guarantee
        # broken exactly when clear+rebuild races matter. Locks carry
        # no Spark resources; see stage() for the retention rationale.
