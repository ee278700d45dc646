"""Partition-count policy — the one owner of every sizing rule.

Each place the engine picks a partition count asks ``partitions``,
a function of (bytes, rows, cores, operator class) that imports no
Spark and has no effect but one log line per decision (logger
``bigdata_riveranalysis_spark.sizing``, INFO). The rules and their
constants live only here; callers gather the inputs (footer stats,
block bytes, defaultParallelism) and apply the answer.

``current`` is the count the data already has, for the two classes
whose rule is "change it only when …"; for them the answer equals
``current`` when the rule leaves the data alone.

Operator classes:

* ``shuffle`` — the session's initial ``spark.sql.shuffle.partitions``
  from the corpus bytes: clamp(ceil(bytes / 1 MiB), 4, max(2×cores, 8)),
  and the cap when the corpus is absent (bytes 0). The count is an
  upper bound AQE coalesces down from, so it is sized at AQE's own
  minPartitionSize: never plan more partitions than 1 MiB of input
  each could fill. The former flat 2×cores made every tiny shuffle pay
  a cores-proportional number of per-task fixed costs (interleaved A/B
  at 32 cores: doc_surprisal 0.786 → 0.509 s, kmeans 1.467 → 1.218 s
  at 64 → 16 partitions).
* ``staged`` — a materialized staging frame of ``bytes`` block bytes
  in ``current`` partitions re-lands at ceil(bytes / 4 MiB) when that
  is below ``current`` and ``current`` > 4. A staged frame inherits its
  build plan's cores-derived partitioning, so a kilobyte codebook
  landed in 32-64 partitions and every consumer scan paid that many
  task overheads (ann_ivf_pq 1.156 → 0.616 s at sf0.1, local[32]).
  A large artifact (bytes / 4 MiB ≥ its count) is never touched.
* ``scan_spread`` — a scan estimated at ``current`` input splits is
  spread round-robin to min(cores, ceil(rows / 256)) partitions when
  it has fewer splits than that. Below ~256 rows a task's fixed cost
  exceeds any per-row win (sf0.1, local[32]: multimodal_features
  0.542 → 0.374 s at 20 partitions instead of 32).
* ``kmeans_stage`` — the k-means staging table of ``rows`` vectors is
  coalesced to ceil(rows / 512) partitions, never a cores number: the
  Lloyd chain reads it in every stage (1.795 → 1.313 s at sf0.1,
  local[32]).
* ``state_jvm`` / ``state_python`` — shuffle/state-store partitions of
  one stateful stream: max(4, cores // 8) for JVM state (windows,
  dedup, stream-stream joins; per-store maintenance dominates —
  64 parts 5× slower than 32, 4 fastest over five stream queries) and
  max(4, cores // 2) for applyInPandasWithState (each partition is one
  Python worker; session_fold_ttl 4.56 s at 4 → 2.32 s at 16, while
  the JVM control went 0.89 → 1.68 s at 16). On a real cluster both
  are pinned per query to state volume, since the count cannot change
  across restarts of one checkpoint.
"""

from __future__ import annotations

import logging

_LOG = logging.getLogger(__name__)

SHUFFLE_BYTES_PER_PART = 1 << 20
SHUFFLE_MIN_PARTS = 4
SHUFFLE_MIN_CAP = 8
STAGED_BYTES_PER_PART = 4 << 20
STAGED_MIN_PARTS = 4
SPREAD_MIN_ROWS_PER_TASK = 256
KMEANS_ROWS_PER_PART = 512
STATE_MIN_PARTS = 4
STATE_CORES_PER_PART = {"state_jvm": 8, "state_python": 2}


def _ceil_div(a: int, b: int) -> int:
    return max(1, -(-a // b))


def partitions(op: str, *, nbytes: int = 0, rows: int = 0, cores: int = 0, current: int = 0) -> int:
    """The partition count for one decision of operator class ``op``
    (see the module docstring for each class's rule and inputs)."""
    if op == "shuffle":
        cap = max(2 * cores, SHUFFLE_MIN_CAP)
        by_bytes = max(SHUFFLE_MIN_PARTS, _ceil_div(nbytes, SHUFFLE_BYTES_PER_PART))
        n = min(cap, by_bytes) if nbytes > 0 else cap
    elif op == "staged":
        target = _ceil_div(nbytes, STAGED_BYTES_PER_PART)
        n = target if STAGED_MIN_PARTS < current and target < current else current
    elif op == "scan_spread":
        n = max(current, min(cores, _ceil_div(rows, SPREAD_MIN_ROWS_PER_TASK)))
    elif op == "kmeans_stage":
        n = _ceil_div(rows, KMEANS_ROWS_PER_PART)
    elif op in STATE_CORES_PER_PART:
        n = max(STATE_MIN_PARTS, cores // STATE_CORES_PER_PART[op])
    else:
        raise ValueError(f"unknown operator class {op!r}")
    msg = "sizing %s: bytes=%d rows=%d cores=%d current=%d -> %d"
    _LOG.info(msg, op, nbytes, rows, cores, current, n)
    return n
