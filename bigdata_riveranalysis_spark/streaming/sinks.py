"""Streaming sinks — every start_* function REQUIRES a checkpoint path.

The reference's console sink runs checkpoint-less
(streaming/spark_processor.py:43-47); combined with
``startingOffsets=latest`` a restart silently loses data. The engine
makes the checkpoint location a positional argument on every sink so
the unsafe configuration is unrepresentable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def start_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    output_mode: str = "append",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Columnar file sink (the Delta-on-MinIO intent the reference
    comments out, streaming/spark_processor.py:42, delivered as
    exactly-once parquet-on-filesystem via checkpointed file-sink
    commit log)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_alert_sink(
    df: DataFrame,
    checkpoint: str,
    handler: Callable[[DataFrame, int], None],
    *,
    output_mode: str = "update",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """foreachBatch alert dispatch (the MongoDB/Grafana serving path
    the reference provisions but never wires,
    Docker/docker-compose.yml:92-146). ``handler(batch_df, batch_id)``
    runs on the driver per micro-batch with a BATCH DataFrame — it may
    write to any batch sink; Spark retries the batch on failure, so
    the handler must be idempotent on ``batch_id``."""
    writer = (
        df.writeStream.foreachBatch(handler)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: Pointer-file name for serving tables: a tiny text file next to the
#: generation directories whose CONTENT is the basename of the live
#: generation. Flipping it is one small-object write — the primitive
#: that is atomic on object stores (a PUT either lands whole or not at
#: all), unlike directory rename.
SERVING_POINTER_SUFFIX = ".ptr"


def resolve_serving_path(path: str) -> str | None:
    """Resolve a serving-table logical path through ``{path}.ptr`` to
    the live generation dir readers should scan. None → table does not
    exist yet."""
    import os

    ptr = path + SERVING_POINTER_SUFFIX
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        gen = fh.read().strip()
    # No './' prefix for bare relative paths: the resolved dir is
    # compared against glob('{path}__b*') results and the writer's
    # own generation names, and a spurious './' fails both — the
    # sweep would then delete the LIVE generation (review finding).
    d = os.path.dirname(path)
    return os.path.join(d, gen) if d else gen


def read_serving_table(spark, path: str) -> DataFrame:
    """Read the live generation of a serving table written by
    start_upsert_sink."""
    resolved = resolve_serving_path(path)
    if resolved is None:
        raise FileNotFoundError(f"serving table {path!r} does not exist yet")
    return spark.read.parquet(resolved)


def start_upsert_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: tuple[str, ...],
    *,
    output_mode: str = "update",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Keyed upsert into a parquet serving table via foreachBatch —
    the MERGE-shaped sink for update-mode aggregations (latest value
    per key visible to readers, not an append log).

    Each micro-batch: read the current table, anti-join out the keys
    the batch replaces, union the batch, rewrite. Rewriting the whole
    table is correct here and fine for a *serving* table (these are
    small by construction — one row per key); a 100 TB-keyspace sink
    instead partitions the table by a key prefix and rewrites only
    the partitions the batch touches (same handler, plus dynamic
    partition overwrite), or targets a real MERGE sink (Delta/Iceberg).
    Idempotence: re-running a batch after a crash converges to the
    same table state because the upsert is keyed, not positional.

    Commit (the reference's declared Delta-on-MinIO intent,
    streaming/spark_processor.py:42, reduced to its essential
    primitive): each batch writes a NEW generation directory
    ``{path}__b{id}`` and then commits by atomically replacing the tiny
    ``{path}.ptr`` file whose content names the live generation —
    exactly the single-small-object commit that Delta's
    `_last_checkpoint`/log tail formalizes. ``os.replace`` is atomic on
    POSIX, and object stores make a single small PUT atomic. Readers
    resolve through ``read_serving_table`` / ``resolve_serving_path``;
    the previous generation survives until the NEXT batch's sweep, so
    a reader that resolved the pointer just before the flip keeps a
    complete snapshot (generation-level snapshot isolation).

    Safety (failure modes this sink explicitly defends against):

    * "First batch" is decided by an explicit pointer-existence check,
      never by catching a read/merge exception — a transient read or
      merge failure must FAIL the micro-batch (Spark retries it), not
      silently overwrite the serving table with only the current
      batch.
    * A crash after writing a generation but before the pointer flip
      leaves the pointer on the old generation; the next batch merges
      from the pointer's target and sweeps the orphan.
    * A retry of an already-committed batch ping-pongs the generation
      name (``__b{id}`` ↔ ``__b{id}x``) so the merge never overwrites
      the directory it is lazily reading from.

    Contract: ONE upsert query per serving path. The orphan sweep
    deletes every ``{path}__b*`` except the current batch's target and
    the live generation; two queries sharing a path would rmtree each
    other's in-flight generation dirs mid-write (ADVICE r4). Partition
    concurrent writers by path.
    """
    import os
    import shutil

    import glob as _glob

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.dropDuplicates(list(key_cols))
        live = resolve_serving_path(path)
        gen = f"{path}__b{batch_id}"
        if live == gen:  # retry after commit: never read+overwrite one dir
            gen = gen + "x"
        # Sweep generation dirs orphaned by a crash after the write but
        # before the commit — over restarts with fresh checkpoints these
        # would otherwise accumulate (ADVICE r3). Safe ONLY under the
        # one-query-per-path contract above.
        for stale in _glob.glob(_glob.escape(path) + "__b*"):
            if stale not in (gen, live):
                shutil.rmtree(stale, ignore_errors=True)
        merged = batch
        if live is not None:
            current = spark.read.parquet(live)
            merged = current.join(
                F.broadcast(batch.select(*key_cols)), list(key_cols), "left_anti"
            ).unionByName(batch)
        merged.write.mode("overwrite").parquet(gen)
        # Commit: atomically replace the pointer file.
        ptr = path + SERVING_POINTER_SUFFIX
        ptr_tmp = ptr + ".__tmp"
        with open(ptr_tmp, "w") as fh:
            fh.write(os.path.basename(gen))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(ptr_tmp, ptr)

    writer = (
        df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_kafka_sink(
    df: DataFrame,
    checkpoint: str,
    *,
    bootstrap_servers: str,
    topic: str,
) -> StreamingQuery:
    """Kafka producer sink — the engine-native replacement for the
    reference's row-at-a-time Python producer loop
    (kafka/producer.py:35-47): every row JSON-encoded executor-side
    and produced in batched async sends. Frame construction shared
    with the batch publisher (sources.sinks.kafka_frames) so the
    broker-less wire-contract test covers both."""
    from bigdata_riveranalysis_spark.sources.sinks import kafka_frames

    return (
        kafka_frames(df)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )
