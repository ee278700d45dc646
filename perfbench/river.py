"""The ``river-live`` workload: the reference's own pipeline under arrival.

One long-running query: text file source → ``parse_readings`` →
``wqi_classify`` → rows banded ``poor`` → ``start_alert_sink``. A
generator process (``river_gen.py``) writes files at a low and then a
high rate. A file's latency is the time from its due write time to the
end of the alert handler call that emitted its micro-batch. Which batch
read which file comes from the file source's own log in the
checkpoint, so nothing rides in the payload.

The output check runs the same three functions as one batch job over
the same files; the alert rows must match the streamed ones exactly
once.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import subprocess
import sys
import time

#: (name, rows per second, share of the run) of each generator phase.
PHASES = (("low", 1_000, 0.5), ("high", 10_000, 0.5))
TICK_S = 0.1
#: A run is invalid when more files than this share were written more
#: than one tick late: the arrival schedule itself did not hold.
MAX_LATE_SHARE = 0.1


def alerts(raw):
    from pyspark.sql import functions as F

    from bigdata_riveranalysis_spark.operators.river_pipeline import parse_readings, wqi_classify

    return wqi_classify(parse_readings(raw)).where(F.col("wqi_band") == "poor")


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


#: Files, one micro-batch each, that the set-up streams before the run.
WARM_BATCHES = 10


def warm(spark, warm_dir: str, seed: int) -> None:
    """Run the pipeline once as a batch job, then as a stream over
    ``WARM_BATCHES`` files one batch at a time, on a separate directory,
    so the micro-batch path is compiled before the timed run."""
    import numpy as np

    from bigdata_riveranalysis_spark.streaming.sinks import start_alert_sink

    from perfbench.datagen import wire_rows

    src = os.path.join(warm_dir, "in")
    os.makedirs(src, exist_ok=True)
    rng = np.random.default_rng([seed, 1 << 20])
    for i in range(WARM_BATCHES):
        with open(os.path.join(src, f"warm-{i:02d}.json"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(wire_rows(rng, 500)) + "\n")
    _rows(alerts(spark.read.text(src)))
    q = start_alert_sink(
        alerts(spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)),
        os.path.join(warm_dir, "ckpt"),
        lambda df, _bid: df.collect(),
    )
    q.processAllAvailable()
    q.stop()


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log
    (plain and compacted entries)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if path.endswith(".crc") or os.path.basename(path).startswith("."):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(os.path.basename(e["path"]), e["batchId"])
    return out


def run(spark, work_dir: str, seed: int, seconds: float, tracer=None) -> dict:
    """Run the workload; return its samples, layer records and check."""
    from bigdata_riveranalysis_spark.streaming.sinks import start_alert_sink

    src = os.path.join(work_dir, "river", "in")
    ckpt = os.path.join(work_dir, "river", "ckpt")
    manifest = os.path.join(work_dir, "river", "manifest.jsonl")
    os.makedirs(src, exist_ok=True)

    emitted: dict[int, tuple[float, list[tuple], float]] = {}

    def handler(batch_df, batch_id):
        t0 = time.perf_counter()
        if batch_id in emitted:  # a retried batch emits nothing twice
            return
        rows = _rows(batch_df)
        emitted[batch_id] = (time.time(), rows, time.perf_counter() - t0)

    t_build = time.perf_counter()
    stream = alerts(spark.readStream.format("text").load(src))
    build_s = time.perf_counter() - t_build
    ctx = tracer.begin() if tracer else None
    q = start_alert_sink(stream, ckpt, handler)

    start = time.time() + 1.0
    phase_args = [f"{rate}:{seconds * share}" for _, rate, share in PHASES]
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "river_gen.py"),
         src, manifest, str(seed), repr(start), repr(TICK_S), *phase_args],
    )
    try:
        if gen.wait(timeout=seconds + 60) != 0:
            raise RuntimeError(f"river generator exited with {gen.returncode}")
        q.processAllAvailable()
        wall_s = time.time() - start
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        q.stop()
    layer = tracer.end(ctx, wall_s) if tracer else {}

    with open(manifest, encoding="utf-8") as fh:
        files = [json.loads(line) for line in fh]
    if not files or not files.pop().get("done"):
        raise RuntimeError(f"generator manifest {manifest} is incomplete")
    where = file_batches(ckpt)

    lat: dict[str, list[float]] = {name: [] for name, _, _ in PHASES}
    windows: dict[str, list[float]] = {}
    lost = 0
    for f in files:
        bid = where.get(f["name"])
        if bid is None or bid not in emitted:
            lost += 1
            continue
        phase, emit = PHASES[f["phase"]][0], emitted[bid][0]
        lat[phase].append((emit - f["due"]) * 1e3)
        w = windows.setdefault(phase, [f["due"], emit])
        w[1] = max(w[1], emit)
    # A last file never emitted (a failed run) counts as lagging the
    # whole run.
    last_bid = where.get(files[-1]["name"])
    drain_lag_s = emitted[last_bid][0] - files[-1]["due"] if last_bid in emitted else wall_s
    late_ms = [max(0.0, (f["wrote"] - f["due"]) * 1e3) for f in files]
    late_files = sum(1 for ms in late_ms if ms > TICK_S * 1e3)

    # Output check: the streamed alerts must equal one batch job over
    # the same files, each row exactly once.
    streamed = collections.Counter(r for _, rows, _ in emitted.values() for r in rows)
    batch = collections.Counter(_rows(alerts(spark.read.text(src))))
    diff = sum(((streamed - batch) + (batch - streamed)).values())

    return {
        "files": len(files),
        "rows": sum(f["rows"] for f in files),
        "lost": lost,
        "alert_rows": sum(streamed.values()),
        "alert_diff": diff,
        "latency_ms": lat,
        "windows": windows,
        "drain_lag_s": drain_lag_s,
        "start": start,
        "wall_s": wall_s,
        "gen_late_ms": late_ms,
        "gen_invalid": late_files > MAX_LATE_SHARE * len(files),
        "build_s": build_s,
        "handler_ms": [h * 1e3 for _, _, h in emitted.values()],
        "batches": len(emitted),
        "layer": layer,
    }
