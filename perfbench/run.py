#!/usr/bin/env python3
"""Repository benchmark: one workload per run, end-to-end or per-layer.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Workloads (see README.md in this directory):

* ``relational``, ``curation``: a closed loop with one client that
  calls registered engine queries and collects each result with
  ``toPandas()``;
* ``river-live``: an open loop, the river alert pipeline fed by a
  separate generator process at a low and then a high rate.

The seed generates the corpus. Every result is checked against its
DuckDB oracle twin outside the timed region. With ``--trace 0`` the
last line of standard output is one JSON object with the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics instead.
Everything the run writes lives under ``.perfbench_work/`` in the
repository root and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.host import HostSampler, cpu_ticks, granted, running, tree  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: Corpus scale factor of the timed queries; the warm-up corpus is 10× smaller.
SF = 0.01
WARM_SF = 0.001
#: Driver JVM heap of a benchmark run.
DRIVER_MEMORY = "4g"
#: Workloads whose queries run Python workers; set-up starts their pool.
PYTHON_WORKLOADS = ("curation",)

END_TO_END = {
    "setup_s": "s",
    "run_wall_s": "s",
    "op_p50_ms": "ms",
}

PER_LAYER = {
    "mem.peak_rss_mb": "MB",
    "op.count": "count",
    "op.tail_ms": "ms",
    "op.tail_pct": "%",
    "session.get_spark_s": "s",
    "session.worker_warm_s": "s",
    "plans.build_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.driver_gap_s": "s",
    "staging.calls": "count",
    "staging.builds": "count",
    "staging.hit_ratio": "ratio",
    "staging.build_s": "s",
    "sources.scan_time_s": "s",
    "sources.input_bytes": "B",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.deserialize_s": "s",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B",
    "streaming.state_commit_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "sinks.handler_ms": "ms",
    "river.rows_per_s": "1/s",
    "river.alert_p50_ms.low": "ms",
    "river.alert_tail_ms.low": "ms",
    "river.alert_p50_ms.high": "ms",
    "river.alert_tail_ms.high": "ms",
    "river.drain_lag_s": "s",
    "gen.late_ms": "ms",
    "host.steal_pct": "%",
    "host.raw_setup_s": "s",
    "host.raw_run_wall_s": "s",
    "host.raw_op_p50_ms": "ms",
    "trace.run_wall_s": "s",
    "trace.op_p50_ms": "ms",
    "trace.hook_ms": "ms",
}

def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str, corpus: str) -> None:
    """Environment the engine reads at import and session creation."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_SF_DIR"] = corpus
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # The engine asks for a 90 GB driver heap, sized for a large host;
    # the flag here wins over that conf and keeps a run's heap within
    # reach of a small shared one. -XX:-UsePerfData keeps the JVMs (the
    # driver and spark-submit's launcher) from writing counters to /tmp.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)


def shutdown_spark() -> None:
    """Stop the session, if one was started, and wait for its JVM (and
    with it the Python worker daemon) to exit."""
    if "pyspark" not in sys.modules:
        return
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    # The Python worker daemon is the JVM's child and outlives it briefly.
    spawned = tree(gateway.proc.pid) if gateway is not None else []
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while (left := [p for p in spawned if running(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _ident(batches):
    yield from batches


def setup(workload: str, warm_corpus: str, work: str, seed: int, host) -> tuple:
    """Engine import to ready: the session, the Python worker pool where
    the workload uses one, and a warm-up: the first query of the list on
    a small corpus other than the timed one (so the staging memo of the
    timed corpus starts empty), or the river pipeline on its own files.
    ``host`` tracks the JVM's memory from its start."""
    c0, t0 = cpu_ticks(), time.perf_counter()
    from bigdata_riveranalysis_spark.plans import REGISTRY
    from bigdata_riveranalysis_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    host.pid = spark.sparkContext._gateway.proc.pid
    if workload in PYTHON_WORKLOADS:
        n = spark.sparkContext.defaultParallelism
        spark.range(0, n, 1, n).mapInPandas(_ident, "id long").write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    if workload == "river-live":
        from perfbench import river

        river.warm(spark, os.path.join(work, "warm"), seed)
    else:
        from perfbench.workloads import QUERIES

        for name in QUERIES[workload][:1]:
            REGISTRY[name].fn(spark, warm_corpus).toPandas()
    t3, c3 = time.perf_counter(), cpu_ticks()
    return spark, {
        "setup_s": (t3 - t0) * granted(c0, c3),
        "host.raw_setup_s": t3 - t0,
        "session.get_spark_s": t1 - t0,
        "session.worker_warm_s": t2 - t1,
    }


def run_batch(spark, workload: str, corpus: str, seed: int, seconds: float, trace: bool) -> dict:
    """The closed loop over the workload's query list."""
    from bigdata_riveranalysis_spark.plans import REGISTRY
    from bigdata_riveranalysis_spark.plans.staging import clear_index_memo

    from perfbench import check
    from perfbench.trace import Tracer
    from perfbench.workloads import QUERIES, passes

    tracer = Tracer(spark) if trace else None
    oracle = check.Oracle(corpus)
    start = cpu_ticks()
    expected: dict[str, tuple] = {}
    rng = random.Random(seed)
    walls: dict[str, list[float]] = {q: [] for q in QUERIES[workload]}
    raw: dict[str, list[float]] = {q: [] for q in QUERIES[workload]}
    layers: list[dict] = []
    errors: dict[str, str] = {}
    attempted = failed = 0
    canary_caught = True
    for p in range(passes(workload, seconds)):
        # The first pass keeps the list order, so each query pays the same
        # share of the fresh JVM's warm-up in every run; later passes
        # run in an order shuffled by the seed.
        order = list(QUERIES[workload])
        if p:
            rng.shuffle(order)
        # Every pass derives its staged artifacts afresh, as a new
        # corpus would.
        clear_index_memo()
        for name in order:
            spark.catalog.clearCache()
            ctx = tracer.begin() if trace else None
            attempted += 1
            try:
                c0, t0 = cpu_ticks(), time.perf_counter()
                df = REGISTRY[name].fn(spark, corpus)
                t_build = time.perf_counter()
                got = df.toPandas()
                wall = time.perf_counter() - t0
                c1 = cpu_ticks()
            except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                failed += 1
                errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
                if ctx is not None:
                    spark.sparkContext._jsc.clearJobGroup()
                continue
            if trace:
                rec = tracer.end(ctx, wall)
                rec["plans.build_s"] = t_build - t0
                layers.append(rec)
            raw[name].append(wall)
            walls[name].append(wall * granted(c0, c1))
            if name not in expected:
                want = oracle.frame(REGISTRY[name].oracle)
                expected[name] = (want, check.frame_hash(want))
                canary_caught &= check.mismatch(check.corrupt(got), *expected[name]) is not None
            why = check.mismatch(got, *expected[name])
            if why:
                failed += 1
                errors[name] = why
    steal_pct = 100.0 * (1.0 - granted(start, cpu_ticks()))
    oracle.close()
    for name, why in errors.items():
        log(f"FAIL {name}: {why}")
    return {
        "attempted": attempted,
        "failed": failed,
        "walls": walls,
        "raw_walls": raw,
        "layers": layers,
        "hook_s": tracer.hook_s if tracer else 0.0,
        "canary_caught": canary_caught,
        "errors": errors,
        "steal_pct": steal_pct,
    }


def _pct(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1] if len(values) > 1 else values[0]


def tail_layer(samples: list[float]) -> dict:
    """The operation count, and the tail where the count supports one."""
    from perfbench.workloads import tail

    t = tail(samples)
    return {"op.count": len(samples), **({"op.tail_ms": t[0], "op.tail_pct": t[1]} if t else {})}


def summarize_layers(layers: list[dict]) -> dict:
    """Mean per traced operation of every layer metric, and the staging
    hit ratio over all of them."""
    out = {}
    for key in PER_LAYER:
        vals = [rec[key] for rec in layers if key in rec]
        if vals:
            out[key] = sum(vals) / len(vals)
    calls = sum(rec.get("staging.calls", 0) for rec in layers)
    builds = sum(rec.get("staging.builds", 0) for rec in layers)
    out["staging.hit_ratio"] = (calls - builds) / calls if calls else 0.0
    return out


def batch_metrics(res: dict) -> tuple[dict, dict, dict]:
    from perfbench.workloads import set_wall

    samples = [w * 1e3 for ws in res["walls"].values() for w in ws]
    e2e = {
        "run_wall_s": set_wall(res["walls"]),
        "op_p50_ms": statistics.median(samples),
    }
    raw = [w * 1e3 for ws in res["raw_walls"].values() for w in ws]
    layer = summarize_layers(res["layers"])
    layer["host.steal_pct"] = res["steal_pct"]
    layer["host.raw_run_wall_s"] = set_wall(res["raw_walls"])
    layer["host.raw_op_p50_ms"] = statistics.median(raw)
    layer.update(tail_layer(samples))
    layer["trace.hook_ms"] = 1e3 * res["hook_s"] / max(1, len(res["layers"]))
    walls_ms = {name: [round(w * 1e3, 1) for w in ws] for name, ws in res["walls"].items()}
    return e2e, layer, {"ops": len(samples), "steal_pct": res["steal_pct"], "walls_ms": walls_ms}


def river_metrics(res: dict, host) -> tuple[dict, dict, dict]:
    from perfbench.workloads import tail

    raw = res["latency_ms"]
    share = {phase: host.granted_between(*window) for phase, window in res["windows"].items()}
    lat = {phase: [ms * share[phase] for ms in v] for phase, v in raw.items()}
    pooled = lat["low"] + lat["high"]
    run_share = host.granted_between(res["start"], res["start"] + res["wall_s"])

    def p50(lat):
        # Each rate's median, averaged: the pooled median would sit on
        # the edge between the two rates' latency distributions.
        return (statistics.median(lat["low"]) + statistics.median(lat["high"])) / 2

    # The run's wall is mostly the generator's fixed schedule, which no
    # amount of CPU shortens, so it is not scaled.
    e2e = {"run_wall_s": res["wall_s"], "op_p50_ms": p50(lat)}
    layer = tail_layer(pooled)
    layer["host.steal_pct"] = 100.0 * (1.0 - run_share)
    layer["host.raw_run_wall_s"] = res["wall_s"]
    layer["host.raw_op_p50_ms"] = p50(raw)
    rec = res["layer"]
    if rec:
        n = max(1, rec["streaming.batches"])
        for key, val in rec.items():
            if key in PER_LAYER and key != "streaming.batches":
                layer[key] = val / n
        layer["streaming.batches"] = rec["streaming.batches"]
        add_s = rec["streaming.add_batch_ms"] / 1e3
        layer["river.rows_per_s"] = rec["streaming.input_rows"] / add_s if add_s else 0.0
    layer["plans.build_s"] = res["build_s"]
    layer["sinks.handler_ms"] = statistics.median(res["handler_ms"])
    for phase in ("low", "high"):
        layer[f"river.alert_p50_ms.{phase}"] = statistics.median(lat[phase])
        tp = tail(lat[phase])
        layer[f"river.alert_tail_ms.{phase}"] = tp[0] if tp else 0.0
    layer["river.drain_lag_s"] = res["drain_lag_s"]
    layer["gen.late_ms"] = _pct(res["gen_late_ms"], 95)
    info = {
        "files": res["files"],
        "rows": res["rows"],
        "alert_rows": res["alert_rows"],
        "batches": res["batches"],
        "gen_late_p95_ms": layer["gen.late_ms"],
        "steal_pct": layer["host.steal_pct"],
        "gen_invalid": res["gen_invalid"],
    }
    return e2e, layer, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("bigdata_riveranalysis_spark/plans/registry.py", "tools/strictcheck.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} is missing: run from the root of a full checkout")
            return 2
    from perfbench import datagen
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; expected one of {WORKLOADS}")
        return 2

    # JVM and library chatter goes to stderr; the result line is written
    # to the saved stdout at the end.
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        corpus = os.path.join(work, "corpus")
        warm_corpus = os.path.join(work, "warm_corpus")
        if args.workload != "river-live":
            datagen.write_corpus(corpus, args.seed, SF)
            datagen.write_corpus(warm_corpus, args.seed + 1, WARM_SF)
        pin_environment(work, corpus)
        os.chdir(work)

        host = HostSampler()
        host.start()
        spark, set_up = setup(args.workload, warm_corpus, work, args.seed, host)
        if args.workload == "river-live":
            from perfbench import river
            from perfbench.trace import Tracer

            tracer = Tracer(spark) if args.trace else None
            res = river.run(spark, work, args.seed, args.seconds, tracer)
            host.stop()
            e2e, layer, info = river_metrics(res, host)
            if tracer:
                layer["trace.hook_ms"] = 1e3 * (tracer.hook_s + tracer.listener.hook_s)
            attempted = res["files"]
            failed = min(attempted, res["lost"] + res["alert_diff"])
            correct = failed == 0 and not res["gen_invalid"]
            if res["gen_invalid"]:
                log("generator fell behind its schedule: run is invalid")
            if res["alert_diff"] or res["lost"]:
                log(f"FAIL river-live: {res['lost']} files lost, {res['alert_diff']} alert rows differ")
        else:
            res = run_batch(spark, args.workload, corpus, args.seed, args.seconds, bool(args.trace))
            host.stop()
            e2e, layer, info = batch_metrics(res)
            attempted, failed = res["attempted"], res["failed"]
            correct = failed == 0 and res["canary_caught"]
            if not res["canary_caught"]:
                log("the output check accepted a corrupted result")
        layer["mem.peak_rss_mb"] = host.peak_kb / 1024.0
        # A traced run's own end-to-end figures: their difference from
        # the untraced runs' run_wall_s and op_p50_ms is the tracing
        # overhead.
        layer["trace.run_wall_s"] = e2e["run_wall_s"]
        layer["trace.op_p50_ms"] = e2e["op_p50_ms"]
        e2e["setup_s"] = set_up.pop("setup_s")
        layer.update(set_up)
        version = spark.version
    finally:
        shutdown_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass

    wanted = PER_LAYER if args.trace else END_TO_END
    values = {**e2e, **layer}
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": unit} for k, unit in wanted.items()}
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc(),
        "loadavg": os.getloadavg(),
        "spark": version,
        "sf": SF,
        "failed_frac": failed / attempted,
        **info,
    }
    if res.get("errors"):
        env["errors"] = res["errors"]
    os.write(real_stdout, (json.dumps({"perfbench": env}) + "\n").encode())
    result = {"correct": bool(correct), "attempted": attempted, "failed": failed, "metrics": metrics}
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
