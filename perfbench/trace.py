"""Per-layer tracing, read from outside the engine.

Every hook lives here; no engine module is changed:

* a job group per operation, so its jobs and stages can be found in
  Spark's in-process ``AppStatusStore`` after the timer stops;
* the SQL status store, for per-operator metrics (scan time, Python
  worker time and bytes) of the SQL executions an operation ran;
* a Python ``StreamingQueryListener`` for micro-batch progress. Stream
  jobs run under their own job group (the query's run id), so they are
  attributed to the operation that started the stream;
* a timing wrapper around ``plans.staging.stage``.

Status objects are read as JSON through Spark's own Jackson mapper:
one py4j call per object instead of one per field.
"""

from __future__ import annotations

import json
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: SQL metric name → (per-layer metric, scale to the reported unit).
SQL_METRICS = {
    "scan time": ("sources.scan_time_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1.0),
    "data returned from Python workers": ("python.bytes_returned", 1.0),
}

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric value as a number: milliseconds for
    timings, bytes for sizes, the plain count otherwise. Multi-task
    values read ``total (min, med, max ...)\\n<total> (...)``; the
    total is taken."""
    line = text.rsplit("\n", 1)[-1]
    m = _VALUE_RE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class _Listener(StreamingQueryListener):
    """Collects every micro-batch progress and the run ids of started
    queries, with the time spent in its own callbacks."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.hook_s = 0.0

    def onQueryStarted(self, event):
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        t0 = time.perf_counter()
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(p)
            self.hook_s += time.perf_counter() - t0

    def onQueryTerminated(self, event):
        pass


class StagingProbe:
    """Counts ``plans.staging.stage`` calls and the builds they ran."""

    def __init__(self):
        self.calls = 0
        self.builds = 0
        self.build_s = 0.0

    def install(self) -> None:
        from bigdata_riveranalysis_spark.plans import llmdata, mining, staging

        orig = staging.stage
        probe = self

        def stage(spark, sf_dir, name, build):
            built = []

            def timed_build():
                built.append(True)
                return build()

            probe.calls += 1
            t0 = time.perf_counter()
            df = orig(spark, sf_dir, name, timed_build)
            if built:
                probe.builds += 1
                probe.build_s += time.perf_counter() - t0
            return df

        # Consumers bound the function by name at import time.
        for mod, attr in ((staging, "stage"), (llmdata, "_index_stage"), (mining, "_stage")):
            setattr(mod, attr, stage)

    def snapshot(self) -> tuple[int, int, float]:
        return self.calls, self.builds, self.build_s


class Tracer:
    """Reads the per-layer record of each operation after it ends."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self.listener = _Listener()
        spark.streams.addListener(self.listener)
        self.staging = StagingProbe()
        self.staging.install()
        self._next_exec = 0
        self._n = 0
        self.hook_s = 0.0

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _sync(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status stores hold the finished operation."""
        self._bus.waitUntilEmpty()

    def begin(self) -> dict:
        self.skip_sql()
        self._n += 1
        tag = f"perfbench-{self._n}"
        self._sc.setJobGroup(tag, tag)
        with self.listener.lock:
            marks = (len(self.listener.started), len(self.listener.progress))
        return {"tag": tag, "marks": marks, "staging": self.staging.snapshot()}

    def end(self, ctx: dict, wall_s: float) -> dict:
        """The layer record of the operation begun with ``ctx``. Call
        after its timer has stopped."""
        t0 = time.perf_counter()
        self._sc._jsc.clearJobGroup()
        self._sync()
        with self.listener.lock:
            run_ids = self.listener.started[ctx["marks"][0]:]
            progress = self.listener.progress[ctx["marks"][1]:]
        rec = self.jobs_record([ctx["tag"], *run_ids], wall_s)
        rec.update(self._sql_record())
        rec.update(streaming_record(progress))
        calls, builds, build_s = self.staging.snapshot()
        c0, b0, s0 = ctx["staging"]
        rec["staging.calls"] = calls - c0
        rec["staging.builds"] = builds - b0
        rec["staging.build_s"] = build_s - s0
        self.hook_s += time.perf_counter() - t0
        return rec

    def jobs_record(self, groups: list[str], wall_s: float) -> dict:
        """Job, stage and executor totals of the jobs in ``groups``."""
        tracker = self._sc.statusTracker()
        jobs = [self._json(self._store.job(j)) for g in groups for j in tracker.getJobIdsForGroup(g)]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = [self._json(self._store.lastStageAttempt(s)) for s in stage_ids]
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        intervals = [
            (j["submissionTime"], j["completionTime"])
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        ]
        return {
            "plans.jobs": len(jobs),
            "plans.stages": len(ran),
            "plans.tasks": sum(s["numTasks"] for s in ran),
            "plans.driver_gap_s": max(0.0, wall_s - union_ms(intervals) / 1e3),
            "sources.input_bytes": sum(s["inputBytes"] for s in ran),
            "exec.run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            "exec.cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "exec.gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
            "exec.deserialize_s": sum(s["executorDeserializeTime"] for s in ran) / 1e3,
            "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
            "shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in ran),
            "shuffle.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in ran) / 1e3,
        }

    def _sql_record(self) -> dict:
        """SQL metrics summed over the executions since the last read.
        Execution ids are sequential, and the single client runs one
        operation at a time, so the new ids are exactly its own."""
        out = {name: 0.0 for name, _ in SQL_METRICS.values()}
        while True:
            ex = self._sql.execution(self._next_exec)
            if ex.isEmpty():
                break
            values = self._sql.executionMetrics(self._next_exec)
            ms = ex.get().metrics()
            for i in range(ms.size()):
                m = ms.apply(i)
                target = SQL_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if target and v.isDefined():
                    out[target[0]] += parse_sql_metric(v.get()) * target[1]
            self._next_exec += 1
        return out

    def skip_sql(self) -> None:
        """Move past SQL executions that belong to no traced operation."""
        self._sync()
        while not self._sql.execution(self._next_exec).isEmpty():
            self._next_exec += 1


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def streaming_record(progress: list[dict]) -> dict:
    """Micro-batch totals from ``StreamingQueryProgress`` JSON."""

    def dur(key: str) -> float:
        return float(sum(p.get("durationMs", {}).get(key, 0) for p in progress))

    last: dict[str, dict] = {}
    for p in progress:
        last[p["runId"]] = p
    state = [op for p in last.values() for op in p.get("stateOperators", [])]
    rows = sum(p.get("numInputRows", 0) for p in progress)
    add_ms = dur("addBatch")
    return {
        "streaming.batches": len(progress),
        "streaming.input_rows": rows,
        "streaming.add_batch_ms": add_ms,
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in state),
        "streaming.state_mem_bytes": sum(op.get("memoryUsedBytes", 0) for op in state),
        "streaming.state_commit_ms": float(
            sum(op.get("commitTimeMs", 0) for p in progress for op in p.get("stateOperators", []))
        ),
    }
