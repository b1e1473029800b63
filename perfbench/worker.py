"""One engine process: start the session, run two warm-up passes, then run
passes over the workload's queries until the measuring time is up (at least
three).

Usage: ``python3 worker.py REQUEST.json RESULT.json`` (``run.py`` writes the
request and reads the result). Every query runs as a closed loop with one
client: its build (``QUERIES[name](spark, dir)``) and its collect
(``toPandas()``, as ``tools/check_oracle.py`` materializes results) finish
before the next query starts. Only build and collect are timed; digesting a
result and reading the trace happen between queries.

In a traced run every second measured pass is traced. A traced query gets a
job group per phase (``pb|<pass>|<query>|build`` or ``...|action``), and
after the listener bus drains the worker reads, from outside the engine:

- the jobs started in each phase (the job-id range; the job-group count is
  kept beside it, since stream threads drop the group);
- each job's stages from the status store: tasks, executor run and CPU time,
  input, shuffle and spill bytes;
- the Catalyst phases of the returned DataFrame (``tracker().phases()``);
- micro-batch progress from a ``StreamingQueryListener``.

Spans and counts stay in memory and go into RESULT.json at the end.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up starts before pyspark is imported

import json  # noqa: E402
import re  # noqa: E402
import sys  # noqa: E402

from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

WARMUP_PASSES = 2
MIN_PASSES = 3

_STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime",
                 "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")
# the scan node's driver-side sum of the sizes of the files it selected
_FILES_READ = re.compile(r"SQLPlanMetric\(size of files read,(\d+),size\)")
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class StreamLog(StreamingQueryListener):
    """Keeps every micro-batch progress event in memory."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append({
            "input_rows": p.numInputRows,
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "add_batch_ms": p.durationMs.get("addBatch", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Reads Spark's own bookkeeping around one query phase."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.streams = StreamLog()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    def mark(self) -> tuple[int, int]:
        """(jobs submitted, SQL executions recorded) so far."""
        return self.jsc.dagScheduler().numTotalJobs(), self.sql.executionsCount()

    def begin(self, group: str) -> tuple[int, int]:
        self.sc.setJobGroup(group, group)
        return self.mark()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def files_read_mb(self, first: int, last: int) -> float:
        """Sum of the scan nodes' "size of files read" over SQL executions ``[first, last)``."""
        total = 0.0
        if last <= first:
            return total
        for e in self.conv.asJava(self.sql.executionsList(first, last - first)):
            # each adaptive re-plan appends the plan's metrics again: count each accumulator once
            for acc in set(_FILES_READ.findall(e.metrics().toString())):
                value = e.metricValues().get(int(acc))
                if value.isDefined():
                    # "total (min, med, max ...)\n<total> (...)" or just "<total>"
                    m = _SIZE.search(value.get().split("\n")[-1])
                    total += float(m.group(1)) * _UNIT[m.group(2)]
        return total / 1e6

    def phase(self, group: str, start: tuple[int, int], end: tuple[int, int]) -> dict:
        """Counts for the jobs and SQL executions begun between two marks."""
        (first_job, first_exec), (last_job, last_exec) = start, end
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        for jid in range(first_job, last_job):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        store = self.jsc.statusStore()
        ran = 0
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage skipped before it was ever submitted has no entry
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            ran += 1
            for f in _STAGE_FIELDS:
                out[f] += getattr(sd, f)()
        return {
            "jobs": last_job - first_job,
            "tagged_jobs": len(tracker.getJobIdsForGroup(group)),
            "stages": ran,
            "tasks": out["numTasks"],
            "run_s": out["executorRunTime"] / 1e3,
            "cpu_s": out["executorCpuTime"] / 1e9,
            "input_mb": self.files_read_mb(first_exec, last_exec),
            "shuffle_read_mb": out["shuffleReadBytes"] / 1e6,
            "shuffle_write_mb": out["shuffleWriteBytes"] / 1e6,
            "spill_mb": (out["memoryBytesSpilled"] + out["diskBytesSpilled"]) / 1e6,
        }

    def plan_s(self, df) -> float:
        phases = df._jdf.queryExecution().tracker().phases()
        conv = self.conv.asJava(phases)
        return sum(conv.get(k).durationMs() for k in conv.keySet()) / 1e3

    def jvm_peak_rss_mb(self) -> float:
        pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


def run_query(spark, fn, name: str, input_dir: str, tracer: Tracer | None, tag: str) -> dict:
    from oracle import digest

    rec: dict = {"query": name}
    try:
        if tracer:
            tracer.streams.batches.clear()
            j0 = tracer.begin(f"{tag}|build")
        t0 = time.perf_counter()
        df = fn(spark, input_dir)
        t1 = time.perf_counter()
        if tracer:
            j1 = tracer.begin(f"{tag}|action")
        pdf = df.toPandas()
        t2 = time.perf_counter()
    except Exception as ex:  # a failed query is counted, and the loop goes on
        rec["error"] = f"{type(ex).__name__}: {str(ex)[:400]}"
        return rec
    rec.update(build_s=t1 - t0, action_s=t2 - t1, rows=len(pdf))
    try:
        rec["digest"] = digest(pdf)
    except TypeError as ex:
        rec["error"] = f"undigestable result: {ex}"
    if tracer:
        j2 = tracer.mark()
        tracer.drain()
        rec["build"] = tracer.phase(f"{tag}|build", j0, j1)
        rec["action"] = tracer.phase(f"{tag}|action", j1, j2)
        rec["plan_s"] = tracer.plan_s(df)
        rec["streaming"] = list(tracer.streams.batches)
    return rec


def run_pass(spark, queries, input_dir: str, tracer: Tracer | None, pass_no: int) -> dict:
    from tf_idf_using_mapreduce_spark.registry import QUERIES

    if tracer:
        spark.streams.addListener(tracer.streams)
    try:
        recs = [run_query(spark, QUERIES[q], q, input_dir, tracer, f"pb|{pass_no}|{q}") for q in queries]
    finally:
        if tracer:
            spark.streams.removeListener(tracer.streams)
    return {"traced": tracer is not None, "queries": recs}


def main(req_path: str, out_path: str) -> int:
    with open(req_path) as fh:
        req = json.load(fh)
    from tf_idf_using_mapreduce_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - T0
    tracer = Tracer(spark)
    queries = req["queries"]
    # The cold pass pays code generation, class loading and Python worker start; the
    # pass after it still runs executor-bound queries 10-30 % slower (JIT). Both are
    # set-up, so every measured pass is a warm one.
    warmup = [run_pass(spark, queries, req["input_dir"], None, -k) for k in range(WARMUP_PASSES)]
    setup_s = time.perf_counter() - T0
    passes = []
    deadline = time.perf_counter() + req["seconds"]
    # Traced runs alternate untraced, traced, untraced, ...
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        traced = req["trace"] and len(passes) % 2 == 1
        passes.append(run_pass(spark, queries, req["input_dir"], tracer if traced else None, len(passes) + 1))
    result = {
        "session_start_s": session_start_s,
        "setup_s": setup_s,
        "warmup": warmup,
        "passes": passes,
        "jvm_peak_rss_mb": tracer.jvm_peak_rss_mb(),
    }
    spark.stop()
    with open(out_path, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1], sys.argv[2]))
