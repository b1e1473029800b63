"""The repo benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload text --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It

1. generates the workload's inputs from the seed (``inputs.py``) under
   ``.perfbench/`` in the checkout, beside everything else it writes
   (warehouse, persisted indexes, stream checkpoints, Spark scratch);
2. looks up each query's expected digest, running its DuckDB oracle on the
   base corpus when the cache has no entry (``oracle.py``);
3. starts the engine (``worker.py``) on ``local[nproc]``, runs two warm-up
   passes, then runs passes until ``--seconds`` are up, at least three;
4. checks every result of every pass against its expected digest;
5. prints every metric by name with its unit, then one JSON line.

End-to-end metrics (``--trace 0``):

- ``setup_s``: session start (package import, JVM, SparkSession) plus the
  two warm-up passes: the cold one pays code generation, class loading and
  Python worker start, the next one most of the JIT;
- ``pass_s``: one warm pass, query by query: the sum over the workload's
  queries of each query's fastest build + collect time in the measured
  passes. Passes still get faster after the warm-up (JIT) and a stall of a
  shared host adds to single queries, so this repeats more closely from run
  to run than the median pass time does (``LAYERS.md`` has the figures).

Printed beside them but not in the JSON line, because they do not repeat
within a bound (or, for ``failed_frac``, are 0 on a correct run):
``query_tail_s``, the highest per-query latency percentile that has at least
ten (query x pass) samples above it (the slowest sample when there are fewer
than eleven), with its percentile and sample count; ``failed_frac``;
``session.start_s``; ``session.jvm_peak_rss_mb``; and ``pass_median_s``, the
median over the measured passes of the whole pass's time.

A failed query (exception or wrong digest, warm-up passes included) counts in
``failed``; any failure makes the command exit 1. ``--trace 1`` reports the
per-layer metrics instead, from traced passes interleaved with untraced ones,
and the tracing overhead between the two. Both modes write the raw per-query
records to ``.perfbench/result-<workload>-<seed>-<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

DRIVER_MEMORY = "2g"
# session start, the warm-up passes and the last measured pass, which may end after --seconds
WORKER_ALLOWANCE_S = 130

END_TO_END = {"setup_s": "s", "pass_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "scheduler.jobs": "count",
    "scheduler.untagged_jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.offcpu_s": "s",
    "executor.spill_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB",
    "sources.input_mb": "MB",
    "catalyst.plan_s": "s",
    "collect.action_s": "s",
    "collect.rows": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}
# printed beside the metrics: run facts, and per-query spans "query.<name>.<suffix>"
INFO_UNITS = {
    "query_tail_s": "s", "query_tail_percentile": "%", "query_tail_samples": "count",
    "passes": "count", "pass_median_s": "s", "failed_frac": "ratio", "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB", "build_s": "s", "action_s": "s", "jobs": "count", "tasks": "count",
}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def prepare(workload, seed: int) -> tuple[str, dict[str, str]]:
    """Write the seeded inputs; return their directory and each query's expected digest."""
    import inputs
    from oracle import DigestCache, cache_key, oracle_digests
    from tf_idf_using_mapreduce_spark.registry import ORACLES

    grown = inputs.grow(inputs.base_tables(), workload.copies)
    base_dir = os.path.join(WORK, "base", workload.name)
    base_info = inputs.write(grown, base_dir)
    input_dir = os.path.join(WORK, "inputs", workload.name)
    inputs.write(inputs.permute(grown, seed), input_dir)

    cache = DigestCache(os.path.join(WORK, "digests.json"))
    keys = {q: cache_key(base_info, ORACLES[q]) for q in workload.queries}
    missing = {q: ORACLES[q] for q, k in keys.items() if k not in cache.entries}
    if missing:
        t0 = time.perf_counter()
        for q, d in oracle_digests(base_dir, missing).items():
            cache.entries[keys[q]] = d
        cache.save()
        print(f"oracle: {len(missing)} digests computed in {time.perf_counter() - t0:.1f} s")
    return input_dir, {q: cache.entries[k] for q, k in keys.items()}


def _stop_all(marker: str, timeout_s: float) -> None:
    """Kill every process whose environment carries ``marker`` (the engine process, its
    JVM and the Python worker daemons, which start their own process group) and wait
    until none is left."""
    tag = marker.encode()
    deadline = time.monotonic() + timeout_s
    while True:
        pids = []
        for d in os.listdir("/proc"):
            try:
                with open(f"/proc/{d}/environ", "rb") as fh:
                    if tag in fh.read().split(b"\0"):
                        pids.append(int(d))
            except (OSError, ValueError):  # not a process, or it is gone
                continue
        if not pids:
            return
        if time.monotonic() > deadline:
            fail(f"engine processes {pids} did not exit")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_worker(request: dict) -> dict:
    """One engine process in a fresh working directory (warehouse, indexes, checkpoints)."""
    cwd = os.path.join(WORK, "run")
    shutil.rmtree(cwd, ignore_errors=True)
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp)
    req_path = os.path.join(WORK, "request.json")
    out_path = os.path.join(WORK, "worker-result.json")
    if os.path.exists(out_path):
        os.remove(out_path)
    with open(req_path, "w") as fh:
        json.dump(request, fh)
    marker = f"PERFBENCH_RUN={os.getpid()}-{time.time_ns()}"
    env = dict(os.environ)
    env.update({
        "PERFBENCH_RUN": marker.split("=", 1)[1],
        # Python workers start from cwd; they import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(cwd, "spark-local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
        "PYSPARK_SUBMIT_ARGS": (f"--conf spark.ui.showConsoleProgress=false --driver-java-options "
                                f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"),
    })
    log_path = os.path.join(WORK, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), req_path, out_path],
                                cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=WORKER_ALLOWANCE_S + request["seconds"])
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_all(marker, 30)
            proc.wait()
    if code != 0:
        fail(f"engine process exited with {code}; see {log_path}", 1)
    with open(out_path) as fh:
        return json.load(fh)


def check(records: list[dict], expected: dict[str, str]) -> list[str]:
    """One line per failed record: an exception or a digest other than expected."""
    failures = []
    for rec in records:
        q = rec["query"]
        if "error" in rec:
            failures.append(f"{q}: {rec['error']}")
        elif rec["digest"] != expected[q]:
            failures.append(f"{q}: digest {rec['digest'][:12]} != expected {expected[q][:12]}")
    return failures


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten samples above it;
    the slowest sample when there are too few for one."""
    xs = sorted(samples)
    k = len(xs) - 11 if len(xs) > 10 else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


def _latency(rec: dict) -> float:
    return rec["build_s"] + rec["action_s"]


def pass_time(p: dict) -> float:
    return sum(_latency(r) for r in p["queries"] if "error" not in r)


def end_to_end(result: dict, passes: list[dict]) -> tuple[dict, dict]:
    by_query: dict[str, list[float]] = {}
    for p in passes:
        for r in p["queries"]:
            if "error" not in r:
                by_query.setdefault(r["query"], []).append(_latency(r))
    lat = [x for xs in by_query.values() for x in xs]
    value, pct = tail(lat)
    metrics = {
        "setup_s": result["setup_s"],
        "pass_s": sum(min(xs) for xs in by_query.values()),
    }
    info = {"pass_median_s": statistics.median(pass_time(p) for p in passes),
            "query_tail_s": value, "query_tail_percentile": pct, "query_tail_samples": len(lat),
            "passes": len(passes), "session.start_s": result["session_start_s"],
            "session.jvm_peak_rss_mb": result["jvm_peak_rss_mb"]}
    return metrics, info


def per_layer(last: dict, traced: list[dict], untraced: list[dict]) -> tuple[dict, dict]:
    """Median over traced passes of each layer's per-pass total, plus per-query spans."""
    def pass_layers(p: dict) -> dict:
        t = dict.fromkeys(PER_LAYER, 0.0)
        for r in p["queries"]:
            if "error" in r:
                continue
            b, a = r["build"], r["action"]
            t["operators.build_s"] += r["build_s"]
            t["operators.build_jobs"] += b["jobs"]
            t["collect.action_s"] += r["action_s"]
            t["collect.rows"] += r["rows"]
            t["catalyst.plan_s"] += r["plan_s"]
            for ph in (b, a):
                t["scheduler.jobs"] += ph["jobs"]
                t["scheduler.untagged_jobs"] += ph["jobs"] - ph["tagged_jobs"]
                t["scheduler.stages"] += ph["stages"]
                t["scheduler.tasks"] += ph["tasks"]
                t["executor.run_s"] += ph["run_s"]
                t["executor.cpu_s"] += ph["cpu_s"]
                t["executor.offcpu_s"] += ph["run_s"] - ph["cpu_s"]
                t["executor.spill_mb"] += ph["spill_mb"]
                t["shuffle.read_mb"] += ph["shuffle_read_mb"]
                t["shuffle.write_mb"] += ph["shuffle_write_mb"]
                t["sources.input_mb"] += ph["input_mb"]
            for mb in r["streaming"]:
                t["streaming.batches"] += 1
                t["streaming.input_rows"] += mb["input_rows"]
                t["streaming.trigger_ms"] += mb["trigger_ms"]
                t["streaming.add_batch_ms"] += mb["add_batch_ms"]
                t["streaming.overhead_s"] += (mb["trigger_ms"] - mb["add_batch_ms"]) / 1e3
            # state rows held at the end of each stream query
            if r["streaming"]:
                t["streaming.state_rows"] += r["streaming"][-1]["state_rows"]
        return t

    rows = [pass_layers(p) for p in traced]
    metrics = {k: statistics.median(r[k] for r in rows) for k in PER_LAYER}
    metrics["session.start_s"] = last["session_start_s"]
    metrics["session.jvm_peak_rss_mb"] = last["jvm_peak_rss_mb"]
    t_traced = statistics.median(pass_time(p) for p in traced)
    t_plain = statistics.median(pass_time(p) for p in untraced)
    metrics["trace.overhead_frac"] = t_traced / t_plain - 1.0

    queries: dict[str, dict] = {}
    for p in traced:
        for r in p["queries"]:
            if "error" in r:
                continue
            q = queries.setdefault(r["query"], {"build_s": [], "action_s": [], "jobs": [], "tasks": []})
            q["build_s"].append(r["build_s"])
            q["action_s"].append(r["action_s"])
            q["jobs"].append(r["build"]["jobs"] + r["action"]["jobs"])
            q["tasks"].append(r["build"]["tasks"] + r["action"]["tasks"])
    spans = {}
    for name, q in queries.items():
        for k, xs in q.items():
            spans[f"query.{name}.{k}"] = statistics.median(xs)
    return metrics, spans


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the engine processes it started (see run_worker)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "tf_idf_using_mapreduce_spark", "registry.py")):
        fail(f"no engine package under {ROOT}: run from the root of a checkout")
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    input_dir, expected = prepare(workload, args.seed)

    result = run_worker({"queries": list(workload.queries), "input_dir": input_dir,
                         "seconds": args.seconds, "trace": bool(args.trace)})
    records = [r for p in result["warmup"] + result["passes"] for r in p["queries"]]
    failures = check(records, expected)

    untraced = [p for p in result["passes"] if not p["traced"]]
    traced = [p for p in result["passes"] if p["traced"]]
    if args.trace:
        metrics, extra = per_layer(result, traced, untraced)
        units = PER_LAYER
    else:
        metrics, extra = end_to_end(result, untraced)
        units = END_TO_END
    extra["failed_frac"] = len(failures) / len(records)

    with open(os.path.join(WORK, f"result-{workload.name}-{args.seed}-{args.trace}.json"), "w") as fh:
        json.dump({"metrics": metrics, "info": extra, "failures": failures, "worker": result}, fh, indent=1)
    for f in failures:
        print(f"FAILED {f}")
    for name, value in metrics.items():
        print(f"{workload.name} {name} = {value:.6g} {units[name]}")
    for name, value in extra.items():
        unit = INFO_UNITS[name.rsplit(".", 1)[-1] if name.startswith("query.") else name]
        print(f"{workload.name} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": len(records),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
