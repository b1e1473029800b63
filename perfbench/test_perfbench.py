"""Self-tests for the benchmark: ``python3 -m pytest perfbench -q`` from the checkout root.

The last test runs the real engine once (about a minute).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import run  # noqa: E402
from oracle import DigestCache, digest  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_schema_matches_the_metrics_printed():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert [(w["name"], w["why"]) for w in spec["workloads"]] == [(w.name, w.why) for w in WORKLOADS.values()]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == run.END_TO_END
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]:
        assert NAME.match(m["name"])
        assert "unit" not in m or UNIT.match(m["unit"])
        assert m.get("better", "lower") in ("lower", "higher")


def test_every_query_has_an_oracle():
    from tf_idf_using_mapreduce_spark.registry import ORACLES, QUERIES

    for w in WORKLOADS.values():
        assert len(set(w.queries)) == len(w.queries)
        for q in w.queries:
            assert q in QUERIES and q in ORACLES, q


def _files(name: str, seed: int) -> dict[str, bytes]:
    out = os.path.join(run.WORK, "selftest", name)
    inputs.write(inputs.permute(inputs.grow(inputs.base_tables(), 1), seed), out)
    return {fn: open(os.path.join(out, fn), "rb").read() for fn in sorted(os.listdir(out))}


def test_same_seed_same_bytes_other_seed_other_bytes_same_rows():
    a, b, c = _files("a", 7), _files("b", 7), _files("c", 8)
    assert a == b
    assert set(a) == {f"{t}.parquet" for t in inputs.TABLES}
    for name in a:
        if name not in ("region.parquet", "nation.parquet"):
            assert a[name] != c[name], name
    # another seed only reorders rows, so every order-insensitive answer stays the same
    rows = {}
    for tag in ("a", "c"):
        df = pd.read_parquet(os.path.join(run.WORK, "selftest", tag, "lineitem.parquet"))
        rows[tag] = df.sort_values(list(df.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(rows["a"], rows["c"])


def test_copies_shift_every_key():
    grown = inputs.grow(inputs.base_tables(), 3)
    for table, n in inputs.BASE_ROWS.items():
        assert grown[table].num_rows == 3 * n
    for table, keys in (("customer", "c_custkey"), ("orders", "o_orderkey"), ("documents", "doc_id")):
        ids = grown[table][keys].to_pylist()
        assert len(set(ids)) == len(ids)
    li = grown["lineitem"].to_pandas()
    assert li["l_orderkey"].max() < 3 * inputs.BASE_ROWS["orders"]


def test_digest_ignores_row_order_and_keeps_int_float_apart():
    df = pd.DataFrame({"b": [1, 2, 3], "a": ["x", "y", "z"]})
    assert digest(df) == digest(df.iloc[::-1])
    assert digest(df) != digest(df.astype({"b": "float64"}))


def test_wrong_digest_is_a_failure():
    recs = [{"query": "q", "digest": "d1"}, {"query": "q", "digest": "d1"},
            {"query": "r", "error": "boom"}]
    assert run.check(recs, {"q": "d1", "r": "d2"}) == ["r: boom"]
    assert len(run.check(recs, {"q": "bad", "r": "d2"})) == 3


def test_tail_keeps_ten_samples_above():
    xs = [float(i) for i in range(100)]
    value, pct = run.tail(xs)
    assert value == 89.0 and sum(x > value for x in xs) == 10 and pct == 90.0
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_pass_s_sums_each_querys_fastest_warm_time():
    def q(name, t):
        return {"query": name, "build_s": t, "action_s": 0.5}
    passes = [{"queries": [q("a", 1.0), q("b", 3.0)]},
              {"queries": [q("a", 2.0), q("b", 1.0)]},
              {"queries": [q("a", 4.0), {"query": "b", "error": "boom"}]}]
    metrics, info = run.end_to_end({"setup_s": 9.0, "session_start_s": 1.0, "jvm_peak_rss_mb": 1.0}, passes)
    assert metrics == {"setup_s": 9.0, "pass_s": 1.5 + 1.5}
    assert info["pass_median_s"] == 4.5 and info["query_tail_samples"] == 5


def _run(workload: str, seed: int, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)


def _traced_queries(workload: str, seed: int) -> dict[str, dict]:
    with open(os.path.join(run.WORK, f"result-{workload}-{seed}-1.json")) as fh:
        passes = json.load(fh)["worker"]["passes"]
    return {r["query"]: r for p in passes if p["traced"] for r in p["queries"]}


def test_traced_counts_match_hand_counts():
    """Job counts by job-id range equal the job-group counts for batch queries; the
    scan-size counter equals the size of the one file a single-scan query reads."""
    proc = _run("text", 3, 1)
    assert proc.returncode == 0, proc.stdout[-2000:]
    recs = _traced_queries("text", 3)
    for r in recs.values():
        for phase in ("build", "action"):
            assert r[phase]["jobs"] == r[phase]["tagged_jobs"], r["query"]
    # label propagation: 17 or 18 jobs before the final action, depending on the row order, one for it
    assert recs["dedup_clusters"]["build"]["jobs"] in (17, 18)
    assert recs["dedup_clusters"]["action"]["jobs"] == 1
    assert (recs["doc_fingerprints"]["build"]["jobs"], recs["doc_fingerprints"]["action"]["jobs"]) == (1, 1)
    size_mb = os.path.getsize(os.path.join(run.WORK, "inputs", "text", "documents.parquet")) / 1e6
    # the status store keeps the metric as text with one decimal ("60.9 KiB", "2.4 MiB")
    assert abs(recs["doc_fingerprints"]["action"]["input_mb"] - size_mb) <= 0.025 * size_mb


def test_corrupted_oracle_digest_exits_nonzero_and_streams_are_traced():
    """End to end: a wrong cached digest fails every query and the command exits 1;
    the scan-size counter of a one-scan query equals its file's size; the traced
    stream queries report micro-batches and jobs outside the job group."""
    w = "relational_stream"
    os.makedirs(run.WORK, exist_ok=True)
    run.prepare(WORKLOADS[w], 4)  # fills the cache with the real digests
    cache = DigestCache(os.path.join(run.WORK, "digests.json"))
    saved = dict(cache.entries)
    cache.entries = {k: "0" * 64 for k in saved}
    cache.save()
    try:
        proc = _run(w, 4, 1)
    finally:
        cache.entries = saved
        cache.save()
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert proc.returncode == 1
    assert last["correct"] is False and last["failed"] == last["attempted"]
    recs = _traced_queries(w, 4)
    # q1 scans lineitem once, in its final action
    size_mb = os.path.getsize(os.path.join(run.WORK, "inputs", w, "lineitem.parquet")) / 1e6
    assert abs(recs["q1_pricing_summary"]["action"]["input_mb"] - size_mb) <= 0.025 * size_mb
    for q in ("events_hourly_streaming", "events_stream_stream_join"):
        assert recs[q]["streaming"] and recs[q]["streaming"][0]["input_rows"] > 0
        assert recs[q]["build"]["jobs"] > recs[q]["build"]["tagged_jobs"]
