"""Tests of the benchmark itself (not part of the repo's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of the repo. The smoke test starts Spark six times
(three workloads, untraced and traced) and takes a few minutes.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _queries(seed, n=30):
    return list(itertools.islice(workloads.interactive_queries(seed), n))


def test_seed_fixes_query_sequence():
    assert _queries(7) == _queries(7)
    assert _queries(7) != _queries(8)
    # every round holds each kind once, so every seed has the same mix
    k = len(workloads.INTERACTIVE_KINDS)
    kinds = [kind for kind, _ in _queries(7, 10 * k)]
    for i in range(0, 10 * k, k):
        assert sorted(kinds[i:i + k]) == sorted(workloads.INTERACTIVE_KINDS)


def test_seed_fixes_inputs():
    a, ta = gen.corpus(7, 400)
    b, tb = gen.corpus(7, 400)
    c, _ = gen.corpus(8, 400)
    assert a.equals(b) and ta == tb
    assert not a.equals(c)
    t1, t2 = gen.tpch_tables(7, 0.001), gen.tpch_tables(7, 0.001)
    t3 = gen.tpch_tables(8, 0.001)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["lineitem"].equals(t3["lineitem"])


def test_corpus_truth_shares():
    _, t = gen.corpus(3, 1000)
    assert t["after_quality"] == 900
    assert t["after_exact"] == 800
    assert t["survivors"] == 700
    assert t["near_dup_pairs"] >= 100


def test_frames_match_ignores_order_and_rounding():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [1.004, 2.0]})
    b = pd.DataFrame({"key": ["y", "x"], "s": [2.0, 1.0]})
    assert workloads.frames_match(a, b)
    assert not workloads.frames_match(a, b.assign(s=[2.0, 1.5]))


def test_quantile_is_harrell_davis():
    assert workloads.quantile([5.0], 0.9) == 5.0
    assert abs(workloads.quantile([1.0, 2.0, 3.0], 0.5) - 2.0) < 1e-12
    # symmetric weights: the median of 0..20 is 10, p90 lies near 18
    assert abs(workloads.quantile(list(range(21)), 0.5) - 10.0) < 1e-9
    assert 17.5 < workloads.quantile(list(range(21)), 0.9) < 18.5
    # two kinds of latency: the estimate moves smoothly between them
    lo = workloads.quantile([1.0] * 11 + [2.0] * 10, 0.5)
    hi = workloads.quantile([1.0] * 10 + [2.0] * 11, 0.5)
    assert 1.0 < lo < 1.5 < hi < 2.0


def test_typical_rate_ignores_one_slow_sample_per_kind():
    s = [{"kind": "a", "rows": 10, "s": 1.0} for _ in range(4)]
    s += [{"kind": "b", "rows": 100, "s": 2.0} for _ in range(2)]
    assert workloads.typical_rate(s, "rows", "s") == 240 / 8
    s[0]["s"] = 50.0
    s.append({"kind": "b", "rows": 100, "s": 30.0})
    assert workloads.typical_rate(s, "rows", "s") == 340 / 10


def test_refuses_to_run_without_the_program(tmp_path):
    p = subprocess.run([sys.executable, RUN, "--workload", "etl",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=60)
    assert p.returncode != 0 and p.stdout == ""


def test_smoke_every_workload_emits_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = subprocess.run([sys.executable, RUN, "--workload", "all",
                        "--seed", "1", "--seconds", "1", "--trace", "1",
                        "--scale", "0.01"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.splitlines()
    final = json.loads(lines[-1])
    assert final["correct"] and final["failed"] == 0
    printed = {tuple(ln.split()[:2]) + (ln.split()[-1],) for ln in lines
               if ln and not ln.startswith(("#", "{"))}
    for w in (x["name"] for x in bench["workloads"]):
        for m in bench["end_to_end"] + bench["per_layer"]:
            assert (w, m["name"], m["unit"]) in printed, (w, m["name"])
            if m in bench["per_layer"]:
                got = final["metrics"][f"{w}.{m['name']}"]
                assert got["unit"] == m["unit"]
        assert f"# tracing overhead latency_p50_s" in p.stdout
