"""Benchmark launcher.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. Each run is a fresh process
(``child.py``) with the host pinned: ``SPARK_GRAFT_CPUS`` is the core
count, the driver heap is sized to the host's RAM, and every file the
run writes stays under ``.perfbench_work/`` in the checkout. Prints one
line per metric and, as the last line, the result JSON.

``--trace 1`` runs the same seed twice, untraced and then traced, and
reports the per-layer metrics of the traced run plus the tracing
overhead (traced minus untraced end-to-end numbers). The spans and the
full report are written to ``.perfbench_work/traces/``.
``--workload all`` runs every workload in turn.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["interactive", "curation", "etl"]
#: a run must end within 180 s; a traced run splits this between its
#: two children
RUN_BUDGET_S = 170


def pinned_env(work: str) -> dict:
    cpus = os.cpu_count() or 1
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # session.py defaults to a 24g heap. sf0.1 inputs need far less,
        # and a heap that fills up early makes peak RSS repeatable
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": work,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            [os.getcwd()] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    return env


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def run_child(workload: str, seed: int, seconds: float, trace: int,
              scale: float, timeout: float) -> dict:
    """One run in a fresh process group; every process of the group is
    gone when this returns."""
    work = os.path.abspath(os.path.join(
        ".perfbench_work", f"{workload}-{seed}-t{trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--scale", str(scale), "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, env=pinned_env(work), stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the child stops its JVM; this catches anything left behind
        if _group_alive(proc.pid):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        while _group_alive(proc.pid):
            time.sleep(0.05)
    try:
        if rc != 0:
            raise RuntimeError(f"{workload} run exited with {rc}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report_e2e(r: dict) -> None:
    att, fail = r["attempted"], r["failed"]
    print(f"# {r['workload']} seed={r['seed']} trace={r['trace']} "
          f"measured_s={r['measured_s']:.2f} attempted={att} failed={fail} "
          f"error_rate={fail / att if att else 0:.4f}")
    host = {k: v for k, v in r["host"].items() if k not in ("start", "end")}
    host["loadavg_start"] = r["host"]["start"]["loadavg"]
    host["loadavg_end"] = r["host"]["end"]["loadavg"]
    print(f"# host {json.dumps(host, sort_keys=True)}")
    print(f"# phases {json.dumps(r['phases'])}")
    for name, m in r["metrics"].items():
        print(f"{r['workload']} {name} {fmt(m['value'])} {m['unit']}")
    print(f"# samples {json.dumps(r['samples'])}")
    print(f"# peak_rss_mb by process {json.dumps(r['peak_rss_mb'])}")
    for kind, v in r["by_kind"].items():
        print(f"# op {kind} n={v['n']} median_s={v['median_s']:.4f} "
              f"max_s={v['max_s']:.4f}")
    for e in r["errors"]:
        print(f"# error {e}")


def finite(metrics: dict) -> dict:
    """``metrics`` unchanged; a metric with no samples (every operation
    it rests on failed) ends the run without a result."""
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        raise RuntimeError(f"no value for {', '.join(bad)}")
    return metrics


def run_workload(workload: str, seed: int, seconds: float, trace: int,
                 scale: float) -> dict:
    plain = run_child(workload, seed, seconds, 0, scale,
                      RUN_BUDGET_S / (1 + trace))
    report_e2e(plain)
    if not trace:
        return {"correct": plain["failed"] == 0,
                "attempted": plain["attempted"], "failed": plain["failed"],
                "metrics": finite(plain["metrics"])}
    traced = run_child(workload, seed, seconds, 1, scale, RUN_BUDGET_S / 2)
    report_e2e(traced)
    overhead = {}
    for name, m in plain["metrics"].items():
        t = traced["metrics"][name]["value"]
        overhead[name] = {"traced_minus_untraced": t - m["value"],
                          "share": (t - m["value"]) / m["value"]
                          if m["value"] else None, "unit": m["unit"]}
    for name, m in traced["per_layer"].items():
        print(f"{workload} {name} {fmt(m['value'])} {m['unit']}")
    for name, v in traced["report"].items():
        print(f"# report {name} {json.dumps(v) if isinstance(v, dict) else fmt(v)}")
    for name, o in overhead.items():
        share = "n/a" if o["share"] is None else f"{100 * o['share']:+.1f}%"
        print(f"# tracing overhead {name} "
              f"{fmt(o['traced_minus_untraced'])} {o['unit']} ({share})")
    os.makedirs(os.path.join(".perfbench_work", "traces"), exist_ok=True)
    path = os.path.join(".perfbench_work", "traces",
                        f"{workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({"untraced": {k: v for k, v in plain.items()},
                   "traced": traced, "tracing_overhead": overhead}, f,
                  indent=1)
    print(f"# spans and report written to {path}")
    att = plain["attempted"] + traced["attempted"]
    fail = plain["failed"] + traced["failed"]
    return {"correct": fail == 0, "attempted": att, "failed": fail,
            "metrics": finite(traced["per_layer"])}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use 0.01)")
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join("charmpandas_spark", "__init__.py")):
        print("run.py: no charmpandas_spark package here; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {w: run_workload(w, a.seed, a.seconds, a.trace, a.scale)
               for w in names}
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{w}.{k}": v for w, r in results.items()
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
