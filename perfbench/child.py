"""One benchmark run, in the fresh process ``run.py`` starts.

Order: generate inputs from the seed (not timed), set up the session
(timed as ``setup_s``), run the workload's untimed warm-up, run the
timed closed loop, check outputs, read the per-layer counters (traced
run only), stop Spark and its JVM, and write the result as JSON to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import urllib.request

import tracer as tracing
import workloads

MB = 1e6


def _identity(batches):
    yield from batches


def host_facts() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return {"loadavg": load, "cpu_ticks": ticks}


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    d = [b - a for a, b in zip(start["cpu_ticks"], end["cpu_ticks"])]
    return d[7] / sum(d) if sum(d) else 0.0


def static_host_facts(spark) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal"))
                     .split()[1])
    return {"nproc": os.cpu_count(), "ram_gb": round(mem_kb / 1e6, 2),
            "cpus_used": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version")}


def _hwm_mb(pid: int) -> float:
    """Peak resident set of a process (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM"))
    return kb * 1024 / MB


def session_conf(work: str, traced: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        # keep every file Spark and the JVM write inside the checkout
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: how far G1 grew a 1g heap varied peak RSS
        # by 15% between runs
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }
    if traced:
        # stage timings come from the UI's REST API, so the UI is on in
        # the traced run only; keep every stage of the run
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return conf


def set_up(tr, work: str, traced: bool, python_workers: bool):
    """get_spark() + the first JVM action, and for a workload that runs
    Python operators the first Arrow-batched one, each in its own span;
    returns (spark, seconds)."""
    import charmpandas_spark as cps

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    t = time.perf_counter()
    with tr.span("session.get_spark"):
        spark = cps.get_spark(app_name="perfbench", master=f"local[{cpus}]",
                              shuffle_partitions=cpus,
                              extra_conf=session_conf(work, traced))
    with tr.span("session.first_action"):
        spark.range(0, 100_000, numPartitions=cpus) \
            .selectExpr("sum(id)").collect()
    if python_workers:
        with tr.span("session.python_worker_warm"):
            spark.range(0, 64, numPartitions=cpus) \
                .mapInPandas(_identity, "id long").collect()
    return spark, time.perf_counter() - t


def stop(spark) -> None:
    """Stop Spark, then end the JVM and wait for it: the gateway JVM
    exits when its stdin closes, and its Python workers with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------

def stage_metrics(spark, stage_ids: set[int]) -> dict[int, dict]:
    """Stage id -> summed task metrics of its attempts, from the UI's
    REST stage API. Waits briefly for the listener bus to catch up."""
    sc = spark.sparkContext
    url = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
           f"/stages?status=complete")
    out: dict[int, dict] = {}
    for _ in range(50):
        with urllib.request.urlopen(url, timeout=30) as r:
            stages = json.load(r)
        out = {}
        for s in stages:
            d = out.setdefault(s["stageId"], {
                "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_write_mb": 0.0, "input_records": 0})
            d["run_s"] += s["executorRunTime"] / 1e3
            d["cpu_s"] += s["executorCpuTime"] / 1e9
            d["gc_s"] += s["jvmGcTime"] / 1e3
            d["shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
            d["input_records"] += s["inputRecords"]
        if stage_ids <= out.keys():
            break
        time.sleep(0.1)
    return out


def layer_metrics(spark, tr, ops: list[dict]) -> tuple[dict, dict]:
    """(per-layer metrics, extra report) of the timed ops."""
    st = spark.sparkContext.statusTracker()
    med, mean = statistics.median, statistics.fmean
    spans = tr.spans
    per_op = {}
    for op in ops:
        jobs = list(st.getJobIdsForGroup(op["id"]))
        stages, tasks = [], 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages.append(sid)
                    tasks += s.numCompletedTasks
        per_op[op["id"]] = {"jobs": len(jobs), "stages": stages,
                            "tasks": tasks}
    sm = stage_metrics(spark, {s for v in per_op.values()
                               for s in v["stages"]})
    zero = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "input_records": 0}
    for v in per_op.values():
        tot = dict(zero)
        for sid in v["stages"]:
            for k in tot:
                tot[k] += sm.get(sid, zero)[k]
        v.update(tot)

    gets = tracing.per_op(spans, "dataframe.get")
    plans = tracing.per_op(spans, "dataframe.plan")
    reads = tracing.per_op(spans, "sources.read_parquet")
    writes = [s for s in spans if s["name"] == "sources.write_clustered"]
    get_spans = [s for s in spans if s["name"] == "dataframe.get"]
    scanned_ratio = []
    for op in ops:
        rows = sum(s.get("rows", 0) for s in gets.get(op["id"], []))
        if rows:
            scanned_ratio.append(per_op[op["id"]]["input_records"] / rows)

    def one(name):
        d = tracing.durations(spans, name)
        return d[0] if d else 0.0

    def m(v, unit):
        return {"value": v, "unit": unit}

    def med_or0(xs):
        return med(xs) if xs else 0.0

    v = list(per_op.values())
    metrics = {
        "session.get_spark_s": m(one("session.get_spark"), "s"),
        "session.first_action_s": m(one("session.first_action"), "s"),
        "sources.read_parquet_ms": m(1e3 * med_or0(
            tracing.durations(spans, "sources.read_parquet")), "ms"),
        "sources.read_calls": m(
            sum(len(reads.get(op["id"], [])) for op in ops) / len(ops),
            "count"),
        "sources.write_s": m(med_or0(
            [s["end"] - s["start"] for s in writes]), "s"),
        "sources.bytes_written": m(med_or0([s["bytes"] for s in writes]),
                                   "bytes"),
        "sources.files_written": m(med_or0([s["files"] for s in writes]),
                                   "count"),
        "sources.rows_scanned_per_row_returned":
            m(med_or0(scanned_ratio), "ratio"),
        "dataframe.plan_build_ms": m(1e3 * med_or0(
            [sum(s["end"] - s["start"] for s in plans.get(op["id"], []))
             for op in ops]), "ms"),
        "dataframe.get_s": m(med_or0(
            [s["end"] - s["start"] for s in get_spans]), "s"),
        "dataframe.get_rows": m(med_or0([s["rows"] for s in get_spans]),
                                "count"),
        "dataframe.get_mb": m(med_or0(
            [s.get("bytes", 0) / MB for s in get_spans]), "MB"),
        # engine figures are means per op: a median of the per-op GC
        # or shuffle figures is 0 on workloads where most ops have none
        "spark.jobs": m(mean([x["jobs"] for x in v]), "count"),
        "spark.stages": m(mean([len(x["stages"]) for x in v]), "count"),
        "spark.tasks": m(mean([x["tasks"] for x in v]), "count"),
        "spark.shuffle_write_mb": m(mean([x["shuffle_write_mb"] for x in v]),
                                    "MB"),
        "spark.executor_run_s": m(mean([x["run_s"] for x in v]), "s"),
        "spark.executor_cpu_s": m(mean([x["cpu_s"] for x in v]), "s"),
        "spark.gc_s": m(mean([x["gc_s"] for x in v]), "s"),
    }
    selfs = tracing.self_times(spans)
    report = {"self_s_per_op": {k: t / len(ops) for k, t in selfs.items()
                                if k != "session"},
              "session_self_s": selfs.get("session", 0.0)}
    # spans only curation opens: reported where they exist
    for name in ["session.python_worker_warm"] + [
            f"functions.{st}" for st in ("quality", "exact_dedup", "minhash",
                                         "components", "splits", "pack")]:
        d = tracing.durations(spans, name)
        if d:
            report[f"{name}_s"] = med(d)
    return metrics, report


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    traced = bool(a.trace)
    t_start = time.perf_counter()
    facts = {"start": host_facts()}
    tr = tracing.Tracer(traced)
    ctx = workloads.Ctx(None, tr, a.work)
    wl = workloads.WORKLOADS[a.workload](ctx, a.seed, a.scale)
    # flush the inputs now, so their writeback does not land in a
    # timed region
    os.sync()
    phases = {"inputs_s": time.perf_counter() - t_start}

    spark, setup_s = set_up(tr, a.work, traced, wl.python_workers)
    ctx.spark = tr.spark = spark
    facts.update(static_host_facts(spark))
    t = time.perf_counter()
    wl.warm_up()
    phases["warm_up_s"] = time.perf_counter() - t

    t = time.perf_counter()
    wl.run(a.seconds)
    measured_s = time.perf_counter() - t
    # before the checks, whose DuckDB scans are not the program's memory
    from pyspark import SparkContext

    rss = {"python": _hwm_mb(os.getpid()),
           "jvm": _hwm_mb(SparkContext._gateway.proc.pid)}

    timed = ctx.ops
    t = time.perf_counter()
    import duckdb

    con = duckdb.connect()
    for op in timed:
        if not op["ok"]:
            continue
        try:
            right = wl.check(con, op)
        except Exception as e:  # a check that cannot run is a failure
            right, op["error"] = False, f"check {type(e).__name__}: {e}"
        if not right:
            op["ok"] = False
            op["error"] = op["error"] or "wrong output"
    con.close()
    phases["check_s"] = time.perf_counter() - t

    metrics, samples = workloads.end_to_end(wl, setup_s, sum(rss.values()))
    by_kind: dict = {}
    for op in timed:
        by_kind.setdefault(op["kind"], []).append(op["latency_s"])
        for label, key in (("fetch", "fetches"), ("write", "writes")):
            for x in op[key]:
                by_kind.setdefault(f"{label}:{x['kind']}", []).append(x["s"])
    result = {
        "by_kind": {k: {"n": len(v), "median_s": statistics.median(v),
                        "max_s": max(v)} for k, v in by_kind.items()},
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "measured_s": measured_s, "samples": samples, "peak_rss_mb": rss,
        "attempted": len(timed),
        "failed": sum(1 for op in timed if not op["ok"]),
        "errors": [f'{op["id"]}: {op["error"]}' for op in timed
                   if not op["ok"]][:10],
        "metrics": metrics,
    }
    if traced:
        result["per_layer"], result["report"] = layer_metrics(spark, tr,
                                                              timed)
        if a.workload == "curation":
            pairs = [op["result"]["near_dup_pairs"] for op in timed
                     if op["ok"]]
            truth = wl.truth["near_dup_pairs"]
            result["report"]["functions.near_dup_pairs"] = \
                statistics.median(pairs) if pairs else 0
            result["report"]["functions.near_dup_recall"] = \
                statistics.median(pairs) / truth if pairs and truth else 0.0
        result["spans"] = tr.spans
    t = time.perf_counter()
    stop(spark)
    phases["stop_s"] = time.perf_counter() - t
    facts["end"] = host_facts()
    facts["steal_share"] = steal_share(facts["start"], facts["end"])
    result["host"] = facts
    result["phases"] = phases
    with open(a.out, "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
