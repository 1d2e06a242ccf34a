"""Plan-shape contracts for the most expensive queries (VERDICT r11
#6): how a query scales rests on physical-plan facts — exchange
counts, join strategies, pushed filters, column pruning — that until
now only round verdicts audited by hand. These tests pin
them, so a plan regression (a lost broadcast hint, a filter that
stops reaching the scan, an accidental cartesian product) fails CI
instead of shipping silently and surfacing as an unexplained bench
drift two rounds later.

Exchange counts are asserted as UPPER BOUNDS on the static
(pre-AQE-finalization) plan, pinned from a tools/plan_audit.py run at
sf0.01 (r12): AQE only removes exchanges at runtime, never adds them,
and smaller test inputs can only flip joins TOWARD broadcast (fewer
shuffles), so the bounds hold at any test SF. BroadcastNestedLoopJoin
budgets are pinned per query: the only sanctioned BNLs are 1-row
stat-broadcast cross joins (threshold scalars, corpus counts, trained
codebooks) — structural, not data-sized — plus nothing else; a new
BNL over row-scaled data trips the budget.

Queries under contract = the top of the round-17/18 legacy sweep's
cost ranking (``BENCH_FULL.json``, in git at commit 54701ba) — the
ones whose cost a silent plan regression would multiply most.

NOTE: iterative queries (pagerank, clusters/CC) localCheckpoint each
round, so the RETURNED DataFrame's plan shows the per-round lineage
times the fixed iteration count — which is exactly the per-round
exchange budget the bound pins.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from charmpandas_spark.plans.explain import (join_strategies,
                                             num_exchanges,
                                             pushed_filters,
                                             scan_columns)

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

#: The contract table lives in tools/plan_contracts_data.py (plain
#: shared module — ADVICE r14: plan_audit --diff used to exec THIS
#: test file at tool runtime to read it; now both import the data).
from tools.plan_contracts_data import CONTRACTS  # noqa: E402


@pytest.fixture(scope="module")
def plans(spark):
    """Build every contracted query ONCE (some callables run jobs
    internally — iterative loops, sampled training) and snapshot the
    plan facts; individual tests then assert without re-running."""
    import __spark_entry__ as entry_mod
    from charmpandas_spark.functions.dedup import release

    qs = entry_mod.queries()
    out = {}
    for name in CONTRACTS:
        df = qs[name](spark, SF)
        out[name] = {
            "exchanges": num_exchanges(df),
            "joins": join_strategies(df),
            "pushed": pushed_filters(df),
            "scans": scan_columns(df),
        }
        release(df)  # unpin pipeline intermediates between builds
    return out


@pytest.mark.parametrize("name", list(CONTRACTS))
def test_exchange_budget(plans, name):
    bound = CONTRACTS[name][0]
    got = plans[name]["exchanges"]
    assert got <= bound, (
        f"{name}: {got} shuffle exchanges in the final plan, contract "
        f"is <= {bound} — a shuffle was added; re-audit with "
        f"tools/plan_audit.py before re-pinning")


@pytest.mark.parametrize("name", list(CONTRACTS))
def test_no_cartesian_and_bnl_budget(plans, name):
    """CartesianProduct is banned outright; BroadcastNestedLoopJoin
    may not exceed the pinned stat-broadcast budget (every sanctioned
    BNL joins a 1-row aggregate — scalars, counts, codebooks)."""
    joins = plans[name]["joins"]
    assert "CartesianProduct" not in joins, f"{name} plans {joins}"
    bnl = joins.count("BroadcastNestedLoopJoin")
    budget = CONTRACTS[name][1]
    assert bnl <= budget, (
        f"{name}: {bnl} BroadcastNestedLoopJoins, budget {budget} — "
        f"a non-stat cross join crept in")


@pytest.mark.parametrize("name", list(CONTRACTS))
def test_scan_width_pruned(plans, name):
    """Column pruning reached every scan: no contracted query may
    read more columns than its pinned widest scan (documents has 5+
    columns; these all prune to <= 4)."""
    width = CONTRACTS[name][2]
    for cols in plans[name]["scans"]:
        assert len(cols) <= width, (
            f"{name}: a scan reads {len(cols)} columns ({cols}), "
            f"contract is <= {width} — projection pruning regressed")


def test_er_jaro_winkler_band_filters_pushed(plans):
    """The ER length-band prune must reach the scans (2 pushed
    filters at pin time) — losing it turns the blocked join back
    into per-bucket all-pairs at full width."""
    assert len(plans["er_jaro_winkler"]["pushed"]) >= 2


def test_dedup_spans_shuffle_hash_rejoin(plans):
    """duplicate_spans pins a SHUFFLE_HASH hint for the corpus-sized
    span-set rejoin (a sort-merge there adds two sorts of the widest
    intermediate); the hint must survive in the plan."""
    assert "ShuffledHashJoin" in plans["dedup_spans"]["joins"]


def test_plan_drift_gate(tmp_path):
    """VERDICT r13 #7: unexplained >30% exchange drift on a
    CONTRACTED query must be a gate violation; explained drift and
    non-contracted queries pass."""
    from tools.plan_audit import contracted_queries, gate_violations

    cq = contracted_queries()
    assert "dsir_select" in cq and len(cq) >= 15
    base = {"plans": {"dsir_select": {"exchanges": 15},
                      "dedup_spans": {"exchanges": 6},
                      "not_contracted": {"exchanges": 5}}}
    cur = {"plans": {"dsir_select": {"exchanges": 21},
                     "dedup_spans": {"exchanges": 7},
                     "not_contracted": {"exchanges": 50}}}
    v = gate_violations(base, cur, {})
    assert len(v) == 1 and v[0].startswith("dsir_select")
    assert gate_violations(
        base, cur, {"dsir_select": "totals rewrite"}) == []
