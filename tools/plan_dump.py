"""Dump ``.explain("formatted")`` for named registry queries to files.

Writes ``<out>/<query>_{before,after}.txt`` so a reader can check plan
claims (exchange counts, join strategies, pushdown) without running
Spark; rounds 17 and 18 committed theirs as ``plans/r17`` and
``plans/r18``, in git at commit 54701ba. Run this at the commit whose
plans you want:

    python tools/plan_dump.py --out plans --suffix after \
        graph_pagerank dedup_jaccard_prefix

"Before" files come from a git worktree checked out at the
pre-optimization commit, running the same command with
``--suffix before`` (and ``--out`` pointing back at the main repo).

The dump is the STATIC plan (pre-execution, ``AdaptiveSparkPlan
isFinalPlan=false``) — deterministic and diffable across commits,
matching what the committed plan contracts pin.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--suffix", required=True,
                    choices=("before", "after"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from charmpandas_spark.functions.dedup import release
    from charmpandas_spark.plans.explain import plan_string
    from charmpandas_spark.session import get_spark

    spark = get_spark(app_name="cps-plan-dump")
    os.makedirs(args.out, exist_ok=True)
    qs = entry_mod.queries()
    rc = 0
    for name in args.names:
        if name not in qs:
            print(f"# {name}: NOT IN REGISTRY", file=sys.stderr)
            rc = 1
            continue
        df = None
        try:
            df = qs[name](spark, SF_DIR)
            sdf = getattr(df, "sdf", df)
            text = plan_string(sdf, "formatted")
        except Exception as exc:  # noqa: BLE001
            print(f"# {name}: FAILED {type(exc).__name__}: {exc}",
                  file=sys.stderr)
            rc = 1
            continue
        finally:
            # release even on plan-string failure (ADVICE r17): a
            # constructed df may hold tracked localCheckpoint blocks,
            # which would otherwise leak for the rest of the dump run
            if df is not None:
                release(df)
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"# wrote {path} ({len(text)} chars)", file=sys.stderr)
        spark.catalog.clearCache()
    spark.stop()
    sys.exit(rc)


if __name__ == "__main__":
    main()
