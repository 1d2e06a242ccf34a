"""Plan-shape contract table shared by tests/test_plan_contracts.py
(the CI gate) and tools/plan_audit.py (the --diff drift gate).

Plain data in a plain module (ADVICE r14: plan_audit previously
exec'd the TEST FILE at tool runtime to read this table, so any
pytest-only import or fixture at that file's module scope would have
broken `plan_audit --diff` in production runs). Both consumers import
from here; neither duplicates the list, so they can't skew.

name -> (max shuffle exchanges, max BroadcastNestedLoopJoins,
max columns any single scan may read). Pinned r12 from
tools/plan_audit.py at sf0.01; re-pin ONLY after re-auditing.
Exchange counts are UPPER BOUNDS on the static plan — see the
doctrine in tests/test_plan_contracts.py's module docstring.
"""

CONTRACTS = {
    "dedup_spans": (6, 0, 2),
    "sim_bm25": (18, 1, 2),
    "dedup_clusters": (2, 0, 2),
    "graph_pagerank": (34, 0, 2),
    # re-pinned r17 after the candidate-stage rewrite (set size
    # computed in the prefix-rank window exchange; sizes ride the
    # candidate rows instead of two pair-keyed verify joins): live
    # audit 20 -> 12 static exchanges, solo floor 5.1 -> ~2.8 s sf0.1
    "dedup_jaccard_prefix": (12, 0, 2),
    "dedup_minhash_incremental": (29, 2, 4),
    "dedup_semantic": (2, 2, 2),
    "er_jaro_winkler": (2, 0, 2),
    "coreset_kcenter": (1, 0, 2),
    "sim_ivfpq_rerank": (3, 7, 2),
    # tier 2 (r12): the next-most-expensive sweep entries
    "sim_ivfpq_topk": (2, 7, 2),
    "corpus_percentiles": (1, 0, 2),
    "dedup_incremental": (16, 0, 3),
    # r13: the compaction round-trip (two index writes + compact +
    # probe of the compacted index; the probe plan is
    # dedup_incremental's, the extra exchanges are the build legs)
    "dedup_index_compact": (18, 0, 3),
    # re-pinned r17 after the fused bucket aggregate (one
    # conditional groupBy(f) over the checkpoint + global-window
    # side totals replaces the r13/r16 tcnt/rcnt pair and both
    # crossJoin-of-aggregate subtrees): dsir_weights live audit
    # 7 -> 3 exchanges / BNLJ 2 -> 0; dsir_select's final plan is
    # the post-checkpoint resample filter (1 exchange + the 1-row
    # mean-broadcast BNLJ), its weight pipeline shrinks identically
    # in the pre_checkpoint sidecar. Interleaved same-host solo A/B:
    # weights 5.89 -> 5.08 s, select 6.24 -> 4.93 s best-of-legs.
    "dsir_select": (1, 1, 3),
    "dsir_weights": (3, 0, 3),
    "histogram_equidepth": (2, 1, 1),
    "dedup_keep_best": (3, 0, 2),
    "leakage_safe_split": (9, 1, 1),
    "graph_kcore": (3, 1, 2),
    # pinned AFTER the r12 fix: localCheckpoint on the edge set cut
    # the static plan from 156 inlined-lineage exchanges to 16
    "graph_triangles": (16, 2, 2),
    # pinned at the parent of the blocked-pair refactor, before any
    # join moved onto dedup._blocked_pairs: the larger count of the
    # test session (sf0.001, local[8]) and a local[4] session at
    # sf0.001 and sf0.01 (minhash_fast 21 vs 19, ngram_jaccard 9 vs
    # 7; every other fact equal). They keep the port from adding an
    # exchange or a nested-loop join unnoticed.
    "dedup_minhash_fast": (21, 2, 2),
    "dedup_minhash": (11, 0, 2),
    "dedup_simhash_pairs": (5, 0, 2),
    "dedup_ngram_jaccard": (9, 2, 2),
    "dedup_contamination": (9, 2, 2),
    "dedup_embedding_cosine_ann": (5, 0, 2),
    "dedup_embedding_leakage": (5, 0, 2),
    "multimodal_dhash": (1, 0, 2),
    "dedup_editdist": (13, 1, 1),
}
