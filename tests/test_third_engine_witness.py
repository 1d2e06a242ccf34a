"""Smoke coverage for the pandas/numpy third-engine witness
(tools/pandas_witness.py).

The witness artifact is produced by a manual run; without a test, a
registry-query change could silently break a replay and the drift
would only surface at the next manual run. Pin a cheap subset at
sf0.001 through the SAME canonical-compare path the tool uses, so
`pytest` catches a diverging replay in the round loop. The full
run (including pagerank/k-center/jaccard; 242/242 in round 18,
``PANDAS_WITNESS_r13..r18.json`` in git at commit 54701ba) is a
manual ``python tools/pandas_witness.py`` run — these cover each
dtype family the canonicalizer handles (float agg, int projection,
string chunk, timestamp-derived session counts, integer micro-unit
division).
"""

import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools"))

import pytest


@pytest.mark.parametrize("name", [
    "groupby_sum", "concat", "text_chunks", "events_sessionize",
    "dsir_weights", "corpus_percentiles",
    "events_quantiles_by_group", "corpus_weighted_quantiles",
    "er_jaro_winkler", "sim_topk",
    # r14 extension representatives: one per new family (regex text
    # scoring, published-ruleset quality, warehouse rank-dedup and
    # attribute fusion, grouping sets, exact windowed sum, md5
    # bucketing, boilerplate line dedup)
    "text_lang_id", "quality_gopher", "quality_c4", "cdc_apply",
    "cdc_survivorship", "table_diff", "groupby_cube",
    "window_rolling", "dataset_split", "text_line_dedup",
    # batch-2 representatives: pandas merge_asof as the independent
    # as-of engine, integer attribution splits, RANGE frame via
    # prefix sums, EWM integer weights, exists-semi TPC-H
    "events_asof_join", "events_attribution_linear",
    "events_cohort_retention", "events_ewm", "window_range_frame",
    "tpch_q4",
    # batch-3 representatives: bipartite contamination pairs,
    # 5-gram decontam hits, exact-stats correlation, rational BM25
    # ranking, expectations, exclusive-prefix-sum sharding
    "dedup_contamination", "decontam_ngrams", "lineitem_corr",
    "sim_bm25", "quality_expectations", "shard_assignment",
    # batch-4 representatives: hardest TPC-H shapes (anti-join +
    # exists, correlated average, global-threshold fraction),
    # greedy next-fit packing, Laplace bigram LM, Welch t, Z-order
    "tpch_q21", "tpch_q17", "tpch_q11", "text_pack_greedy",
    "quality_lm_score", "events_ab_welch", "zorder_key",
    # batch-5 representatives: join semantics, ntile/cume/pr ranks,
    # LOCF fill, type-1 winsorize bounds, exact z-scores, smoothed
    # target encoding, Markov rows, 7-table snowflake ratio
    "join_left_anti", "join_multikey", "window_ntile", "locf_fill",
    "winsorize_value", "standard_scale", "target_encode",
    "markov_transitions", "tpch_q8", "curation_report",
    # batch-6 representatives: md5 ticket-race weighted sampling,
    # bucket-probe negatives, purged CV roles, q-gram editdist
    # (losslessness proof), keep-first corpus dedup, exact knn
    "weighted_sample", "negative_sample", "purged_kfold",
    "dedup_editdist", "dedup_corpus", "sim_knn_join",
    "source_concentration",
    # batch-7 representatives: triangle/k-core graph analytics,
    # leakage-safe cluster splits, calibration (Spark div-truncation
    # semantics), Cohen's kappa, chi-square drift, CUSUM changepoint,
    # DSIR selection
    "graph_triangles", "graph_kcore", "leakage_safe_split",
    "classifier_calibration", "quality_kappa", "text_token_drift",
    "events_changepoint", "dsir_select",
    # batch-8 representatives: md5 MinHash LSH end-to-end, hybrid
    # RRF fusion, leftmost-lowest-rank BPE, PSL domain filter,
    # ExactSubstr span removal, streaming sessionize/join twins
    "dedup_minhash", "hybrid_rrf3", "text_bpe_tokens",
    "url_domain_filter", "dedup_span_removal",
    "streaming_sessionize", "streaming_stream_join_full",
    "streaming_late_data",
    # batch-9 representatives: regenerated-hyperplane ANN candidate
    # sets, IVF full-probe==exact identity (sequential-dot floor
    # boundary), persisted-index incremental dedup fixed points
    "sim_ann_lsh", "dedup_embedding_cosine_ann", "sim_ivf",
    "dedup_incremental", "dedup_minhash_incremental",
    "source_schema_evolution",
    # batch 10-11 representatives: md5 simhash pigeonhole pairs,
    # codec-geometry perceptual hashes (PNG dhash, PCM audiohash,
    # APNG per-frame dhash), WAV amplitude stats, external-corpus LM
    "dedup_simhash_pairs", "multimodal_dhash",
    "multimodal_audiohash", "multimodal_video_dhash",
    "multimodal_wav", "dedup_images", "quality_lm_external",
    # batch 12-13 representatives: deterministic Lloyd k-means,
    # SemDeDup pairing, integer power-iteration PCA, the full
    # PQ / IVF-PQ codebook pipelines, join cardinality profile
    "embedding_kmeans", "dedup_semantic", "embedding_pca",
    "sim_pq_topk", "sim_ivfpq_rerank", "join_blowup"])
def test_witness_replay_matches_spark(spark, sf_dir, name):
    import pandas_witness as pw
    import __spark_entry__ as entry_mod

    got = pw._canon(entry_mod.queries()[name](spark, sf_dir).toPandas())
    want = pw._canon(pw.REPLAYS[name](sf_dir))
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    assert got.equals(want), f"{name}: witness replay diverged"


def test_every_replay_is_a_registry_query():
    import pandas_witness as pw
    import __spark_entry__ as entry_mod

    qs = set(entry_mod.queries())
    missing = [n for n in pw.REPLAYS if n not in qs]
    assert not missing, missing


# ---------------------------------------------------------------------
# Property tests for the witness's own helper algorithms (they are
# trusted-oracle code now — 236 replays rest on them, so drift here
# would silently weaken the third engine).
# ---------------------------------------------------------------------

def _lev_ref(a: str, b: str) -> int:
    """Textbook Wagner-Fischer Levenshtein (reference for _lev_le_1)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_lev_le_1_matches_wagner_fischer():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import pandas_witness as pw

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet="abc", max_size=8),
           st.text(alphabet="abc", max_size=8))
    def check(a, b):
        assert pw._lev_le_1(a, b) == (_lev_ref(a, b) <= 1)

    check()


def test_bpe_count_convention():
    # lowest-rank pair anywhere, LEFTMOST occurrence, one merge per
    # step — the pinned convention from functions/bpe.py
    import pandas_witness as pw

    ranks = {p: i for i, p in enumerate(pw._BPE_MERGES)}
    assert pw._bpe_count("the", ranks) == 1        # t+h, th+e
    assert pw._bpe_count("table", ranks) == 1      # chained merges
    assert pw._bpe_count("aaa", ranks) == 2        # overlap: leftmost
    assert pw._bpe_count("zzz", ranks) == 3        # no merges apply
    assert pw._bpe_count("x", ranks) == 1


def test_dhash_bits_geometry():
    # a strictly increasing row makes every comparison true; a
    # constant image none — and the grid must sample row r*h//8
    import pandas_witness as pw

    inc = pw._dhash_bits(lambda r, c: c, 16, 8)
    assert inc == (1 << 64) - 1
    const = pw._dhash_bits(lambda r, c: 7, 16, 8)
    assert const == 0
    # only row 0 increasing: exactly the first 8 bits set
    one_row = pw._dhash_bits(lambda r, c: c if r == 0 else 0, 16, 8)
    assert one_row == 0xFF


def test_seq_dot_is_left_associative():
    import numpy as np

    import pandas_witness as pw

    # a vector engineered so pairwise (BLAS) and sequential sums
    # differ in the last ulp: the witness doctrine requires the
    # engines' left-to-right order
    v = np.array([1e16, 1.0, -1e16, 1.0])
    assert pw._seq_dot(v, np.ones(4)) == ((1e16 + 1.0) - 1e16) + 1.0


def test_psl_registrable_spec_examples():
    # ADVICE r14: the witness PSL path no longer imports the engine's
    # _compile_psl — pin the standalone parser+lookup on the
    # publicsuffix.org spec's own examples (every rule branch:
    # normal, multi-label, wildcard, exception, default).
    import pandas_witness as pw

    rules = pw._psl_rules()
    assert all(isinstance(e, bool) and isinstance(rl, list)
               for e, rl in rules)
    cases = {
        "example.com": "example.com",            # normal 1-label
        "a.b.example.com": "example.com",
        "example.co.uk": "example.co.uk",        # normal 2-label
        "a.example.co.uk": "example.co.uk",
        "x.bar.ck": "x.bar.ck",                  # wildcard *.ck
        "www.ck": "www.ck",                      # exception !www.ck
        "foo.www.ck": "www.ck",
        "unknowntld": "unknowntld",              # default rule, ps=1
        "host.unknowntld": "host.unknowntld",
        "sub.github.io": "sub.github.io",        # private section
    }
    for host, want in cases.items():
        assert pw._registrable(host, rules) == want, host
