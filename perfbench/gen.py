"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is made here from the seed:
the same seed gives byte-identical inputs, another seed gives other
inputs. The generators also return the ground truth the output
checks compare against.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: TPC-H row counts at scale factor 1; the benchmark runs sf0.1.
ORDERS_PER_SF = 1_500_000
EPOCH = dt.date(1992, 1, 1)
DAYS = 2400  # order dates span 1992-01-01 .. ~1998-07
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
#: share of order keys that lineitem references but orders lacks, so
#: inner, left, semi and anti joins all give different answers
ORPHAN_SHARE = 0.01


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """``orders`` and ``lineitem`` with the TPC-H columns the workloads
    touch. Prices are whole cents so sums stay close to exact."""
    rng = np.random.default_rng([seed, 1])
    n_orders = max(200, int(ORDERS_PER_SF * sf))
    orderkey = np.arange(1, n_orders + 1, dtype=np.int64) * 4
    odate = rng.integers(0, DAYS, n_orders)
    lines = rng.integers(1, 8, n_orders)
    li_order = np.repeat(np.arange(n_orders), lines)
    n_li = len(li_order)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - first + 1).astype(np.int32)
    quantity = rng.integers(1, 51, n_li).astype(np.float64)
    unit_cents = rng.integers(90_000, 200_000, n_li)
    extprice = quantity * unit_cents / 100.0
    discount = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    shipdate = odate[li_order] + rng.integers(1, 122, n_li)
    returnflag = np.where(shipdate > 1300, "N",
                          np.where(rng.random(n_li) < 0.5, "R", "A"))
    linestatus = np.where(shipdate > 1300, "O", "F")
    totalprice = np.bincount(li_order, weights=extprice,
                             minlength=n_orders)
    keep = rng.random(n_orders) >= ORPHAN_SHARE

    def dates(days):
        return pa.array(np.datetime64(EPOCH, "D")
                        + days.astype("timedelta64[D]"), pa.date32())

    orders = pa.table({
        "o_orderkey": orderkey[keep],
        "o_custkey": rng.integers(1, max(2, n_orders // 10), n_orders)[keep],
        "o_orderstatus": np.where(odate > 1300, "O", "F")[keep],
        "o_totalprice": np.floor(totalprice * 100)[keep] / 100.0,
        "o_orderdate": dates(odate[keep]),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, len(PRIORITIES), n_orders)][keep],
        "o_shippriority": np.zeros(int(keep.sum()), dtype=np.int32),
    })
    lineitem = pa.table({
        "l_orderkey": orderkey[li_order],
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": extprice,
        "l_discount": discount,
        "l_tax": tax,
        "l_returnflag": returnflag,
        "l_linestatus": linestatus,
        "l_shipdate": dates(shipdate),
        "l_shipmode": np.array(SHIPMODES)[
            rng.integers(0, len(SHIPMODES), n_li)],
    })
    return {"orders": orders, "lineitem": lineitem}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """One parquet file per table, the layout of the repo's test data."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

#: fixed shares of the corpus, stated so the survivor counts are known
LOW_QUALITY_SHARE = 0.10   # fail the Gopher filter (too few words)
EXACT_DUP_SHARE = 0.10     # case/whitespace variants of a kept document
NEAR_DUP_SHARE = 0.10      # one word replaced in a kept document
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _vocabulary(rng, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, n)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words - set(STOPWORDS)))


def corpus(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """(documents table, ground truth).

    Base documents are 90-140 words drawn from a large vocabulary plus
    the Gopher stopwords, so they pass the quality filter and are far
    apart in Jaccard space. On top of them come, in fixed shares,
    low-quality documents, exact duplicates (same text after
    normalization) and near duplicates (one word replaced, Jaccard of
    character 5-shingles about 0.95). Ids are shuffled so survivors are
    not simply the lowest ids."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, 20_000)
    n_low = int(n_docs * LOW_QUALITY_SHARE)
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_base = n_docs - n_low - n_exact - n_near

    base_words = []
    for _ in range(n_base):
        k = int(rng.integers(90, 141))
        w = rng.choice(vocab, k)
        stop_at = rng.choice(k, 12, replace=False)
        w[stop_at] = rng.choice(STOPWORDS, 12)
        base_words.append(w)
    texts = [" ".join(w) for w in base_words]
    cluster = list(range(n_base))     # base doc each text derives from

    for src in rng.choice(n_base, n_exact):
        w = base_words[src]
        texts.append("  ".join(x.upper() if i % 7 == 0 else x
                               for i, x in enumerate(w)))
        cluster.append(int(src))
    near_src = rng.choice(n_base, n_near)
    for src in near_src:
        w = base_words[src].copy()
        at = int(rng.integers(0, len(w)))
        old = w[at]
        while w[at] == old:  # an unchanged copy would be an exact dup
            w[at] = rng.choice(vocab)
        texts.append(" ".join(w))
        cluster.append(int(src))
    for _ in range(n_low):
        texts.append(" ".join(rng.choice(vocab, int(rng.integers(5, 20)))))
        cluster.append(-1)

    ids = rng.permutation(n_docs).astype(np.int64)
    table = pa.table({"id": ids, "text": texts})

    # ground truth: near-duplicate pairs are all pairs inside a base
    # document's group of distinct texts (the base plus its near copies;
    # exact copies are gone by then)
    per_base = np.bincount(near_src, minlength=n_base)
    tokens = np.array([len(w) for w in base_words])
    truth = {
        "docs": n_docs,
        "after_quality": n_docs - n_low,
        "after_exact": n_base + n_near,
        "near_dup_pairs": int(((per_base + 1) * per_base // 2).sum()),
        "survivors": n_base,
        "survivor_tokens": tokens.tolist(),
    }
    return table, truth


def chunk_count(n_tokens: int, max_tokens: int, overlap: int) -> int:
    """Chunks ``chunk_documents`` cuts from an ``n_tokens`` document."""
    stride = max_tokens - overlap
    return (max(n_tokens - 1, 0)) // stride + 1


def chunk_tokens(n_tokens: int, max_tokens: int, overlap: int) -> int:
    """Tokens over all chunks of an ``n_tokens`` document (overlaps
    counted in each chunk)."""
    stride = max_tokens - overlap
    return sum(min(max_tokens, n_tokens - k * stride)
               for k in range(chunk_count(n_tokens, max_tokens, overlap)))
