"""The three benchmark workloads and their output checks.

Each workload is a single closed-loop client: it issues its next
operation only after the previous one returned, through the public
``charmpandas_spark`` API. The work of a run is fixed by ``seconds``:
as many rounds (interactive) or passes (curation, etl) as ``seconds``
divided by the workload's unit, after the workload's untimed warm-up.
A fixed amount of work puts every run at the same point of the JVM's
warm-up curve, which a time-bounded loop does not (whether the loop
ends after two or three units would move every median). Every call
into a layer goes through :class:`Ctx`, which wraps it in a span and
takes the timings the end-to-end metrics are made of. Output checks
run after the timed loop; a wrong output counts as a failed operation.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import charmpandas_spark as cps
from charmpandas_spark.dataframe import DataFrame
from charmpandas_spark.functions import dedup, quality, sampling, text

import gen
from tracer import Tracer

# ---------------------------------------------------------------------------
# plumbing
# ---------------------------------------------------------------------------


class Ctx:
    """What a workload needs: the session, the tracer, a scratch
    directory, and the op log the metrics are computed from."""

    def __init__(self, spark, tracer, work_dir: str):
        self.spark = spark
        self.tr = tracer
        self.work = work_dir
        self.ops: list[dict] = []
        self._n = 0

    # -- calls into the layers ------------------------------------------
    def read(self, path: str, columns=None) -> DataFrame:
        with self.tr.span("sources.read_parquet"):
            return cps.read_parquet(self.spark, path, columns)

    def plan(self):
        """Span around lazy wrapper calls (no Spark job runs here)."""
        return self.tr.span("dataframe.plan")

    def get(self, df: DataFrame, op: dict, what: str = "") -> pd.DataFrame:
        """``df.get()``, logged as a fetch of kind ``<op kind>/<what>``
        (the metrics take medians per kind)."""
        with self.tr.span("dataframe.get") as rec:
            t = time.perf_counter()
            pdf = df.get()
            took = time.perf_counter() - t
            rec["rows"] = len(pdf)
            if self.tr.on:
                rec["bytes"] = int(pdf.memory_usage(deep=True).sum())
        op["fetches"].append({"kind": f"{op['kind']}/{what}",
                              "rows": len(pdf), "s": took})
        return pdf

    def scalar(self, fn):
        with self.tr.span("dataframe.get") as rec:
            rec["rows"] = 1
            return fn()

    def write(self, df: DataFrame, path: str, op: dict, what: str = "",
              **kw) -> None:
        """``write_clustered``, logged like :meth:`get`."""
        with self.tr.span("sources.write_clustered") as rec:
            t = time.perf_counter()
            cps.write_clustered(df, path, **kw)
            took = time.perf_counter() - t
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        rec["files"] = len(files)
        rec["bytes"] = sum(os.path.getsize(os.path.join(path, f))
                           for f in files)
        rows = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                   for f in files)
        rec["rows"] = rows
        op["writes"].append({"kind": f"{op['kind']}/{what}", "rows": rows,
                             "s": took})

    # -- op log -------------------------------------------------------------
    def run_op(self, kind: str, body, **params) -> dict:
        """Run one operation; an exception is a failed operation."""
        self._n += 1
        op = {"id": f"{kind}-{self._n}", "kind": kind, "params": params,
              "ok": True, "error": None, "fetches": [], "writes": [],
              "input_rows": 0}
        t = time.perf_counter()
        try:
            with self.tr.op(op["id"], kind):
                op["result"] = body(op, **params)
        except Exception as e:  # a failed op is counted, the run goes on
            op["ok"], op["error"] = False, f"{type(e).__name__}: {e}"
        op["latency_s"] = time.perf_counter() - t
        self.ops.append(op)
        return op

    @staticmethod
    def written(op: dict) -> int:
        """Rows ``op`` wrote."""
        return sum(w["rows"] for w in op["writes"])

    def out_dir(self, name: str) -> str:
        path = os.path.join(self.work, "out", name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def warm_ctx(ctx: Ctx) -> Ctx:
    """A context for untimed warm-up work: same session, no spans, its
    own op log and directory."""
    return Ctx(ctx.spark, Tracer(False), os.path.join(ctx.work, "warm"))


def units(seconds: float, nominal_s: float) -> int:
    """Rounds or passes a run of ``seconds`` makes."""
    return max(1, round(seconds / nominal_s))


def _date(days: int) -> dt.date:
    return gen.EPOCH + dt.timedelta(days=int(days))


def _sql_date(d: dt.date) -> str:
    return f"DATE '{d.isoformat()}'"


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Comparable form with positional column names: floats
    floor-rounded to cents (the repo's cross-engine rounding rule),
    every other column as text (dates ISO, nulls a marker), rows
    sorted by the text columns, then the floats."""
    out = {}
    for i, c in enumerate(df.columns):
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[i] = np.floor(s * 100) / 100
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[i] = s.dt.strftime("%Y-%m-%d").fillna("<null>")
        else:
            out[i] = s.map(lambda v: "<null>" if v is None or v is pd.NA
                           else v.isoformat() if isinstance(v, dt.date)
                           else str(v))
    n = pd.DataFrame(out)
    floats = [c for c in n.columns if pd.api.types.is_float_dtype(n[c])]
    order = [c for c in n.columns if c not in floats] + floats
    return n.sort_values(order).reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same rows ignoring order; floats within one floor-rounding step
    (float sums differ in their last bits between engines)."""
    if got.shape != want.shape:
        return False
    a, b = _norm(got), _norm(want)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype.kind == "f" and b[c].dtype.kind == "f":
            if not np.all(np.abs(x - y) <= 0.0100001 + 1e-12 * np.abs(y)):
                return False
        elif not (x.astype(str) == y.astype(str)).all():
            return False
    return True


def close(a, b) -> bool:
    """Scalar form of the float rule in :func:`frames_match`."""
    return abs(math.floor(a * 100) / 100 - math.floor(b * 100) / 100) \
        <= 0.0100001 + 1e-12 * abs(b)


# ---------------------------------------------------------------------------
# interactive: one notebook user, reference-surface queries on sf0.1
# ---------------------------------------------------------------------------

#: seven kinds, so the median of whole rounds falls on the middle kind's
#: queries rather than in the gap between two kinds' latencies
INTERACTIVE_KINDS = ["filter_groupby_sum", "merge_groupby_count",
                     "sort_topk", "scalar_sum", "scalar_count",
                     "concat_groupby", "save_slice"]
#: the merge query of round r joins with JOIN_HOWS[r % 4], so every run
#: of r rounds does the same joins
JOIN_HOWS = ["inner", "left_anti", "left", "left_semi"]
#: fixed so every seed fetches the same number of rows per round
TOPK = 100
#: seconds of ``--seconds`` per round: ``--seconds 10`` makes three
#: rounds (21 queries); a warm round takes 4-5 s on a 4-vCPU host
INTERACTIVE_ROUND_S = 3.5


def _window(rng, span: int) -> tuple[dt.date, dt.date]:
    d0 = int(rng.integers(0, gen.DAYS - span))
    return _date(d0), _date(d0 + span)


def interactive_params(rng, kind: str, round_no: int) -> dict:
    """Seeded parameters of one interactive query."""
    if kind == "filter_groupby_sum":
        lo, hi = _window(rng, 365)
        return {"lo": lo, "hi": hi}
    if kind == "merge_groupby_count":
        return {"how": JOIN_HOWS[round_no % len(JOIN_HOWS)]}
    if kind == "sort_topk":
        lo, hi = _window(rng, 180)
        return {"lo": lo, "hi": hi, "k": TOPK}
    if kind == "scalar_sum":
        return {"qty": int(rng.integers(5, 46))}
    if kind == "scalar_count":
        return {"disc": int(rng.integers(0, 10)) / 100.0}
    if kind == "concat_groupby":
        a, b = _window(rng, 120), _window(rng, 120)
        return {"w1": a, "w2": b}
    if kind == "save_slice":
        lo, hi = _window(rng, 180)
        return {"lo": lo, "hi": hi}
    raise ValueError(kind)


def interactive_queries(seed: int, salt: int = 3):
    """Endless query stream of a seed: rounds of all kinds, each
    round in a seeded order with seeded parameters, so every run sees
    the same mix of kinds. Another ``salt`` gives another stream."""
    rng = np.random.default_rng([seed, salt])
    round_no = 0
    while True:
        for i in rng.permutation(len(INTERACTIVE_KINDS)):
            kind = INTERACTIVE_KINDS[i]
            yield kind, interactive_params(rng, kind, round_no)
        round_no += 1


class Interactive:
    name = "interactive"
    python_workers = False
    fetch_kinds = INTERACTIVE_KINDS

    def __init__(self, ctx: Ctx, seed: int, scale: float):
        self.ctx = ctx
        self.seed = seed
        self.tables = gen.tpch_tables(seed, 0.1 * scale)
        self.paths = gen.write_tables(self.tables,
                                      os.path.join(ctx.work, "in"))
        self.rows = {k: t.num_rows for k, t in self.tables.items()}
        self.stream = interactive_queries(seed)
        self._saves = 0

    # each query reads its tables afresh, like a notebook cell
    def q_filter_groupby_sum(self, op, lo, hi):
        c = self.ctx
        li = c.read(self.paths["lineitem"])
        op["input_rows"] += self.rows["lineitem"]
        with c.plan():
            f = li[(li["l_shipdate"] >= lo) & (li["l_shipdate"] < hi)]
            f["rev"] = f["l_extendedprice"] * (1 - f["l_discount"])
            out = f.groupby(["l_returnflag", "l_linestatus"])["rev"].sum()
        return c.get(out, op)

    def q_merge_groupby_count(self, op, how):
        c = self.ctx
        li = c.read(self.paths["lineitem"])
        o = c.read(self.paths["orders"])
        op["input_rows"] += self.rows["lineitem"] + self.rows["orders"]
        with c.plan():
            j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey",
                         how=how)
            key = "l_returnflag" if how in ("left_semi", "left_anti") \
                else "o_orderpriority"
            out = j.groupby(key)["l_orderkey"].count()
        return c.get(out, op)

    def q_sort_topk(self, op, lo, hi, k):
        c = self.ctx
        o = c.read(self.paths["orders"])
        op["input_rows"] += self.rows["orders"]
        with c.plan():
            f = o[(o["o_orderdate"] >= lo) & (o["o_orderdate"] < hi)]
            top = f.sort_values(["o_totalprice", "o_orderkey"],
                                ascending=[False, True]).limit(k)
            out = top[["o_orderkey", "o_custkey", "o_totalprice",
                       "o_orderdate"]]
        return c.get(out, op)

    def q_scalar_sum(self, op, qty):
        c = self.ctx
        li = c.read(self.paths["lineitem"])
        op["input_rows"] += self.rows["lineitem"]
        with c.plan():
            price = li[li["l_quantity"] > qty]["l_extendedprice"]
        return c.scalar(price.sum)

    def q_scalar_count(self, op, disc):
        c = self.ctx
        li = c.read(self.paths["lineitem"])
        op["input_rows"] += self.rows["lineitem"]
        with c.plan():
            keys = li[li["l_discount"] > disc]["l_orderkey"]
        return c.scalar(keys.count)

    def q_concat_groupby(self, op, w1, w2):
        c = self.ctx
        parts = []
        for lo, hi in (w1, w2):
            li = c.read(self.paths["lineitem"])
            op["input_rows"] += self.rows["lineitem"]
            with c.plan():
                parts.append(li[(li["l_shipdate"] >= lo)
                                & (li["l_shipdate"] < hi)])
        with c.plan():
            out = cps.concat(parts).groupby("l_shipmode")["l_quantity"].sum()
        return c.get(out, op)

    def q_save_slice(self, op, lo, hi):
        c = self.ctx
        li = c.read(self.paths["lineitem"])
        op["input_rows"] += self.rows["lineitem"]
        with c.plan():
            f = li[(li["l_shipdate"] >= lo) & (li["l_shipdate"] < hi)]
            f = f[["l_orderkey", "l_linenumber", "l_extendedprice",
                   "l_shipdate"]]
        self._saves += 1
        path = c.out_dir(f"save-{self._saves}")
        c.write(f, path, op, cluster_by="l_orderkey")
        return path

    def run_one(self, kind: str, params: dict) -> dict:
        return self.ctx.run_op(kind, getattr(self, "q_" + kind), **params)

    def warm_up(self) -> None:
        """Untimed and unchecked: one round of every kind on the same
        tables, with parameters from another stream, and a merge of
        every join type. The first query of each shape runs at up to
        twice its later latency (class loading, code generation, JIT
        compilation); left in the timed loop, those queries would make
        the slowest queries a lottery. Smaller tables do not: after
        a warm-up on sf0.02 tables with every join type, the first
        timed merge still took twice its kind's median."""
        timed, self.ctx = self.ctx, warm_ctx(self.ctx)
        try:
            stream = interactive_queries(self.seed, salt=4)
            for _ in INTERACTIVE_KINDS:
                self.run_one(*next(stream))
            for how in JOIN_HOWS[1:]:
                self.run_one("merge_groupby_count", {"how": how})
        finally:
            self.ctx = timed

    def run(self, seconds: float) -> None:
        """Whole rounds only, so every run has the same mix of kinds."""
        for _ in range(units(seconds, INTERACTIVE_ROUND_S)
                       * len(INTERACTIVE_KINDS)):
            self.run_one(*next(self.stream))

    # -- output checks ----------------------------------------------------
    def check(self, con, op) -> bool:
        li = f"read_parquet('{self.paths['lineitem']}')"
        o = f"read_parquet('{self.paths['orders']}')"
        p, kind, got = op["params"], op["kind"], op["result"]
        if kind == "filter_groupby_sum":
            want = con.sql(
                f"SELECT l_returnflag, l_linestatus, "
                f"SUM(l_extendedprice * (1 - l_discount)) FROM {li} "
                f"WHERE l_shipdate >= {_sql_date(p['lo'])} "
                f"AND l_shipdate < {_sql_date(p['hi'])} GROUP BY ALL").df()
            return frames_match(got, want)
        if kind == "merge_groupby_count":
            how = p["how"]
            if how in ("left_semi", "left_anti"):
                neg = "NOT " if how == "left_anti" else ""
                sql = (f"SELECT l_returnflag, COUNT(l_orderkey) FROM {li} "
                       f"WHERE l_orderkey {neg}IN (SELECT o_orderkey "
                       f"FROM {o}) GROUP BY ALL")
            else:
                join = "LEFT JOIN" if how == "left" else "JOIN"
                sql = (f"SELECT o_orderpriority, COUNT(l_orderkey) "
                       f"FROM {li} l {join} {o} o ON l_orderkey = o_orderkey "
                       f"GROUP BY ALL")
            return frames_match(got, con.sql(sql).df())
        if kind == "sort_topk":
            want = con.sql(
                f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate "
                f"FROM {o} WHERE o_orderdate >= {_sql_date(p['lo'])} "
                f"AND o_orderdate < {_sql_date(p['hi'])} "
                f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {p['k']}"
            ).df()
            return frames_match(got, want)
        if kind == "scalar_sum":
            s, = con.sql(f"SELECT SUM(l_extendedprice) FROM {li} "
                         f"WHERE l_quantity > {p['qty']}").fetchone()
            return close(got, s)
        if kind == "scalar_count":
            n, = con.sql(f"SELECT COUNT(l_orderkey) FROM {li} "
                         f"WHERE l_discount > {p['disc']}").fetchone()
            return got == n
        if kind == "concat_groupby":
            (a0, a1), (b0, b1) = p["w1"], p["w2"]
            want = con.sql(
                f"SELECT l_shipmode, SUM(l_quantity) FROM ("
                f"SELECT * FROM {li} WHERE l_shipdate >= {_sql_date(a0)} "
                f"AND l_shipdate < {_sql_date(a1)} UNION ALL "
                f"SELECT * FROM {li} WHERE l_shipdate >= {_sql_date(b0)} "
                f"AND l_shipdate < {_sql_date(b1)}) GROUP BY ALL").df()
            return frames_match(got, want)
        if kind == "save_slice":
            written = con.sql(
                f"SELECT COUNT(*), SUM(l_extendedprice) FROM "
                f"read_parquet('{got}/*.parquet')").fetchone()
            want = con.sql(
                f"SELECT COUNT(*), SUM(l_extendedprice) FROM {li} "
                f"WHERE l_shipdate >= {_sql_date(p['lo'])} "
                f"AND l_shipdate < {_sql_date(p['hi'])}").fetchone()
            return written[0] == want[0] == Ctx.written(op) \
                and close(written[1], want[1])
        raise ValueError(kind)

    def passes(self) -> list[list[dict]]:
        """Consecutive rounds of all kinds (the unit of docs_per_s)."""
        ops, k = self.ctx.ops, len(INTERACTIVE_KINDS)
        return [ops[i:i + k] for i in range(0, len(ops), k)]

    def latency_ops(self) -> list[dict]:
        return self.ctx.ops


# ---------------------------------------------------------------------------
# curation: dedup + packing pass over a seeded corpus
# ---------------------------------------------------------------------------

CURATION_DOCS = 600
NEAR_DUP = {"threshold": 0.7, "num_hashes": 24, "bands": 8}
SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
CHUNK = {"max_tokens": 64, "overlap": 8}
PACK_BUDGET = 2048
#: copies written and fetches of each output per pass: the outputs are
#: small, so one write or fetch takes a fraction of a second, and the
#: write and fetch rates take the median per output
CURATION_COPIES = 2
CURATION_FETCHES = 10
#: nominal seconds of the first pass of a session on a 4-core host; a
#: pass is mostly fixed per-stage work (2000 documents take 27 s), so
#: a run makes one pass
CURATION_PASS_S = 20.0


class Curation:
    name = "curation"
    python_workers = True      # pack_sequences runs mapInPandas
    fetch_kinds = ["pass"]

    def __init__(self, ctx: Ctx, seed: int, scale: float):
        self.ctx = ctx
        n = max(300, int(CURATION_DOCS * scale))
        table, self.truth = gen.corpus(seed, n)
        self.path = os.path.join(ctx.work, "in", "documents.parquet")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        pq.write_table(table, self.path)
        toks = self.truth["survivor_tokens"]
        self.truth["chunks"] = sum(gen.chunk_count(t, **CHUNK) for t in toks)
        self.truth["chunk_tokens"] = sum(gen.chunk_tokens(t, **CHUNK)
                                         for t in toks)
        self._passes = 0

    @staticmethod
    def _materialize(sdf, pinned: list):
        """Pin and compute one stage's output, so the stage's span times
        execution and the next stage reads the pinned rows; returns the
        pinned frame and its row count."""
        from pyspark import StorageLevel

        sdf = sdf.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(sdf)
        return sdf, sdf.count()

    def one_pass(self, op) -> dict:
        c, tr = self.ctx, self.ctx.tr
        got: dict = {}
        pinned: list = []
        try:
            docs = c.read(self.path)
            op["input_rows"] += self.truth["docs"]
            with tr.span("functions.quality"):
                scores = DataFrame(quality.gopher_quality(docs.sdf, "text",
                                                          "id"))
                with c.plan():
                    keep = scores[scores["keep"] == 1][["id"]]
                    kept = docs.merge(keep, on="id", how="left_semi")
                kept, got["after_quality"] = self._materialize(kept.sdf,
                                                               pinned)
            with tr.span("functions.exact_dedup"):
                ex, got["after_exact"] = self._materialize(
                    dedup.exact_dedup(kept, "text", "id"), pinned)
            with tr.span("functions.minhash"):
                raw = dedup.minhash_near_dup(ex, "text", "id", **NEAR_DUP)
                pairs, got["near_dup_pairs"] = self._materialize(raw, pinned)
                dedup.release(raw)
            with tr.span("functions.components"):
                comp = dedup.connected_components(pairs, "doc_a", "doc_b")
                dupes = comp.filter("v <> component").select(
                    comp.v.alias("id"))
                surv, got["survivors"] = self._materialize(
                    ex.join(dupes, "id", "left_anti"), pinned)
            with tr.span("functions.splits"):
                split, _ = self._materialize(
                    sampling.assign_splits(surv, "id", SPLITS), pinned)
            with tr.span("functions.pack"):
                chunks = text.chunk_documents(surv, "text", "id", **CHUNK)
                packed = text.pack_sequences(chunks, budget=PACK_BUDGET)
                packed_p, got["chunks"] = self._materialize(packed,
                                                            pinned)
                dedup.release(packed)
            # two outputs, each written to CURATION_COPIES places and
            # fetched by CURATION_FETCHES consumers: the curated corpus
            # with its split labels, and the packing manifest
            self._passes += 1
            for i in range(CURATION_COPIES):
                out = c.out_dir(f"corpus-{self._passes}-{i}")
                c.write(DataFrame(split), out, op, "corpus",
                        cluster_by="split")
            for _ in range(CURATION_FETCHES):
                got["splits"] = c.get(c.read(out, ["id", "split"]), op,
                                      "corpus")
            for i in range(CURATION_COPIES):
                out = c.out_dir(f"packed-{self._passes}-{i}")
                c.write(DataFrame(packed_p), out, op, "packed",
                        cluster_by="seq_id")
            for _ in range(CURATION_FETCHES):
                manifest = c.read(out, ["doc", "chunk_idx", "seq_id",
                                        "seq_offset", "n_tokens"])
                got["manifest"] = c.get(manifest, op, "packed")
            got["written"] = c.written(op)
        finally:
            for p in pinned:
                p.unpersist()
        return got

    def warm_up(self) -> None:
        """None: a warm-up pass would cost as much as the timed one, so
        the timed pass is the session's first, as for a batch job."""

    def run(self, seconds: float) -> None:
        for _ in range(units(seconds, CURATION_PASS_S)):
            self.ctx.run_op("pass", self.one_pass)

    def check(self, con, op) -> bool:
        """Survivor counts against the generator's ground truth, and the
        packing against a sequential prefix sum over the manifest."""
        got, t = op["result"], self.truth
        m = got["manifest"].sort_values(["doc", "chunk_idx"])
        start = m["n_tokens"].cumsum() - m["n_tokens"]
        splits = got["splits"]
        return (got["after_quality"] == t["after_quality"]
                and got["after_exact"] == t["after_exact"]
                and got["near_dup_pairs"] == t["near_dup_pairs"]
                and got["survivors"] == t["survivors"]
                and len(splits) == splits["id"].nunique() == t["survivors"]
                and set(splits["split"]) <= set(SPLITS)
                and got["chunks"] == len(m) == t["chunks"]
                and got["written"]
                == CURATION_COPIES * (t["survivors"] + t["chunks"])
                and int(m["n_tokens"].sum()) == t["chunk_tokens"]
                and (m["seq_id"] == start // PACK_BUDGET).all()
                and (m["seq_offset"] == start % PACK_BUDGET).all())

    def passes(self) -> list[list[dict]]:
        return [[op] for op in self.ctx.ops]

    def latency_ops(self) -> list[dict]:
        return self.ctx.ops


# ---------------------------------------------------------------------------
# etl: clustered writes, pruned read-backs, one bulk fetch per pass
# ---------------------------------------------------------------------------

ETL_SLICE_DAYS = gen.DAYS // 2
ETL_READBACKS = 12
#: bulk fetches per pass; fetch_rows_per_s takes their median time
ETL_BULK_GETS = 3
ETL_FILE_ROWS = 25_000
ETL_COLUMNS = ["l_orderkey", "l_linenumber", "l_quantity",
               "l_extendedprice", "l_discount", "rev", "l_shipdate",
               "o_orderdate", "o_orderpriority", "o_custkey"]
ETL_BULK_COLUMNS = ["l_orderkey", "l_linenumber", "rev", "o_orderdate"]
#: seconds of ``--seconds`` per pass: ``--seconds 10`` makes two
#: passes; a warm pass takes about 8 s on a 4-vCPU host
ETL_PASS_S = 5.0


class Etl:
    name = "etl"
    python_workers = False
    #: the op kinds whose get() calls make fetch_rows_per_s: the bulk
    #: fetches, not the read-backs
    fetch_kinds = ["bulk_get"]

    def __init__(self, ctx: Ctx, seed: int, scale: float):
        self.ctx = ctx
        self.seed = seed
        self.rng = np.random.default_rng([seed, 5])
        self.tables = gen.tpch_tables(seed, 0.1 * scale)
        self.paths = gen.write_tables(self.tables,
                                      os.path.join(ctx.work, "in"))
        self.rows = {k: t.num_rows for k, t in self.tables.items()}
        self.max_key = int(self.tables["orders"]["o_orderkey"][-1].as_py())
        self._passes = 0
        self.pass_ops: list[list[dict]] = []

    def build_and_write(self, op, lo, hi):
        c = self.ctx
        li = c.read(self.paths["lineitem"])
        o = c.read(self.paths["orders"])
        op["input_rows"] += self.rows["lineitem"] + self.rows["orders"]
        with c.plan():
            o = o[(o["o_orderdate"] >= lo) & (o["o_orderdate"] < hi)]
            j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
            j["rev"] = j["l_extendedprice"] * (1 - j["l_discount"])
            out = j[ETL_COLUMNS]
        self._passes += 1
        path = c.out_dir(f"slice-{self._passes}")
        c.write(out, path, op, cluster_by="l_orderkey",
                max_records_per_file=ETL_FILE_ROWS)
        return path

    def read_back(self, op, path, lo, hi):
        c = self.ctx
        r = c.read(path)
        with c.plan():
            q = r[(r["l_orderkey"] >= lo) & (r["l_orderkey"] < hi)]
        return c.get(q, op)

    def bulk_get(self, op, path):
        c = self.ctx
        pdf = c.get(c.read(path, ETL_BULK_COLUMNS), op)
        return {"rows": len(pdf), "rev": float(pdf["rev"].sum())}

    def one_pass(self, n_readbacks: int, n_bulk: int) -> list[dict]:
        """Write a slice, then ``n_bulk`` bulk fetches of it, each after
        an equal share of the ``n_readbacks`` read-backs."""
        rng, c = self.rng, self.ctx
        lo, hi = _window(rng, ETL_SLICE_DAYS)
        w = c.run_op("write", self.build_and_write, lo=lo, hi=hi)
        ops = [w]
        if not w["ok"]:
            return ops
        path = w["result"]
        for _ in range(n_bulk):
            for _ in range(n_readbacks // n_bulk):
                k0 = int(rng.integers(0, self.max_key))
                ops.append(c.run_op("read_back", self.read_back, path=path,
                                    lo=k0, hi=k0 + 4 * 12))
            ops.append(c.run_op("bulk_get", self.bulk_get, path=path))
        return ops

    def warm_up(self) -> None:
        """Untimed: one pass with one read-back on sf0.001 tables, which
        pays the first write's and read's class loading."""
        Etl(warm_ctx(self.ctx), self.seed, 0.01).one_pass(1, 1)

    def run(self, seconds: float) -> None:
        for _ in range(units(seconds, ETL_PASS_S)):
            self.pass_ops.append(self.one_pass(ETL_READBACKS, ETL_BULK_GETS))

    def check(self, con, op) -> bool:
        kind, p, got = op["kind"], op["params"], op["result"]
        if kind == "write":
            li = f"read_parquet('{self.paths['lineitem']}')"
            o = f"read_parquet('{self.paths['orders']}')"
            written = con.sql(
                f"SELECT COUNT(*), SUM(rev) FROM "
                f"read_parquet('{got}/*.parquet')").fetchone()
            want = con.sql(
                f"SELECT COUNT(*), SUM(l_extendedprice * (1 - l_discount)) "
                f"FROM {li} l JOIN {o} o ON l_orderkey = o_orderkey "
                f"WHERE o_orderdate >= {_sql_date(p['lo'])} "
                f"AND o_orderdate < {_sql_date(p['hi'])}").fetchone()
            return written[0] == want[0] == Ctx.written(op) \
                and close(written[1], want[1])
        src = f"read_parquet('{p['path']}/*.parquet')"
        if kind == "read_back":
            want = con.sql(
                f"SELECT {', '.join(ETL_COLUMNS)} FROM {src} "
                f"WHERE l_orderkey >= {p['lo']} AND l_orderkey < {p['hi']}"
            ).df()
            return frames_match(got[ETL_COLUMNS], want)
        if kind == "bulk_get":
            n, s = con.sql(f"SELECT COUNT(*), SUM(rev) FROM {src}").fetchone()
            return got["rows"] == n and close(got["rev"], s)
        raise ValueError(kind)

    def passes(self) -> list[list[dict]]:
        return self.pass_ops

    def latency_ops(self) -> list[dict]:
        return [op for op in self.ctx.ops if op["kind"] == "read_back"]


WORKLOADS = {w.name: w for w in (Interactive, Curation, Etl)}


# ---------------------------------------------------------------------------
# end-to-end metrics
# ---------------------------------------------------------------------------

def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a weighted mean of
    all order statistics, with Beta((n+1)q, (n+1)(1-q)) weights. Unlike
    the sample quantile it does not jump from one operation kind's
    latency to the next kind's when two samples swap places. Exact for
    one sample."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    # Beta CDF at i/n by the midpoint rule, 100 steps per order statistic
    t = (np.arange(100 * n) + 0.5) / (100 * n)
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    w = np.diff(cdf[::100]) / cdf[-1]
    return float(w @ x)


def typical_rate(samples: list[dict], num: str, den: str) -> float:
    """sum(num) / sum(den) over ``samples``, with each sample's values
    replaced by the medians of its kind: the run's throughput, which a
    few operations slowed by a burst of load on the host do not move."""
    by_kind: dict[str, list[dict]] = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s)
    med = statistics.median
    n = sum(len(v) * med(s[num] for s in v) for v in by_kind.values())
    d = sum(len(v) * med(s[den] for s in v) for v in by_kind.values())
    return n / d if d else float("nan")


def end_to_end(wl, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics, sample counts) for the timed ops of ``wl``."""
    ok = [op for op in wl.ctx.ops if op["ok"]]
    lat = [op["latency_s"] for op in wl.latency_ops() if op["ok"]]
    passes = [p for p in wl.passes() if all(op["ok"] for op in p)]
    pass_ops = [op for p in passes for op in p]
    writes = [w for op in ok for w in op["writes"]]
    fetches = [f for op in ok for f in op["fetches"]
               if f["kind"].split("/")[0] in wl.fetch_kinds]

    def m(value, unit):
        return {"value": value, "unit": unit}

    metrics = {
        "setup_s": m(setup_s, "s"),
        "peak_rss_mb": m(peak_rss_mb, "MB"),
        "latency_p50_s": m(quantile(lat, 0.5) if lat else float("nan"),
                           "s"),
        "latency_p90_s": m(quantile(lat, 0.9) if lat else float("nan"),
                           "s"),
        "docs_per_s": m(typical_rate(pass_ops, "input_rows", "latency_s"),
                        "docs/s"),
        "write_rows_per_s": m(typical_rate(writes, "rows", "s"), "rows/s"),
        "fetch_rows_per_s": m(typical_rate(fetches, "rows", "s"), "rows/s"),
    }
    samples = {"latency": len(lat), "passes": len(passes),
               "writes": len(writes), "fetches": len(fetches)}
    return metrics, samples
