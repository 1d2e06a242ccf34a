"""MERGE INTO (upsert) as a pure DataFrame transform.

Lakehouse tables get maintained by CDC-style merges: a (small) batch
of changed rows lands against a (huge) base table, and the result is
    matched rows    -> source values        (WHEN MATCHED UPDATE)
    matched+delete  -> dropped              (WHEN MATCHED AND d DELETE)
    unmatched base  -> kept
    unmatched batch -> inserted             (WHEN NOT MATCHED INSERT)

Spark has no MERGE for plain parquet relations, but the relational
algebra is one full-outer join — this module compiles exactly that,
returning the merged DataFrame for the caller to write back (classic
copy-on-write).

Scale: the default plan is ONE full-outer shuffle join on the merge
keys — each side shuffles once, AQE handles skew. Full-outer is not
broadcast-able in Spark (no BroadcastHashJoin mode for it), so for
the overwhelmingly common small-batch case ``broadcast_source=True``
switches to the two-join equivalent: a broadcast LEFT join applies
updates with ZERO base-table shuffle, and the insert arm anti-joins
the batch against a keys-only projection of the base (shuffles just
the key columns). The broadcast plan moves no base-table rows
across the wire; pair it with a clustered/bucketed base layout and
the rewrite itself prunes to touched files.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame as SparkDF, functions as F

__all__ = ["merge_into", "merge_into_sql", "table_diff", "table_diff_sql"]


def merge_into(
    target: SparkDF,
    source: SparkDF,
    on: Sequence[str],
    update: bool = True,
    insert: bool = True,
    delete_col: str | None = None,
    broadcast_source: bool = False,
) -> SparkDF:
    """Merge ``source`` into ``target`` on key columns ``on``;
    returns the merged frame (target schema + any source-only
    columns, ``delete_col`` excluded).

    ``update=False`` keeps target values on match (insert-only merge);
    ``delete_col`` names a boolean source column — matched rows where
    it is true are deleted. Rows of ``source`` must be unique per key
    (assert upstream; a multi-row match would multiply base rows —
    same contract as SQL MERGE's cardinality check).
    """
    on = list(on)
    t_cols = target.columns
    s_cols = [c for c in source.columns if c != delete_col]
    s_extra = [c for c in s_cols if c not in t_cols]
    out_cols = t_cols + s_extra

    t = target.alias("t").withColumn("__cps_t", F.lit(True))
    s = source.alias("s").withColumn("__cps_s", F.lit(True))

    def pick(c: str, matched):
        """Output value for column c given match state."""
        tc = F.col(f"t.{c}") if c in t_cols else F.lit(None)
        sc = F.col(f"s.{c}") if c in source.columns else F.lit(None)
        if c in on:
            return F.coalesce(tc, sc).alias(c)
        if c not in source.columns:
            return tc.alias(c)
        if c not in t_cols:
            return sc.alias(c)
        if update:
            return F.when(matched | F.col("__cps_t").isNull(), sc) \
                    .otherwise(tc).alias(c)
        return F.when(F.col("__cps_t").isNull(), sc).otherwise(tc).alias(c)

    if broadcast_source:
        # USING-style join merges the key columns; t./s. prefixes only
        # resolve for non-key columns here.
        matched = F.col("__cps_s").isNotNull()
        upd = t.join(F.broadcast(s), on=on, how="left")
        if delete_col is not None:
            upd = upd.where(~(matched & F.coalesce(
                F.col(f"s.{delete_col}"), F.lit(False))))

        def upd_pick(c: str):
            if c in on:
                return F.col(c)
            tc = F.col(f"t.{c}") if c in t_cols else None
            sc = F.col(f"s.{c}") if c in source.columns else None
            if tc is None:
                return sc.alias(c)
            if sc is None:
                return tc.alias(c)
            return (F.when(matched, sc).otherwise(tc).alias(c)
                    if update else tc.alias(c))

        upd = upd.select(*[upd_pick(c) for c in out_cols])
        if not insert:
            return upd
        ins_rows = source.join(target.select(*on).distinct(),
                               on=on, how="left_anti")
        if delete_col is not None:
            ins_rows = ins_rows.where(~F.coalesce(F.col(delete_col),
                                                  F.lit(False)))
        t_types = {f.name: f.dataType for f in target.schema.fields}
        ins = ins_rows.select(*[
            F.col(c).alias(c) if c in source.columns
            else F.lit(None).cast(t_types[c]).alias(c)
            for c in out_cols])
        return upd.unionByName(ins)

    j = t.join(s, on=[F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
                      for k in on],
               how="full_outer")
    matched = F.col("__cps_t").isNotNull() & F.col("__cps_s").isNotNull()
    if delete_col is not None:
        j = j.where(~(matched & F.coalesce(F.col(f"s.{delete_col}"),
                                           F.lit(False))))
    if not insert:
        j = j.where(F.col("__cps_t").isNotNull())

    def key_pick(k: str):
        return F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k)

    sel = [key_pick(c) if c in on else pick(c, matched) for c in out_cols]
    return j.select(*sel)


def merge_into_sql(target: str, source: str, on: Sequence[str],
                   t_cols: Sequence[str], s_cols: Sequence[str],
                   update: bool = True, insert: bool = True) -> str:
    """DuckDB twin of the full-outer :func:`merge_into` plan (no
    delete arm) for oracle verification."""
    on = list(on)
    keys = " AND ".join(f"t.{k} IS NOT DISTINCT FROM s.{k}" for k in on)
    s_extra = [c for c in s_cols if c not in t_cols]
    out_cols = list(t_cols) + s_extra
    sel = []
    for c in out_cols:
        if c in on:
            sel.append(f"coalesce(t.{c}, s.{c}) AS {c}")
        elif c in s_cols and c in t_cols:
            src = (f"CASE WHEN s.__k IS NOT NULL THEN s.{c} ELSE t.{c} END"
                   if update else
                   f"CASE WHEN t.__k IS NULL THEN s.{c} ELSE t.{c} END")
            sel.append(f"{src} AS {c}")
        elif c in s_cols:
            sel.append(f"s.{c} AS {c}")
        else:
            sel.append(f"t.{c} AS {c}")
    where = "" if insert else "WHERE t.__k IS NOT NULL"
    return f"""
        SELECT {", ".join(sel)}
        FROM (SELECT *, TRUE AS __k FROM {target}) t
        FULL OUTER JOIN (SELECT *, TRUE AS __k FROM {source}) s
          ON {keys}
        {where}
    """


def table_diff(
    old: SparkDF,
    new: SparkDF,
    on: Sequence[str],
    compare_cols: Sequence[str] | None = None,
    include_unchanged: bool = False,
) -> SparkDF:
    """Snapshot diff: classify every key as ``insert`` (only in
    ``new``), ``delete`` (only in ``old``), ``update`` (in both, some
    compared column differs null-safely) or ``unchanged`` — the audit
    complement of :func:`merge_into` (what DID that merge change?).

    Output: the key columns + ``change_type``; ``unchanged`` rows are
    dropped unless ``include_unchanged`` (changed rows are usually
    the minority — the plan never materializes the rest).

    Scale: ONE full-outer shuffle join on the keys; the per-column
    null-safe comparison is a scan-local expression. For
    append-mostly tables partitioned on time, partition-prune both
    sides to the overlapping window before diffing.
    """
    on = list(on)
    if compare_cols is None:
        compare_cols = [c for c in old.columns
                        if c in new.columns and c not in on]
    o = old.alias("o").withColumn("__cps_o", F.lit(True))
    n = new.alias("n").withColumn("__cps_n", F.lit(True))
    j = o.join(n, on=[F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
                      for k in on],
               how="full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change = (F.when(F.col("__cps_o").isNull(), F.lit("insert"))
               .when(F.col("__cps_n").isNull(), F.lit("delete"))
               .when(differs, F.lit("update"))
               .otherwise(F.lit("unchanged")))
    out = j.select(*[F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}"))
                     .alias(k) for k in on],
                   change.alias("change_type"))
    if not include_unchanged:
        out = out.where(F.col("change_type") != "unchanged")
    return out


def table_diff_sql(old: str, new: str, on: Sequence[str],
                   compare_cols: Sequence[str],
                   include_unchanged: bool = False) -> str:
    """DuckDB twin of :func:`table_diff`."""
    on = list(on)
    keys = " AND ".join(f"o.{k} IS NOT DISTINCT FROM n.{k}" for k in on)
    differs = " OR ".join(f"o.{c} IS DISTINCT FROM n.{c}"
                          for c in compare_cols) or "FALSE"
    sel_keys = ", ".join(f"coalesce(o.{k}, n.{k}) AS {k}" for k in on)
    where = ("" if include_unchanged
             else "WHERE change_type <> 'unchanged'")
    return f"""
        SELECT * FROM (
            SELECT {sel_keys},
                   CASE WHEN o.__k IS NULL THEN 'insert'
                        WHEN n.__k IS NULL THEN 'delete'
                        WHEN {differs} THEN 'update'
                        ELSE 'unchanged' END AS change_type
            FROM (SELECT *, TRUE AS __k FROM {old}) o
            FULL OUTER JOIN (SELECT *, TRUE AS __k FROM {new}) n
              ON {keys})
        {where}
    """
