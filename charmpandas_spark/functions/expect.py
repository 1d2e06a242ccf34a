"""Declarative data-quality expectations — one validation pass per
table, one result row per rule.

An ingest pipeline needs its contracts checked WITHOUT one job
per rule: every row-level rule here (not_null / range / regex /
in_set / unique) compiles into a single global aggregate over one
scan — conditional sums ride the same partial-aggregation pass, so
the cost is one table scan + a 1-row shuffle no matter how many rules
are attached. Referential-integrity rules need a join by nature; each
compiles to a broadcast LEFT ANTI count against its (small) dimension
and unions into the same result frame lazily.

Result schema (one row per rule):
    rule STRING, violations BIGINT, total BIGINT, ok BOOLEAN

Rules are plain tuples so configs can live in JSON/YAML:
    ("not_null", col)
    ("range", col, lo, hi)          # violation: NULL or outside [lo, hi]
    ("regex", col, pattern)         # violation: NULL or no full match
    ("in_set", col, [v, ...])       # violation: NULL or not in set
    ("unique", col)                 # violations: non-null dup rows
    ("fk", col, dim_df, dim_col)    # violation: non-null value absent
                                    # from the dimension
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import DataFrame as SparkDF, functions as F

__all__ = ["validate", "validate_sql"]


def _rule_name(rule: Sequence[Any]) -> str:
    kind, col = rule[0], rule[1]
    return f"{kind}:{col}"


def _violation_expr(rule: Sequence[Any]):
    """Column summing this rule's violations (row-level rules only)."""
    kind = rule[0]
    c = F.col(rule[1])
    if kind == "not_null":
        cond = c.isNull()
    elif kind == "range":
        lo, hi = rule[2], rule[3]
        cond = c.isNull() | ~c.between(F.lit(lo), F.lit(hi))
    elif kind == "regex":
        cond = c.isNull() | ~c.rlike(rule[2])
    elif kind == "in_set":
        cond = c.isNull() | ~c.isin(list(rule[2]))
    elif kind == "unique":
        # handled via count/count_distinct, not a per-row condition
        raise AssertionError("unique is not a row condition")
    else:
        raise ValueError(f"unknown rule kind {kind!r}")
    return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")


def validate(df: SparkDF, rules: Sequence[Sequence[Any]]) -> SparkDF:
    """Compile ``rules`` against ``df`` into a lazy result frame with
    one (rule, violations, total, ok) row per rule.

    All non-fk rules share ONE aggregation job (one scan); each fk
    rule adds a broadcast anti-join count. Nothing executes until the
    result is acted on.
    """
    row_rules = [r for r in rules if r[0] not in ("fk", "unique")]
    uniq_rules = [r for r in rules if r[0] == "unique"]
    fk_rules = [r for r in rules if r[0] == "fk"]

    aggs = [F.count(F.lit(1)).alias("__total")]
    names: list[str] = []
    for i, r in enumerate(row_rules):
        aggs.append(_violation_expr(r).alias(f"__v{i}"))
        names.append(_rule_name(r))
    for j, r in enumerate(uniq_rules):
        c = r[1]
        aggs.append((F.count(c) - F.count_distinct(F.col(c)))
                    .cast("bigint").alias(f"__u{j}"))
        names.append(_rule_name(r))
    one = df.agg(*aggs)

    # unpivot the 1-row aggregate into (rule, violations, total)
    cols = [f"__v{i}" for i in range(len(row_rules))] + \
           [f"__u{j}" for j in range(len(uniq_rules))]
    stack_args = ", ".join(
        f"'{name}', {col}" for name, col in zip(names, cols))
    parts = []
    if cols:
        parts.append(one.select(
            F.expr(f"stack({len(cols)}, {stack_args}) as (rule, violations)"),
            F.col("__total").alias("total")))

    for r in fk_rules:
        _, col, dim, dim_col = r
        missing = (df.where(F.col(col).isNotNull())
                     .join(F.broadcast(dim.select(F.col(dim_col).alias(col))
                                          .distinct()),
                           on=col, how="left_anti")
                     .agg(F.count(F.lit(1)).cast("bigint")
                           .alias("violations")))
        total = df.agg(F.count(F.lit(1)).alias("total"))
        parts.append(missing.crossJoin(F.broadcast(total))
                            .select(F.lit(_rule_name(r)).alias("rule"),
                                    "violations", "total"))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("ok", F.col("violations") == 0)


def _violation_sql(rule: Sequence[Any]) -> str:
    kind, col = rule[0], rule[1]
    if kind == "not_null":
        cond = f"{col} IS NULL"
    elif kind == "range":
        cond = (f"({col} IS NULL OR {col} < {rule[2]!r}"
                f" OR {col} > {rule[3]!r})")
    elif kind == "regex":
        cond = (f"({col} IS NULL OR NOT regexp_full_match({col},"
                f" '{rule[2]}'))")
    elif kind == "in_set":
        vals = ", ".join(repr(v) for v in rule[2])
        cond = f"({col} IS NULL OR {col} NOT IN ({vals}))"
    else:
        raise ValueError(kind)
    return f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"


def validate_sql(t: str, rules: Sequence[Sequence[Any]]) -> str:
    """DuckDB twin of :func:`validate` for oracle verification.

    fk rules reference their dimension as ``(fk, col, dim_table,
    dim_col)`` with a table NAME (the oracle runs against registered
    views, not DataFrames). Spark's ``rlike`` is a substring match,
    so the regex twin wraps the pattern unanchored via regexp_matches.
    """
    selects = []
    for r in rules:
        kind, col = r[0], r[1]
        name = f"{kind}:{col}"
        if kind == "fk":
            dim_t, dim_col = r[2], r[3]
            selects.append(f"""
                SELECT '{name}' AS rule,
                       CAST(count(*) FILTER (WHERE {col} IS NOT NULL
                            AND {col} NOT IN (SELECT {dim_col}
                                              FROM {dim_t})) AS BIGINT)
                           AS violations,
                       CAST(count(*) AS BIGINT) AS total
                FROM {t}""")
        elif kind == "unique":
            selects.append(f"""
                SELECT '{name}' AS rule,
                       CAST(count({col}) - count(DISTINCT {col}) AS BIGINT)
                           AS violations,
                       CAST(count(*) AS BIGINT) AS total
                FROM {t}""")
        elif kind == "regex":
            selects.append(f"""
                SELECT '{name}' AS rule,
                       CAST(sum(CASE WHEN {col} IS NULL
                                     OR NOT regexp_matches({col}, '{r[2]}')
                                THEN 1 ELSE 0 END) AS BIGINT) AS violations,
                       CAST(count(*) AS BIGINT) AS total
                FROM {t}""")
        else:
            selects.append(f"""
                SELECT '{name}' AS rule, {_violation_sql(r)} AS violations,
                       CAST(count(*) AS BIGINT) AS total
                FROM {t}""")
    union = " UNION ALL ".join(selects)
    return f"SELECT rule, violations, total, violations = 0 AS ok FROM ({union})"
