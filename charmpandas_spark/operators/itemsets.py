"""Association-rule mining (market-basket analysis) over event logs.

Beyond the reference surface (north star): the "users who do X also
do Y" primitive behind cross-sell suggestions, next-action hints and
co-occurrence diagnostics. Classic Apriori terminology:

- support(X -> Y)    = n(X,Y) / n_baskets
- confidence(X -> Y) = n(X,Y) / n(X)
- lift(X -> Y)       = confidence / (n(Y) / n_baskets)

All three are emitted as floored integer micro-units so the whole
pipeline replays bit-for-bit in DuckDB (the repo's log-free integer
doctrine): ``lift_micro`` is derived from the already-floored
``confidence_micro`` — ``(confidence_micro * n_baskets) div n(Y)``
— precisely so every product stays under 2^63 while n_baskets stays
under ~9e12 (a DECIMAL(38,0) swap is the knob beyond that; noted
below, not needed at any tested scale).

Plan shape: the basket self-join emits k^2 rows per
basket where k = DISTINCT items per basket — bounded by the item
domain (event taxonomies are small) or by the explicit
``max_items_per_basket`` guard, never by basket row count. Shuffles:
one exchange to distinct (basket, item), one self-join on the basket
key (hash-uniform: basket ids), one aggregation exchange on the
(antecedent, consequent) pair. Item totals are a domain-sized table
and broadcast; n_baskets rides the plan as a broadcast 1-row
aggregate — nothing materializes on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window, functions as F

__all__ = ["association_rules", "association_rules_sql"]

MICRO = 1_000_000


def association_rules(
    df: SparkDF,
    basket_col: str,
    item_col: str,
    min_support_micro: int = 0,
    min_confidence_micro: int = 0,
    max_items_per_basket: int | None = None,
) -> SparkDF:
    """Directed rules ``(antecedent, consequent)`` over all ordered
    item pairs co-occurring in at least one basket, with exact
    ``n_ab`` plus floored-micro support / confidence / lift.

    ``max_items_per_basket`` (optional, OFF by default) caps each
    basket to its ``k`` alphabetically-first distinct items before
    pairing — the web-scale guard against a pathological basket
    containing the whole item domain (k^2 fan-out). It is a LOSSY
    knob like ``ngram_jaccard_pairs``'s ``max_df``: capped counts are
    lower bounds, documented rather than silent.
    """
    items = (df.select(F.col(basket_col).alias("__bk"),
                       F.col(item_col).alias("__it"))
               .where(F.col(item_col).isNotNull())
               .distinct())
    if max_items_per_basket is not None:
        w = Window.partitionBy("__bk").orderBy("__it")
        items = (items.withColumn("__rn", F.row_number().over(w))
                      .where(F.col("__rn") <= max_items_per_basket)
                      .drop("__rn"))

    # n_baskets rides the plan as a broadcast 1-row aggregate (the
    # histogram/resample convention) — no eager driver-side count.
    totals = items.agg(
        F.countDistinct("__bk").alias("__n_baskets"))
    item_n = items.groupBy("__it").agg(F.count(F.lit(1)).alias("__n"))

    a = items.alias("a")
    b = items.alias("b")
    pair_n = (a.join(b, on=[F.col("a.__bk") == F.col("b.__bk"),
                            F.col("a.__it") != F.col("b.__it")])
               .groupBy(F.col("a.__it").alias("antecedent"),
                        F.col("b.__it").alias("consequent"))
               .agg(F.count(F.lit(1)).alias("n_ab")))

    n_a = F.broadcast(item_n.select(
        F.col("__it").alias("antecedent"), F.col("__n").alias("__n_a")))
    n_c = F.broadcast(item_n.select(
        F.col("__it").alias("consequent"), F.col("__n").alias("__n_c")))
    out = (pair_n.join(n_a, "antecedent").join(n_c, "consequent")
                 .crossJoin(F.broadcast(totals)))

    support = F.expr(f"({MICRO} * n_ab) div __n_baskets")
    confidence = F.expr(f"({MICRO} * n_ab) div __n_a")
    out = (out.withColumn("support_micro", support)
              .withColumn("confidence_micro", confidence)
              # two-stage floor: lift from the FLOORED confidence so
              # no product exceeds 1e6 * n_baskets (overflow doctrine
              # in the module docstring)
              .withColumn("lift_micro", F.expr(
                  "(confidence_micro * __n_baskets) div __n_c")))
    return (out.where((F.col("support_micro") >= min_support_micro)
                      & (F.col("confidence_micro")
                         >= min_confidence_micro))
               .select("antecedent", "consequent", "n_ab",
                       "support_micro", "confidence_micro",
                       "lift_micro"))


def association_rules_sql(
    t: str,
    basket_expr: str,
    item_expr: str,
    min_support_micro: int = 0,
    min_confidence_micro: int = 0,
) -> str:
    """DuckDB twin: identical distinct -> self-join -> floored-micro
    derivation (including the two-stage lift floor)."""
    return f"""
        WITH items AS (
            SELECT DISTINCT {basket_expr} AS bk, {item_expr} AS it
            FROM {t} WHERE {item_expr} IS NOT NULL),
        tot AS (SELECT count(DISTINCT bk) AS n_baskets FROM items),
        item_n AS (SELECT it, CAST(count(*) AS BIGINT) AS n
                   FROM items GROUP BY it),
        pair_n AS (
            SELECT a.it AS antecedent, b.it AS consequent,
                   CAST(count(*) AS BIGINT) AS n_ab
            FROM items a JOIN items b
              ON a.bk = b.bk AND a.it <> b.it
            GROUP BY a.it, b.it),
        scored AS (
            SELECT p.antecedent, p.consequent, p.n_ab,
                   ({MICRO} * p.n_ab) // t2.n_baskets
                       AS support_micro,
                   ({MICRO} * p.n_ab) // na.n AS confidence_micro,
                   ((({MICRO} * p.n_ab) // na.n) * t2.n_baskets)
                       // nc.n AS lift_micro
            FROM pair_n p
            JOIN item_n na ON na.it = p.antecedent
            JOIN item_n nc ON nc.it = p.consequent
            CROSS JOIN tot t2)
        SELECT antecedent, consequent, n_ab, support_micro,
               confidence_micro, lift_micro
        FROM scored
        WHERE support_micro >= {min_support_micro}
          AND confidence_micro >= {min_confidence_micro}
    """
