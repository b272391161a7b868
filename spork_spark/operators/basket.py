"""Market-basket / co-occurrence mining: pairwise association rules
over (basket, item) data — the Apriori 1- and 2-itemset layer and the
item-item half of a co-occurrence recommender (extension beyond the
reference surface; SURVEY.md §2.11 family, next to pmi_pairs, whose
per-document shape this generalizes to arbitrary basket keys).

Exact-integer discipline: supports are counts, and the two ratio
signals multiply out to integer ratios under scaled division —
    lift      = co·N / (n_a·n_b)        → lift_e6
    cosine²   = co² / (n_a·n_b)         → cos2_e6
(cosine is sqrt-bound so its SQUARE is what stays exact; ordering by
cos² equals ordering by cosine on non-negatives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _sorted_pairs


def item_cooccurrence(df: DataFrame, basket_col: str, item_col: str,
                      min_support: int = 2, max_basket: int = 100,
                      min_pair: int = 2,
                      out_scale: int = 10 ** 6) -> DataFrame:
    """Pairwise item co-occurrence with support, lift and cosine².

    Output: (item_a, item_b, co, n_a, n_b, lift_e6, cos2_e6) for
    item_a < item_b — `co` baskets contain both, `n_a`/`n_b` contain
    each. lift > 1e6 means the pair co-occurs more than independence
    predicts; cos2 is the recommender's similarity squared.

    Scale shape (the pmi_pairs contract, itemized): distinct
    (basket, item) first, then item supports with `min_support` (noise
    floor) and basket sizes with `max_basket` — a power-user basket of
    10⁴ items would contribute C(10⁴,2) pairs and mostly noise, so the
    ceiling is what keeps the per-basket self-equi-join sub-quadratic
    (cap-or-salt is the deployment call; capping drops the basket,
    documented). Pair counts get map-side combine; supports join back
    broadcast (vocabulary-sized); N is a 1-row broadcast.
    """
    # ONE basket-keyed aggregate builds the distinct item set per basket
    # (collect_set dedups in the partial agg — no separate (b, i)
    # dropDuplicates exchange, and size(__is) IS the old distinct-item
    # basket size, so the max_basket cap applies right on the aggregate).
    # The old shape re-executed the bi subplan three times (the pair
    # self-join's two alias-renamed sides defeat ReuseExchange, plus the
    # n_baskets countDistinct consumer) and shuffled it for the sizes
    # join and both join sides; this runs it once through one exchange.
    baskets = (df.where(F.col(basket_col).isNotNull()
                        & F.col(item_col).isNotNull())
                 .select(F.col(basket_col).alias("__b"),
                         F.col(item_col).alias("__i"))
                 .groupBy("__b")
                 .agg(F.collect_set("__i").alias("__is"))
                 .where(F.size("__is") <= max_basket))
    # item supports over capped baskets; the explode preserves the
    # basket partitioning, so the supported-item re-group below is
    # exchange-free (Generate + broadcast join keep hashpartitioning(__b))
    ex = baskets.select("__b", F.explode("__is").alias("__i"))
    supp = (ex.groupBy("__i").agg(F.count(F.lit(1)).alias("__n"))
              .where(F.col("__n") >= min_support))
    kept = (ex.join(F.broadcast(supp.select("__i")), on="__i")
              .groupBy("__b")
              .agg(F.sort_array(F.collect_set("__i")).alias("__is")))
    n_baskets = kept.select(F.count(F.lit(1)).alias("__N"))
    # (i < j) pair expansion in place of the basket self-equi-join:
    # items are unique per basket and sorted, so the (i < j) expansion
    # emits exactly the item_a < item_b pairs the join's filter kept
    pairs = (_sorted_pairs(kept.where(F.size("__is") >= 2),
                           "__is", "item_a", "item_b")
               .groupBy("item_a", "item_b")
               .agg(F.count(F.lit(1)).alias("co"))
               .where(F.col("co") >= min_pair))
    sa = supp.select(F.col("__i").alias("item_a"),
                     F.col("__n").alias("n_a"))
    sb = supp.select(F.col("__i").alias("item_b"),
                     F.col("__n").alias("n_b"))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return (pairs.join(F.broadcast(sa), on="item_a")
                 .join(F.broadcast(sb), on="item_b")
                 .crossJoin(F.broadcast(n_baskets))
                 .withColumn("lift_e6", F.expr(
                     f"(cast(co as decimal(38,0)) * __N * {out_scale})"
                     f" div (cast(n_a as decimal(38,0)) * n_b)")
                     .cast("long"))
                 .withColumn("cos2_e6", F.expr(
                     f"(cast(co as decimal(38,0)) * co * {out_scale})"
                     f" div (cast(n_a as decimal(38,0)) * n_b)")
                     .cast("long"))
                 .select("item_a", "item_b", "co", "n_a", "n_b",
                         "lift_e6", "cos2_e6"))
