"""Sort / limit / top-k operators (SURVEY §2.7 O1–O5).

Top-k goes through Spark's TakeOrderedAndProject (per-partition heap + driver
merge — no global sort), which is exactly the plan you want at 100 TB. Every
ORDER BY carries a unique tie-breaker key so the result SET is deterministic
(the oracle hash is order-insensitive but the row set must be stable).
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from ..io import load
from ._util import sql_dsum


def topk_by_value(spark, sf_dir):
    """O3: top-k by score (ref: FAISS search n=15, rag_search.py:35;
    argsort-desc top 3, eu_theme_classifier.py:37-43)."""
    o = load(spark, sf_dir, "orders")
    # o_custkey closes the sort key over the full OUTPUT row: dirty data
    # can tie (NaN o_totalprice, NULL o_orderkey) with different
    # custkeys, and a tie group straddling the rank-25 boundary would
    # make the emitted SET arrival-order-dependent (r12 order-invariance
    # class; NaN sorts greatest in both engines). Identity on clean data.
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey", "o_custkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(25)
    )


def sort_limit_offset(spark, sf_dir):
    """O2: paging — limit+offset (ref: rows=100&start=offset,
    data_gov_uk/assets.py:104-109; limit=1000&offset=3000, ons assets.py:75-82)."""
    o = load(spark, sf_dir, "orders")
    # o_totalprice closes the key over the output row (see topk_by_value)
    return (
        o.orderBy("o_orderdate", "o_orderkey", "o_totalprice")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .offset(100)
        .limit(50)
    )


def recency_sort(spark, sf_dir):
    """O1: sort by recency desc (ref: sort=metadata_created desc,
    data_gov_uk/assets.py:106). Full deterministic order, top slice."""
    ev = load(spark, sf_dir, "events")
    # event_type closes the key over the output row (see topk_by_value)
    return (
        ev.orderBy(F.desc("ts"), "event_id", "event_type")
        .select("event_id", "ts", "event_type")
        .limit(100)
    )


def topk_per_group(spark, sf_dir):
    """Engine surface: top-3 per group (window rank + filter) — the
    distributed form of per-key top-k."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def elbow_cut(spark, sf_dir):
    """O4: adaptive elbow cut over a ranked distance list
    (ref: resources/embedding/rag_search.py:77-119 — after sorting distances
    ascending, cut at the first consecutive diff > max(2.5*median_diff, 0.05);
    keep everything before the cut).

    Here applied to the 15 nearest embeddings to the vec_id=0 query vector by
    (exact) squared L2 distance, mirroring the FAISS IndexFlatL2 stage."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("q_embedding"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from ._util import finite

    # defined distances only: a corrupt vector (NULL/NaN element) yields
    # a NULL/NaN dist, which ASC NULLS FIRST would rank INTO the top-15
    # ahead of every real neighbor and poison the elbow (r11 element-null
    # probe — the same class the vector_elements_valid check rejects)
    topk = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", F.round(dist, 6).alias("dist"))
        .filter(F.col("dist").isNotNull() & finite(F.col("dist")))
        .orderBy("dist", "vec_id")
        .limit(15)
    )
    w = W.orderBy("dist", "vec_id")
    diffs = topk.select(
        "vec_id",
        "dist",
        F.row_number().over(w).alias("rnk"),
        (F.col("dist") - F.lag("dist", 1).over(w)).alias("diff"),
    )
    # r19 (guide §5): diffs is FIFTEEN rows, but it feeds both the
    # median-diff aggregate and the cut scan, and each consumer re-ran
    # the whole corpus KNN (scan + distance + top-15) behind it — 4
    # listed scans in the census plan. Lazy checkpoint runs the KNN
    # once; local A/B flat under box noise, the win is the saved
    # corpus pass at scale (15-row materialization is free).
    diffs = diffs.localCheckpoint(eager=False)
    med = diffs.select(
        F.expr("percentile(diff, 0.5)").alias("median_diff")
    )
    cut = (
        diffs.join(F.broadcast(med))
        .withColumn(
            "is_cut",
            F.when(
                F.col("diff")
                > F.greatest(F.lit(2.5) * F.col("median_diff"), F.lit(0.05)),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "cut_seen",
            F.sum("is_cut").over(
                W.orderBy("rnk").rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .filter(F.col("cut_seen") == 0)
        .select("vec_id", "dist", "rnk")
    )
    return cut


def register(reg):
    reg.add(
        "topk_by_value",
        topk_by_value,
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey, o_custkey LIMIT 25",
    )
    reg.add(
        "sort_limit_offset",
        sort_limit_offset,
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
        "ORDER BY o_orderdate, o_orderkey, o_totalprice LIMIT 50 OFFSET 100",
    )
    reg.add(
        "sort_recency",
        recency_sort,
        "SELECT event_id, ts, event_type FROM events "
        "ORDER BY ts DESC, event_id, event_type LIMIT 100",
    )
    reg.add(
        "topk_per_group",
        topk_per_group,
        "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "FROM orders) t WHERE rn <= 3",
    )
    reg.add(
        "elbow_cut",
        elbow_cut,
        """
WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         ROUND(list_sum(list_transform(list_zip(e.embedding, q.q_embedding),
               x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                  * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 6) AS dist
  FROM embeddings e, q WHERE vec_id <> 0
),
-- defined distances only: a corrupt vector's NULL/NaN dist would rank
-- NULLS-FIRST into the top-15 and poison the elbow
topk AS (
  SELECT vec_id, dist FROM scored
  WHERE dist IS NOT NULL AND isfinite(dist)
  ORDER BY dist, vec_id LIMIT 15
),
diffs AS (
  SELECT vec_id, dist,
         ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rnk,
         dist - LAG(dist, 1) OVER (ORDER BY dist, vec_id) AS diff
  FROM topk
),
med AS (SELECT quantile_cont(diff, 0.5) AS median_diff FROM diffs),
flagged AS (
  SELECT d.vec_id, d.dist, d.rnk,
         CASE WHEN d.diff > GREATEST(2.5 * m.median_diff, 0.05) THEN 1 ELSE 0 END AS is_cut
  FROM diffs d, med m
)
SELECT vec_id, dist, rnk FROM (
  SELECT vec_id, dist, rnk,
         SUM(is_cut) OVER (ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cut_seen
  FROM flagged
) t WHERE cut_seen = 0
""",
    )
    reg.add("sort_pareto_front", pareto_front, _PARETO_SQL)


# ---------------------------------------------------------------------------
# Skyline / pareto front


def pareto_front(spark, sf_dir):
    """2-D skyline over orders: the pareto front minimizing (o_orderdate,
    o_totalprice) — rows no other row beats on both axes (ties on both
    axes survive together). Dominance test per row is two window minima:

      dominated ⇔ min(price | earlier date) ≤ price      (strict via date)
                ∨ min(price | same date, sorted before) < price

    THE SCALE SHAPE is the classic two-level skyline: stage 1 computes
    the front within each order-month (keyed windows — fully parallel;
    a row dominated by a same-month row is dominated globally, so local
    filtering is safe and removes almost everything), stage 2 runs the
    same dominance windows globally over the few surviving candidates.
    A direct global-window skyline would serialize the whole table
    through one task; here the serial pass sees only the per-month
    fronts. The oracle is the single-pass global form — results are
    identical because local pruning only drops dominated rows."""
    from ._util import finite

    # complete rows only: a row missing either coordinate (NULL date,
    # NULL/NaN price) has no defined dominance relation, and the two
    # engines place NULL range-frame peers differently
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull() & finite(F.col("o_totalprice")))
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.datediff("o_orderdate", F.lit("1990-01-01")).alias("dayno"),
            F.trunc("o_orderdate", "month").alias("month"),
        )
    )

    def survivors(df, *partition):
        w_prev_dates = (
            W.partitionBy(*partition)
            .orderBy("dayno")
            .rangeBetween(W.unboundedPreceding, -1)
        )
        w_same_date = (
            W.partitionBy(*partition, "dayno")
            .orderBy("o_totalprice", "o_orderkey")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        dominated = (
            F.coalesce(
                F.min("o_totalprice").over(w_prev_dates)
                <= F.col("o_totalprice"),
                F.lit(False),
            )
        ) | (
            F.coalesce(
                F.min("o_totalprice").over(w_same_date) < F.col("o_totalprice"),
                F.lit(False),
            )
        )
        return df.withColumn("dom", dominated).filter(~F.col("dom")).drop("dom")

    local = survivors(o, "month")  # keyed, parallel
    front = survivors(local)  # global pass over the tiny candidate set
    return front.select("o_orderkey", "o_orderdate", "o_totalprice")


_PARETO_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderdate, o_totalprice,
         date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS dayno
  FROM orders
  WHERE o_orderdate IS NOT NULL AND isfinite(o_totalprice)
),
f AS (
  SELECT *,
         MIN(o_totalprice) OVER (ORDER BY dayno
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp_prev,
         MIN(o_totalprice) OVER (PARTITION BY dayno
           ORDER BY o_totalprice, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp_same
  FROM o
)
SELECT o_orderkey, o_orderdate, o_totalprice FROM f
WHERE NOT (COALESCE(mp_prev <= o_totalprice, FALSE)
           OR COALESCE(mp_same < o_totalprice, FALSE))
"""
