"""Aggregation operators (SURVEY §2.5 A1–A8 + engine-surface agg family).

All money/double sums go through the decimal-cast idiom in _util (exact,
order-independent — see that module's docstring). Catalyst plans every
groupBy as partial (map-side) + final aggregation automatically; nothing
to hand-build.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load
from ._util import DEC, davg, dsum, sql_davg, sql_dsum


def count_by_key(spark, sf_dir):
    """A1: count-by-format stats (ref: assets/processing/assets.py:79-81)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("*").alias("cnt"))


def count_by_source(spark, sf_dir):
    """A2: count-by-extension analog (ref: resources/count_extensions.py:47-73)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(F.count("*").alias("cnt"))


def multi_field_rollup(spark, sf_dir):
    """A3: multi-field sum rollup (ref: assets/processing/assets.py:435-465)."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        dsum(F.col("l_quantity"), "sum_qty"),
        dsum(F.col("l_extendedprice"), "sum_price"),
        dsum(F.col("l_discount"), "sum_disc"),
        dsum(F.col("l_tax"), "sum_tax"),
        F.count("*").alias("cnt"),
    )


def min_max_per_group(spark, sf_dir):
    """A4: min-reduce over repeated group — oldest timestamp per key
    (ref: assets/gov_uk/assets.py:167-187)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("oldest"),
        F.max("o_orderdate").alias("newest"),
    )


def ceil_batch_count(spark, sf_dir):
    """A5: total count → ceil-division batch count, BATCH_SIZE=100
    (ref: assets/gov_uk/assets.py:41-48)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.ceil(F.count("*") / F.lit(100)).alias("num_batches")
    )


def agg_stats_family(spark, sf_dir):
    """Engine surface: sum/avg/min/max/count/countDistinct in one pass."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_linestatus").agg(
        dsum(F.col("l_extendedprice"), "sum_price"),
        davg(F.col("l_quantity"), "avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count("*").alias("cnt"),
        F.countDistinct("l_partkey").alias("distinct_parts"),
    )


def _grouping_sets_with_grand_total(
    spark, base, keys, sets_sql, measures_sql, grand_sql, view
):
    """Shared scaffold for the two-level cube/rollup/grouping-sets family.

    The () grand-total set comes from a bare global aggregate, NOT the
    Expand: Spark's cube()/rollup()/GROUPING SETS emit ZERO rows on
    empty input, while the SQL contract (DuckDB/Postgres, and any
    consumer reading "the total row") says the grand total always
    exists — one row with COUNT 0 and NULL sums. A global agg emits
    exactly that at any n, and on non-empty input its values are
    bitwise the Expand row's (same decimal partials re-aggregated).
    The tiny base cuboid is localCheckpoint-ed so BOTH branches read
    the ~6 materialized rows — AQE does not reuse the exchange across
    the union, and without the checkpoint each branch re-scans the
    fact table.

    `keys` are the (string-typed) grouping columns, `sets_sql` the
    non-() grouping sets, `measures_sql` the per-set aggregate
    projection, `grand_sql` the grand-total projection (COUNT-like
    measures need COALESCE(.., 0) there: SUM over zero rows is NULL)."""
    base = base.localCheckpoint(eager=True)
    base.createOrReplaceTempView(view)
    null_keys = ", ".join("CAST(NULL AS STRING)" for _ in keys)
    return spark.sql(
        f"SELECT {', '.join(keys)}, {measures_sql} FROM {view} "
        f"GROUP BY GROUPING SETS ({sets_sql}) "
        f"UNION ALL SELECT {null_keys}, {grand_sql} FROM {view}"
    )


def cube_agg(spark, sf_dir):
    """Engine surface: CUBE over two keys (superaggregate rows with NULLs).

    Two-level shape: Spark's direct cube EXPANDs every input row into one
    copy per grouping set (4x the rows through the shuffle and the
    decimal sum) — aggregating the base cuboid first and cubing the tiny
    per-(flag, status) result moves the expansion to ~6 rows. Decimal
    partial sums re-aggregate exactly, so the output is bitwise-identical
    to the direct form (collect-compared). Round-9 A/B at sf0.1:
    direct 0.96-1.18 s vs two-level 0.40-0.47 s (best-of-3 interleaved,
    2.3x) — the win that flipped this query from 1.13x the reference
    baseline to ~0.4x."""
    l = load(spark, sf_dir, "lineitem")
    base = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("s"),
        F.count("*").alias("c"),
    )
    return _grouping_sets_with_grand_total(
        spark,
        base,
        keys=("l_returnflag", "l_linestatus"),
        sets_sql="(l_returnflag, l_linestatus), (l_returnflag), (l_linestatus)",
        measures_sql="CAST(SUM(s) AS DOUBLE) AS sum_qty, SUM(c) AS cnt",
        grand_sql="CAST(SUM(s) AS DOUBLE), COALESCE(SUM(c), 0)",
        view="cube_base_v",
    )


def rollup_agg(spark, sf_dir):
    """Engine surface: ROLLUP hierarchy totals. Same two-level shape as
    cube_agg (3x expansion moved from the fact rows to the base cuboid);
    decimal partials re-aggregate exactly."""
    o = load(spark, sf_dir, "orders")
    base = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("s"),
        F.count("*").alias("c"),
    )
    return _grouping_sets_with_grand_total(
        spark,
        base,
        keys=("o_orderstatus", "o_orderpriority"),
        sets_sql="(o_orderstatus, o_orderpriority), (o_orderstatus)",
        measures_sql="CAST(SUM(s) AS DOUBLE) AS sum_price, SUM(c) AS cnt",
        grand_sql="CAST(SUM(s) AS DOUBLE), COALESCE(SUM(c), 0)",
        view="rollup_base_v",
    )


def conditional_counters(spark, sf_dir):
    """A8: saved/skipped/failed per-batch counters as conditional aggregation
    (ref: assets/gov_uk/assets.py:136-141)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.when(F.col("n_chars") >= 200, 1)).alias("saved"),
        F.count(F.when(F.col("n_chars") < 200, 1)).alias("skipped"),
        F.count(F.when(F.col("lang") == "zh", 1)).alias("flagged"),
    )


def approx_distinct(spark, sf_dir):
    """Engine surface: approx_count_distinct (HLL). Sketch values differ
    between engines, so the checkable contract is: emit the EXACT distinct
    count plus a boolean asserting the HLL estimate is within 5× the
    requested 1% rsd of it. The oracle emits the same exact count and
    literal TRUE — if Spark's sketch ever drifted out of bound the flag
    flips false and the driver's value-hash catches it."""
    l = load(spark, sf_dir, "lineitem")
    # Dedupe the keys FIRST, then sketch: mixing countDistinct with
    # approx_count_distinct in one agg makes Spark carry the rsd=0.01
    # HLL buffer (1641 register words, ~13 KB) per (group, key) row
    # through the distinct-Expand shuffle — 14.6x per 10x rows in the
    # r10 registry-wide sf1 sweep (56 s at sf1). HLL registers are
    # duplicate-insensitive, so sketching the deduplicated keys gives
    # the bit-identical estimate; the first agg is a keys-only map-side
    # dedupe (rows, no buffers) and HLL state exists only for the final
    # |groups| rows. Both aggs share the l_returnflag key.
    dedup = l.select("l_returnflag", "l_partkey").distinct()
    # count the KEY, not rows: a NULL l_partkey survives the distinct as
    # its own row, but COUNT(DISTINCT l_partkey) — the oracle and the
    # replaced countDistinct — excludes NULLs
    exact = F.count("l_partkey")
    approx = F.approx_count_distinct("l_partkey", 0.01)
    return dedup.groupBy("l_returnflag").agg(
        exact.alias("exact_parts"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_bound"),
    )


def pivot_agg(spark, sf_dir):
    """Engine surface: pivot l_linestatus into columns (oracle = CASE sums)."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


def grouping_sets_agg(spark, sf_dir):
    """Engine surface: GROUPING SETS — the general form cube/rollup
    specialize; expressed in SQL since the DataFrame API has no direct
    grouping-sets builder. Same two-level shape as cube_agg: the fact
    rows aggregate once to the base cuboid, and only that handful of
    rows expands per grouping set (decimal partials re-aggregate
    exactly)."""
    o = load(spark, sf_dir, "orders")
    # (a WITH-CTE referenced twice is inlined twice by Spark, hence the
    # DataFrame base + the shared checkpointed scaffold)
    base = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("s"),
        F.count("*").alias("c"),
    )
    return _grouping_sets_with_grand_total(
        spark,
        base,
        keys=("o_orderstatus", "o_orderpriority"),
        sets_sql="(o_orderstatus), (o_orderpriority)",
        measures_sql="CAST(SUM(s) AS DOUBLE) AS sum_price, SUM(c) AS cnt",
        grand_sql="CAST(SUM(s) AS DOUBLE), COALESCE(SUM(c), 0)",
        view="gsets_base_v",
    )


def median_percentiles(spark, sf_dir):
    """Engine surface: exact median + exact percentiles per group
    (Spark `median`/`percentile` are exact — comparable to DuckDB's
    quantile_cont, unlike approx HLL/t-digest forms)."""
    from ._util import finite

    l = load(spark, sf_dir, "lineitem")
    # percentiles of the FINITE sample: Spark's percentile ranks NaN as
    # the greatest value while DuckDB's quantile_cont skips it, so the
    # effective N diverges; neither rank statistic means anything with
    # NaN in the order anyway
    xf = F.when(finite(F.col("l_extendedprice")), F.col("l_extendedprice"))
    return l.groupBy("l_returnflag").agg(
        F.median(xf).alias("median_price"),
        F.percentile(xf, 0.25).alias("p25_price"),
        F.percentile(xf, 0.95).alias("p95_price"),
    )


def register(reg):
    reg.add(
        "agg_count_by_key",
        count_by_key,
        "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type",
    )
    reg.add(
        "agg_count_by_source",
        count_by_source,
        "SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY source, lang",
    )
    reg.add(
        "agg_multi_field_rollup",
        multi_field_rollup,
        "SELECT l_returnflag, "
        f"{sql_dsum('l_quantity')} AS sum_qty, "
        f"{sql_dsum('l_extendedprice')} AS sum_price, "
        f"{sql_dsum('l_discount')} AS sum_disc, "
        f"{sql_dsum('l_tax')} AS sum_tax, "
        "COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    )
    reg.add(
        "agg_min_max_per_group",
        min_max_per_group,
        "SELECT o_custkey, MIN(o_orderdate) AS oldest, MAX(o_orderdate) AS newest "
        "FROM orders GROUP BY o_custkey",
    )
    reg.add(
        "agg_ceil_batches",
        ceil_batch_count,
        "SELECT o_orderpriority, CAST(CEIL(COUNT(*) / 100.0) AS BIGINT) AS num_batches "
        "FROM orders GROUP BY o_orderpriority",
    )
    reg.add(
        "agg_stats_family",
        agg_stats_family,
        "SELECT l_linestatus, "
        f"{sql_dsum('l_extendedprice')} AS sum_price, "
        f"{sql_davg('l_quantity')} AS avg_qty, "
        "MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty, "
        "COUNT(*) AS cnt, COUNT(DISTINCT l_partkey) AS distinct_parts "
        "FROM lineitem GROUP BY l_linestatus",
    )
    reg.add(
        "agg_cube",
        cube_agg,
        "SELECT l_returnflag, l_linestatus, "
        f"{sql_dsum('l_quantity')} AS sum_qty, COUNT(*) AS cnt "
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)",
    )
    reg.add(
        "agg_rollup",
        rollup_agg,
        "SELECT o_orderstatus, o_orderpriority, "
        f"{sql_dsum('o_totalprice')} AS sum_price, COUNT(*) AS cnt "
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)",
    )
    reg.add(
        "agg_conditional_counters",
        conditional_counters,
        "SELECT source, "
        "COUNT(*) FILTER (WHERE n_chars >= 200) AS saved, "
        "COUNT(*) FILTER (WHERE n_chars < 200) AS skipped, "
        "COUNT(*) FILTER (WHERE lang = 'zh') AS flagged "
        "FROM documents GROUP BY source",
    )
    reg.add(
        "agg_approx_distinct",
        approx_distinct,
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts, "
        "TRUE AS approx_within_bound FROM lineitem GROUP BY l_returnflag",
    )
    reg.add(
        "agg_grouping_sets",
        grouping_sets_agg,
        "SELECT o_orderstatus, o_orderpriority, "
        f"{sql_dsum('o_totalprice')} AS sum_price, COUNT(*) AS cnt "
        "FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())",
    )
    reg.add(
        "agg_median_percentiles",
        median_percentiles,
        "SELECT l_returnflag, "
        "MEDIAN(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END)"
        " AS median_price, "
        "quantile_cont(CASE WHEN isfinite(l_extendedprice) "
        "THEN l_extendedprice END, 0.25) AS p25_price, "
        "quantile_cont(CASE WHEN isfinite(l_extendedprice) "
        "THEN l_extendedprice END, 0.95) AS p95_price "
        "FROM lineitem GROUP BY l_returnflag",
    )
    open_case = sql_dsum("CASE WHEN l_linestatus='O' THEN l_quantity END")
    filled_case = sql_dsum("CASE WHEN l_linestatus='F' THEN l_quantity END")
    reg.add(
        "agg_pivot",
        pivot_agg,
        "SELECT l_returnflag, "
        f"{open_case} AS qty_open, "
        f"{filled_case} AS qty_filled "
        "FROM lineitem GROUP BY l_returnflag",
    )
    reg.add(
        "agg_mode_per_group",
        mode_per_group,
        "WITH counts AS (SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt "
        "FROM customer GROUP BY c_mktsegment, c_nationkey), "
        # NULLS LAST mirrors the engine's max_by struct ordering, where a
        # NULL -c_nationkey field is SMALLEST and so loses count ties to
        # every real key; the session pragma's nulls-first-on-asc default
        # made the NULL nationkey WIN oracle ties instead (r16 compound
        # sweep — hot keys pile counts until the NULL group ties a real
        # one)
        "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment "
        "ORDER BY cnt DESC, c_nationkey ASC NULLS LAST) AS rnk FROM counts) "
        "SELECT c_mktsegment, c_nationkey AS mode_nationkey, cnt AS mode_count "
        "FROM ranked WHERE rnk = 1",
    )
    reg.add(
        "agg_value_histogram",
        value_histogram,
        "SELECT bucket, CAST(bucket * 25.0 AS DOUBLE) AS lo, "
        "CAST((bucket + 1) * 25.0 AS DOUBLE) AS hi, "
        "COUNT(*) AS n, "
        "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS bucket_value "
        # clamp BEFORE the INT cast: FLOOR(1e19/25) overflows INT32 and
        # DuckDB's cast raises where Spark's long-typed floor clamps
        # clean (r16 extreme-value probe); values are non-NULL here so
        # LEAST/GREATEST's null-skipping is moot
        "FROM (SELECT CAST(LEAST(GREATEST(FLOOR(value / 25.0), 0.0), 19.0) "
        "AS INT) AS bucket, value FROM events WHERE value IS NOT NULL "
        "AND isfinite(value)) GROUP BY bucket",
    )
    corr_num = (
        "(CAST(n AS DOUBLE) * CAST(s{a}{b} AS DOUBLE)"
        " - CAST(s{a} AS DOUBLE) * CAST(s{b} AS DOUBLE))"
    )
    corr_var = (
        "(CAST(n AS DOUBLE) * CAST(s{a}{a} AS DOUBLE)"
        " - CAST(s{a} AS DOUBLE) * CAST(s{a} AS DOUBLE))"
    )

    def corr_sql(a: str, b: str) -> str:
        return (
            f"ROUND({corr_num.format(a=a, b=b)} / "
            f"sqrt({corr_var.format(a=a)} * {corr_var.format(a=b)}), 6)"
        )

    reg.add(
        "agg_corr_pairs",
        corr_pairs,
        "WITH g AS (SELECT l_returnflag, COUNT(*) AS n, "
        "SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sx, "
        "SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy, "
        "SUM(CAST(l_discount AS DECIMAL(18,4))) AS sz, "
        # factor semantics must MATCH the engine's decimal(18,4)
        # (round-17 extreme-double gate find): the old DECIMAL(25,4)
        # factors admitted values in [1e14, 1e21) that the engine's
        # cast NULLs, and their product hit DuckDB's DECIMAL(38) cap
        # which RAISES where the engine never formed the term. The
        # inner (18,4) cast carries the engine's per-factor 1e14 NULL
        # bound; the outer widen to (19,4) forces DuckDB's multiply
        # into int128 (probed: (18,4)x(18,4) multiplies in int64 and
        # overflows at unscaled 3.05e12 squared) giving the exact
        # DECIMAL(38,8) product Spark's decimal(37,8) computes.
        "SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS sxy, "
        "SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS syz, "
        "SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS sxx, "
        "SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS syy, "
        "SUM(CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4)) * CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4))) AS szz "
        "FROM lineitem GROUP BY l_returnflag) "
        "SELECT l_returnflag, n, "
        + corr_sql("x", "y")
        + " AS corr_qty_price, "
        + corr_sql("y", "z")
        + " AS corr_price_disc FROM g",
    )
    reg.add(
        "agg_bool_counters",
        bool_counters,
        "SELECT l_returnflag, "
        "CAST(count_if(l_quantity >= 25) AS BIGINT) AS n_big, "
        # explicit NaN arm: DuckDB 1.0's parquet scan path evaluates a
        # pushed-down NaN comparison inconsistently (bool_and saw zero
        # FALSE rows while COUNT FILTER over the same predicate saw the
        # NaN rows as not-true); Spark's total order has NaN <= x FALSE
        "bool_and(CASE WHEN isnan(l_discount) THEN FALSE "
        "ELSE l_discount <= 0.1 END) AS all_small_disc, "
        "bool_or(l_tax > 0.07) AS any_high_tax, "
        "CAST(count_if(l_extendedprice > 30000.0) AS BIGINT) AS n_pricey "
        "FROM lineitem GROUP BY l_returnflag",
    )
    reg.add("reshape_unpivot", unpivot_metrics, _UNPIVOT_SQL)
    reg.add("feature_quantile_bin", quantile_bin, _QBIN_SQL)
    reg.add("stats_chi_square", chi_square_independence, _CHI2_SQL)
    reg.add("mine_frequent_pairs", frequent_pairs, _PAIRS_SQL)
    reg.add("stats_linreg", linreg_by_group, _LINREG_SQL)
    reg.add("stats_mutual_information", mutual_information, _MI_SQL)
    reg.add("trend_weekly_growth", trend_weekly_growth, _TREND_SQL)


def mode_per_group(spark, sf_dir):
    """Deterministic per-group mode: most frequent c_nationkey per market
    segment, ties broken by smallest key. Built-in `F.mode` is
    tie-nondeterministic, so the operator is expressed as the two-level
    plan a 100 TB engine wants anyway: keyed count (map-side partial agg
    collapses the fact table) then a per-group argmax via max_by over a
    (count, -key) struct — no window sort over the full count table."""
    c = load(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment", "c_nationkey").agg(F.count("*").alias("cnt"))
    return counts.groupBy("c_mktsegment").agg(
        F.max_by(
            F.struct(F.col("c_nationkey").alias("k"), F.col("cnt").alias("c")),
            F.struct(F.col("cnt"), -F.col("c_nationkey")),
        ).alias("m")
    ).select(
        "c_mktsegment",
        F.col("m.k").alias("mode_nationkey"),
        F.col("m.c").alias("mode_count"),
    )


HIST_WIDTH = 25.0  # events.value spans ~0..500; 20 fixed-width buckets
HIST_BUCKETS = 20


def value_histogram(spark, sf_dir):
    """Fixed-width numeric histogram over events.value — the profiling
    primitive behind range-partition planning and outlier triage. Bucket
    index is pure map-side arithmetic (floor(value/width), clamped to the
    top bucket), so the plan is scan → partial agg → 20-row final agg;
    at 100 TB nothing but 20-row partials ever shuffles."""
    from ._util import finite

    # finite values only: NaN would otherwise ride Spark's NaN-is-greatest
    # ordering through least() into the top bucket (and crash DuckDB's
    # int cast) — a histogram bucket for NaN is meaningless
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & finite(F.col("value"))
    )
    # clamp BOTH ends: without the greatest(), a negative value lands in a
    # negative bucket; least() alone also skips NULLs (returning 19), so
    # NULL rows are dropped explicitly above rather than miscounted
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / HIST_WIDTH), F.lit(0)),
        F.lit(HIST_BUCKETS - 1),
    ).cast("int")
    return (
        ev.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("bucket_value"),
        )
        .select(
            "bucket",
            (F.col("bucket") * HIST_WIDTH).alias("lo"),
            ((F.col("bucket") + 1) * HIST_WIDTH).alias("hi"),
            "n",
            "bucket_value",
        )
    )


def corr_pairs(spark, sf_dir):
    """Pearson correlation per group, numerically disciplined: built-in
    `corr` accumulates double co-moments in shuffle order, so Spark and
    any other engine disagree in the last ulps. Here the five co-moments
    (Σx, Σy, Σxy, Σx², Σy²) accumulate as EXACT decimals (inputs have
    ≤ 2 true decimal places, so decimal(18,4) products at scale 8 are
    exact), then the textbook formula runs once per group on doubles —
    identical bits in every engine, still one map-side-combined
    aggregation pass."""
    l = load(spark, sf_dir, "lineitem")

    def dm(c):  # exact decimal view of a money/qty column
        return F.col(c).cast("decimal(18,4)")

    grouped = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(dm("l_quantity")).alias("sx"),
        F.sum(dm("l_extendedprice")).alias("sy"),
        F.sum(dm("l_discount")).alias("sz"),
        F.sum(dm("l_quantity") * dm("l_extendedprice")).alias("sxy"),
        F.sum(dm("l_extendedprice") * dm("l_discount")).alias("syz"),
        F.sum(dm("l_quantity") * dm("l_quantity")).alias("sxx"),
        F.sum(dm("l_extendedprice") * dm("l_extendedprice")).alias("syy"),
        F.sum(dm("l_discount") * dm("l_discount")).alias("szz"),
    )

    def corr_of(sa, sb, sab, saa, sbb):
        n = F.col("n").cast("double")
        a, b, ab = F.col(sa).cast("double"), F.col(sb).cast("double"), F.col(sab).cast("double")
        aa, bb = F.col(saa).cast("double"), F.col(sbb).cast("double")
        num = n * ab - a * b
        den = F.sqrt((n * aa - a * a) * (n * bb - b * b))
        return F.round(num / den, 6)

    return grouped.select(
        "l_returnflag",
        "n",
        corr_of("sx", "sy", "sxy", "sxx", "syy").alias("corr_qty_price"),
        corr_of("sy", "sz", "syz", "syy", "szz").alias("corr_price_disc"),
    )


def bool_counters(spark, sf_dir):
    """Engine surface: count_if / bool_and / bool_or / every-any family —
    the predicate-aggregate forms (one pass, map-side combined)."""
    l = load(spark, sf_dir, "lineitem")
    big = F.col("l_quantity") >= 25
    return l.groupBy("l_returnflag").agg(
        F.count_if(big).alias("n_big"),
        F.bool_and(F.col("l_discount") <= 0.1).alias("all_small_disc"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.count_if(F.col("l_extendedprice") > 30000.0).alias("n_pricey"),
    )


def unpivot_metrics(spark, sf_dir):
    """UNPIVOT / melt: the four lineitem measures to long form via
    DataFrame.unpivot (the inverse of agg_pivot's wide form), then a
    per-metric rollup. Unpivot is a map-side row expansion (4× rows, no
    shuffle) and the rollup map-side combines, so the exchange carries
    4 aggregate rows per partition."""
    l = load(spark, sf_dir, "lineitem")
    long = l.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n"), dsum(F.col("value"), "total")
    )


_UNPIVOT_SQL = (
    "WITH long AS ("
    " SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem"
    " UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem"
    " UNION ALL SELECT 'l_discount', l_discount FROM lineitem"
    " UNION ALL SELECT 'l_tax', l_tax FROM lineitem) "
    "SELECT metric, COUNT(*) AS n, "
    + sql_dsum("value")
    + " AS total FROM long GROUP BY metric"
)


def quantile_bin(spark, sf_dir):
    """Feature discretization: per-group exact quartile fences (Spark
    `percentile` ≡ DuckDB quantile_cont, pinned by agg_median_percentiles)
    broadcast back onto the fact table for a map-side bin assignment, then
    a per-(group, bin) count. The fence table is G×3 doubles — the classic
    two-pass quantile binning that avoids any global sort of the data."""
    from ._util import finite

    l = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    p = F.col("l_extendedprice")
    # fences over the finite sample; a NULL/NaN price gets a NULL bin
    # (the bare otherwise(3) would silently file non-values as "top
    # quartile" on both engines)
    pf = F.when(finite(p), p)
    fences = l.groupBy("l_returnflag").agg(
        F.percentile(pf, 0.25).alias("q1"),
        F.percentile(pf, 0.5).alias("q2"),
        F.percentile(pf, 0.75).alias("q3"),
    )
    binned = l.join(F.broadcast(fences), "l_returnflag").withColumn(
        "bin",
        F.when(p.isNull() | ~finite(p), F.lit(None))
        .when(p <= F.col("q1"), 0)
        .when(p <= F.col("q2"), 1)
        .when(p <= F.col("q3"), 2)
        .otherwise(3)
        .cast("bigint"),
    )
    return binned.groupBy("l_returnflag", "bin").agg(F.count("*").alias("cnt"))


_QBIN_SQL = """
WITH fences AS (
  SELECT l_returnflag,
         quantile_cont(CASE WHEN isfinite(l_extendedprice)
                            THEN l_extendedprice END, 0.25) AS q1,
         quantile_cont(CASE WHEN isfinite(l_extendedprice)
                            THEN l_extendedprice END, 0.50) AS q2,
         quantile_cont(CASE WHEN isfinite(l_extendedprice)
                            THEN l_extendedprice END, 0.75) AS q3
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       CAST(CASE WHEN l_extendedprice IS NULL
                   OR NOT isfinite(l_extendedprice) THEN NULL
                 WHEN l_extendedprice <= q1 THEN 0
                 WHEN l_extendedprice <= q2 THEN 1
                 WHEN l_extendedprice <= q3 THEN 2
                 ELSE 3 END AS BIGINT) AS bin,
       COUNT(*) AS cnt
FROM lineitem l JOIN fences USING (l_returnflag)
GROUP BY 1, 2
"""


def chi_square_independence(spark, sf_dir):
    """Chi-square independence statistic for the l_returnflag ×
    l_linestatus contingency table — pure arithmetic (counts, one
    broadcast of the marginal tables, (o−e)²/e summed in decimal), no
    transcendentals, so the statistic is bit-identical in both engines.
    The contingency table is |flags|×|statuses| rows; everything after
    the first keyed count is broadcast-sized."""
    l = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    # one counting pass: marginals and total re-aggregate exactly from
    # the checkpointed contingency table (same cut as
    # mutual_information — previously four independent counting subtrees
    # scanned the fact table once each)
    cells = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("o")
    ).localCheckpoint(eager=True)
    row_tot = cells.groupBy("l_returnflag").agg(F.sum("o").alias("rt"))
    col_tot = cells.groupBy("l_linestatus").agg(F.sum("o").alias("ct"))
    n_tot = cells.groupBy().agg(F.sum("o").alias("n"))
    joined = (
        cells.join(F.broadcast(row_tot), "l_returnflag")
        .join(F.broadcast(col_tot), "l_linestatus")
        .crossJoin(F.broadcast(n_tot))
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    return joined.groupBy().agg(
        F.count("*").alias("n_cells"),
        F.sum(term.cast("decimal(27,10)")).cast("double").alias("chi2"),
    )


_CHI2_SQL = """
WITH cells AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS o FROM lineitem
  GROUP BY l_returnflag, l_linestatus
), rt AS (SELECT l_returnflag, COUNT(*) AS rt FROM lineitem GROUP BY l_returnflag),
ct AS (SELECT l_linestatus, COUNT(*) AS ct FROM lineitem GROUP BY l_linestatus),
n AS (SELECT COUNT(*) AS n FROM lineitem),
terms AS (
  SELECT o, CAST(rt.rt * ct.ct AS DOUBLE) / n.n AS e
  FROM cells JOIN rt USING (l_returnflag) JOIN ct USING (l_linestatus) CROSS JOIN n
)
SELECT COUNT(*) AS n_cells,
       CAST(SUM(CAST((o - e) * (o - e) / e AS DECIMAL(27,10))) AS DOUBLE) AS chi2
FROM terms
"""

_PAIR_MINSUP = 3


def frequent_pairs(spark, sf_dir, minsup: int = _PAIR_MINSUP):
    """Market-basket 2-itemset mining (the A-priori pair pass): each
    order's part set is a bounded basket (≤7 lineitems), so pairs come
    from an in-row combination expansion over collect_set — never an
    order-keyed self-join — and only (part_a, part_b) count rows shuffle.
    Pairs are ordered a < b; minsup filters the tail."""
    # a NULL-orderkey line belongs to NO basket: groupBy would merge
    # every such line into one giant pseudo-basket and mine quadratic
    # fake pairs from it (the oracle's self-join on l_orderkey naturally
    # drops them)
    l = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey").isNotNull())
    )
    baskets = l.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    idx = F.sequence(F.lit(0), F.size("items") - 1)
    pairs = baskets.filter(F.size("items") >= 2).select(
        F.explode(
            F.flatten(
                F.transform(
                    idx,
                    lambda i: F.transform(
                        F.slice(
                            F.col("items"), i + 2, F.size("items") - (i + 1)
                        ),
                        lambda b: F.struct(
                            F.element_at(F.col("items"), i + 1).alias("part_a"),
                            b.alias("part_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= minsup)
    )


_PAIRS_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2 HAVING COUNT(*) >= {_PAIR_MINSUP}
"""


def linreg_by_group(spark, sf_dir):
    """Per-group OLS regression (slope/intercept/r² of extendedprice on
    quantity) from closed-form moment sums — Σx, Σy, Σxy, Σx², Σy² each
    as an order-independent decimal aggregate, combined with plain double
    arithmetic. Spark's built-in regr_slope/regr_intercept aggregate
    doubles in shuffle order (not bit-reproducible); the explicit-moments
    form is, and it's the shape that scales: one keyed partial-agg pass,
    five numbers per group."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    d = "decimal(30,6)"
    m = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(d)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(d)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d)).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = (cov * cov) / (varx * vary)
    return m.select(
        "l_returnflag",
        F.col("n").alias("n_points"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


_LINREG_SQL = """
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n AS n_points,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept,
       ((n * sxy - sx * sy) * (n * sxy - sx * sy))
         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
FROM m
"""


# ---------------------------------------------------------------------------
# Information-theoretic association: mutual information

_MI_DEC = "decimal(27,10)"


def mutual_information(spark, sf_dir):
    """Mutual information between order priority and order status — the
    information-theoretic sibling of stats_chi_square (association
    strength in nats, plus marginal entropies and normalized MI). Three
    keyed counts (cells, two marginals — each map-side combined), a
    broadcast join of the G×H cell table against both marginals, and a
    tiny final rollup: the only data-sized work is the counting pass.
    Per-cell terms are doubles (exact integer ratios through ln);
    summing the ≤ G·H terms casts to decimal so the rollup is order-
    independent; final values round deterministically."""
    from ._util import round6_det

    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_orderstatus")
    # ONE counting pass: the G×H contingency table is the sufficient
    # statistic — both marginals and the grand total re-aggregate from it
    # exactly (integer sums). Checkpointing the ≤ G·H-row table means the
    # fact table is scanned once, where the four independent counting
    # subtrees previously scanned it 8× across their consumers (round-9
    # multi-scan sweep).
    nab = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_ab")
    ).localCheckpoint(eager=True)
    nrow = F.broadcast(nab.agg(F.sum("n_ab").cast("double").alias("n")))
    na = nab.groupBy("o_orderpriority").agg(F.sum("n_ab").alias("n_a"))
    nb = nab.groupBy("o_orderstatus").agg(F.sum("n_ab").alias("n_b"))
    cells = (
        nab.join(F.broadcast(na), "o_orderpriority")
        .join(F.broadcast(nb), "o_orderstatus")
        .crossJoin(nrow)  # nrow carries a broadcast hint at definition
    )
    term = (F.col("n_ab") / F.col("n")) * F.log(
        F.col("n_ab").cast("double") * F.col("n") / (F.col("n_a") * F.col("n_b"))
    )
    mi = cells.agg(
        F.sum(term.cast(_MI_DEC)).cast("double").alias("mi"),
        F.count("*").alias("n_cells"),
    )
    ent_a = (
        na.crossJoin(nrow)
        .agg(
            F.sum(
                (-(F.col("n_a") / F.col("n")) * F.log(F.col("n_a") / F.col("n")))
                .cast(_MI_DEC)
            )
            .cast("double")
            .alias("h_a")
        )
    )
    ent_b = (
        nb.crossJoin(nrow)
        .agg(
            F.sum(
                (-(F.col("n_b") / F.col("n")) * F.log(F.col("n_b") / F.col("n")))
                .cast(_MI_DEC)
            )
            .cast("double")
            .alias("h_b")
        )
    )
    return (
        mi.crossJoin(F.broadcast(ent_a))
        .crossJoin(F.broadcast(ent_b))
        .select(
            F.col("n_cells").cast("bigint").alias("n_cells"),
            round6_det(F.col("mi")).alias("mi_nats"),
            round6_det(F.col("h_a")).alias("h_priority"),
            round6_det(F.col("h_b")).alias("h_status"),
            round6_det(
                F.col("mi") / F.sqrt(F.col("h_a") * F.col("h_b"))
            ).alias("nmi"),
        )
    )


_MI_SQL = """
WITH nrow AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM orders),
na AS (SELECT o_orderpriority, COUNT(*) AS n_a FROM orders GROUP BY 1),
nb AS (SELECT o_orderstatus, COUNT(*) AS n_b FROM orders GROUP BY 1),
nab AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_ab
        FROM orders GROUP BY 1, 2),
cells AS (
  SELECT n_ab, n_a, n_b, n FROM nab
  JOIN na USING (o_orderpriority) JOIN nb USING (o_orderstatus), nrow
),
mi AS (
  SELECT CAST(SUM(CAST((n_ab / n) * ln(CAST(n_ab AS DOUBLE) * n / (n_a * n_b))
                       AS DECIMAL(27,10))) AS DOUBLE) AS mi,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM cells
),
ha AS (SELECT CAST(SUM(CAST(-(n_a / n) * ln(n_a / n) AS DECIMAL(27,10)))
              AS DOUBLE) AS h_a FROM na, nrow),
hb AS (SELECT CAST(SUM(CAST(-(n_b / n) * ln(n_b / n) AS DECIMAL(27,10)))
              AS DOUBLE) AS h_b FROM nb, nrow)
SELECT n_cells,
       FLOOR(mi * 1000000.0 + 0.5) / 1000000.0 AS mi_nats,
       FLOOR(h_a * 1000000.0 + 0.5) / 1000000.0 AS h_priority,
       FLOOR(h_b * 1000000.0 + 0.5) / 1000000.0 AS h_status,
       FLOOR(mi / sqrt(h_a * h_b) * 1000000.0 + 0.5) / 1000000.0 AS nmi
FROM mi, ha, hb
"""


# ---------------------------------------------------------------------------
# Calendar-trend analytics: weekly revenue growth

def trend_weekly_growth(spark, sf_dir):
    """Weekly revenue trend with week-over-week growth and a 4-week
    moving average — the calendar analytics every warehouse dashboard
    runs. The data-sized work is ONE keyed weekly aggregation with
    decimal partials; the trailing lag/MA windows run over the ~350-row
    weekly series (the same by-design tiny serial scan as the
    distributed prefix sum's bucket pass). Revenue stays decimal through
    the windows so lag/MA are exact; ratios round deterministically."""
    from pyspark.sql import Window as W

    from ._util import DEC, round6_det

    o = load(spark, sf_dir, "orders")
    weekly = (
        o.groupBy(F.date_trunc("week", "o_orderdate").cast("date").alias("week"))
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec"),
            F.count("*").alias("n_orders"),
        )
    )
    w = W.orderBy("week")
    prev = F.lag("rev_dec").over(w)
    ma4 = (
        F.sum("rev_dec").over(w.rowsBetween(-3, 0))
        / F.count("*").over(w.rowsBetween(-3, 0))
    ).cast("double")
    return weekly.select(
        "week",
        F.col("rev_dec").cast("double").alias("revenue"),
        "n_orders",
        round6_det(
            F.when(
                prev.isNotNull() & (prev != 0),
                (F.col("rev_dec") - prev).cast("double") / prev.cast("double"),
            )
        ).alias("wow_pct"),
        round6_det(ma4).alias("ma4_revenue"),
    )


# the (_wk_nn, _wk) column pair reproduces Spark's ASC NULLS FIRST position
# for the NULL-week group collision-free (no sentinel value assumption);
# both must be PLAIN CTE COLUMNS because DuckDB 1.0's parallel window sort
# is nondeterministic over expression keys (r12)
_TREND_SQL = """
WITH weekly AS (
  SELECT CASE WHEN o_orderdate IS NULL THEN NULL
         ELSE CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
         END AS week,
         SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS rev_dec,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
),
keyed AS (
  SELECT *, week IS NOT NULL AS _wk_nn,
         COALESCE(week, DATE '1899-12-31') AS _wk
  FROM weekly
)
SELECT week, CAST(rev_dec AS DOUBLE) AS revenue, n_orders,
       FLOOR(CASE WHEN lag(rev_dec) OVER w IS NOT NULL
                   AND lag(rev_dec) OVER w <> 0
             THEN CAST(rev_dec - lag(rev_dec) OVER w AS DOUBLE)
                  / CAST(lag(rev_dec) OVER w AS DOUBLE) END
             * 1000000.0 + 0.5) / 1000000.0 AS wow_pct,
       FLOOR(CAST(SUM(rev_dec) OVER (ORDER BY _wk_nn, _wk
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             / COUNT(*) OVER (ORDER BY _wk_nn, _wk
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS ma4_revenue
FROM keyed
WINDOW w AS (ORDER BY _wk_nn, _wk)
"""
