"""Set operations (SURVEY §2.11 U1–U3 + intersect to complete the family)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load


def union_all_parts(spark, sf_dir):
    """U1: union-all of partitioned slices back into one table
    (ref: assets/processing/assets.py:401-421 — pd.concat of part files).
    unionByName keeps schema alignment explicit."""
    docs = load(spark, sf_dir, "documents")
    part_en = docs.filter(F.col("lang") == "en").select("doc_id", "lang", "source")
    part_fr = docs.filter(F.col("lang") == "fr").select("doc_id", "lang", "source")
    return part_en.unionByName(part_fr)


def except_missing_keys(spark, sf_dir):
    """U2: expected − existing (ref: missing-partitions report,
    assets/processing/assets.py:424-429)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return c.subtract(o)  # EXCEPT (distinct)


def intersect_keys(spark, sf_dir):
    """Engine surface: INTERSECT — customers active in both order statuses."""
    o = load(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("key")
    )
    o_cust = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("key")
    )
    return f_cust.intersect(o_cust)


def distinct_rows(spark, sf_dir):
    """U3: distinct (ref: dedupe.py:97-103 hash-set semantics)."""
    l = load(spark, sf_dir, "lineitem")
    return l.select("l_returnflag", "l_linestatus").distinct()


def register(reg):
    reg.add(
        "setop_union_all",
        union_all_parts,
        "SELECT doc_id, lang, source FROM documents WHERE lang = 'en' "
        "UNION ALL SELECT doc_id, lang, source FROM documents WHERE lang = 'fr'",
    )
    reg.add(
        "setop_except",
        except_missing_keys,
        "SELECT c_custkey AS key FROM customer "
        "EXCEPT SELECT o_custkey AS key FROM orders",
    )
    reg.add(
        "setop_intersect",
        intersect_keys,
        "SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'F' "
        "INTERSECT SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'",
    )
    reg.add(
        "setop_distinct",
        distinct_rows,
        "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    )
    reg.add(
        "setop_except_all",
        except_all_keys,
        "SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'F' "
        "EXCEPT ALL SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'",
    )
    reg.add(
        "setop_intersect_all",
        intersect_all_keys,
        "SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'F' "
        "INTERSECT ALL SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'",
    )


def except_all_keys(spark, sf_dir):
    """Engine surface: EXCEPT ALL — multiplicity-preserving difference
    (each order's custkey consumed once per matching row, the bag
    semantics `subtract`'s distinct form loses). Shuffle = one
    hash-partition per side on the full row, like a keyed agg."""
    o = load(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("key")
    )
    o_cust = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("key")
    )
    return f_cust.exceptAll(o_cust)


def intersect_all_keys(spark, sf_dir):
    """Engine surface: INTERSECT ALL — min-multiplicity bag intersection."""
    o = load(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("key")
    )
    o_cust = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("key")
    )
    return f_cust.intersectAll(o_cust)
