"""Query registry: every implemented operator from SURVEY.md §2 exposed as a
(spark, sf_dir) -> DataFrame callable, paired with a DuckDB-runnable ANSI-SQL
oracle that reproduces it bit-for-bit.

Determinism rules used throughout (so Spark and DuckDB hash-match):
  * money math in integer cents  — cast(round(x*100) as bigint); sums exact
  * hashing via md5/sha256       — identical hex output in both engines
  * doubles only from exact ints — division + round as the final step
  * every limit/rank has a total-order tiebreak

The TPC-H-ish driver tables stand in for the reference's tables; each query
maps to a SURVEY §2 operator family (cited per query).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mine_database_spark.session import load_tables
from mine_database_spark.functions.text import hex_uniform, tokens
from mine_database_spark.operators.quality import (
    LANGID_MAX_CHARS as _LANGID_MAX_CHARS,
    LANGID_NCLS as _LANGID_NCLS,
    LANGID_V as _LANGID_V,
    langid_class_sql as _langid_class_sql,
)
from mine_database_spark.operators import dedup as dd
from mine_database_spark.operators import graph as gr
from mine_database_spark.operators import packing as pk
from mine_database_spark.operators import sessionize as sz
from mine_database_spark.operators import similarity as sim
from mine_database_spark.operators.pairs import key_pairs, postings
from mine_database_spark.queries import rotation as _rotation

# ---------------------------------------------------------------------------
# helpers

def _cents(col: F.Column) -> F.Column:
    return F.round(col * 100).cast("bigint")


_CENTS_SQL = "CAST(round({c} * 100) AS BIGINT)"


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    tabs = load_tables(spark, sf_dir, names)
    return [tabs[n] for n in names]


# ---------------------------------------------------------------------------
# Q1 family: scan + aggregate (SURVEY §2.6 A1-A7; TPC-H Q1 shape)

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary over lineitem. Exact integer-cents arithmetic.

    Scale: single map-side-combinable groupBy on two low-cardinality keys —
    the canonical 100TB-friendly aggregation (partial agg before shuffle).
    """
    (l,) = _t(spark, sf_dir, "lineitem")
    l = l.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
    qty_c = _cents(F.col("l_quantity"))
    price_c = _cents(F.col("l_extendedprice"))
    disc_c = _cents(F.col("l_discount"))
    tax_c = _cents(F.col("l_tax"))
    disc_price_e4 = price_c * (F.lit(100).cast("bigint") - disc_c)
    charge_e6 = disc_price_e4 * (F.lit(100).cast("bigint") + tax_c)
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty_c) / 100.0, 2).alias("sum_qty"),
            F.round(F.sum(price_c) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(disc_price_e4) / 10000.0, 2).alias("sum_disc_price"),
            F.round(F.sum(charge_e6) / 1000000.0, 2).alias("sum_charge"),
            F.round(F.sum(qty_c) / 100.0 / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.round(F.sum(price_c) / 100.0 / F.count(F.lit(1)), 4).alias("avg_price"),
            F.round(F.sum(disc_c) / 100.0 / F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q_PRICING_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(CAST(SUM({_CENTS_SQL.format(c='l_quantity')}) AS BIGINT) / 100.0, 2) AS sum_qty,
       round(CAST(SUM({_CENTS_SQL.format(c='l_extendedprice')}) AS BIGINT) / 100.0, 2) AS sum_base_price,
       round(CAST(SUM({_CENTS_SQL.format(c='l_extendedprice')} * (100 - {_CENTS_SQL.format(c='l_discount')})) AS BIGINT) / 10000.0, 2) AS sum_disc_price,
       round(CAST(SUM({_CENTS_SQL.format(c='l_extendedprice')} * (100 - {_CENTS_SQL.format(c='l_discount')}) * (100 + {_CENTS_SQL.format(c='l_tax')})) AS BIGINT) / 1000000.0, 2) AS sum_charge,
       round(CAST(SUM({_CENTS_SQL.format(c='l_quantity')}) AS BIGINT) / 100.0 / COUNT(*), 4) AS avg_qty,
       round(CAST(SUM({_CENTS_SQL.format(c='l_extendedprice')}) AS BIGINT) / 100.0 / COUNT(*), 4) AS avg_price,
       round(CAST(SUM({_CENTS_SQL.format(c='l_discount')}) AS BIGINT) / 100.0 / COUNT(*), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Q3/Q5: multi-join + agg + top-k (SURVEY §2.5 J1-J9, §2.8 O2-O4)

def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem, revenue top-10 (TPC-H Q3 shape).

    customer is the small side → broadcast; lineitem→orders join shuffles on
    orderkey (the natural key at 100TB; AQE handles skew).
    """
    c, o, l = _t(spark, sf_dir, "customer", "orders", "lineitem")
    rev_e4 = _cents(F.col("l_extendedprice")) * (F.lit(100).cast("bigint") - _cents(F.col("l_discount")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.where(F.col("c_mktsegment") == "BUILDING")), o.o_custkey == c.c_custkey)
        .where((F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")) & (F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")))
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_str"))
        .agg(F.round(F.sum(rev_e4) / 10000.0, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


_Q_TOP_REVENUE_SQL = f"""
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
       round(CAST(SUM({_CENTS_SQL.format(c='l_extendedprice')} * (100 - {_CENTS_SQL.format(c='l_discount')})) AS BIGINT) / 10000.0, 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01' AND l_shipdate > TIMESTAMP '1996-01-01'
GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way dimension join + agg (TPC-H Q5 shape). Dimensions broadcast."""
    r, n, c, o, l, s = _t(spark, sf_dir, "region", "nation", "customer", "orders", "lineitem", "supplier")
    rev_e4 = _cents(F.col("l_extendedprice")) * (F.lit(100).cast("bigint") - _cents(F.col("l_discount")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")) & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
        .groupBy("n_name")
        .agg(F.round(F.sum(rev_e4) / 10000.0, 2).alias("revenue"))
    )


_Q_REGION_REVENUE_SQL = f"""
SELECT n_name,
       round(CAST(SUM({_CENTS_SQL.format(c='l_extendedprice')} * (100 - {_CENTS_SQL.format(c='l_discount')})) AS BIGINT) / 10000.0, 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Frontier selection (SURVEY §2.2 T2: filter + project with pushdown)

def q_frontier_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection — reference frontier select (pickaxe.py:657-664).
    Filters/pruning reach the parquet scan (PushedFilters + ReadSchema)."""
    (o,) = _t(spark, sf_dir, "orders")
    return (
        o.where(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
            & F.col("o_totalprice").between(100000.0, 200000.0)
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_str"),
        )
    )


_Q_FRONTIER_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate_str
FROM orders
WHERE o_orderstatus = 'O' AND o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_totalprice BETWEEN 100000.0 AND 200000.0
"""


# ---------------------------------------------------------------------------
# First-wins dedup (SURVEY §2.9 E1: compound dedup, first generation wins)

def q_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    first = dd.first_wins_dedup(o, "o_custkey", ["o_orderdate", "o_orderkey"])
    return first.select(
        "o_custkey", "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_orderdate")
    )


_Q_FIRST_WINS_SQL = """
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS first_orderdate
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Content-addressed ids (SURVEY §1.3 / §2.10 X2: reaction hash = sha256 of
# canonicalized sorted member list; utils.py:324-379 semantics)

def q_content_hash_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    canon = F.concat_ws(
        ".", F.transform(F.array_sort(F.collect_set(F.col("l_partkey"))), lambda x: x.cast("string"))
    )
    return l.groupBy("l_orderkey").agg(F.concat(F.lit("R"), F.sha2(canon, 256)).alias("rxn_id"))


_Q_CONTENT_HASH_SQL = """
SELECT l_orderkey,
       'R' || sha256(array_to_string(list_sort(list(DISTINCT l_partkey)), '.')) AS rxn_id
FROM lineitem GROUP BY l_orderkey
"""


# ---------------------------------------------------------------------------
# Set-union aggregation (SURVEY §2.6 A3: Operators set-union on hash collision)

def q_collect_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    # size(collect_set) instead of countDistinct: a distinct aggregate next
    # to collect_set plans a second partial-distinct shuffle round; the set
    # is already being built, so its size is free (measured 2.5x at sf0.1).
    # Scale caveat: the orderkey set's aggregation-buffer state grows with
    # the distinct orderkeys per supplier (linear in SF), unlike the tiny
    # flag_set domain. At 100 TB swap this column for approx_count_distinct
    # or a two-stage (suppkey, orderkey) pre-distinct, both of which keep
    # per-group state bounded; the exact set stays here because the oracle
    # hash-compares exact counts at bench SFs.
    return l.groupBy("l_suppkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_set(F.concat(F.col("l_returnflag"), F.col("l_linestatus"))))).alias(
            "flag_set"
        ),
        F.size(F.collect_set("l_orderkey")).cast("bigint").alias("n_orders"),
    )


_Q_COLLECT_SET_SQL = """
SELECT l_suppkey,
       array_to_string(list_sort(list(DISTINCT l_returnflag || l_linestatus)), ',') AS flag_set,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem GROUP BY l_suppkey
"""


# ---------------------------------------------------------------------------
# Sequential id assignment (SURVEY §2.7 W1 / §2.4 G6: assign_ids,
# pickaxe.py:1046-1102 — row_number over a global sort + format string)

def q_assign_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    (s,) = _t(spark, sf_dir, "supplier")
    w = Window.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return s.select("s_suppkey", F.format_string("pks%07d", F.row_number().over(w)).alias("assigned_id"))


_Q_ASSIGN_IDS_SQL = """
SELECT s_suppkey, printf('pks%07d', CAST(row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS INT)) AS assigned_id
FROM supplier
"""


# ---------------------------------------------------------------------------
# Rule-coverage CDF (SURVEY §2.1 S6 / §2.6 A6 / §2.7 W2: rules.py:28-211
# top-fraction-of-coverage selection via ordered cumulative sum)

def q_rule_coverage_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = _t(spark, sf_dir, "lineitem", "part")
    counts = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = Window.orderBy(F.col("cnt").desc(), F.col("p_brand")).rowsBetween(Window.unboundedPreceding, 0)
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.withColumn("cum", F.sum("cnt").over(w_cum))
        .crossJoin(F.broadcast(total))
        .where((F.col("cum") - F.col("cnt")) < 0.9 * F.col("total"))
        .select("p_brand", "cnt", F.round(F.col("cum") / F.col("total"), 6).alias("cdf"))
    )


_Q_CDF_SQL = """
WITH counts AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), cum AS (
  SELECT p_brand, cnt,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, p_brand ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER () AS BIGINT) AS total
  FROM counts
)
SELECT p_brand, cnt, round(cum / CAST(total AS DOUBLE), 6) AS cdf
FROM cum WHERE (cum - cnt) < 0.9 * total
"""


def q_intermediate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (rules.py:286-439 metacyc_intermediate): intermediate rules chosen
    through their selected generalized parents.

    Stand-in modeling on the driver tables: 'generalized rules' = part
    brands, 'intermediate rules' = brand_type combinations (the child
    name extends the parent name, as rule0001_0023 extends rule0001).
    Generalized selection = 90%-coverage CDF prefix over brand counts;
    intermediate selection = 50%-coverage prefix over the semi-joined
    children with the denominator being the TOTAL child count before
    filtering (rules.py:352-355, 414-416).

    Scale: two map-side-combinable aggregations + a broadcast semi-join on
    the parent name; the window runs over the (tiny) rule dimension.
    """
    from mine_database_spark.sources.readers import (
        rules_fraction_coverage,
        rules_intermediate_select,
    )

    l, p = _t(spark, sf_dir, "lineitem", "part")
    j = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    gen = (
        j.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("counts"))
        .select(F.col("p_brand").alias("name"), "counts")
    )
    gen_sel = rules_fraction_coverage(gen, 0.9)
    inter = (
        j.groupBy("p_brand", "p_type")
        .agg(F.count(F.lit(1)).alias("counts"))
        .select(F.concat_ws("_", F.col("p_brand"), F.col("p_type")).alias("name"), "counts")
    )
    sel = rules_intermediate_select(inter, gen_sel, fraction_coverage=0.5)
    return sel.select("name", F.col("counts").cast("bigint").alias("counts"))


def q_operator_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (Reactions_predicted per operator): how many reactions each
    operator produced, where a reaction counts once per distinct operator.

    Stand-in modeling: 'reaction' = order, 'operator' = a returnflag+
    linestatus code among its lineitems. Set semantics as a pre-distinct
    on (orderkey, operator) — value-identical to collecting per-reaction
    operator SETS and exploding (the oracle has always used this form),
    but the distinct is a plain codegen HashAggregate with map-side
    partials, where collect_set buffered ~150k growing sets per pass and
    showed 3x bimodal GC swings in the bench. The engine's real set-union
    census lives at expansion.py:531 (oracle: collect_set_union).
    """
    (l,) = _t(spark, sf_dir, "lineitem")
    return (
        l.select(
            "l_orderkey",
            F.concat_ws("", F.col("l_returnflag"), F.col("l_linestatus")).alias("operator"),
        )
        .distinct()
        .groupBy("operator")
        .agg(F.count(F.lit(1)).alias("n_reactions"))
    )


_Q_OPERATOR_CENSUS_SQL = """
SELECT operator, CAST(COUNT(*) AS BIGINT) AS n_reactions
FROM (SELECT DISTINCT l_orderkey, l_returnflag || l_linestatus AS operator FROM lineitem)
GROUP BY operator
"""


_Q_INTERMEDIATE_RULES_SQL = """
WITH j AS (
  SELECT p_brand, p_type FROM lineitem JOIN part ON l_partkey = p_partkey
), gcnt AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt FROM j GROUP BY p_brand
), gcum AS (
  SELECT p_brand, cnt,
         SUM(cnt) OVER (ORDER BY cnt DESC, p_brand ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS total
  FROM gcnt
), gsel AS (
  SELECT p_brand FROM gcum WHERE (cum - cnt) < 0.9 * total
), icnt AS (
  SELECT p_brand || '_' || p_type AS name, p_brand, CAST(COUNT(*) AS BIGINT) AS counts
  FROM j GROUP BY p_brand, p_type
), itotal AS (
  SELECT SUM(counts) AS total FROM icnt
), ifilt AS (
  SELECT i.name, i.counts FROM icnt i JOIN gsel g ON i.p_brand = g.p_brand
), icum AS (
  SELECT name, counts,
         SUM(counts) OVER (ORDER BY counts DESC, name ROWS UNBOUNDED PRECEDING) AS cum
  FROM ifilt
)
SELECT name, counts FROM icum, itotal WHERE (cum - counts) <= 0.5 * total
"""


# ---------------------------------------------------------------------------
# Interval/range join (SURVEY §2.5 J2/J6: metabolomics mass-window search,
# metabolomics.py:189-271 — broadcast the tiny ranges side → BNLJ is the
# right physical plan; at 100TB add a bucketed-mass equi-join prefilter)

def q_mass_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r, o = _t(spark, sf_dir, "region", "orders")
    windows = r.select(
        F.col("r_name").alias("window_name"),
        (20000.0 + F.col("r_regionkey") * 90000.0).alias("lo"),
        (70000.0 + F.col("r_regionkey") * 90000.0).alias("hi"),
    )
    return (
        o.join(F.broadcast(windows), (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")))
        .select("window_name", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


_Q_RANGE_JOIN_SQL = """
WITH windows AS (
  SELECT r_name AS window_name, 20000.0 + r_regionkey * 90000.0 AS lo, 70000.0 + r_regionkey * 90000.0 AS hi
  FROM region
)
SELECT window_name, o_orderkey, round(o_totalprice, 2) AS totalprice
FROM orders JOIN windows ON o_totalprice >= lo AND o_totalprice < hi
"""


def q_mass_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 scale twin through the REAL find_db_hits_bucketed API
    (metabolomics.py — SURVEY §4's floor(mass/width) equi-join): peaks are
    high-value orders (mz = o_totalprice), adducts are region rows, core
    compounds are parts (mass = p_retailprice). The oracle is the plain
    range-join semantics, so a green row proves the bucketed rewrite is
    result-identical.

    Scale: windows explode to their ≤2 overlapping buckets and broadcast;
    the join is a hash join on the bucket key + exact window filter — no
    BroadcastNestedLoopJoin anywhere (test_plans.py gate). All mass math in
    IEEE doubles, bit-identical across engines.
    """
    from mine_database_spark.operators import metabolomics as mtb

    r, o, p = _t(spark, sf_dir, "region", "orders", "part")
    peaks = o.where(F.col("o_totalprice") > 80000.0).select(
        F.col("o_orderkey").alias("name"),
        F.col("o_totalprice").alias("mz"),
        F.lit("+").alias("charge"),
    )
    adducts = r.select(
        F.col("r_name").alias("adduct_name"),
        F.lit(100.0).alias("mass_mult"),
        (F.col("r_regionkey") * 1000.0).alias("ion_mass"),
        F.lit("+").alias("charge"),
    )
    core = p.select(
        F.col("p_partkey").alias("_id"),
        F.col("p_name").alias("smiles"),
        F.col("p_brand").alias("formula"),
        F.col("p_retailprice").alias("mass"),
    )
    hits = mtb.find_db_hits_bucketed(peaks, adducts, core, tolerance=0.05)
    return hits.select(
        "peak_id", "adduct_name", "_id", "smiles", "formula", F.round("mass", 2).alias("mass")
    )


_Q_RANGE_JOIN_BUCKETED_SQL = """
WITH peaks AS (
  SELECT o_orderkey AS peak_id, o_totalprice AS mz FROM orders WHERE o_totalprice > 80000.0
),
adducts AS (
  SELECT r_name AS adduct_name, 100.0 AS mass_mult, r_regionkey * 1000.0 AS ion_mass FROM region
),
windows AS (
  SELECT peak_id, adduct_name,
         (mz - ion_mass) / mass_mult - 0.05 AS lo,
         (mz - ion_mass) / mass_mult + 0.05 AS hi
  FROM peaks CROSS JOIN adducts
)
SELECT w.peak_id, w.adduct_name, p.p_partkey AS _id, p.p_name AS smiles,
       p.p_brand AS formula, round(p.p_retailprice, 2) AS mass
FROM part p JOIN windows w ON p.p_retailprice >= w.lo AND p.p_retailprice <= w.hi
"""


# ---------------------------------------------------------------------------
# Provenance scoring (SURVEY §2.5 J9: score_compounds 0.75/0.25 weighting,
# metabolomics.py:1209-1267 — semi-join flags + when/otherwise arithmetic)

def q_provenance_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, l, p = _t(spark, sf_dir, "customer", "orders", "lineitem", "part")
    native = (
        l.join(F.broadcast(p.where(F.col("p_size") >= 48)), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .select("o_custkey")
        .distinct()
    )
    big = o.where(F.col("o_totalprice") > 400000.0).select("o_custkey").distinct()
    return (
        c.join(native.withColumn("has_native", F.lit(1)), c.c_custkey == native.o_custkey, "left")
        .drop("o_custkey")
        .join(big.withColumn("has_big", F.lit(1)), c.c_custkey == big.o_custkey, "left")
        .drop("o_custkey")
        .select(
            "c_custkey",
            F.round(
                F.coalesce(F.col("has_native"), F.lit(0)) * 0.75 + F.coalesce(F.col("has_big"), F.lit(0)) * 0.25, 2
            ).alias("score"),
        )
    )


_Q_PROVENANCE_SQL = """
SELECT c_custkey,
       round(
         (CASE WHEN c_custkey IN (
            SELECT o_custkey FROM lineitem
            JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey
            WHERE p_size >= 48) THEN 1 ELSE 0 END) * 0.75
         + (CASE WHEN c_custkey IN (
            SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0) THEN 1 ELSE 0 END) * 0.25, 2)::DOUBLE AS score
FROM customer
"""


# ---------------------------------------------------------------------------
# Deterministic weighted sampling without replacement (SURVEY §2.8 O6 /
# §2.3 F4: SimilaritySamplingFilter one-pass Efraimidis–Spirakis rewrite —
# key = ln(u)/w, top-k by key; u derived from md5 so it is reproducible)

def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    u = hex_uniform(F.col("o_orderkey"))
    key = F.log(u) / F.col("o_totalprice")
    return (
        o.select("o_orderkey", key.alias("k"))
        .orderBy(F.col("k").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey")
    )


_Q_WEIGHTED_SAMPLE_SQL = """
SELECT o_orderkey FROM (
  SELECT o_orderkey,
         ln((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0) / o_totalprice AS k
  FROM orders
) ORDER BY k DESC, o_orderkey LIMIT 100
"""


# ---------------------------------------------------------------------------
# Top-k per group (SURVEY §2.7 W3: per-peak isomer ranking)

def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk", F.round("o_totalprice", 2).alias("totalprice"))
    )


_Q_TOPK_SQL = """
SELECT o_custkey, o_orderkey, CAST(rnk AS INT) AS rnk, round(o_totalprice, 2) AS totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Iterative BFS reachability (SURVEY §2.4 G1/G5: find_minimal_set /
# pathway search — frontier joins to fixpoint). Fixed 2-hop here so the
# oracle is plain SQL; the Spark side runs the generic iterative operator.

def q_copurchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = _t(spark, sf_dir, "lineitem", "part")
    membership = l.select(F.col("l_orderkey").alias("g"), F.col("l_partkey").alias("id"))
    seeds = p.where(F.col("p_size") == 50).select("p_partkey")
    return gr.bfs_reach_bipartite(membership, seeds, max_iter=2)


_Q_REACH_SQL = """
WITH seed AS (SELECT DISTINCT p_partkey AS id FROM part WHERE p_size = 50),
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
hop1 AS (
  SELECT DISTINCT b.l_partkey AS id
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_partkey IN (SELECT id FROM seed)
), h1 AS (SELECT id FROM hop1 WHERE id NOT IN (SELECT id FROM seed)),
hop2 AS (
  SELECT DISTINCT b.l_partkey AS id
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_partkey IN (SELECT id FROM h1)
), h2 AS (SELECT id FROM hop2 WHERE id NOT IN (SELECT id FROM seed) AND id NOT IN (SELECT id FROM h1))
SELECT id, 0 AS hops FROM seed
UNION ALL SELECT id, 1 AS hops FROM h1
UNION ALL SELECT id, 2 AS hops FROM h2
"""


def q_order_chain_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5/O5 pathway enumeration (Scripts/pathway_search.py:59-144): each
    customer's orders form a date-ordered chain; enumerate every path prefix
    from the first order, depth-capped at 5, carrying the rendered path.
    Oracle = a genuine WITH RECURSIVE CTE.

    Chain-shaped edges (out-degree ≤ 1) make every path a window prefix, so
    this runs as ONE shuffle — row_number and the collect_list prefix share
    the same (custkey, orderdate) sort — instead of the depth-capped
    iterative join `graph.enumerate_paths` uses for general DAGs (which is
    the plan copurchase_reach demonstrates, and what this query ran before:
    4 join+distinct rounds, measured 2.8× slower at sf0.1)."""
    (o,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prefix = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        o.select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("nodes", F.collect_list("o_orderkey").over(prefix))
        .where(F.col("rn") <= 5)
        .select(
            F.col("o_orderkey").alias("node"),
            F.array_join(
                F.transform(F.col("nodes"), lambda x: x.cast("string")), "->"
            ).alias("path"),
            F.col("rn").cast("int").alias("length"),
        )
    )


_Q_ORDER_CHAIN_SQL = """
WITH RECURSIVE ord AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
edges AS (
  SELECT a.o_orderkey AS src, b.o_orderkey AS dst
  FROM ord a JOIN ord b ON a.o_custkey = b.o_custkey AND b.rn = a.rn + 1
),
p AS (
  SELECT o_orderkey AS node, CAST(o_orderkey AS VARCHAR) AS path, 1 AS length
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT e.dst, p.path || '->' || CAST(e.dst AS VARCHAR), p.length + 1
  FROM p JOIN edges e ON p.node = e.src
  WHERE p.length < 5
)
SELECT node, path, CAST(length AS INT) AS length FROM p
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style top-3 terms per document with an integer rarity weight
    tf·(N−df) (exact under any partitioning; no libm log whose last bit
    could differ between engines). Three map-side-combinable shuffles:
    tf groupBy(doc,tok), df groupBy(tok), then the tok-keyed join + per-doc
    window rank."""
    (d,) = _t(spark, sf_dir, "documents")
    # corpus size folds in as a broadcast 1-row aggregate (like
    # rule_coverage_cdf) — no plan-build-time count() action
    n_docs = d.agg(F.count(F.lit(1)).alias("__n"))
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "tok").crossJoin(F.broadcast(n_docs)).select(
        "doc_id", "tok", (F.col("tf") * (F.col("__n") - F.col("df"))).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "tok", "score")
    )


_Q_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents
  ) WHERE tok <> ''
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
n AS (SELECT COUNT(*) AS n FROM documents),
s AS (
  SELECT tf.doc_id, tf.tok, tf.tf * (n.n - dfreq.df) AS score
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
),
r AS (
  SELECT doc_id, tok, score,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS INT) AS rank
  FROM s
)
SELECT doc_id, rank, tok, score FROM r WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Sessionization + tumbling windows (batch equivalents of the streaming
# patterns; SURVEY §2.11 — the reference is batch-only, these extend it)

def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (e,) = _t(spark, sf_dir, "events")
    return sz.sessionize(e)


_Q_SESSIONIZE_SQL = """
WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
s AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
n AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM s),
x AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM n)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(us) AS start_us, MAX(us) AS end_us, MAX(us) - MIN(us) AS duration_us
FROM x GROUP BY user_id, session_id
"""


def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event gets the most recent prior (or
    simultaneous) click by the same user — the point-in-time enrichment
    pattern (operators/asof.py; oracle is DuckDB's native ASOF JOIN).

    Scale: single hash exchange on user_id + one sort; the physical plan
    contains NO join operator (union + running last() window), so there is
    no range-explode and per-key window state is one row.
    """
    from mine_database_spark.operators.asof import asof_join

    (e,) = _t(spark, sf_dir, "events")
    us = sz._micros(e, "ts")
    p = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("purchase_us")
    )
    # no pre-dedup on ties: the window tiebreak (last = max event_id at an
    # equal timestamp) IS the dedup, keeping the whole query at ONE hash
    # exchange; the oracle groups first because DuckDB ASOF is undefined on
    # duplicate right timestamps — the max-event_id winner is identical
    c = e.where(F.col("event_type") == "click").select(
        "user_id", us.alias("click_us"), F.col("event_id").alias("click_event_id")
    )
    j = asof_join(
        p, c, "user_id", "purchase_us", "click_us", ["click_event_id"],
        right_tiebreak="click_event_id",
    )
    # no-match sentinel -1 instead of NULL: keeps the value-hash compare
    # total-ordered in both engines
    return j.select(
        "event_id",
        "user_id",
        "purchase_us",
        F.coalesce("click_event_id", F.lit(-1)).alias("click_event_id"),
        F.coalesce(F.col("purchase_us") - F.col("asof_ts"), F.lit(-1)).alias("gap_us"),
    )


_Q_ASOF_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
), p AS (
  SELECT event_id, user_id, us AS purchase_us FROM e WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, us AS click_us, max(event_id) AS click_event_id
  FROM e WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, p.purchase_us,
       coalesce(c.click_event_id, -1) AS click_event_id,
       coalesce(p.purchase_us - c.click_us, -1) AS gap_us
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.purchase_us >= c.click_us
"""


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    (e,) = _t(spark, sf_dir, "events")
    return sz.tumbling_window_agg(e)


_Q_TUMBLING_SQL = """
SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       (CASE WHEN SUM(CAST(round(value * 100) AS BIGINT)) < 0 THEN -1 ELSE 1 END
          * ((200 * abs(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)) + COUNT(*))
             // (2 * COUNT(*)))) / 10000.0 AS avg_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline: dedup family over documents

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    (d,) = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(d)


_Q_DEDUP_EXACT_SQL = """
SELECT md5(text) AS digest, MIN(doc_id) AS survivor_id, COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


def q_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source dedup with a source-priority policy
    (dedup.priority_dedup): a 'curated' re-publication of every even-id
    document (new id = doc_id + 1,000,000) is preferred over the original
    crawl sources, so the survivor is the CURATED (larger-id) copy — the
    policy demonstrably overrides exact_dedup's min-id rule while staying
    one map-side-combinable min(struct) aggregate."""
    (d,) = _t(spark, sf_dir, "documents")
    curated = d.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("text"),
        F.lit("curated").alias("source"),
    )
    corpus = d.select("doc_id", "text", "source").unionByName(curated)
    return dd.priority_dedup(corpus, {"curated": 0}, default_priority=10)


_Q_PRIORITY_DEDUP_SQL = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 'curated' FROM documents WHERE doc_id % 2 = 0
),
k AS (
  SELECT md5(text) AS digest, doc_id, source,
         CASE WHEN source = 'curated' THEN 0 ELSE 10 END AS r
  FROM corpus
),
w AS (
  SELECT digest, doc_id, source,
         row_number() OVER (PARTITION BY digest ORDER BY r, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY digest) AS dup_count
  FROM k
)
SELECT digest, doc_id AS survivor_id, source AS survivor_source,
       CAST(dup_count AS BIGINT) AS dup_count
FROM w WHERE rn = 1
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version diff (dedup.snapshot_diff): old = documents minus
    ids ≡ 3 (mod 11); new = documents minus ids ≡ 5 (mod 13) with ids ≡ 0
    (mod 7) re-edited ('rev2 ' prefix). Content digest spans (text, lang)
    to exercise the multi-column length-prefixed hashing."""
    (d,) = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 11 != 3)
    new = d.where(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.lit("rev2 "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    return dd.snapshot_diff(old, new, content_cols=("text", "lang"))


# chr(31) = the \x1f column separator, chr(0) = the NULL sentinel —
# byte-identical to snapshot_diff's length-prefixed digest input
_Q_SNAPSHOT_DIFF_SQL = """
WITH o AS (
  SELECT doc_id,
         md5(concat_ws(chr(31),
           CASE WHEN text IS NULL THEN chr(0) ELSE length(text)::VARCHAR || ':' || text END,
           CASE WHEN lang IS NULL THEN chr(0) ELSE length(lang)::VARCHAR || ':' || lang END)) AS old_digest
  FROM documents WHERE doc_id % 11 <> 3
),
n0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN 'rev2 ' || text ELSE text END AS text,
         lang
  FROM documents WHERE doc_id % 13 <> 5
),
n AS (
  SELECT doc_id,
         md5(concat_ws(chr(31),
           CASE WHEN text IS NULL THEN chr(0) ELSE length(text)::VARCHAR || ':' || text END,
           CASE WHEN lang IS NULL THEN chr(0) ELSE length(lang)::VARCHAR || ':' || lang END)) AS new_digest
  FROM n0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN old_digest = new_digest THEN 'unchanged'
            ELSE 'changed' END AS status,
       old_digest, new_digest
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-insensitive exact dedup (dedup.normalized_dedup):
    every third document gets a reformatted re-publication (leading/
    trailing whitespace + punctuation noise, new id) that byte-exact dedup
    cannot collapse — the normalized digest folds each such pair into one
    group with n_variants = 2. ASCII-only noise keeps the synthesis
    locale-independent across engines."""
    (d,) = _t(spark, sf_dir, "documents")
    reformatted = d.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("  "), F.col("text"), F.lit(" !!! ")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(reformatted)
    return dd.normalized_dedup(corpus)


_Q_NORMALIZED_DEDUP_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000, '  ' || text || ' !!! ' FROM documents WHERE doc_id % 3 = 0
),
k AS (
  SELECT doc_id,
         md5(regexp_replace(regexp_replace(regexp_replace(lower(text),
             '[^\p{L}\p{N}\s]+', ' ', 'g'),
             '\s+', ' ', 'g'),
             '^ | $', '', 'g')) AS digest,
         md5(text) AS raw_digest
  FROM corpus
)
SELECT digest, MIN(doc_id) AS survivor_id, COUNT(*) AS dup_count,
       COUNT(DISTINCT raw_digest) AS n_variants
FROM k GROUP BY digest
"""


_SHINGLE_SQL = """
tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
pos AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {km1})) AS i FROM tok WHERE len(toks) >= {k}),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i + {km1}], ' ') AS shingle FROM pos)
"""


def q_ngram_candidate_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index pair-join volume audit (dedup.ngram_candidate_volume)
    at the registered ngram_jaccard config (k=2 bigrams, df_cap=50) — the
    ngram tier's candidate-fraction sibling and the first-class face of
    the uncapped path's pre-flight guard: exact Σ df·(df−1)/2, the capped
    twin's volume, hot-shingle count, and the hottest posting list, all
    from one scan + two map-side-combinable aggregations."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.ngram_candidate_volume(d, k=2, df_cap=50)


_Q_NGRAM_CANDIDATE_VOLUME_SQL = (
    "WITH " + _SHINGLE_SQL.format(k=2, km1=1) + """,
dfs AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY shingle)
SELECT CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(df) AS BIGINT) AS n_postings,
       CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS cand_pairs,
       CAST(SUM(CASE WHEN df <= 50 THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT) AS cand_pairs_capped,
       CAST(SUM(CASE WHEN df > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
       CAST(MAX(df) AS BIGINT) AS max_df
FROM dfs
"""
)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    (d,) = _t(spark, sf_dir, "documents")
    return dd.minhash_lsh_dedup(d, k=5, num_hashes=16, rows_per_band=4)


# 16 permutations from ONE md5 per shingle via universal hashing
# (a_i·x + b_i) mod p — constants imported from dedup.MH_AB so the oracle
# and dedup.minhash_signatures can never drift apart.
_MH_AB_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(dd.MH_AB[:16])
)
_MINHASH_CTES_SQL = f"""
xs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {dd.MH_P} AS x FROM sh
),
ab(i, a, b) AS (VALUES {_MH_AB_VALUES}),
mh AS (
  SELECT doc_id, i, MIN((a * x + b) % {dd.MH_P}) AS mh
  FROM xs CROSS JOIN ab GROUP BY doc_id, i
),
band AS (
  SELECT doc_id, CAST(i // 4 AS INT) AS band,
         md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY i)) AS band_sig
  FROM mh GROUP BY doc_id, i // 4
)"""


_Q_MINHASH_SQL = (
    "WITH " + _SHINGLE_SQL.format(k=5, km1=4) + "," + _MINHASH_CTES_SQL + """
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM band a JOIN band b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""
)


def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard estimator audit (dedup.minhash_jaccard_estimate):
    per LSH candidate pair, the 16-hash signature-agreement estimate
    alongside the exact shingle Jaccard and abs_err — the measured
    accuracy of the sketch the banding decision rides on."""
    (d,) = _t(spark, sf_dir, "documents")
    # storage_level deliberately None: r15 A/B measured the persist
    # neutral-to-negative (2.63s recompute vs 2.83s persisted) — AQE
    # exchange reuse covers the signature rebuild across branches
    return dd.minhash_jaccard_estimate(d, k=5, num_hashes=16, rows_per_band=4)


_Q_MINHASH_EST_SQL = (
    "WITH " + _SHINGLE_SQL.format(k=5, km1=4) + "," + _MINHASH_CTES_SQL + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM band a JOIN band b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
agree AS (
  SELECT p.a_id, p.b_id,
         CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS INT) AS n_agree
  FROM pairs p
  JOIN mh ma ON ma.doc_id = p.a_id
  JOIN mh mb ON mb.doc_id = p.b_id AND mb.i = ma.i
  GROUP BY 1, 2
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
  FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ex AS (
  SELECT a_id, b_id, round(i / CAST(na.n + nb.n - i AS DOUBLE), 6) AS jaccard
  FROM inter JOIN sizes na ON inter.a_id = na.doc_id JOIN sizes nb ON inter.b_id = nb.doc_id
)
SELECT agree.a_id, agree.b_id, n_agree,
       round(n_agree / 16.0, 6) AS est_jaccard,
       coalesce(ex.jaccard, 0.0) AS jaccard,
       round(abs(round(n_agree / 16.0, 6) - coalesce(ex.jaccard, 0.0)), 6) AS abs_err
FROM agree LEFT JOIN ex ON agree.a_id = ex.a_id AND agree.b_id = ex.b_id
"""
)


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → dedup clusters: every doc in
    a cluster labeled with the cluster's min doc_id (the survivor). The
    missing step between pair generation and actually dropping duplicates.
    Oracle = recursive-CTE transitive closure over the same pairs."""
    from mine_database_spark.operators.graph import connected_components

    (d,) = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_dedup(d, k=5, num_hashes=16, rows_per_band=4)
    return connected_components(pairs).select(F.col("id").alias("doc_id"), "component")


_Q_DUP_CLUSTERS_SQL = (
    "WITH RECURSIVE " + _SHINGLE_SQL.format(k=5, km1=4) + "," + _MINHASH_CTES_SQL + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM band a JOIN band b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sym AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION SELECT b_id, a_id FROM pairs),
reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT src AS doc_id, least(src, MIN(dst)) AS component FROM reach GROUP BY src
"""
)


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup report (dedup.cdc_segments, k=4
    grams, divisor 16 ≈ 16-token segments): per-source segment counts,
    distinct segment hashes, duplicate share, mean segment length —
    boilerplate detection at content-ALIGNED granularity (an insertion
    shifts one segment; every later one re-hashes identically, which
    fixed windows cannot do)."""
    (d,) = _t(spark, sf_dir, "documents")
    s = dd.cdc_segments(d, k=4, divisor=16)
    nseg = F.count(F.lit(1)).cast("bigint")
    ndis = F.countDistinct("seg_hash").cast("bigint")
    return s.groupBy("source").agg(
        nseg.alias("n_segments"),
        ndis.alias("distinct_segments"),
        F.round(F.lit(1.0) - ndis / nseg, 6).alias("dup_share"),
        F.round(F.avg("seg_tokens"), 2).alias("avg_seg_tokens"),
    )




def q_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivorship (dedup.keep_best_dedup): minhash
    LSH pairs → connected components → each cluster keeps its LONGEST
    member (n_chars score, ties by min id) instead of the min id — 'keep
    the most complete copy'. Singletons survive as themselves. Oracle =
    the dup_clusters recursive-CTE closure + the same window pick."""
    from mine_database_spark.operators.dedup import keep_best_dedup

    (d,) = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_dedup(d, k=5, num_hashes=16, rows_per_band=4)
    return keep_best_dedup(d, pairs, score_col="n_chars")


_Q_KEEP_BEST_SQL = (
    "WITH RECURSIVE " + _SHINGLE_SQL.format(k=5, km1=4) + "," + _MINHASH_CTES_SQL + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM band a JOIN band b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sym AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION SELECT b_id, a_id FROM pairs),
reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
),
cc AS (SELECT src AS doc_id, least(src, MIN(dst)) AS component FROM reach GROUP BY src),
joined AS (
  SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS component,
         d.n_chars AS score
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
)
SELECT doc_id, component, score,
       row_number() OVER (PARTITION BY component ORDER BY score DESC, doc_id) = 1 AS is_survivor
FROM joined
"""
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    (d,) = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(d, k=2, threshold=0.2, storage_level=StorageLevel.MEMORY_AND_DISK)


_Q_NGRAM_JACCARD_SQL = (
    "WITH " + _SHINGLE_SQL.format(k=2, km1=1) + """,
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id, round(i / CAST(na.n + nb.n - i AS DOUBLE), 6) AS jaccard
FROM inter JOIN sizes na ON inter.a_id = na.doc_id JOIN sizes nb ON inter.b_id = nb.doc_id
WHERE round(i / CAST(na.n + nb.n - i AS DOUBLE), 6) >= 0.2
"""
)


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram_jaccard with the production df-cap: shingles in more than 50
    documents are dropped before the pair join (they are stop-shingles that
    make the self-join quadratic in posting-list length at scale); Jaccard
    is exact over the capped shingle universe, mirrored in the oracle."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(d, k=2, threshold=0.2, df_cap=50, storage_level=StorageLevel.MEMORY_AND_DISK)


_Q_NGRAM_JACCARD_CAPPED_SQL = (
    "WITH " + _SHINGLE_SQL.format(k=2, km1=1) + """,
capped AS (
  SELECT * FROM sh WHERE shingle IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id, round(i / CAST(na.n + nb.n - i AS DOUBLE), 6) AS jaccard
FROM inter JOIN sizes na ON inter.a_id = na.doc_id JOIN sizes nb ON inter.b_id = nb.doc_id
WHERE round(i / CAST(na.n + nb.n - i AS DOUBLE), 6) >= 0.2
"""
)


def q_text_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest text neighbors per doc by capped bigram Jaccard
    (dedup.text_knn) — the text-side kNN graph over the shared-shingle
    inverted index; WindowGroupLimit bounds the per-doc output, df_cap 50
    bounds the pair join (the ngram_jaccard_capped scale recipe)."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.text_knn(
        d, k=2, top_k=3, threshold=0.2, df_cap=50,
        storage_level=StorageLevel.MEMORY_AND_DISK,
    )


_Q_TEXT_KNN_SQL = (
    "WITH " + _SHINGLE_SQL.format(k=2, km1=1) + """,
capped AS (
  SELECT * FROM sh WHERE shingle IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT a_id, b_id, round(i / CAST(na.n + nb.n - i AS DOUBLE), 6) AS jaccard
  FROM inter JOIN sizes na ON inter.a_id = na.doc_id JOIN sizes nb ON inter.b_id = nb.doc_id
  WHERE round(i / CAST(na.n + nb.n - i AS DOUBLE), 6) >= 0.2
),
sym AS (
  SELECT a_id AS doc_id, b_id AS nbr_id, jaccard FROM pairs
  UNION ALL
  SELECT b_id, a_id, jaccard FROM pairs
),
r AS (
  SELECT doc_id, nbr_id, jaccard,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, nbr_id) AS INT) AS rank
  FROM sym
)
SELECT doc_id, rank, nbr_id, jaccard FROM r WHERE rank <= 3
"""
)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (d,) = _t(spark, sf_dir, "documents")
    return dd.simhash60(d)


_Q_SIMHASH_SQL = """
WITH tok AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents) WHERE tok <> ''),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
bits AS (
  SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS contrib
  FROM (SELECT doc_id, h, unnest(generate_series(0, 59)) AS b FROM h)
),
s AS (SELECT doc_id, b, CAST(SUM(contrib) AS BIGINT) AS s FROM bits GROUP BY doc_id, b)
SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
FROM s GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline: text analysis

_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"]


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + fingerprinting: token stats, stopword ratio,
    composite score, md5 fingerprint — all native scalar expressions.

    Scan-only regexp forms (functions/text.py) instead of split() + lambda
    higher-order functions: HOFs fall out of whole-stage codegen and
    re-evaluate the tokenizer per consumer — the regexp form measured ~5x
    faster at sf0.1 with identical values.
    """
    from mine_database_spark.functions.text import nonspace_chars, stopword_token_count, token_count

    (d,) = _t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    # nullif keeps empty/whitespace-only docs ANSI-safe (NULL ratios, no
    # divide-by-zero error) and matched to the oracle's nullif
    safe_n = F.nullif(n_tok, F.lit(0))
    tok_chars = nonspace_chars(F.col("text"))
    sw_hits = stopword_token_count(F.col("text"), _STOPWORDS)
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(tok_chars / safe_n, 4).alias("avg_token_len"),
        F.round(sw_hits / safe_n, 4).alias("stopword_ratio"),
        F.round(
            0.5 * F.least(n_tok / 100.0, F.lit(1.0)) + 0.5 * (1.0 - sw_hits / safe_n), 4
        ).alias("quality_score"),
        F.md5(F.lower(F.col("text"))).alias("fingerprint"),
    )


_Q_TEXT_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), f AS (
  SELECT doc_id, text, CAST(len(toks) AS INT) AS n_tokens,
         CAST(coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) AS INT) AS tok_chars,
         CAST(len(list_filter(toks, x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x))) AS INT) AS sw_hits
  FROM t
)
SELECT doc_id, n_tokens,
       round(tok_chars / CAST(nullif(n_tokens, 0) AS DOUBLE), 4) AS avg_token_len,
       round(sw_hits / CAST(nullif(n_tokens, 0) AS DOUBLE), 4) AS stopword_ratio,
       round(0.5 * least(n_tokens / 100.0, 1.0) + 0.5 * (1.0 - sw_hits / CAST(nullif(n_tokens, 0) AS DOUBLE)), 4) AS quality_score,
       md5(lower(text)) AS fingerprint
FROM f
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/Dolma repetition rules):
    per document, the fraction of word 2-grams that are repeats of an
    earlier occurrence and the fraction claimed by the single most frequent
    2-gram. High values flag boilerplate/spam for training-data filtering.

    Scale: explode rides the scan; one (doc_id, gram) partial-agg shuffle
    then a doc_id agg — both map-side combinable, no Python.
    """
    from mine_database_spark.functions.text import word_shingle_strings

    (d,) = _t(spark, sf_dir, "documents")
    g = d.select("doc_id", F.explode(word_shingle_strings(F.col("text"), 2)).alias("gram"))
    per = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("nd"),
            F.max("c").alias("top"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_2grams"),
            F.round(1.0 - F.col("nd") / F.col("n"), 6).alias("dup_2gram_frac"),
            F.round(F.col("top") / F.col("n"), 6).alias("top_2gram_frac"),
        )
    )


_Q_REPETITION_SQL = """
WITH tok AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tok WHERE len(toks) >= 2)
), per AS (
  SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY doc_id, gram
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
       round(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS dup_2gram_frac,
       round(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_2gram_frac
FROM per GROUP BY doc_id
"""


def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rule set: per document the word-level
    repetition fractions, mean word length, and distinct-stopword presence,
    folded into a keep/drop decision — the rule-based pre-filter every
    LLM-training corpus goes through before model-based scoring.

    Thresholds follow the published Gopher rules adapted to word level
    (mean word length in [3,10], top-word fraction <= 0.2, >= 2 distinct
    stopwords); n_tokens bounds are scaled to the synthetic corpus.

    Scale: explode rides the scan; one (doc_id, tok) partial-agg shuffle
    then a doc_id agg — same two-level combinable shape as repetition_stats.
    Docs with zero tokens are dropped by explode in both engines.
    """
    (d,) = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    per = t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    a = per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.max("c").cast("bigint").alias("top"),
        F.sum(F.length("tok") * F.col("c")).cast("bigint").alias("chars"),
        F.count(F.when(F.col("tok").isin(*_STOPWORDS), 1)).cast("bigint").alias("n_stop_distinct"),
    )
    mean_wl = F.round(F.col("chars").cast("double") / F.col("n"), 4)
    top_frac = F.round(F.col("top") / F.col("n").cast("double"), 6)
    dup_frac = F.round(1.0 - F.col("nd") / F.col("n").cast("double"), 6)
    keep = (
        F.col("n").between(20, 100000)
        & mean_wl.between(3.0, 10.0)
        & (top_frac <= 0.2)
        & (F.col("n_stop_distinct") >= 2)
    )
    return a.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        dup_frac.alias("dup_word_frac"),
        top_frac.alias("top_word_frac"),
        mean_wl.alias("mean_word_len"),
        "n_stop_distinct",
        keep.cast("int").alias("keep"),
    )


_Q_QUALITY_RULES_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS tok
  FROM documents
), per AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY doc_id, tok
), a AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(MAX(c) AS BIGINT) AS top,
         CAST(SUM(length(tok) * c) AS BIGINT) AS chars,
         CAST(COUNT(CASE WHEN list_contains(['the','a','an','of','and','to','in','is','it','for'], tok) THEN 1 END) AS BIGINT) AS n_stop_distinct
  FROM per GROUP BY doc_id
)
SELECT doc_id, n AS n_tokens,
       round(1.0 - nd / CAST(n AS DOUBLE), 6) AS dup_word_frac,
       round(top / CAST(n AS DOUBLE), 6) AS top_word_frac,
       round(CAST(chars AS DOUBLE) / n, 4) AS mean_word_len,
       n_stop_distinct,
       CAST(CASE WHEN n BETWEEN 20 AND 100000
                  AND round(CAST(chars AS DOUBLE) / n, 4) BETWEEN 3.0 AND 10.0
                  AND round(top / CAST(n AS DOUBLE), 6) <= 0.2
                  AND n_stop_distinct >= 2
             THEN 1 ELSE 0 END AS INT) AS keep
FROM a
"""


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (functions/pii.py) over a contact string.

    The synthetic corpus contains no PII, so the query derives a
    deterministic contact line from each event row in BOTH engines
    (user<id>@corp.example + a dashed phone) and then runs the real
    scanners: email/phone/SSN counts, total hits, and an md5 of the
    redacted text — the md5 pins regexp_replace span semantics across
    Java regex and RE2.

    Scale: pure scan, zero shuffles, zero Python — the scrub pass an LLM
    pipeline runs over every byte of a 100 TB corpus.
    """
    from mine_database_spark.functions import pii

    (e,) = _t(spark, sf_dir, "events")
    contact = F.concat(
        F.lit("user"), F.col("user_id").cast("string"), F.lit("@corp.example called +1-202-555-"),
        F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-"),
        F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
        F.lit(" props "), F.col("props"),
    )
    c = e.select("event_id", contact.alias("t"))
    # each class regex runs ONCE: totals are arithmetic over the aliased
    # count columns in a second projection (pii_count would re-scan)
    counted = c.select(
        "event_id",
        "t",
        pii.email_count(F.col("t")).alias("n_emails"),
        pii.phone_count(F.col("t")).alias("n_phones"),
        pii.ipv4_count(F.col("t")).alias("n_ip"),
        pii.ssn_count(F.col("t")).alias("n_ssns"),
    )
    return counted.select(
        "event_id",
        "n_emails",
        "n_phones",
        "n_ssns",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_ip") + F.col("n_ssns")).alias("n_pii"),
        F.md5(pii.redact_pii(F.col("t"))).alias("redacted_md5"),
    )


def q_cc_luhn_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-verified credit-card scan (functions/pii.py:cc_valid_count):
    pattern hits alone over-redact — an order id can look exactly like a
    card — so the Luhn mod-10 tier splits SHAPED matches from VERIFIED
    numbers (~10% of random 16-digit runs pass). The corpus has no card
    numbers, so each event derives a deterministic card-shaped string in
    BOTH engines (last group = event_id % 10000, so validity varies row
    by row) and the scan runs for real. Pure scan: zero shuffle, zero
    Python — integer array expressions end to end."""
    from mine_database_spark.functions import pii

    (e,) = _t(spark, sf_dir, "events")
    t = F.concat(
        F.lit("paid with 4111-1111-1111-"),
        F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ref "),
        F.col("props"),
    )
    c = e.select("event_id", t.alias("t"))
    return c.select(
        "event_id",
        pii.cc_count(F.col("t")).alias("n_cc"),
        pii.cc_valid_count(F.col("t")).alias("n_cc_valid"),
    )


def _cc_luhn_sql() -> str:
    from mine_database_spark.functions import pii

    t = (
        "'paid with 4111-1111-1111-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')"
        " || ' ref ' || props"
    )
    return f"""
WITH c AS (SELECT event_id, {t} AS t FROM events)
SELECT event_id,
       {pii.duckdb_count_sql('t', pii.CC_RE)} AS n_cc,
       {pii.duckdb_cc_valid_count_sql('t')} AS n_cc_valid
FROM c
"""


_Q_CC_LUHN_SQL = _cc_luhn_sql()


def _pii_sql() -> str:
    from mine_database_spark.functions import pii

    contact = (
        "'user' || CAST(user_id AS VARCHAR) || '@corp.example called +1-202-555-' || "
        "lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') || ' ssn 123-45-' || "
        "lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') || ' props ' || props"
    )
    n_email = pii.duckdb_count_sql("t", pii.EMAIL_RE)
    n_phone = pii.duckdb_count_sql("t", pii.PHONE_RE)
    n_ssn = pii.duckdb_count_sql("t", pii.SSN_RE)
    n_ip = pii.duckdb_count_sql("t", pii.IPV4_RE)
    return f"""
WITH c AS (SELECT event_id, {contact} AS t FROM events)
SELECT event_id,
       {n_email} AS n_emails,
       {n_phone} AS n_phones,
       {n_ssn} AS n_ssns,
       {n_email} + {n_phone} + {n_ip} + {n_ssn} AS n_pii,
       md5({pii.duckdb_redact_sql('t')}) AS redacted_md5
FROM c
"""


_Q_PII_SQL = _pii_sql()


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing): min hash per
    sliding window over character 5-grams — edit-robust local fingerprints,
    complementing md5 (exact) and simhash (global)."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.winnow_fingerprints(d, k=5, w=4)


_Q_WINNOW_SQL = """
WITH g AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(substr(text, i, 5)), 1, 8))::BIGINT AS h
  FROM (
    SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS i
    FROM documents WHERE length(text) >= 5
  )
),
m AS (
  SELECT doc_id, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min,
         MAX(pos) OVER (PARTITION BY doc_id) AS n
  FROM g
)
SELECT DISTINCT doc_id, win_min AS fingerprint FROM m WHERE pos <= n - 3
"""


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style local-overlap candidate pairs
    (dedup.winnow_candidate_pairs): documents sharing >= 3 winnowing
    fingerprints after dropping fingerprints in > 20 documents (the
    boilerplate/skew cap — a fingerprint shared by f docs emits f(f-1)/2
    pairs). Catches partial overlap (a copied paragraph) that global
    MinHash/SimHash candidates miss."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.winnow_candidate_pairs(
        d, k=5, w=4, min_shared=3, df_cap=20,
        storage_level=StorageLevel.MEMORY_AND_DISK,
    )


_Q_WINNOW_PAIRS_SQL = """
WITH g AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(substr(text, i, 5)), 1, 8))::BIGINT AS h
  FROM (
    SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS i
    FROM documents WHERE length(text) >= 5
  )
),
m AS (
  SELECT doc_id, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min,
         MAX(pos) OVER (PARTITION BY doc_id) AS n
  FROM g
),
fp AS (SELECT DISTINCT doc_id, win_min AS fingerprint FROM m WHERE pos <= n - 3),
keep AS (SELECT fingerprint FROM fp GROUP BY fingerprint HAVING COUNT(*) <= 20),
fpk AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN keep USING (fingerprint))
SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fpk a JOIN fpk b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: stopword-density buckets (deterministic n-gram
    heuristic; a real model slots into the same column contract)."""
    from mine_database_spark.functions.text import stopword_token_count, token_count

    (d,) = _t(spark, sf_dir, "documents")
    ratio = stopword_token_count(F.col("text"), _STOPWORDS) / F.nullif(
        token_count(F.col("text")), F.lit(0)
    )
    return d.select(
        "doc_id",
        F.round(ratio, 4).alias("stopword_ratio"),
        F.when(ratio >= 0.2, F.lit("en")).when(ratio >= 0.1, F.lit("mixed")).otherwise(F.lit("other")).alias(
            "pred_lang"
        ),
    )


_Q_LANG_ID_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), r AS (
  SELECT doc_id,
         len(list_filter(toks, x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x))) / CAST(nullif(len(toks), 0) AS DOUBLE) AS ratio
  FROM t
)
SELECT doc_id, round(ratio, 4) AS stopword_ratio,
       CASE WHEN ratio >= 0.2 THEN 'en' WHEN ratio >= 0.1 THEN 'mixed' ELSE 'other' END AS pred_lang
FROM r
"""


def q_lang_id_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based language ID (quality.CharBigramLangID): char-bigram
    multinomial NB over the script-aware LANGID_NCLS-class alphabet (a-z +
    digits + one class per major Unicode script block; r14 advice), FIT on
    this corpus's own (lang, text) labels (distributed gram counts + one
    small-by-contract collect of <= langs x LANGID_V rows, then integer-
    quantized log-prob literals), scored as a pure zero-Python scan
    (explode+groupBy aggregate shape — measured against the HOF-fold twin,
    see CharBigramLangID.transform), with the mismatch audit
    against the declared label (q_lang_mismatch's contract, upgraded from
    the stopword heuristic). The synthetic corpus draws every language
    from one vocabulary, so accuracy here reads near the majority-class
    floor — the pipeline-relevant outputs are the deterministic scores
    and the mismatch flag, which the oracle replays bit-exactly (integer
    score sums; ln() agrees across engines at the 1e-6 quantization grid,
    the q_quality_classifier exp() precedent).

    r16 (VERDICT #5, guide §4.2): the gram table extracts via the
    mapInArrow numpy batch extractor (explode_gram_table_arrow) —
    char-bigram class indices are INTEGERS, so the Arrow path is
    bit-identical to the r15 interpreted HOF chain (full-table equality
    pinned in tests/test_quality.py and by the value oracle). With the
    extraction now cheap (0.44 s vs 0.72 s HOF, isolated noop at sf0.1),
    the r15 shared-persist trade INVERTED and was re-measured: the cache
    materialization costs more than a second extraction (counts job
    1.37 s persisted vs 0.65 s fresh), so fit and scoring each extract
    their own table — measured full-query A/B (min-of-3, rows identical):
    persist+share 2.72 s vs fresh-per-consumer 2.18 s."""
    from mine_database_spark.operators.quality import (
        explode_gram_table_arrow,
        fit_char_bigram_langid,
    )

    (d,) = _t(spark, sf_dir, "documents")
    m = fit_char_bigram_langid(
        d, exploded=explode_gram_table_arrow(d, "doc_id", "text", ("lang",))
    )
    out = m.transform(
        d,
        extra_cols=("lang",),
        exploded=explode_gram_table_arrow(d, "doc_id", "text", ("lang",)),
    )
    return out.select(
        "doc_id",
        "lang",
        "pred_lang",
        "score_q",
        (F.col("pred_lang") != F.col("lang")).alias("mismatch"),
    )


# the char-class CASE is generated from quality's block table so the
# oracle can never drift from the Spark/python classing (one source of
# truth); cls evaluates ascii() once per char (the Spark shape), then
# bigrams index the 1-based class list
_LANGID_GRAM_SQL = f"""
  CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t) - 1), j ->
    cls[j] * {_LANGID_NCLS} + cls[j + 1])
  ELSE [] END"""

_LANGID_CLS_SQL = (
    "list_transform(list_transform(generate_series(1, len(t)), j -> "
    f"ascii(substr(t, j, 1))), p -> {_langid_class_sql('p')})"
)

_Q_LANG_ID_MODEL_SQL = f"""
WITH d AS (
  -- quality.LANGID_MAX_CHARS head window: language is a head property and
  -- the cap bounds per-row scoring cost (the fastText/CLD convention)
  SELECT doc_id, lang, substr(lower(coalesce(text, '')), 1, {_LANGID_MAX_CHARS}) AS t
  FROM documents
),
dc AS (SELECT doc_id, lang, t, {_LANGID_CLS_SQL} AS cls FROM d),
gi AS (SELECT doc_id, lang, {_LANGID_GRAM_SQL} AS g FROM dc),
nd AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents WHERE lang IS NOT NULL GROUP BY 1),
ntot AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM nd),
gexp AS (SELECT lang, unnest(g) AS gidx FROM gi WHERE lang IS NOT NULL),
cnt AS (SELECT lang, gidx, CAST(COUNT(*) AS BIGINT) AS c FROM gexp GROUP BY 1, 2),
tot AS (
  SELECT nd.lang, coalesce(tc.tc, CAST(0 AS BIGINT)) AS tc
  FROM nd LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS tc FROM gexp GROUP BY 1) tc USING (lang)
),
grid AS (
  SELECT t.lang AS ml, s.i AS gidx,
         CAST(round(ln((coalesce(c.c, 0) + 1) / CAST(t.tc + {_LANGID_V} AS DOUBLE)) * 1000000) AS BIGINT) AS lp
  FROM tot t
  CROSS JOIN (SELECT unnest(generate_series(0, {_LANGID_V} - 1)) AS i) s
  LEFT JOIN cnt c ON c.lang = t.lang AND c.gidx = s.i
),
prior AS (
  SELECT nd.lang AS ml, CAST(round(ln(nd.n / CAST(ntot.n AS DOUBLE)) * 1000000) AS BIGINT) AS pq
  FROM nd CROSS JOIN ntot
),
docg AS (SELECT doc_id, unnest(g) AS gidx FROM gi),
gs AS (
  SELECT dg.doc_id, g.ml, CAST(SUM(g.lp) AS BIGINT) AS s
  FROM docg dg JOIN grid g ON g.gidx = dg.gidx GROUP BY 1, 2
),
sc AS (
  SELECT b.doc_id, b.lang AS declared, p.ml, p.pq + coalesce(gs.s, CAST(0 AS BIGINT)) AS score
  FROM (SELECT doc_id, lang FROM documents) b
  CROSS JOIN prior p
  LEFT JOIN gs ON gs.doc_id = b.doc_id AND gs.ml = p.ml
),
r AS (
  SELECT doc_id, declared, ml, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, ml) AS rn
  FROM sc
)
SELECT doc_id, declared AS lang, ml AS pred_lang, score AS score_q,
       ml <> declared AS mismatch
FROM r WHERE rn = 1
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (d,) = _t(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("tok").alias("distinct_tokens"),
    )


_Q_TOKEN_STATS_SQL = """
SELECT source, COUNT(*) AS total_tokens, CAST(COUNT(DISTINCT tok) AS BIGINT) AS distinct_tokens
FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents)
WHERE tok <> ''
GROUP BY source
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination scan (the GPT-3/Pile-style n-gram overlap
    audit): each held-out doc (source 'src0' plays the eval split) reports
    how many of its distinct word 8-gram shingles occur anywhere in the
    training split (every other source), plus the contamination rate.

    Scale: SINGLE pass over the corpus — per-doc-distinct shingles explode
    once, then one per-shingle aggregation carries both splits at once
    (collect_set of the eval docs touching the shingle — bounded by the
    eval-set size by construction — plus a train-presence flag, map-side
    combined). Non-eval shingles drop before the tiny per-doc rollup, so
    output is O(eval docs) and the corpus text is scanned exactly once
    (the doc_id base list re-reads one pruned column).
    """
    from mine_database_spark.functions.text import word_shingle_strings

    k = 8
    (d,) = _t(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(word_shingle_strings(F.col("text"), k))).alias("h"),
    )
    byh = (
        g.groupBy("h")
        .agg(
            F.collect_set(F.when(F.col("source") == "src0", F.col("doc_id"))).alias("ev_docs"),
            F.max(F.when(F.col("source") != "src0", 1).otherwise(0)).alias("in_train"),
        )
        .where(F.size("ev_docs") > 0)
    )
    per_doc = (
        byh.select(F.explode("ev_docs").alias("doc_id"), "in_train")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"), F.sum("in_train").alias("n_shared"))
    )
    base = d.where(F.col("source") == "src0").select("doc_id")
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.round(
                F.coalesce(F.col("n_shared") / F.col("n_shingles"), F.lit(0.0)), 6
            ).alias("contamination_rate"),
        )
    )


_Q_CONTAMINATION_SQL = """
WITH tok AS (SELECT doc_id, source, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks FROM documents),
pos AS (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 7)) AS i FROM tok WHERE len(toks) >= 8),
g AS (SELECT DISTINCT doc_id, source, md5(array_to_string(toks[i:i + 7], ' ')) AS h FROM pos),
train AS (SELECT DISTINCT h FROM g WHERE source <> 'src0'),
ev AS (SELECT doc_id, h FROM g WHERE source = 'src0'),
cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY doc_id),
hit AS (SELECT ev.doc_id, COUNT(*) AS n_shared FROM ev JOIN train USING (h) GROUP BY ev.doc_id)
SELECT b.doc_id,
       CAST(COALESCE(cnt.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(hit.n_shared, 0) AS BIGINT) AS n_shared,
       round(COALESCE(CAST(hit.n_shared AS DOUBLE) / cnt.n_shingles, 0.0), 6) AS contamination_rate
FROM (SELECT doc_id FROM documents WHERE source = 'src0') b
LEFT JOIN cnt USING (doc_id)
LEFT JOIN hit USING (doc_id)
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-by-canonical-URL — the C4/CommonCrawl ingestion primitive
    (functions/urls.py:canonical_url): two fetches differing only in
    scheme/host case, a fragment, tracking parameters, parameter order,
    or a trailing slash collapse to one key; the earliest event survives.
    The synthetic corpus has no URLs, so each event derives a messy URL
    deterministically in BOTH engines (the url_stats pattern) exercising
    every noise class. Scale: pure regexp/array scan + ONE
    map-side-combinable aggregate keyed by the canonical URL."""
    from mine_database_spark.functions.urls import canonical_url

    (e,) = _t(spark, sf_dir, "events")
    url = F.concat(
        F.when(F.col("event_id") % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTPS://")),
        F.when(F.col("event_id") % 3 == 0, F.lit("WWW.SITE")).otherwise(F.lit("www.site")),
        (F.col("user_id") % 20).cast("string"),
        F.lit(".example.com/"),
        F.col("event_type"),
        F.lit("/p/"),
        (F.col("event_id") % 25).cast("string"),
        F.when(F.col("event_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.element_at(
            F.array(
                F.lit(""),
                F.lit("?utm_source=feed&x=1"),
                F.lit("?x=1"),
                F.lit("?x=1&utm_campaign=z&gclid=abc"),
            ),
            (F.col("event_id") % 4 + 1).cast("int"),
        ),
        F.when(F.col("event_id") % 7 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    # NULL-canonical filter AFTER the aggregate, ENTANGLED with an
    # aggregate output: the r13 post-agg placement alone regressed —
    # a bare grouping-key predicate is pushable, and Catalyst pushed
    # isnotnull(canonical) back below the aggregate AND the projection,
    # re-deriving the whole canonical_url regex/HOF chain per input row
    # inside the Filter (r15 plan file: the before-plan's Filter(2)
    # carries the full chain; measured 4.0s at sf0.1, ~half of it that
    # Filter). dup_count is count(1) >= 1 by construction, so
    # `canonical IS NOT NULL OR dup_count < 0` equals the plain NULL
    # filter row-for-row, but referencing dup_count pins the predicate
    # above the aggregate — one chain evaluation per row, one dropped
    # group row.
    return (
        e.select(F.col("event_id"), canonical_url(url).alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.min("event_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .where(F.col("canonical").isNotNull() | (F.col("dup_count") < F.lit(0)))
    )


_Q_URL_DEDUP_SQL = """
WITH raw AS (
  SELECT event_id,
         (CASE WHEN event_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END)
         || (CASE WHEN event_id % 3 = 0 THEN 'WWW.SITE' ELSE 'www.site' END)
         || CAST(user_id % 20 AS VARCHAR) || '.example.com/'
         || event_type || '/p/' || CAST(event_id % 25 AS VARCHAR)
         || (CASE WHEN event_id % 5 = 0 THEN '/' ELSE '' END)
         || (['', '?utm_source=feed&x=1', '?x=1', '?x=1&utm_campaign=z&gclid=abc'])[CAST(event_id % 4 + 1 AS INTEGER)]
         || (CASE WHEN event_id % 7 = 0 THEN '#top' ELSE '' END) AS url
  FROM events
),
parts AS (
  SELECT event_id,
         lower(regexp_extract(regexp_replace(url, '#.*', ''), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(regexp_replace(url, '#.*', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)) AS host,
         regexp_extract(regexp_replace(url, '#.*', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+(.*)', 1) AS rest
  FROM raw
),
canon AS (
  SELECT event_id,
         scheme || '://' || host
         || regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '')
         || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS canonical
  FROM (
    SELECT event_id, scheme, host, rest,
           array_to_string(list_sort(list_filter(string_split(regexp_extract(rest, '\\?(.*)', 1), '&'),
             p -> p <> '' AND NOT regexp_matches(p, '^(?i)(utm_[^=&]*|fbclid|gclid|msclkid|mc_eid|ref)(=|$)'))), '&') AS qs
    FROM parts
  )
  WHERE scheme <> '' AND host <> ''
)
SELECT canonical, MIN(event_id) AS survivor_id, COUNT(*) AS dup_count
FROM canon GROUP BY canonical
"""


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-to-text extraction (functions/text.py:strip_html) — the
    WET-style ingest step before every text operator. The synthetic corpus
    is already plain text, so each document is wrapped in deterministic
    HTML in BOTH engines (the url_stats pattern) exercising every rule:
    a script whose body contains markup AND entities, a style block, a
    comment, block-level tags, and all the unescapes. One regexp-chain
    scan: no shuffle, no Python."""
    from mine_database_spark.functions.text import strip_html

    (d,) = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            '<html><head><title>T</title><style>body { color: red; }</style>'
            '<script type="text/javascript">if (1 &amp;&amp; 2) { var x = "<p>"; }</script>'
            "</head><body><!-- generated\npage -->\n<h1>"
        ),
        F.col("source"),
        F.lit("</h1>\n<p>"),
        F.col("text"),
        F.lit("</p><ul><li>lang: "),
        F.col("lang"),
        F.lit("</li></ul><div>footer &amp; fine&nbsp;print &#39;v1&#39;</div></body></html>"),
    )
    out = strip_html(html)
    return d.select(
        "doc_id", out.alias("clean_text"), F.length(out).cast("int").alias("n_chars")
    )


# regexp_replace needs the 'g' option in DuckDB (Spark replaces all by
# default); replacements use chr(10) because RE2 REPLACEMENT strings do not
# process \n escapes (patterns do)
_Q_HTML_EXTRACT_SQL = r"""
WITH raw AS (
  SELECT doc_id,
         '<html><head><title>T</title><style>body { color: red; }</style>'
         || '<script type="text/javascript">if (1 &amp;&amp; 2) { var x = "<p>"; }</script>'
         || '</head><body><!-- generated' || chr(10) || 'page -->' || chr(10) || '<h1>'
         || source || '</h1>' || chr(10) || '<p>' || text || '</p><ul><li>lang: ' || lang
         || '</li></ul><div>footer &amp; fine&nbsp;print &#39;v1&#39;</div></body></html>' AS html
  FROM documents
),
stripped AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(
        html,
        '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g'),
        '(?i)</?(p|br|div|h[1-6]|li|tr|table|ul|ol|blockquote)\b[^>]*/?>', chr(10), 'g'),
        '(?s)<[^>]+>', ' ', 'g'),
        '&nbsp;', ' ', 'g'),
        '&lt;', '<', 'g'),
        '&gt;', '>', 'g'),
        '&quot;', '"', 'g'),
        '&#39;|&apos;', chr(39), 'g'),
        '&amp;', '&', 'g'),
        '[ \t]+', ' ', 'g'),
        ' ?' || chr(10) || ' ?', chr(10), 'g'),
        chr(10) || '+', chr(10), 'g') AS t
  FROM raw
)
SELECT doc_id,
       regexp_replace(t, '^\s+|\s+$', '', 'g') AS clean_text,
       CAST(length(regexp_replace(t, '^\s+|\s+$', '', 'g')) AS INTEGER) AS n_chars
FROM stripped
"""


def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain analysis — the C4/RefinedWeb domain-filtering primitive:
    per registrable domain, page count, distinct users, mean path depth,
    and the https share. The synthetic corpus has no URLs, so each event
    derives a deterministic URL in BOTH engines (the pii_scan pattern),
    then the real extractors run: host from the URL, registrable domain
    as the last two host labels, path-segment depth.

    Scale: pure regexp scan + ONE map-side-combined aggregation keyed by
    domain — the per-domain quality/blocklist rollup shape.
    """
    (e,) = _t(spark, sf_dir, "events")
    url = F.concat(
        F.when(F.col("event_id") % 4 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(F.col("event_id") % 3 == 0, F.lit("cdn.")).otherwise(F.lit("www.")),
        F.lit("site"), (F.col("user_id") % 40).cast("string"),
        F.lit(".example"),
        F.element_at(F.array(F.lit("com"), F.lit("org"), F.lit("net")),
                     (F.col("event_id") % 3 + 1).cast("int")),
        F.lit("/"),
        F.col("event_type"),
        F.when(F.col("event_id") % 2 == 0, F.concat(F.lit("/p/"), F.col("event_id").cast("string")))
         .otherwise(F.lit("")),
    )
    u = e.select("user_id", url.alias("url"))
    host = F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
    d = u.select(
        "user_id",
        "url",
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1).alias("domain"),
        (F.size(F.split(F.regexp_extract(F.col("url"), r"^https?://[^/]+(/.*)?$", 1), "/")) - 1)
        .alias("depth"),
        F.when(F.col("url").startswith("https://"), 1).otherwise(0).alias("is_https"),
    )
    return d.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.avg("depth"), 6).alias("avg_depth"),
        F.round(F.avg("is_https"), 6).alias("https_share"),
    )


_Q_URL_STATS_SQL = """
WITH u AS (
  SELECT user_id,
         (CASE WHEN event_id % 4 = 0 THEN 'http://' ELSE 'https://' END)
         || (CASE WHEN event_id % 3 = 0 THEN 'cdn.' ELSE 'www.' END)
         || 'site' || CAST(user_id % 40 AS VARCHAR) || '.example'
         || (['com', 'org', 'net'])[CAST(event_id % 3 + 1 AS INT)]
         || '/' || event_type
         || (CASE WHEN event_id % 2 = 0 THEN '/p/' || CAST(event_id AS VARCHAR) ELSE '' END)
         AS url
  FROM events
),
d AS (
  SELECT user_id, url,
         regexp_extract(regexp_extract(url, '^https?://([^/]+)', 1), '([^.]+\\.[^.]+)$', 1) AS domain,
         len(string_split(regexp_extract(url, '^https?://[^/]+(/.*)?$', 1), '/')) - 1 AS depth,
         CASE WHEN url LIKE 'https://%' THEN 1 ELSE 0 END AS is_https
  FROM u
)
SELECT domain, COUNT(*) AS n_pages, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       round(AVG(depth), 6) AS avg_depth, round(AVG(is_https), 6) AS https_share
FROM d GROUP BY domain
"""


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: the top-100 corpus tokens by frequency (ties
    broken lexically) form the vocab; each doc reports its token count and
    out-of-vocabulary fraction — the tokenizer-coverage health metric run
    before training.

    Scale: the frequency aggregation map-side combines to O(vocabulary);
    top-100 sorts that tiny table; the vocab broadcasts into the per-token
    probe, and the per-doc aggregation shuffles O(docs).
    """
    (d,) = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        freq.orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(100)
        .select("tok", F.lit(1).alias("__in"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


_Q_VOCAB_OOV_SQL = """
WITH tok AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents
  ) WHERE tok <> ''
),
freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
vocab AS (SELECT tok FROM freq ORDER BY cnt DESC, tok LIMIT 100)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS oov_rate
FROM tok LEFT JOIN vocab v USING (tok)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM-data-pipeline: similarity search over embeddings

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(e, e.where(F.col("vec_id") < 5), k=10)


_Q_ANN_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
s AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM s)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= 10
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via banded hyperplane-LSH candidates + exact cosine
    rescore — the 100TB scale path. Hyperplanes are md5-derived constants, so
    the DuckDB oracle rebuilds the exact same buckets: full value-level
    check. Recall@10 vs brute force is additionally pinned in pytest."""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.lsh_bucketed_topk(e, e.where(F.col("vec_id") < 5), k=10)


# banded hyperplane signatures, bit-exact mirror of similarity._plane_weight:
# component (p, i) = ('0x'||substr(md5(p||'|'||i),1,8))::BIGINT / 2^31 - 1
_LSH_BANDS_SQL = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
comp AS (SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e),
bits AS (
  SELECT vec_id, p,
         CASE WHEN SUM(x * (('0x' || substr(md5(CAST(p AS VARCHAR) || '|' || CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT / 2147483648.0 - 1.0)) >= 0
              THEN '1' ELSE '0' END AS bit
  FROM comp CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS p) planes
  GROUP BY vec_id, p
),
bands AS (
  SELECT vec_id, CAST(p // 3 AS INT) AS band, string_agg(bit, '' ORDER BY p) AS band_sig
  FROM bits GROUP BY vec_id, p // 3
)"""


_Q_ANN_LSH_SQL = (
    "WITH " + _LSH_BANDS_SQL + """,
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
qb AS (SELECT vec_id AS query_id, band, band_sig FROM bands WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT qb.query_id, b.vec_id
  FROM bands b JOIN qb ON b.band = qb.band AND b.band_sig = qb.band_sig
  WHERE b.vec_id <> qb.query_id
),
s AS (
  SELECT cand.query_id, cand.vec_id,
         round(list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
  FROM cand JOIN e ON e.vec_id = cand.vec_id JOIN q ON q.query_id = cand.query_id
),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM s)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= 10
"""
)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN — the other 100TB scale path (candidates from
    an inverted-list equi-join; corpus partitionable by list id). The
    codebook (16 lowest-id vectors, lazily broadcast) is deterministic, so
    the oracle replays assignment + probing exactly: full value check, plus
    the recall gate in tests/test_extensions.py."""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.ivf_topk(e, e.where(F.col("vec_id") < 5), k=10)


_Q_ANN_IVF_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
cscore AS (
  SELECT e.vec_id, c.cid, list_dot_product(e.v, c.cv) AS s,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid DESC) AS rn
  FROM e CROSS JOIN cents c
),
assigned AS (SELECT vec_id, cid AS list_id FROM cscore WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid AS list_id FROM cscore WHERE vec_id < 5 AND rn <= 4),
cand AS (
  SELECT p.query_id, a.vec_id FROM assigned a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
),
s AS (
  SELECT cand.query_id, cand.vec_id,
         round(list_dot_product(ec.v, eq.v) / (sqrt(list_dot_product(ec.v, ec.v)) * sqrt(list_dot_product(eq.v, eq.v))), 4) AS score
  FROM cand JOIN e ec ON ec.vec_id = cand.vec_id JOIN e eq ON eq.vec_id = cand.query_id
),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INT) AS rank FROM s)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= 10
"""


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT all-pairs baseline,
    computed as a distributed blocked GEMM (similarity.py:
    embed_neardup_blocked): block-pair fan-out + one numpy matmul per
    score tile, components quantized to round(x·1e6) so float64 matmul is
    exact integer math and the score is engine/order-independent. The
    approximate production query at scale is `embed_neardup_lsh` (banded
    LSH, no all-pairs anything), whose recall against this exact form is
    pinned in pytest.
    """
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.embed_neardup_blocked(e, threshold=0.35)


_Q_EMBED_NEARDUP_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000.0)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS score
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.35
  AND NOT isnan(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))
"""


def q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval decontamination — the semantic complement of
    the 8-gram contamination_check (paraphrased eval leakage shares no
    8-gram): each eval item (vec_id < 5, the ann query convention) is
    flagged when its nearest train vector's cosine clears the threshold.
    One brute_force_topk(k=1) pass: the train corpus never shuffles to
    score, the 5-row eval set broadcasts; at 100 TB the same policy runs
    over ann_lsh/ivf/pq shortlists instead of the exact scan."""
    (e,) = _t(spark, sf_dir, "embeddings")
    ev = e.where(F.col("vec_id") < 5)
    train = e.where(F.col("vec_id") >= 5)
    nearest = sim.brute_force_topk(train, ev, k=1)
    return nearest.select(
        F.col("query_id").alias("eval_id"),
        F.col("vec_id").alias("nearest_train_id"),
        F.col("score"),
        (F.col("score") >= F.lit(0.37)).alias("contaminated"),
    )


_Q_SEMANTIC_CONTAM_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS eval_id, v AS qv FROM e WHERE vec_id < 5),
s AS (
  SELECT q.eval_id, e.vec_id,
         round(list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
  FROM e CROSS JOIN q WHERE e.vec_id >= 5
),
r AS (SELECT *, row_number() OVER (PARTITION BY eval_id ORDER BY score DESC, vec_id) AS rn FROM s)
SELECT eval_id, vec_id AS nearest_train_id, score, score >= 0.37 AS contaminated
FROM r WHERE rn = 1
"""


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor graph over the embeddings table
    (similarity.knn_graph): every vector's top-5 cosine neighbors via the
    blocked-GEMM tile kernel (quantized components -> exact integer
    float64 matmul, so the raw ORDER is engine-reproducible). The
    approximate scale twin is knn_graph_lsh."""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.knn_graph(e, k=5)


_Q_KNN_GRAPH_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000.0)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
s AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS raw
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
r AS (
  SELECT vec_id, neighbor_id, raw,
         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY raw DESC, neighbor_id) AS INT) AS rank
  FROM s
  WHERE raw IS NOT NULL AND NOT isnan(raw) AND NOT isinf(raw)
)
SELECT vec_id, rank, neighbor_id, round(raw, 4) AS score
FROM r WHERE rank <= 5
"""


def q_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN graph (similarity.knn_graph_lsh): banded
    hyperplane-LSH band SELF-join for candidates (nothing corpus-sized is
    broadcast — the right shape when queries == corpus), exact cosine
    rescore, per-vector top-5. Hyperplanes are md5-derived constants so
    the oracle rebuilds identical buckets; recall vs the exact knn_graph
    is pinned in pytest."""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.knn_graph_lsh(e, k=5)


# rescore uses score_pairs_blocked's QUANTIZED cosine (round(x·1e6)
# integer components -> order/engine-exact float64), hence the eq CTE
_Q_KNN_GRAPH_LSH_SQL = (
    "WITH " + _LSH_BANDS_SQL + """,
eq AS (SELECT vec_id, list_transform(v, x -> round(x * 1000000.0)) AS q FROM e),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.vec_id <> b.vec_id
),
s AS (
  SELECT cand.vec_id, cand.neighbor_id,
         round(list_dot_product(qa.q, qb.q) / (sqrt(list_dot_product(qa.q, qa.q)) * sqrt(list_dot_product(qb.q, qb.q))), 4) AS score
  FROM cand
  JOIN eq qa ON qa.vec_id = cand.vec_id
  JOIN eq qb ON qb.vec_id = cand.neighbor_id
),
r AS (
  SELECT vec_id, neighbor_id, score,
         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
  FROM s WHERE score IS NOT NULL AND NOT isnan(score) AND NOT isinf(score)
)
SELECT vec_id, rank, neighbor_id, score FROM r WHERE rank <= 5
"""
)


def q_lsh_candidate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH degeneracy audit (similarity.lsh_candidate_fraction): the
    fraction of ALL pairs the default 8-band × 3-bit config admits as
    candidates, from the band join's own counts — no rescore pass. The
    number a pipeline gates on before choosing knn_graph_lsh vs the IVF
    twin: on this repo's near-uniform embeddings it reads ~0.65, i.e. the
    'approximate' LSH graph would cost two-thirds of all-pairs."""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.lsh_candidate_fraction(e)


_Q_LSH_CAND_FRACTION_SQL = (
    "WITH " + _LSH_BANDS_SQL + """,
nv AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vectors FROM bands),
bu AS (SELECT band, band_sig, COUNT(*) AS f FROM bands GROUP BY band, band_sig),
vol AS (
  SELECT CAST(SUM(f * (f - 1) // 2) AS BIGINT) AS join_rows,
         CAST(MAX(f) AS BIGINT) AS max_bucket
  FROM bu
),
cp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cand_pairs FROM (
    SELECT DISTINCT a.vec_id AS ai, b.vec_id AS bi
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
               AND a.vec_id < b.vec_id
  )
)
SELECT n_vectors,
       CAST(n_vectors * (n_vectors - 1) // 2 AS BIGINT) AS total_pairs,
       cand_pairs,
       round(CAST(cand_pairs AS DOUBLE)
             / CAST(n_vectors * (n_vectors - 1) // 2 AS DOUBLE), 6) AS cand_fraction,
       join_rows, max_bucket
FROM nv, vol, cp
"""
)


def q_ivf_candidate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF half of the twin-choice audit (similarity.ivf_candidate_fraction,
    16 centroids, default 2-way assignment): the pair volume an IVF graph
    would score at this config, from the list assignment's own counts —
    no scoring pass. Measured on this corpus (sf0.01): fraction 0.062 /
    0.240 / 0.718 at n_assign 1/2/4 vs LSH's 0.653 — volume scales
    ~n_assign²/n_centroids regardless of geometry, which is the audit's
    point: the recall knob (n_assign) has a PRICED quadratic cost here,
    where LSH's recall knob collapses recall before it controls volume.
    (The registered 4-assign knn_graph_ivf therefore wins on per-list
    GEMM scoring shape, not candidate count — both numbers are now
    queryable instead of folklore.)"""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.ivf_candidate_fraction(e, n_centroids=16, n_assign=2)


_Q_IVF_CAND_FRACTION_SQL = """
WITH e AS (
  -- validity contract mirrors similarity._valid_vec: NULL vectors AND
  -- vectors with a NULL element are excluded (the Spark side must drop
  -- element-NULL rows before its numpy assignment kernel; the oracle
  -- replays the same rule so parity is by contract, not by the synthetic
  -- corpus happening to contain no NULL-element vectors)
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
asg AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid DESC) AS rn
  FROM e CROSS JOIN c
),
lists AS (SELECT vec_id, cid AS list_id FROM asg WHERE rn <= 2),
nv AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vectors FROM lists),
bu AS (SELECT list_id, COUNT(*) AS f FROM lists GROUP BY list_id),
vol AS (
  SELECT CAST(SUM(f * (f - 1) // 2) AS BIGINT) AS join_rows,
         CAST(MAX(f) AS BIGINT) AS max_bucket
  FROM bu
),
cp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cand_pairs FROM (
    SELECT DISTINCT a.vec_id AS ai, b.vec_id AS bi
    FROM lists a JOIN lists b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  )
)
SELECT n_vectors,
       CAST(n_vectors * (n_vectors - 1) // 2 AS BIGINT) AS total_pairs,
       cand_pairs,
       round(CAST(cand_pairs AS DOUBLE)
             / CAST(n_vectors * (n_vectors - 1) // 2 AS DOUBLE), 6) AS cand_fraction,
       join_rows, max_bucket
FROM nv, vol, cp
"""


def q_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN graph via IVF multi-assignment
    (similarity.knn_graph_ivf): every vector joins its 4 nearest coarse
    lists, candidates share a list, per-list tile matmuls score with the
    quantized exact-integer cosine. Candidate volume is governed by list
    sizes — the right twin for weakly-clustered embeddings where sign-LSH
    banding admits most pairs (measured here: recall@5 ≈ 0.93 at a
    fraction of the LSH twin's cost)."""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.knn_graph_ivf(e, k=5, n_centroids=16, n_assign=4)


_Q_KNN_GRAPH_IVF_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
eq AS (SELECT vec_id, list_transform(v, x -> round(x * 1000000.0)) AS q FROM e),
c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
asg AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid DESC) AS rn
  FROM e CROSS JOIN c
),
lists AS (SELECT vec_id, cid AS list_id FROM asg WHERE rn <= 4),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
  FROM lists a JOIN lists b ON a.list_id = b.list_id AND a.vec_id <> b.vec_id
),
s AS (
  SELECT cand.vec_id, cand.neighbor_id,
         list_dot_product(qa.q, qb.q) / (sqrt(list_dot_product(qa.q, qa.q)) * sqrt(list_dot_product(qb.q, qb.q))) AS raw
  FROM cand
  JOIN eq qa ON qa.vec_id = cand.vec_id
  JOIN eq qb ON qb.vec_id = cand.neighbor_id
),
r AS (
  SELECT vec_id, neighbor_id, raw,
         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY raw DESC, neighbor_id) AS INT) AS rank
  FROM s WHERE raw IS NOT NULL AND NOT isnan(raw) AND NOT isinf(raw)
)
SELECT vec_id, rank, neighbor_id, round(raw, 4) AS score
FROM r WHERE rank <= 5
"""


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level boilerplate scrub (dedup.py:segment_dedup): 32-word
    windows, global first-occurrence-wins on the segment digest, documents
    rebuilt from surviving segments. Oracle mirrors the split/windowing,
    the md5-keyed first-wins, and the ordered re-assembly."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.segment_dedup(d, seg_words=32)


_Q_SEGMENT_DEDUP_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
segs AS (
  SELECT doc_id, i - 1 AS seg_idx,
         array_to_string(list_slice(ws, (i-1)*32 + 1, (i-1)*32 + 32), ' ') AS seg_text
  FROM w, UNNEST(generate_series(1, CAST(ceil(len(ws) / 32.0) AS INT))) AS t(i)
),
marked AS (
  SELECT doc_id, seg_idx, seg_text,
         row_number() OVER (PARTITION BY md5(seg_text) ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id,
       -- coalesce: zero surviving segments aggregates to NULL in DuckDB,
       -- but the engine's concat_ws over an empty list is '' (the
       -- documented fully-deduped-document contract)
       coalesce(array_to_string(list(seg_text ORDER BY seg_idx) FILTER (rn = 1), ' '), '') AS clean_text,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM marked GROUP BY doc_id
"""


def q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring scrub (dedup.py:repeated_span_scrub —
    Lee et al. 2022 ExactSubstr, Spark-shaped): SLIDING 8-token windows,
    global first-occurrence-wins per distinct span, later occurrences'
    token ranges cut (union of loser spans), documents rebuilt from the
    surviving tokens. The oracle groups windows by their raw text (the
    engine's md5 digest is only a shuffle-width device — identical
    equivalence classes) and rebuilds via a position-coverage anti-join,
    which equals the engine's merged-interval cuts because both realize
    the same coverage union."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.repeated_span_scrub(d, span_words=8)


_Q_SPAN_SCRUB_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
s AS (
  SELECT doc_id, i - 1 AS start,
         array_to_string(list_slice(ws, i, i + 7), ' ') AS win
  FROM t, UNNEST(generate_series(1, len(ws) - 7)) AS g(i)
  WHERE len(ws) >= 8
),
f AS (
  SELECT win, count(*) AS cnt,
         min(struct_pack(d := doc_id, p := start)) AS first
  FROM s GROUP BY win
),
l AS (
  SELECT s.doc_id, s.start
  FROM s JOIN f USING (win)
  WHERE f.cnt > 1 AND NOT (s.doc_id = f.first.d AND s.start = f.first.p)
),
cover AS (
  SELECT DISTINCT l.doc_id, u.pos
  FROM l, UNNEST(generate_series(l.start, l.start + 7)) AS u(pos)
),
toks AS (
  SELECT doc_id, unnest(ws) AS tok, unnest(range(len(ws))) AS pos FROM t
),
k AS (
  SELECT toks.doc_id, toks.tok, toks.pos
  FROM toks LEFT JOIN cover
    ON toks.doc_id = cover.doc_id AND toks.pos = cover.pos
  WHERE cover.doc_id IS NULL
),
a AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean, count(*) AS kept
  FROM k GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.clean, '') AS clean_text,
       CAST(len(t.ws) AS BIGINT) AS n_toks,
       CAST(len(t.ws) - coalesce(a.kept, 0) AS BIGINT) AS n_dropped
FROM t LEFT JOIN a USING (doc_id)
"""


def q_span_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level eval decontamination (dedup.decontaminate_spans): cut
    ONLY the 8-gram spans a training doc shares with the benchmark corpus
    and keep the rest — the repair-action complement of
    contamination_check's drop-the-whole-doc policy (SlimPajama-style).
    Bench = the doc_id % 97 == 0 slice (the held-out-eval convention the
    llm_pipeline template plants); train = the WHOLE corpus, eval slice
    included — the leaked-eval-docs-in-the-crawl scenario, so the planted
    overlap scrubs to empty at every SF while partially-quoting docs lose
    only their quoted spans. The oracle groups windows by raw text (the
    engine's md5 is only a shuffle-width device) and rebuilds via
    position-coverage anti-join — same coverage union as the engine's
    merged intervals."""
    (d,) = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    return dd.decontaminate_spans(d, bench, span_words=8)


_Q_SPAN_DECONTAMINATE_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
bm AS (
  SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % 97 = 0
),
bg AS (
  SELECT DISTINCT array_to_string(list_slice(ws, i, i + 7), ' ') AS win
  FROM bm, UNNEST(generate_series(1, len(ws) - 7)) AS g(i)
  WHERE len(ws) >= 8
),
s AS (
  SELECT doc_id, i - 1 AS start,
         array_to_string(list_slice(ws, i, i + 7), ' ') AS win
  FROM t, UNNEST(generate_series(1, len(ws) - 7)) AS g(i)
  WHERE len(ws) >= 8
),
l AS (SELECT s.doc_id, s.start FROM s JOIN bg USING (win)),
cover AS (
  SELECT DISTINCT l.doc_id, u.pos
  FROM l, UNNEST(generate_series(l.start, l.start + 7)) AS u(pos)
),
toks AS (
  SELECT doc_id, unnest(ws) AS tok, unnest(range(len(ws))) AS pos FROM t
),
k AS (
  SELECT toks.doc_id, toks.tok, toks.pos
  FROM toks LEFT JOIN cover
    ON toks.doc_id = cover.doc_id AND toks.pos = cover.pos
  WHERE cover.doc_id IS NULL
),
a AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean, count(*) AS kept
  FROM k GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.clean, '') AS clean_text,
       CAST(len(t.ws) AS BIGINT) AS n_toks,
       CAST(len(t.ws) - coalesce(a.kept, 0) AS BIGINT) AS n_dropped
FROM t LEFT JOIN a USING (doc_id)
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (similarity.py:semantic_dedup):
    IVF-cluster the embeddings, score pairs only within a cluster with the
    exact quantized kernel, drop every vector that matches a lower id at
    round(cos,4) >= 0.35, return the survivors (vec_id, list_id). The
    oracle rebuilds the identical centroids, assignment (max-dot,
    highest-cid tiebreak), quantized pair scores, and keep-lowest-id
    policy in SQL — full value check of clustering + scoring + policy."""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.semantic_dedup(
        e, threshold=0.35, n_clusters=16,
        storage_level=StorageLevel.MEMORY_AND_DISK,
    )


_Q_SEMANTIC_DEDUP_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
cscore AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid DESC) AS rn
  FROM e CROSS JOIN cents c
),
assigned AS (SELECT vec_id, cid AS list_id FROM cscore WHERE rn = 1),
q AS (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000.0)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  JOIN q qa ON qa.vec_id = a.vec_id JOIN q qb ON qb.vec_id = b.vec_id
  WHERE round(list_dot_product(qa.v, qb.v) /
              (sqrt(list_dot_product(qa.v, qa.v)) * sqrt(list_dot_product(qb.v, qb.v))), 4) >= 0.35
    AND NOT isnan(list_dot_product(qa.v, qb.v) /
              (sqrt(list_dot_product(qa.v, qa.v)) * sqrt(list_dot_product(qb.v, qb.v))))
)
SELECT vec_id, list_id FROM assigned WHERE vec_id NOT IN (SELECT vec_id FROM dups)
"""


def q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed (the 100TB path): candidates
    from a band-signature self-equi-join, exact cosine rescore. Oracle
    rebuilds the identical md5-derived buckets in SQL — full value check."""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.embed_neardup_lsh(e, threshold=0.35)


_Q_EMBED_NEARDUP_LSH_SQL = (
    "WITH " + _LSH_BANDS_SQL + """,
eq AS (SELECT vec_id, list_transform(v, x -> round(x * 1000000.0)) AS q FROM e),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.vec_id < b.vec_id
)
SELECT a_id, b_id,
       round(list_dot_product(ea.q, eb.q) / (sqrt(list_dot_product(ea.q, ea.q)) * sqrt(list_dot_product(eb.q, eb.q))), 4) AS score
FROM cand JOIN eq ea ON ea.vec_id = a_id JOIN eq eb ON eb.vec_id = b_id
WHERE round(list_dot_product(ea.q, eb.q) / (sqrt(list_dot_product(ea.q, ea.q)) * sqrt(list_dot_product(eb.q, eb.q))), 4) >= 0.35
  AND NOT isnan(list_dot_product(ea.q, eb.q) / (sqrt(list_dot_product(ea.q, ea.q)) * sqrt(list_dot_product(eb.q, eb.q))))
"""
)


# ---------------------------------------------------------------------------
# LLM-data-pipeline: multimodal binary columns (decode stubbed; md5-derived
# fake dimensions are reproducible in SQL, so the Arrow/mapInPandas plumbing
# gets a full value-level oracle check)

def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mine_database_spark.operators.multimodal import extract_media_features

    (d,) = _t(spark, sf_dir, "documents")
    media = d.select(F.col("doc_id").alias("media_id"), F.col("text").cast("binary").alias("blob"))
    return extract_media_features(media)


_Q_MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS INT) AS blob_bytes,
       sha256(text) AS fingerprint,
       CAST(('0x' || substr(md5(text), 1, 4))::BIGINT % 1024 + 1 AS INT) AS width,
       CAST(('0x' || substr(md5(text), 5, 4))::BIGINT % 768 + 1 AS INT) AS height
FROM documents
"""


def q_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of binary payloads, no decode (multimodal.binary_dedup):
    sha2-256 over the raw bytes, min-id survivor per digest. The corpus
    plants deterministic duplicates (a +100000-rekeyed copy of doc_id<50)
    so the dup groups are real — the base documents table is dup-free at
    small SF. Only the 64-char digest and the id ever shuffle; payloads
    stay at the scan."""
    from mine_database_spark.operators.multimodal import binary_dedup

    (d,) = _t(spark, sf_dir, "documents")
    blob = F.col("text").cast("binary").alias("blob")
    media = d.select("doc_id", blob).unionAll(
        d.where(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 100000).alias("doc_id"), blob
        )
    )
    return binary_dedup(media, id_col="doc_id")


_Q_BINARY_DEDUP_SQL = """
WITH m AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
),
h AS (SELECT doc_id, sha256(text) AS digest FROM m),
g AS (
  SELECT digest, MIN(doc_id) AS keeper, CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM h GROUP BY digest
)
SELECT h.doc_id, h.digest, g.n_copies, h.doc_id = g.keeper AS keep
FROM h JOIN g USING (digest)
"""


def q_binary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format census over a binary column, no decode
    (multimodal.binary_profile): one row per 4-byte magic prefix with
    blob/distinct/size stats — the routing profile a pipeline computes on
    a new media source before choosing typed decoders. Text-derived blobs
    here, so the prefixes are the UTF-8 of each document's first chars;
    real media would show ffd8ff/89504e47/... The oracle replays the
    prefix as substring(hex(encode(text)),1,8)."""
    from mine_database_spark.operators.multimodal import binary_profile

    (d,) = _t(spark, sf_dir, "documents")
    media = d.select("doc_id", F.col("text").cast("binary").alias("blob"))
    return binary_profile(media, id_col="doc_id")


_Q_BINARY_PROFILE_SQL = """
WITH b AS (
  SELECT substring(hex(encode(text)), 1, 8) AS magic_hex,
         CAST(octet_length(encode(text)) AS BIGINT) AS nbytes,
         sha256(text) AS digest
  FROM documents
)
SELECT magic_hex,
       CAST(COUNT(*) AS BIGINT) AS n_blobs,
       CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_distinct,
       MIN(nbytes) AS min_bytes,
       MAX(nbytes) AS max_bytes,
       CAST(SUM(nbytes) AS BIGINT) AS total_bytes
FROM b GROUP BY magic_hex
"""


def q_binary_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level NEAR-dup pairs over binary payloads, no decode
    (multimodal.binary_neardup): hex 8-gram shingles over the blob head
    window, mod-4 content sampling (shift-invariant), the dedup module's
    16-hash MinHash + 4-row banding. The corpus plants re-encode variants
    — a +200000-rekeyed copy of doc_id<50 with a metadata TRAILER
    appended — whose sha256 differs (binary_dedup misses them) but whose
    byte-gram profile barely moves; the pair (doc_id, doc_id+200000)
    surfaces with est_jaccard near 1. Blobs never shuffle; candidate
    volume is banded, never all-pairs. The 16-column signature table
    persists across its three consuming branches (r15: the gram explode +
    min-aggregates behind it are the dominant cost and AQE reuses none of
    the branches' exchanges)."""
    from mine_database_spark.operators.multimodal import binary_neardup

    (d,) = _t(spark, sf_dir, "documents")
    media = d.select("doc_id", F.col("text").cast("binary").alias("blob")).unionAll(
        d.where(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("text"), F.lit("<meta:v2-reencode-trailer>"))
            .cast("binary")
            .alias("blob"),
        )
    )
    return binary_neardup(media, id_col="doc_id", storage_level=StorageLevel.MEMORY_AND_DISK)


_Q_BINARY_NEARDUP_SQL = (
    """
WITH m AS (
  SELECT doc_id, encode(text) AS blob FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, encode(text || '<meta:v2-reencode-trailer>') AS blob
  FROM documents WHERE doc_id < 50
),
hxt AS (
  -- head window via the hex string (DuckDB can't slice BLOBs directly):
  -- first 4096 bytes = first 8192 hex chars
  SELECT doc_id, substr(hex(blob), 1, 8192) AS hx,
         CAST(len(substr(hex(blob), 1, 8192)) // 2 AS INT) AS nb
  FROM m
),
gr AS (
  SELECT doc_id,
         unnest(CASE
           WHEN nb >= 8 THEN list_transform(generate_series(1, nb - 7), j -> substr(hx, j * 2 - 1, 16))
           WHEN nb >= 1 THEN [hx]
           ELSE []
         END) AS shingle
  FROM hxt
),
sh AS (
  SELECT doc_id, shingle FROM gr
  WHERE ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 4 = 0
),"""
    + _MINHASH_CTES_SQL.lstrip()
    + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM band a JOIN band b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT p.a_id, p.b_id,
       CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS INT) AS n_agree,
       round(CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS INT) / 16.0, 6) AS est_jaccard
FROM pairs p
JOIN mh ma ON ma.doc_id = p.a_id
JOIN mh mb ON mb.doc_id = p.b_id AND mb.i = ma.i
GROUP BY 1, 2
"""
)


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (word pieces + punctuation as tokens) —
    the token-counting contract of an LLM data pipeline."""
    (d,) = _t(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]', 0)")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe"),
    )


_Q_BPE_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]'))) AS INT) AS n_distinct_bpe
FROM documents
"""


# ---------------------------------------------------------------------------
# MS2-style spectral cosine scoring (SURVEY §2.10 X9-X12 / §3.3: dot_product
# spectral cosine, metabolomics.py:404-432 — here with exact mz-bucket match,
# i.e. the ε=0 case, which makes the aligner an equi-join both engines share).
# Spectra are synthesized per order from lineitem; the query spectrum is the
# p_size=50 part census. Integer intensities keep the dot product exact.

def q_spectral_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = _t(spark, sf_dir, "lineitem", "part")
    # ONE shuffle for both aggregation levels: repartition by l_orderkey up
    # front — HashPartitioning(l_orderkey) satisfies the clustering of the
    # (l_orderkey, mz) aggregate AND the later l_orderkey aggregate, so
    # neither groupBy adds an exchange (measured 0.7x vs the two-shuffle
    # form at sf0.1; the (orderkey, mz) groups are near-unique, so the
    # map-side partial the explicit repartition forfeits reduced nothing)
    spec = (
        l.repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", (F.col("l_partkey") % 500).alias("mz"))
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("inten"))
    )
    qspec = (
        p.where(F.col("p_size") == 50)
        .groupBy((F.col("p_partkey") % 500).alias("mz"))
        .agg(F.count(F.lit(1)).alias("qinten"))
    )
    qnorm = qspec.agg(F.sqrt(F.sum(F.col("qinten") * F.col("qinten"))).alias("qn"))
    # one pass over spec: left-join the broadcast query spectrum, then a
    # single groupBy computes dot product and self-norm together (the
    # dots⋈norms two-aggregate form scans spec twice and adds a join)
    scored = (
        spec.join(F.broadcast(qspec), "mz", "left")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("inten") * F.coalesce("qinten", F.lit(0))).alias("dot"),
            F.sqrt(F.sum(F.col("inten") * F.col("inten"))).alias("n"),
        )
        .where(F.col("dot") > 0)  # inner-join row set: only matched orders
    )
    return scored.crossJoin(F.broadcast(qnorm)).select(
        "l_orderkey", F.round(F.col("dot") / (F.col("n") * F.col("qn")), 6).alias("cosine_score")
    )


_Q_SPECTRAL_SQL = f"""
WITH spec AS (
  SELECT l_orderkey, l_partkey % 500 AS mz,
         CAST(SUM({_CENTS_SQL.format(c='l_quantity')}) AS BIGINT) AS inten
  FROM lineitem GROUP BY 1, 2
),
qspec AS (
  SELECT p_partkey % 500 AS mz, CAST(COUNT(*) AS BIGINT) AS qinten
  FROM part WHERE p_size = 50 GROUP BY 1
),
qn AS (SELECT sqrt(CAST(SUM(qinten * qinten) AS DOUBLE)) AS qn FROM qspec),
dots AS (
  SELECT l_orderkey, CAST(SUM(inten * qinten) AS BIGINT) AS dot
  FROM spec JOIN qspec USING (mz) GROUP BY 1
),
norms AS (SELECT l_orderkey, sqrt(CAST(SUM(inten * inten) AS DOUBLE)) AS n FROM spec GROUP BY 1)
SELECT l_orderkey, round(dot / (n * qn), 6) AS cosine_score
FROM dots JOIN norms USING (l_orderkey) CROSS JOIN qn
"""


# ---------------------------------------------------------------------------
# All-pairs model set similarity (SURVEY §2.5 J10: model jaccard,
# Scripts/model_jacquard.py:10-31 — collect_set per model, self cross-join,
# array_intersect/union sizes; at 100 TB swap to the MinHash-LSH path above).

def q_model_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mine_database_spark.operators.skew import salted_collect_set

    l, p = _t(spark, sf_dir, "lineitem", "part")
    # hot brands would bottleneck a single collect_set reducer at scale —
    # salted two-stage aggregation spreads each brand over 8 partials
    models = salted_collect_set(
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey),
        ["p_brand"], "l_suppkey", n_salts=8, out_col="supps",
    )
    a = models.select(F.col("p_brand").alias("a_brand"), F.col("supps").alias("sa"))
    b = models.select(F.col("p_brand").alias("b_brand"), F.col("supps").alias("sb"))
    return (
        a.crossJoin(b)
        .where(F.col("a_brand") < F.col("b_brand"))
        .select(
            "a_brand",
            "b_brand",
            F.round(
                F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb")), 6
            ).alias("jaccard"),
        )
    )


_Q_MODEL_JACCARD_SQL = """
WITH m AS (
  SELECT p_brand, list(DISTINCT l_suppkey) AS supps
  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
)
SELECT a.p_brand AS a_brand, b.p_brand AS b_brand,
       round(len(list_intersect(a.supps, b.supps)) / CAST(len(list_distinct(a.supps || b.supps)) AS DOUBLE), 6) AS jaccard
FROM m a JOIN m b ON a.p_brand < b.p_brand
"""


# ---------------------------------------------------------------------------
# Orphan GC anti-join (SURVEY §2.9 E3 / §2.3 F10: cascading delete leaves
# orphans = nodes with no surviving referencing edge, removed by anti-join;
# base_filter.py:222-238. Edge set restricted to "live" lineitems so the
# result is non-trivial on the synthetic data.)

def q_orphan_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = _t(spark, sf_dir, "lineitem", "part")
    live = l.where(F.col("l_quantity") >= 48.0).select("l_partkey")
    return p.join(live, p.p_partkey == live.l_partkey, "left_anti").select("p_partkey", "p_name")


_Q_ORPHAN_SQL = """
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 48.0)
"""


# ---------------------------------------------------------------------------
# Regex include/exclude filter (SURVEY §2.1 S6 rlike vocabulary, rules.py:12-25
# include_containing/exclude_containing; halogen regex filter
# metabolomics.py:239-241 — predicate stays JVM-side, no UDF).

def q_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (p,) = _t(spark, sf_dir, "part")
    return (
        p.where(F.col("p_name").rlike("widget|gear") & ~F.col("p_name").rlike("red"))
        .select("p_partkey", "p_name")
    )


_Q_REGEX_FILTER_SQL = """
SELECT p_partkey, p_name FROM part
WHERE regexp_matches(p_name, 'widget|gear') AND NOT regexp_matches(p_name, 'red')
"""


# ---------------------------------------------------------------------------
# §3.2 ms_adduct_search composite (metabolomics.py:937-966 → 189-271 →
# 1209-1267 → 671-679): the reference's second entry point as ONE plan —
# peak × adduct mass windows (X12) → broadcast range join (J2) → regex
# exclusion (halogen filter analog) → provenance semi-join flag (J9) →
# weighted score → per-peak isomer ranking (W3). The reference runs this
# peak-at-a-time with one Mongo round trip per peak.

def q_adduct_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """peaks = high-value orders (mz = o_totalprice); adducts = region rows;
    core compounds = part (mass = p_retailprice). Top-3 isomers per peak.

    Scale: the range join runs as the SURVEY §4 bucketed-mass equi-join —
    each window explodes to its floor(mass) buckets (≤2 for a ±0.05
    window), compounds key on floor(mass), and the broadcast hash join on
    the bucket replaces the nested-loop scan (measured 2.6× at sf0.1; at
    100 TB the BNLJ is quadratic while the bucket join stays linear).
    Native flag is a broadcast semi-join; the only real shuffle is the
    per-peak rank window, and WindowGroupLimit pushes the top-3 below it.
    """
    r, o, p, s, n, l = _t(
        spark, sf_dir, "region", "orders", "part", "supplier", "nation", "lineitem"
    )
    peaks = o.where(F.col("o_totalprice") > 80000.0).select(
        F.col("o_orderkey").alias("peak_id"), F.col("o_totalprice").alias("mz")
    )
    adducts = r.select(
        F.col("r_name").alias("adduct_name"),
        (F.col("r_regionkey") * 1000.0).alias("ion_mass"),
        F.lit(100.0).alias("mass_mult"),
    )
    mass = (F.col("mz") - F.col("ion_mass")) / F.col("mass_mult")
    windows = (
        peaks.crossJoin(F.broadcast(adducts))
        .select("peak_id", "adduct_name", (mass - 0.05).alias("lo"), (mass + 0.05).alias("hi"))
        .where((F.col("hi") >= 900.0) & (F.col("lo") <= 1000.0))
    )
    bwin = windows.withColumn("bucket", F.explode(F.sequence(F.floor("lo"), F.floor("hi"))))
    native_parts = (
        l.join(
            F.broadcast(
                s.join(F.broadcast(n.where(F.col("n_regionkey") == 0)), s.s_nationkey == n.n_nationkey)
                .select("s_suppkey")
            ),
            l.l_suppkey == F.col("s_suppkey"),
            "left_semi",
        )
        .select("l_partkey")
        .distinct()
    )
    hits = (
        p.where(~F.col("p_name").rlike("red"))
        .withColumn("bucket", F.floor("p_retailprice"))
        .join(F.broadcast(bwin), "bucket")
        .where((F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") <= F.col("hi")))
        .join(native_parts.withColumn("nat", F.lit(1)), p.p_partkey == native_parts.l_partkey, "left")
        .withColumn(
            "score",
            F.coalesce(F.col("nat"), F.lit(0)) * 0.75
            + F.when(F.col("p_size") >= 25, 1).otherwise(0) * 0.25,
        )
    )
    w = Window.partitionBy("peak_id").orderBy(F.desc("score"), F.asc("p_partkey"))
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select(
            "peak_id",
            "rank",
            "adduct_name",
            "p_partkey",
            F.round("score", 2).alias("score"),
            F.round("p_retailprice", 2).alias("mass"),
        )
    )


_Q_ADDUCT_SEARCH_SQL = """
WITH peaks AS (
  SELECT o_orderkey AS peak_id, o_totalprice AS mz FROM orders WHERE o_totalprice > 80000.0
),
adducts AS (
  SELECT r_name AS adduct_name, r_regionkey * 1000.0 AS ion_mass, 100.0 AS mass_mult FROM region
),
windows AS (
  SELECT peak_id, adduct_name,
         (mz - ion_mass) / mass_mult - 0.05 AS lo,
         (mz - ion_mass) / mass_mult + 0.05 AS hi
  FROM peaks CROSS JOIN adducts
  WHERE (mz - ion_mass) / mass_mult + 0.05 >= 900.0
    AND (mz - ion_mass) / mass_mult - 0.05 <= 1000.0
),
native_parts AS (
  SELECT DISTINCT l_partkey FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_regionkey = 0)
),
hits AS (
  SELECT w.peak_id, w.adduct_name, p.p_partkey, p.p_retailprice,
         (CASE WHEN p.p_partkey IN (SELECT l_partkey FROM native_parts) THEN 1 ELSE 0 END) * 0.75
         + (CASE WHEN p.p_size >= 25 THEN 1 ELSE 0 END) * 0.25 AS score
  FROM part p JOIN windows w ON p.p_retailprice >= w.lo AND p.p_retailprice <= w.hi
  WHERE NOT regexp_matches(p.p_name, 'red')
)
SELECT peak_id, rank, adduct_name, p_partkey, round(score, 2)::DOUBLE AS score,
       round(p_retailprice, 2) AS mass
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY peak_id ORDER BY score DESC, p_partkey) AS INT) AS rank
  FROM hits
)
WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# §3.3 ms2_search composite (metabolomics.py:1047-1117 → 636-679): score
# every candidate's spectrum against each peak's query spectrum, rank
# isomers per peak (W3). Five query spectra (one per region-peak) broadcast;
# candidate spectra aggregate from lineitem; integer intensities so the
# cosine is bit-reproducible.

def q_ms2_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-peak isomer ranking by spectral cosine.

    Scale: candidate spectra aggregate once on (orderkey, mz) with map-side
    partials; the query spectra pivot WIDE (one broadcast row per mz, one
    intensity column per peak), so the join is 1:1 — no per-peak row fanout
    — and every dot product plus the self-norm folds into a single groupBy
    on l_orderkey. The per-peak rows only materialize after aggregation
    (≤ n_peaks per order); the final rank is a per-peak window with
    WindowGroupLimit capping rows below its shuffle.
    """
    l, p, r = _t(spark, sf_dir, "lineitem", "part", "region")
    # single-shuffle trick, as in q_spectral_cosine: one orderkey
    # repartition feeds both the (orderkey, mz) and the orderkey aggregate
    spec = (
        l.repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", (F.col("l_partkey") % 100).alias("mz"))
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("inten"))
    )
    qspec = (
        p.join(F.broadcast(r), (F.col("p_size") % 5) == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("peak_id"), (F.col("p_partkey") % 100).alias("mz"))
        .agg(F.count(F.lit(1)).alias("qinten"))
    )
    # explicit pivot values — peak ids are the five TPC-H region names (a
    # fixed spec dimension); without the list, pivot() runs an eager
    # distinct job at plan-build time
    peak_ids = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    qwide = qspec.groupBy("mz").pivot("peak_id", peak_ids).agg(F.first("qinten"))
    qnorm = qspec.groupBy("peak_id").agg(
        F.sqrt(F.sum(F.col("qinten") * F.col("qinten"))).alias("qn")
    )
    per_order = (
        spec.join(F.broadcast(qwide), "mz", "left")
        .groupBy("l_orderkey")
        .agg(
            F.sqrt(F.sum(F.col("inten") * F.col("inten"))).alias("n"),
            *[
                F.sum(F.col("inten") * F.coalesce(F.col(pk), F.lit(0))).alias(f"dot_{i}")
                for i, pk in enumerate(peak_ids)
            ],
        )
    )
    stacked = per_order.select(
        "l_orderkey",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(pk).alias("peak_id"), F.col(f"dot_{i}").alias("dot"))
                    for i, pk in enumerate(peak_ids)
                ]
            )
        ).alias("pd"),
    ).select("l_orderkey", "n", F.col("pd.peak_id").alias("peak_id"), F.col("pd.dot").alias("dot"))
    scored = (
        stacked.where(F.col("dot") > 0)
        .join(F.broadcast(qnorm), "peak_id")
        .select(
            "peak_id",
            "l_orderkey",
            F.round(F.col("dot") / (F.col("n") * F.col("qn")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("peak_id").orderBy(F.desc("score"), F.asc("l_orderkey"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select("peak_id", "rank", "l_orderkey", "score")
    )


_Q_MS2_SEARCH_SQL = f"""
WITH spec AS (
  SELECT l_orderkey, l_partkey % 100 AS mz,
         CAST(SUM({_CENTS_SQL.format(c='l_quantity')}) AS BIGINT) AS inten
  FROM lineitem GROUP BY 1, 2
),
qspec AS (
  SELECT r_name AS peak_id, p_partkey % 100 AS mz, CAST(COUNT(*) AS BIGINT) AS qinten
  FROM part JOIN region ON p_size % 5 = r_regionkey GROUP BY 1, 2
),
qn AS (SELECT peak_id, sqrt(CAST(SUM(qinten * qinten) AS DOUBLE)) AS qn FROM qspec GROUP BY 1),
norms AS (SELECT l_orderkey, sqrt(CAST(SUM(inten * inten) AS DOUBLE)) AS n FROM spec GROUP BY 1),
dots AS (
  SELECT peak_id, l_orderkey, CAST(SUM(inten * qinten) AS BIGINT) AS dot
  FROM spec JOIN qspec USING (mz) GROUP BY 1, 2
),
scored AS (
  SELECT peak_id, l_orderkey, round(dot / (n * qn), 6) AS score
  FROM dots JOIN norms USING (l_orderkey) JOIN qn USING (peak_id)
)
SELECT peak_id, rank, l_orderkey, score FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY peak_id ORDER BY score DESC, l_orderkey) AS INT) AS rank
  FROM scored
)
WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# J3 check_product_of_native (metabolomics.py:273-352; near-identical
# Scripts/native_pipeline.py:22-130): the reference's 11-stage Mongo
# aggregation — unwind producing reactions, lookup their reactants, flag hits
# whose producing reaction draws on the native set — as one set-oriented plan.
# TPC-H shape: hit parts → orders containing them → do those orders also draw
# on "native" (region-0) suppliers?

def q_product_of_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stage provenance pipeline: explode/lookup chain → per-hit
    producer census with native flags.

    Scale: the native supplier set is a broadcast semi-join (tiny dim ⋈
    lineitem, no shuffle); the two big joins share the l_orderkey shuffle
    key; the final groupBy shuffles once on part_id. The reference runs this
    peak-at-a-time (one Mongo round trip per compound) — here it is one plan
    over all hits.
    """
    n, s, l, p = _t(spark, sf_dir, "nation", "supplier", "lineitem", "part")
    hits = p.where(F.col("p_retailprice") > 915.0).select("p_partkey")
    native = s.join(
        F.broadcast(n.where(F.col("n_regionkey") == 0)), s.s_nationkey == n.n_nationkey
    ).select("s_suppkey")
    li = l.select("l_orderkey", "l_partkey", "l_suppkey")
    native_orders = (
        li.join(F.broadcast(native), li.l_suppkey == native.s_suppkey, "left_semi")
        .select("l_orderkey")
        .distinct()
    )
    producing = (
        li.join(F.broadcast(hits), li.l_partkey == hits.p_partkey, "left_semi")
        .select("l_partkey", "l_orderkey")
        .distinct()
    )
    return (
        producing.join(native_orders.withColumn("nat", F.lit(1)), "l_orderkey", "left")
        .groupBy(F.col("l_partkey").alias("part_id"))
        .agg(
            F.count(F.lit(1)).alias("producers"),
            F.sum(F.coalesce(F.col("nat"), F.lit(0))).alias("native_producers"),
            F.max(F.coalesce(F.col("nat"), F.lit(0))).cast("int").alias("native_hit"),
        )
    )


_Q_PRODUCT_OF_NATIVE_SQL = """
WITH native AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_regionkey = 0
),
native_orders AS (
  SELECT DISTINCT l_orderkey FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM native)
),
producing AS (
  SELECT DISTINCT l_partkey, l_orderkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_retailprice > 915.0)
)
SELECT l_partkey AS part_id,
       COUNT(*) AS producers,
       CAST(SUM(CASE WHEN l_orderkey IN (SELECT l_orderkey FROM native_orders) THEN 1 ELSE 0 END) AS BIGINT) AS native_producers,
       CAST(MAX(CASE WHEN l_orderkey IN (SELECT l_orderkey FROM native_orders) THEN 1 ELSE 0 END) AS INT) AS native_hit
FROM producing GROUP BY l_partkey
"""


# ---------------------------------------------------------------------------
# E3 anti-set (similarity.py:209-210, filters/metabolomics.py:262-263:
# cpds_remove = all_ids − matched): customers with no high-value order.

def q_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti against a filtered subquery — the reference's set-difference
    removal list as one shuffle-hash anti-join (AQE broadcasts the small
    filtered side at this SF)."""
    c, o = _t(spark, sf_dir, "customer", "orders")
    big = o.where(F.col("o_totalprice") > 400000.0).select("o_custkey")
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


_Q_QUIET_CUSTOMERS_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
"""


# ---------------------------------------------------------------------------
# A8 fingerprint-bit prevalence (Scripts/db_plots.py:57-67: explode fp set
# bits, group by generation × bit): simhash set-bit census per language.

def q_bit_prevalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode(set bits) → groupBy(lang, bit) count.

    The bit explode happens AFTER the per-doc signature aggregation, so at
    most 60 rows per document enter the final low-cardinality groupBy
    (map-side combined to ≤ langs×60 rows per task).
    """
    (d,) = _t(spark, sf_dir, "documents")
    sig = dd.simhash60(d).join(d.select("doc_id", "lang"), "doc_id")
    bits = sig.select(
        "lang",
        F.explode(
            F.expr("filter(sequence(0, 59), b -> (shiftright(simhash, b) & 1) = 1)")
        ).alias("bit"),
    )
    return bits.groupBy("lang", "bit").agg(F.count(F.lit(1)).alias("n_docs"))


_Q_BIT_PREVALENCE_SQL = """
WITH tok AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents) WHERE tok <> ''),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
bits AS (
  SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS contrib
  FROM (SELECT doc_id, h, unnest(generate_series(0, 59)) AS b FROM h)
),
s AS (SELECT doc_id, b, CAST(SUM(contrib) AS BIGINT) AS s FROM bits GROUP BY doc_id, b),
sig AS (
  SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM s GROUP BY doc_id
)
SELECT d.lang, CAST(g.b AS INT) AS bit, COUNT(*) AS n_docs
FROM sig JOIN documents d USING (doc_id)
CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) g
WHERE (sig.simhash >> g.b) & 1 = 1
GROUP BY d.lang, g.b
"""


# ---------------------------------------------------------------------------
# Training-data shaping (SURVEY §2.13 extensions): context-window chunking,
# greedy sequence packing, temperature-weighted mixture sampling, unigram-LM
# quality buckets, incremental cross-batch dedup (operators/packing.py,
# operators/dedup.py:incremental_dedup)

_DUCK_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size (64-token) context windows with stride 32 over every
    document — the tokenize→chunk step before sequence packing.

    Scale: scan → sequence() → posexplode, ZERO shuffles and zero Python
    (plan-gated in test_plans.py); chunking runs at parquet scan speed."""
    (d,) = _t(spark, sf_dir, "documents")
    return pk.chunk_documents(d, chunk_size=64, stride=32)


_Q_DOC_CHUNKS_SQL = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
c AS (
  SELECT doc_id, toks, n,
         unnest(range(0, CAST(greatest(ceil((n - 64) / 32.0), 0) AS BIGINT) + 1)) AS i
  FROM n
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(i * 32 AS BIGINT) AS start_tok,
       CAST(least(64, n - i * 32) AS BIGINT) AS n_toks,
       array_to_string(list_slice(toks, i * 32 + 1, i * 32 + 64), ' ') AS chunk_text
FROM c
WHERE n - i * 32 > 0
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit packing of documents into 256-token bins, one packer
    per source shard (operators/packing.py:pack_greedy). The oracle is a
    genuine recursive CTE walking each shard in doc_id order — packing is
    the one training-data op that is *inherently* sequential per shard,
    which is exactly why the Spark form shards first.

    Scale: one hash exchange on the shard key; Arrow-batched per-shard
    walk; token counts computed JVM-side so Python never sees text."""
    (d,) = _t(spark, sf_dir, "documents")
    return pk.pack_greedy(d, capacity=256, shard_col="source")


_Q_PACK_SQL = f"""
WITH RECURSIVE t AS (
  SELECT source, doc_id,
         CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
rec AS (
  SELECT source, rn, doc_id, n_toks, CAST(0 AS BIGINT) AS bin_id, n_toks AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.rn, t.doc_id, t.n_toks,
         CASE WHEN rec.fill + t.n_toks <= 256 THEN rec.bin_id ELSE rec.bin_id + 1 END,
         CASE WHEN rec.fill + t.n_toks <= 256 THEN rec.fill + t.n_toks ELSE t.n_toks END
  FROM rec JOIN t ON t.source = rec.source AND t.rn = rec.rn + 1
)
SELECT source, doc_id, n_toks, bin_id FROM rec
"""


def q_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) re-balancing of the corpus across languages
    (operators/packing.py:temperature_sample): rare languages keep
    everything, the dominant language is down-sampled toward the tempered
    distribution. Deterministic md5-uniform keep rule, so the oracle
    reproduces the exact sample.

    Scale: O(#domains) histogram broadcast back onto a stateless scan."""
    (d,) = _t(spark, sf_dir, "documents")
    return pk.temperature_sample(d, alpha=0.5, source_col="lang")


_Q_MIXTURE_SQL = """
WITH h AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS ns FROM documents GROUP BY lang),
tot AS (SELECT SUM(ns) AS n, SUM(pow(ns, 0.5)) AS wsum FROM h),
r AS (
  SELECT lang, least(1.0, tot.n * pow(h.ns, 0.5) / tot.wsum / h.ns) AS p
  FROM h CROSS JOIN tot
)
SELECT d.doc_id, d.lang, round(r.p, 6) AS keep_prob
FROM documents d JOIN r ON d.lang = r.lang
WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0 < r.p
"""


def q_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epochs-per-source corpus mixing (packing.mixture_upsample): 2.5
    epochs of src0, 3 of src1, 0.4 of src2, 1 of everything else — each
    document emits floor(f) + deterministic-Bernoulli(frac(f)) copies, the
    upsampling half temperature_sample's keep-rates cannot express. Pure
    stateless scan + Generate; no shuffle, no join."""
    (d,) = _t(spark, sf_dir, "documents")
    return pk.mixture_upsample(
        d, {"src0": 2.5, "src1": 3.0, "src2": 0.4}, default_factor=1.0
    )


_Q_MIXTURE_UPSAMPLE_SQL = """
WITH f AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 3.0 WHEN 'src2' THEN 0.4
              ELSE 1.0 END AS fac
  FROM documents
),
n AS (
  SELECT doc_id, source,
         CAST(floor(fac) + CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0 < fac - floor(fac)
                                THEN 1 ELSE 0 END AS INTEGER) AS n_copies
  FROM f
)
SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies)) AS INTEGER) AS epoch, n_copies
FROM n WHERE n_copies >= 1
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM score per document: mean token
    ln P(tok), the classic perplexity-style quality signal, bucketed into
    deciles. Each ln term is quantized to an exact integer (×1e6) BEFORE
    summing so the aggregate is order-independent and engine-exact — float
    accumulation order can never flip a value.

    Scale: two map-side-combinable token aggregates (term counts are the
    LM; total folds in as a broadcast 1-row aggregate), a token-keyed join,
    and a per-doc agg — the same shape as tfidf_topk."""
    (d,) = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    tot = cnt.agg(F.sum("ct").alias("t"))
    term = (
        toks.join(cnt, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(F.log(F.col("ct") / F.col("t")) * 1e6).cast("bigint").alias("q"),
        )
    )
    per = term.groupBy("doc_id").agg(
        F.round(F.sum("q") / F.count(F.lit(1)) / 1e6, 6).alias("avg_logprob")
    )
    # decile assignment WITHOUT `ntile() OVER (ORDER BY ...)` — the global
    # unpartitioned window would single-partition-sort every doc row at
    # scale; distributed_ntile reproduces exact NTILE semantics from a
    # range-partitioned distributed rank + one broadcast count
    return pk.distributed_ntile(per, 10, ["avg_logprob", "doc_id"], out_col="bucket").select(
        "doc_id", "avg_logprob", "bucket"
    )


_Q_UNIGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents
  ) WHERE tok <> ''
),
cnt AS (SELECT tok, COUNT(*) AS ct FROM toks GROUP BY tok),
tot AS (SELECT SUM(ct) AS t FROM cnt),
term AS (
  SELECT toks.doc_id, CAST(round(ln(cnt.ct / tot.t) * 1e6) AS BIGINT) AS q
  FROM toks JOIN cnt USING (tok) CROSS JOIN tot
),
per AS (
  SELECT doc_id, round(SUM(q) / COUNT(*) / 1e6, 6) AS avg_logprob
  FROM term GROUP BY doc_id
)
SELECT doc_id, avg_logprob,
       CAST(ntile(10) OVER (ORDER BY avg_logprob, doc_id) AS INT) AS bucket
FROM per
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM score per document
    (quality.bigram_logprob): mean quantized ln P(b|a) under add-1
    smoothing, bucketed into deciles with distributed_ntile (never a
    global unpartitioned window). One LM step up from unigram_logprob —
    the CCNet-style perplexity quality signal."""
    from mine_database_spark.operators.quality import bigram_logprob

    (d,) = _t(spark, sf_dir, "documents")
    per = bigram_logprob(d)
    return pk.distributed_ntile(per, 10, ["avg_logprob", "doc_id"], out_col="bucket").select(
        "doc_id", "avg_logprob", "bucket"
    )


_Q_BIGRAM_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
  FROM t, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
  WHERE len(ws) >= 2
),
c2 AS (SELECT a, b, COUNT(*) AS c2 FROM g GROUP BY a, b),
c1 AS (SELECT a, SUM(c2) AS c1 FROM c2 GROUP BY a),
v AS (SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(ws) AS tok FROM t)),
term AS (
  SELECT g.doc_id, CAST(round(ln((c2.c2 + 1) / (c1.c1 + v.v)) * 1e6) AS BIGINT) AS q
  FROM g JOIN c2 USING (a, b) JOIN c1 USING (a) CROSS JOIN v
),
per AS (
  SELECT doc_id, round(SUM(q) / COUNT(*) / 1e6, 6) AS avg_logprob
  FROM term GROUP BY doc_id
)
SELECT doc_id, avg_logprob,
       CAST(ntile(10) OVER (ORDER BY avg_logprob, doc_id) AS INT) AS bucket
FROM per
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch dedup: docs in the 'new batch' (doc_id % 3 = 0) whose
    canonical head (first 4 tokens) does not already appear in the corpus
    (the other two thirds) — operators/dedup.py:incremental_dedup, the
    two-phase bucket-prefilter + exact-verify plan. The oracle is the plain
    digest anti-join the two phases must exactly equal."""
    (d,) = _t(spark, sf_dir, "documents")
    head = d.select(
        "doc_id", F.array_join(F.slice(tokens(F.col("text")), 1, 4), " ").alias("head")
    )
    new = head.where(F.col("doc_id") % 3 == 0)
    corpus = head.where(F.col("doc_id") % 3 != 0)
    return dd.incremental_dedup(new, corpus, text_col="head", bucket_hex=2)


_Q_INCREMENTAL_DEDUP_SQL = f"""
WITH h AS (
  SELECT doc_id, md5(array_to_string(list_slice({_DUCK_TOKS}, 1, 4), ' ')) AS digest
  FROM documents
)
SELECT a.doc_id, a.digest FROM h a
WHERE a.doc_id % 3 = 0
  AND NOT EXISTS (SELECT 1 FROM h b WHERE b.doc_id % 3 <> 0 AND b.digest = a.digest)
"""


def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget output sharding in longest-first curriculum order
    (operators/packing.py:token_budget_shards): running token total over
    (n_toks DESC, doc_id), shard_id = (cum - n_toks) DIV 4096.

    Scale: the running total is a two-level distributed prefix sum —
    range-partition, per-partition parallel windows, broadcast
    O(#partitions) offsets — NOT a single-partition global window; the
    oracle below is exactly that naive global window, which the
    distributed form must reproduce bit-for-bit."""
    (d,) = _t(spark, sf_dir, "documents")
    return pk.token_budget_shards(d, budget=4096)


_Q_TOKEN_SHARDS_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks FROM documents
),
c AS (
  SELECT doc_id, n_toks,
         CAST(SUM(n_toks) OVER (ORDER BY n_toks DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_toks
  FROM t
)
SELECT doc_id, n_toks, cum_toks,
       CAST((cum_toks - n_toks) // 4096 AS BIGINT) AS shard_id
FROM c
"""


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-fill audit over the token_budget_shards assignment
    (packing.shard_balance): per-shard doc count, token sum, fill ratio
    vs the 4096 budget, over-budget flag — the data-loader straggler
    check, one O(shards) aggregate on top of the assignment."""
    (d,) = _t(spark, sf_dir, "documents")
    return pk.shard_balance(pk.token_budget_shards(d, budget=4096), budget=4096)


_Q_SHARD_BALANCE_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks FROM documents
),
c AS (
  SELECT doc_id, n_toks,
         CAST(SUM(n_toks) OVER (ORDER BY n_toks DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_toks
  FROM t
),
s AS (SELECT CAST((cum_toks - n_toks) // 4096 AS BIGINT) AS shard_id, n_toks FROM c)
SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS shard_tokens,
       round(CAST(SUM(n_toks) AS DOUBLE) / 4096.0, 6) AS fill_ratio,
       SUM(n_toks) > 4096 AS over_budget
FROM s GROUP BY shard_id
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (operators/quality.py): logistic score
    over five scan-only features with the pinned default weights — the
    CCNet/fastText-style classifier stage after the rule-based pre-filter
    (q_quality_rules). fit() trains the same model in pure python on a
    labeled sample; scoring stays a zero-shuffle zero-Python JVM scan.

    The oracle folds the weighted terms left-to-right in the same order, so
    probabilities hash-match (exp() agrees across engines at round-6)."""
    from mine_database_spark.operators.quality import LogisticQualityClassifier

    (d,) = _t(spark, sf_dir, "documents")
    return LogisticQualityClassifier().transform(d)


_Q_QUALITY_CLASSIFIER_SQL = """
WITH f AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_tok,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS INT) AS chars,
         CAST(len(list_filter(regexp_extract_all(text, '\\S+'),
              x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x))) AS INT) AS sw,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS INT) AS uppers,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INT) AS digits
  FROM documents
), z AS (
  SELECT doc_id,
         (((((-1.0)
           + 1.2  * least(n_tok / 100.0, 1.0))
           + 0.08 * coalesce(chars / CAST(nullif(n_tok, 0) AS DOUBLE), 0.0))
           + 2.0  * coalesce(sw / CAST(nullif(n_tok, 0) AS DOUBLE), 0.0))
           + (-1.5) * coalesce(uppers / CAST(nullif(chars, 0) AS DOUBLE), 0.0))
           + (-2.0) * coalesce(digits / CAST(nullif(chars, 0) AS DOUBLE), 0.0) AS z
  FROM f
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-z)), 6) AS quality_prob,
       round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
FROM z
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus audit: doc count, total/mean token counts, exact
    interpolated p50/p95 — the distribution table every corpus intake
    produces before mixing decisions (and the input temperature_sample's
    alpha gets tuned against).

    Exact `percentile` (not approx_percentile) keeps the value oracle-able:
    both engines linearly interpolate at rank (n-1)p over exact integer
    token counts, so doubles match bit-for-bit. At 100 TB swap in
    approx_percentile and drop the oracle row to rows-only — the audit
    itself is one map-side-combinable aggregate either way."""
    from mine_database_spark.functions.text import token_count

    (d,) = _t(spark, sf_dir, "documents")
    sized = d.select("source", token_count(F.col("text")).cast("bigint").alias("n"))
    return sized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.round(F.sum("n") / F.count(F.lit(1)), 6).alias("mean_tokens"),
        F.round(F.percentile("n", F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile("n", F.lit(0.95)), 4).alias("p95_tokens"),
    )


_Q_CORPUS_STATS_SQL = """
WITH t AS (
  SELECT source, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       round(SUM(n) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens,
       round(quantile_cont(n, 0.5), 4) AS p50_tokens,
       round(quantile_cont(n, 0.95), 4) AS p95_tokens
FROM t GROUP BY source
"""


def q_length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile curation (quality.percentile_filter): keep
    documents at/above their OWN source's 25th-percentile token count —
    'drop the shortest quarter of each source' without a global constant
    that would wipe out a short-form source. Thresholds are one
    O(#sources) aggregate broadcast onto a stateless scan; the corpus
    never shuffles."""
    from mine_database_spark.functions.text import token_count
    from mine_database_spark.operators.quality import percentile_filter

    (d,) = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    return percentile_filter(scored, "n_tokens", p=0.25, group_col="source")


_Q_LENGTH_PCTL_SQL = """
WITH t AS (
  SELECT doc_id, source, CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n_tokens
  FROM documents
),
thr AS (SELECT source, quantile_cont(n_tokens, 0.25) AS threshold FROM t GROUP BY source)
SELECT t.source, t.doc_id, t.n_tokens, thr.threshold
FROM t JOIN thr USING (source)
WHERE n_tokens >= threshold
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 5-gram overlap matrix (dedup.source_overlap): Jaccard
    of distinct shingle sets per source pair — the corpus-level audit that
    finds mirrored crawls before paying for document-pair dedup between
    them. Posting lists are bounded by #sources, so the self-join fan-out
    is at most #sources² per shingle — no cap needed."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.source_overlap(d, k=5)


_Q_SOURCE_OVERLAP_SQL = """
WITH tok AS (
  SELECT source, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
pos AS (
  SELECT source, toks, unnest(generate_series(1, len(toks) - 4)) AS i
  FROM tok WHERE len(toks) >= 5
),
sh AS (SELECT DISTINCT source, array_to_string(toks[i:i + 4], ' ') AS shingle FROM pos),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_common, sa.n AS n_a, sb.n AS n_b,
       round(n_common / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = inter.source_a
JOIN sizes sb ON sb.source = inter.source_b
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment
    (operators/packing.py:assign_splits): split = the cumulative-weight
    interval containing hex_uniform(doc_id). Hash-based so adding documents
    never moves an existing one — resumable preprocessing. One stateless
    scan; the oracle rebuilds the identical md5-uniform and CASE."""
    from mine_database_spark.operators.packing import assign_splits

    (d,) = _t(spark, sf_dir, "documents")
    return assign_splits(d.select("doc_id"), (("train", 0.9), ("val", 0.05), ("test", 0.05)))


_Q_DATASET_SPLIT_SQL = """
WITH u AS (
  SELECT doc_id,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0 AS u
  FROM documents
)
SELECT doc_id,
       CASE WHEN u < 0.9 THEN 'train' WHEN u < 0.9 + 0.05 THEN 'val' ELSE 'test' END AS split
FROM u
"""


def q_packed_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packing output (operators/packing.py:pack_concat): per
    (source shard, bin), the member documents' texts concatenated in walk
    order plus token/doc totals — the actual training-sequence payload
    downstream of pack_sequences. The oracle re-walks the same recursive
    CTE and string_aggs in doc order."""
    (d,) = _t(spark, sf_dir, "documents")
    return pk.pack_concat(d, capacity=256, shard_col="source")


_Q_PACK_CONCAT_SQL = f"""
WITH RECURSIVE t AS (
  SELECT source, doc_id,
         CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
rec AS (
  SELECT source, rn, doc_id, n_toks, CAST(0 AS BIGINT) AS bin_id, n_toks AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.rn, t.doc_id, t.n_toks,
         CASE WHEN rec.fill + t.n_toks <= 256 THEN rec.bin_id ELSE rec.bin_id + 1 END,
         CASE WHEN rec.fill + t.n_toks <= 256 THEN rec.fill + t.n_toks ELSE t.n_toks END
  FROM rec JOIN t ON t.source = rec.source AND t.rn = rec.rn + 1
)
SELECT rec.source, rec.bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(rec.n_toks) AS BIGINT) AS n_toks,
       string_agg(d.text, ' ' ORDER BY rec.doc_id) AS packed_text
FROM rec JOIN documents d ON d.doc_id = rec.doc_id
GROUP BY rec.source, rec.bin_id
"""


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: L2-normalized vectors PQ-encode against a
    deterministic seeded codebook (m=4 subspaces × 8 centroids — sized as a machinery check, not a quality config), queries
    rank the corpus by asymmetric-distance lookup sums
    (similarity.py:pq_codebook/pq_encode/pq_topk). The oracle rebuilds the
    identical codebook, codes, LUTs, and ordered sums in SQL — a full
    value check of the whole PQ machinery. Production quality comes from
    pq_codebook_trained + pq_topk_rescored (recall gates in pytest);
    serving scans touch 4-byte codes, never raw vectors."""
    (e,) = _t(spark, sf_dir, "embeddings")
    q5 = e.where(F.col("vec_id") < 5)
    # collect the tiny codebook ONCE; encode and LUT then inline its
    # centroids as literals — one codebook job, fully codegen scans
    pq = sim.collect_pq_codebook(sim.pq_codebook(e, m=4, ks=8))
    codes = sim.pq_encode(e, pq, m=4)
    return sim.pq_topk(codes, pq, q5, k=10, m=4)


# shared CTE prefix: codebook, codes, LUTs, ADC approx scores — the raw-ADC
# ranking query and the shortlist+rescore serving query differ only in tail
_Q_ANN_PQ_PREFIX = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings),
n AS (SELECT vec_id, list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS v FROM e),
seeds AS (
  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS pos
  FROM n ORDER BY vec_id LIMIT 8
),
ss AS (SELECT unnest(generate_series(0, 3)) AS s),
cents AS (
  SELECT ss.s, seeds.pos, list_slice(seeds.v, ss.s * 16 + 1, ss.s * 16 + 16) AS cv
  FROM seeds CROSS JOIN ss
),
-- encode scores use the EXPANDED squared-L2 form on the RAW vectors,
-- sum(cv^2) - 2*(dot(raw_s, cv)/norm) -- identical ops, same order, as the
-- engine's compiled encode (similarity._pq_encode_inlined), so codes match
-- bit-for-bit; the sum(v^2) term is constant per (vec, s) and drops out of
-- the argmin
rsub AS (
  SELECT e.vec_id, ss.s, list_slice(e.raw, ss.s * 16 + 1, ss.s * 16 + 16) AS rv,
         CASE WHEN sqrt(list_dot_product(e.raw, e.raw)) = 0 THEN 1
              ELSE sqrt(list_dot_product(e.raw, e.raw)) END AS nz
  FROM e CROSS JOIN ss
),
codes AS (
  SELECT vec_id, s, pos AS code FROM (
    SELECT rsub.vec_id, rsub.s, cents.pos,
           row_number() OVER (
             PARTITION BY rsub.vec_id, rsub.s
             ORDER BY list_aggregate(list_transform(generate_series(1, 16),
                        i -> cents.cv[i] * cents.cv[i]), 'sum')
                      - 2 * (list_aggregate(list_transform(generate_series(1, 16),
                               i -> rsub.rv[i] * cents.cv[i]), 'sum') / rsub.nz),
                      cents.pos
           ) AS rn
    FROM rsub JOIN cents ON rsub.s = cents.s
  ) WHERE rn = 1
),
subv AS (
  SELECT n.vec_id, ss.s, list_slice(n.v, ss.s * 16 + 1, ss.s * 16 + 16) AS sv
  FROM n CROSS JOIN ss
),
qsub AS (
  SELECT vec_id AS query_id, s, sv AS qsv FROM subv WHERE vec_id < 5
),
lut AS (
  SELECT qsub.query_id, qsub.s, cents.pos,
         list_aggregate(list_transform(generate_series(1, 16),
           i -> qsub.qsv[i] * cents.cv[i]), 'sum') AS val
  FROM qsub JOIN cents ON qsub.s = cents.s
),
approx AS (
  SELECT l.query_id, c.vec_id,
         list_aggregate(list(l.val ORDER BY l.s), 'sum') AS approx_raw,
         round(list_aggregate(list(l.val ORDER BY l.s), 'sum'), 4) AS approx_score
  FROM codes c JOIN lut l ON l.s = c.s AND l.pos = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY l.query_id, c.vec_id
)"""

_Q_ANN_PQ_SQL = _Q_ANN_PQ_PREFIX + """,
ranked AS (
  SELECT query_id, vec_id, approx_score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY approx_score DESC, vec_id) AS INT) AS rank
  FROM approx
)
SELECT query_id, rank, vec_id, approx_score FROM ranked WHERE rank <= 10
"""


def q_ann_pq_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ SERVING shape under a full value oracle: the ADC shortlist
    (top-50 by approximate score) fetches raw vectors and exact-cosine
    re-ranks to the final top-10 (similarity.py:pq_topk_rescored). The
    oracle shares the codebook/codes/LUT/ADC rebuild with ann_pq_topk and
    adds the shortlist + exact re-rank tail."""
    (e,) = _t(spark, sf_dir, "embeddings")
    q5 = e.where(F.col("vec_id") < 5)
    pq = sim.collect_pq_codebook(sim.pq_codebook(e, m=4, ks=8))
    codes = sim.pq_encode(e, pq, m=4)
    return sim.pq_topk_rescored(e, codes, pq, q5, k=10, shortlist=50, m=4)


_Q_ANN_PQ_RESCORED_SQL = _Q_ANN_PQ_PREFIX + """,
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_score DESC, vec_id) AS srank
    FROM approx
  ) WHERE srank <= 50
),
resc AS (
  SELECT s.query_id, s.vec_id,
         round(list_dot_product(ec.raw, eq.raw) /
               (sqrt(list_dot_product(ec.raw, ec.raw)) * sqrt(list_dot_product(eq.raw, eq.raw))), 4) AS score
  FROM short s JOIN e ec ON ec.vec_id = s.vec_id JOIN e eq ON eq.vec_id = s.query_id
),
rr AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, vec_id) AS INT) AS rank
  FROM resc
)
SELECT query_id, rank, vec_id, score FROM rr WHERE rank <= 10
"""


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF+PQ index under a full value oracle
    (similarity.py:ivf_pq_topk): the coarse quantizer prunes candidates to
    4 of 16 inverted lists per query, the pruned candidates rank by raw
    (unrounded) ADC sums over their codes, the top-50 shortlist fetches
    raw vectors and exact-cosine re-ranks to the top-10. The oracle shares
    the PQ codebook/codes/LUT/ADC prefix and adds the IVF assignment,
    probe restriction, and rescore tail."""
    (e,) = _t(spark, sf_dir, "embeddings")
    q5 = e.where(F.col("vec_id") < 5)
    return sim.ivf_pq_topk(
        e, q5, k=10, n_centroids=16, n_probe=4, m=4, ks=8, shortlist=50
    )


_Q_ANN_IVF_PQ_SQL = _Q_ANN_PQ_PREFIX + """,
icents AS (SELECT vec_id AS cid, raw AS cv FROM e ORDER BY vec_id LIMIT 16),
iscore AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(e.raw, c.cv) DESC, c.cid DESC) AS rn
  FROM e CROSS JOIN icents c
),
iassigned AS (SELECT vec_id, cid AS list_id FROM iscore WHERE rn = 1),
iprobes AS (SELECT vec_id AS query_id, cid AS list_id FROM iscore WHERE vec_id < 5 AND rn <= 4),
icand AS (
  SELECT p.query_id, a.vec_id FROM iassigned a JOIN iprobes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
),
ishort AS (
  SELECT query_id, vec_id FROM (
    SELECT x.query_id, x.vec_id,
           row_number() OVER (PARTITION BY x.query_id
                              ORDER BY x.approx_raw DESC, x.vec_id) AS srank
    FROM approx x JOIN icand ic ON ic.query_id = x.query_id AND ic.vec_id = x.vec_id
  ) WHERE srank <= 50
),
iresc AS (
  SELECT s.query_id, s.vec_id,
         round(list_dot_product(ec.raw, eq.raw) /
               (sqrt(list_dot_product(ec.raw, ec.raw)) * sqrt(list_dot_product(eq.raw, eq.raw))), 4) AS score
  FROM ishort s JOIN e ec ON ec.vec_id = s.vec_id JOIN e eq ON eq.vec_id = s.query_id
),
irr AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, vec_id) AS INT) AS rank
  FROM iresc
)
SELECT query_id, rank, vec_id, score FROM irr WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# Round-10 extensions: retrieval (BM25 / inverted index), containment +
# hamming near-dup candidates, curation audits, consistent pseudonymization


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a bag-of-terms query (operators/search.py:
    bm25_topk; Lucene-default idf). The per-doc score sums its per-term
    contributions in FIXED sorted-term order (conditional aggregates), so
    the float result is bit-reproducible at any partition count and the
    oracle can replay the identical left-to-right addition."""
    from mine_database_spark.operators import search as srch

    (d,) = _t(spark, sf_dir, "documents")
    return srch.bm25_topk(d, ["spark", "window", "hash", "merge"], k=20)


_BM25_C = (
    "ln(1.0 + (((stats.n - dfreq.df) + 0.5) / (dfreq.df + 0.5)))"
    " * ((tf.tf * {k1p1}) / (tf.tf + {k1} * ({omb} + (({b} * tf.dl) / stats.avgdl))))"
).format(k1p1=repr(1.2 + 1), k1=repr(1.2), omb=repr(1 - 0.75), b=repr(0.75))

_Q_BM25_SQL = f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
dls AS (SELECT doc_id, toks, len(toks) AS dl FROM base),
stats AS (SELECT COUNT(*) AS n, avg(dl) AS avgdl FROM dls),
tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dls)
  WHERE tok IN ('hash', 'merge', 'spark', 'window')
  GROUP BY doc_id, dl, tok
),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
c AS (
  SELECT tf.doc_id, tf.tok, {_BM25_C} AS c
  FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN stats
),
s AS (
  SELECT doc_id,
         round(((((0.0 + coalesce(max(CASE WHEN tok = 'hash' THEN c END), 0.0))
                      + coalesce(max(CASE WHEN tok = 'merge' THEN c END), 0.0))
                      + coalesce(max(CASE WHEN tok = 'spark' THEN c END), 0.0))
                      + coalesce(max(CASE WHEN tok = 'window' THEN c END), 0.0)), 4) AS score
  FROM c GROUP BY doc_id
),
top AS (SELECT doc_id, score FROM s ORDER BY score DESC, doc_id LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank, doc_id, score
FROM top
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> sorted posting-list index with document frequency
    (operators/search.py:inverted_index), min_df=2 — the retrieval-side
    artifact every curation search runs against. The posting list is
    rendered as a comma-joined string in the FINAL projection (repo
    convention, same as collect_set_union above): the driver's pandas
    canonicalizer cannot hash list-typed cells."""
    from mine_database_spark.operators import search as srch

    (d,) = _t(spark, sf_dir, "documents")
    idx = srch.inverted_index(d, min_df=2)
    return idx.select("tok", "df", F.concat_ws(",", "postings").alias("postings"))


_Q_INVIDX_SQL = f"""
WITH tok AS (
  SELECT DISTINCT tok, doc_id FROM (
    SELECT unnest({_DUCK_TOKS}) AS tok, doc_id FROM documents
  ) WHERE tok <> ''
)
SELECT tok, COUNT(*) AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM tok GROUP BY tok HAVING COUNT(*) >= 2
"""


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric k-gram containment pairs (dedup.ngram_containment_pairs,
    k=3, threshold 0.5): catches subset duplication (quoted paragraph in a
    longer doc) that symmetric Jaccard scores near zero. Same inverted-
    index join family as ngram_jaccard — never all-pairs."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.ngram_containment_pairs(d, threshold=0.5, k=3)


_Q_CONTAINMENT_SQL = (
    "WITH " + _SHINGLE_SQL.format(k=3, km1=2) + """,
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id, i AS inter, na.n AS na, nb.n AS nb,
       round(i / CAST(least(na.n, nb.n) AS DOUBLE), 6) AS containment
FROM inter JOIN sizes na ON inter.a_id = na.doc_id JOIN sizes nb ON inter.b_id = nb.doc_id
WHERE round(i / CAST(least(na.n, nb.n) AS DOUBLE), 6) >= 0.5
"""
)


def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 via 4-band
    pigeonhole banding + bit_count(xor) verify
    (dedup.simhash_hamming_pairs) — the WWW'07 Manku/Jain/Sarma shape:
    band equi-joins find every qualifying pair, never an all-pairs scan."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.simhash_hamming_pairs(d, max_hamming=3)


_Q_SIMHASH_HAMMING_SQL = """
WITH tok AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents) WHERE tok <> ''),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
bits AS (
  SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS contrib
  FROM (SELECT doc_id, h, unnest(generate_series(0, 59)) AS b FROM h)
),
s AS (SELECT doc_id, b, CAST(SUM(contrib) AS BIGINT) AS s FROM bits GROUP BY doc_id, b),
sig AS (
  SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM s GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, b AS band, (simhash >> (15 * b)) & 32767 AS band_val
  FROM (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS b FROM sig)
),
cand AS (
  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id, x.simhash AS sa, y.simhash AS sb
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
)
SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate audit (dedup.dedup_report): row/unique
    counts, duplicate percentage, largest cluster — the pre-dedup report a
    curation run reads to decide which passes to pay for."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.dedup_report(d)


_Q_DEDUP_REPORT_SQL = """
WITH cl AS (SELECT source, md5(text) AS d, COUNT(*) AS c FROM documents GROUP BY source, md5(text))
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       COUNT(*) AS n_unique,
       CAST(SUM(c) AS BIGINT) - COUNT(*) AS n_dup_rows,
       round(((CAST(SUM(c) AS BIGINT) - COUNT(*)) * 100.0) / CAST(SUM(c) AS BIGINT), 4) AS dup_pct,
       CAST(MAX(c) AS BIGINT) AS max_cluster
FROM cl GROUP BY source
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (functions/text.py:char_entropy):
    Shannon bits/char, row-local with a fixed-order fold so the float is
    engine- and partition-reproducible. Zero shuffle — runs inside the
    scan projection."""
    from mine_database_spark.functions.text import char_entropy

    (d,) = _t(spark, sf_dir, "documents")
    return d.where(F.length("text") > 0).select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.array_distinct(F.split(F.col("text"), ""))).cast("bigint").alias("n_distinct"),
        F.round(char_entropy(F.col("text")), 4).alias("entropy"),
    )


_Q_CHAR_ENTROPY_SQL = """
WITH cs AS (
  SELECT doc_id, length(text) AS n, string_split(text, '') AS chars
  FROM documents WHERE length(text) > 0
),
d AS (SELECT doc_id, n, chars, list_sort(list_distinct(chars)) AS dist FROM cs),
t AS (
  SELECT doc_id, n,
         CAST(len(dist) AS BIGINT) AS n_distinct,
         list_transform(dist, c -> len(list_filter(chars, x -> x = c))) AS counts
  FROM d
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars, n_distinct,
       round(-list_reduce(
           list_prepend(0.0, list_transform(counts,
               cnt -> (cnt / CAST(n AS DOUBLE)) * log2(cnt / CAST(n AS DOUBLE)))),
           (a, b) -> a + b), 4) AS entropy
FROM t
"""


def q_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent email pseudonymization (functions/pii.py:
    pseudonymize_emails): every address maps to the same sha256-derived
    token corpus-wide, preserving principal linkage that redact_pii's
    uniform <EMAIL> destroys. The synthetic corpus has no PII, so the
    contact line is derived deterministically from each event in BOTH
    engines (the pii_scan pattern) with two planted addresses — the
    repeated user<k>@corp.example across rows demonstrates consistency.

    Scale: pure scan, zero shuffle, zero Python (split + hash + interleave
    are all Catalyst expressions)."""
    from mine_database_spark.functions import pii

    (e,) = _t(spark, sf_dir, "events")
    contact = F.concat(
        F.lit("user"), (F.col("user_id") % 7).cast("string"),
        F.lit("@corp.example wrote to u"), (F.col("event_id") % 1000).cast("string"),
        F.lit("@mail.example re "), F.col("props"),
    )
    c = e.select("event_id", contact.alias("t"))
    p = pii.pseudonymize_emails(F.col("t"), salt="s10")
    return c.select(
        "event_id",
        pii.email_count(F.col("t")).alias("n_emails"),
        F.md5(p).alias("pseudo_md5"),
        F.regexp_extract(p, r"<EMAIL:([0-9a-f]+)>", 1).alias("first_token"),
    )


def _pii_pseudo_sql() -> str:
    from mine_database_spark.functions import pii

    contact = (
        "'user' || CAST(user_id % 7 AS VARCHAR) || '@corp.example wrote to u' || "
        "CAST(event_id % 1000 AS VARCHAR) || '@mail.example re ' || props"
    )
    pseudo = pii.duckdb_pseudonymize_emails_sql("t", salt="s10")
    n_email = pii.duckdb_count_sql("t", pii.EMAIL_RE)
    return f"""
WITH c AS (SELECT event_id, {contact} AS t FROM events)
SELECT event_id,
       {n_email} AS n_emails,
       md5({pseudo}) AS pseudo_md5,
       regexp_extract({pseudo}, '<EMAIL:([0-9a-f]+)>', 1) AS first_token
FROM c
"""


_Q_PII_PSEUDO_SQL = _pii_pseudo_sql()


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget per-source subsample (packing.stratified_cap_sample,
    cap=10): exactly min(10, |source|) docs per source, chosen by
    deterministic hash order — the per-domain budget rule where
    temperature sampling only hits a budget in expectation."""
    (d,) = _t(spark, sf_dir, "documents")
    return pk.stratified_cap_sample(d, cap=10)


_Q_STRATIFIED_SQL = """
WITH u AS (
  SELECT doc_id, source,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0 AS u
  FROM documents
),
r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS BIGINT) AS pick
  FROM u
)
SELECT doc_id, source, pick FROM r WHERE pick <= 10
"""


# ---------------------------------------------------------------------------
# Round-10 extensions, batch 2: iterative graph centrality, skew audit,
# ordered funnels, cohort retention


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer PageRank (graph.pagerank_fixed, 5 rounds,
    damping 0.85) over the co-purchase graph — the canonical iterative-
    centrality workload; integer micro-unit arithmetic makes the float-
    free result bit-reproducible, so the oracle replays all 5 rounds."""
    (l,) = _t(spark, sf_dir, "lineitem")
    edges = gr.co_occurrence_edges(l, "l_orderkey", "l_partkey")
    # storage_level deliberately None: the r15 A/B measured the persist
    # LOSING here (6.47s recompute vs 7.12s persisted, sf0.1 isolated) —
    # AQE's ReusedExchange already dedupes the per-iteration edge rebuild.
    # broadcast_ranks=True: the rank vector is O(part catalog) — 16 bytes
    # per node, and the operator's own scale=1e9 overflow headroom caps it
    # at ~9e7 nodes, so the per-iteration O(nodes) sides are join-table-
    # sized by construction; measured 7.86s → 6.67s (r15 A/B, values
    # asserted identical — integer sums are order-independent)
    return gr.pagerank_fixed(edges, iters=5, symmetric=True, broadcast_ranks=True)


def _pagerank_sql(iters: int = 5, scale: int = 10**9, d: int = 85) -> str:
    base = scale - scale * d // 100
    parts = [
        "WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS id FROM lineitem),",
        "e AS (SELECT DISTINCT a.id AS src, b.id AS dst FROM li a JOIN li b ON a.g = b.g AND a.id <> b.id),",
        "nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),",
        "od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM e GROUP BY src),",
        f"r0 AS (SELECT id, CAST({scale} AS BIGINT) AS r FROM nodes),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS (SELECT e.dst AS id, CAST(SUM(r.r // od.od) AS BIGINT) AS s"
            f" FROM e JOIN od ON e.src = od.src JOIN r{i-1} r ON r.id = e.src GROUP BY e.dst),"
        )
        parts.append(
            f"r{i} AS (SELECT n.id, CAST({base} + ({d} * coalesce(s{i}.s, 0)) // 100 AS BIGINT) AS r"
            f" FROM nodes n LEFT JOIN s{i} ON n.id = s{i}.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT id, r AS rank_units, round(r / {float(scale)}, 6) AS rank FROM r{iters}"
    )
    return "\n".join(parts)


_Q_PAGERANK_SQL = _pagerank_sql()


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key heavy-hitter audit (skew.key_skew_audit): top-20 l_partkey
    values by row count with their share — the diagnostic read before
    picking a salting factor or AQE skew threshold. NULL keys surface as
    a literal '∅' row instead of vanishing."""
    from mine_database_spark.operators.skew import key_skew_audit

    (l,) = _t(spark, sf_dir, "lineitem")
    return key_skew_audit(l, "l_partkey", top_n=20)


_Q_KEY_SKEW_SQL = """
WITH k AS (SELECT coalesce(CAST(l_partkey AS VARCHAR), '∅') AS key FROM lineitem),
h AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n FROM k GROUP BY key),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM h),
top AS (
  SELECT key, n, round((n * 100.0) / t.t, 4) AS share_pct
  FROM h CROSS JOIN t ORDER BY n DESC, key LIMIT 20
)
SELECT key, n, share_pct,
       CAST(row_number() OVER (ORDER BY n DESC, key) AS INT) AS rank
FROM top
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase (sessionize.funnel_stages):
    stage k counts only strictly after stage k-1 completed for that user.
    -1 sentinels keep the hash compare total-ordered."""
    (e,) = _t(spark, sf_dir, "events")
    return sz.funnel_stages(e, ["signup", "click", "purchase"])


_Q_FUNNEL_SQL = """
WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type AS et FROM events),
s0 AS (SELECT user_id, MIN(us) AS t0 FROM e WHERE et = 'signup' GROUP BY user_id),
s1 AS (
  SELECT e.user_id, MIN(us) AS t1 FROM e JOIN s0 ON e.user_id = s0.user_id
  WHERE et = 'click' AND us > s0.t0 GROUP BY e.user_id
),
s2 AS (
  SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
  WHERE et = 'purchase' AND us > s1.t1 GROUP BY e.user_id
)
SELECT s0.user_id,
       s0.t0 AS t_signup,
       coalesce(s1.t1, -1) AS t_click,
       coalesce(s2.t2, -1) AS t_purchase,
       CAST(1 + (CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_stages
FROM s0 LEFT JOIN s1 ON s0.user_id = s1.user_id LEFT JOIN s2 ON s0.user_id = s2.user_id
"""


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (sessionize.retention_cohorts):
    users bucketed by first-activity week, counted in every later active
    week — pure integer period arithmetic on the epoch."""
    (e,) = _t(spark, sf_dir, "events")
    return sz.retention_cohorts(e, period_days=7)


_Q_RETENTION_SQL = """
WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS p FROM events),
act AS (SELECT DISTINCT user_id, p FROM e),
first AS (SELECT user_id, MIN(p) AS cohort FROM act GROUP BY user_id)
SELECT f.cohort AS cohort_period,
       CAST(a.p - f.cohort AS INT) AS period_offset,
       COUNT(*) AS n_users
FROM act a JOIN first f ON a.user_id = f.user_id
GROUP BY f.cohort, CAST(a.p - f.cohort AS INT)
"""


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination twin (dedup.bloom_decontaminate):
    eval grams ('src0' as the eval split) build a deterministic 2^20-bit
    / 5-hash bitmap once; every training doc probes it ROW-LOCALLY — the
    zero-corpus-shuffle scale path of contamination_check, with one-sided
    error (never a false negative). md5 double hashing keeps even the
    approximate bits engine-reproducible, so this carries a full value
    oracle."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.bloom_decontaminate(
        d.where(F.col("source") != "src0"),
        d.where(F.col("source") == "src0"),
        gram_words=8,
    )


_Q_BLOOM_DECON_SQL = """
WITH t AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
ev AS (
  SELECT DISTINCT array_to_string(toks[i:i + 7], ' ') AS g
  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 7)) AS i
        FROM t WHERE source = 'src0' AND len(toks) >= 8)
),
evh AS (
  SELECT (v & 1073741823) AS h1, ((v >> 30) | 1) AS h2
  FROM (SELECT ('0x' || substr(md5(g || 'bloom'), 1, 15))::BIGINT AS v FROM ev)
),
pos AS (
  SELECT ((h1 + i * h2) % 1048576) AS p
  FROM (SELECT h1, h2, unnest([0, 1, 2, 3, 4]) AS i FROM evh)
),
words AS (
  SELECT p // 60 AS w,
         CAST(bit_or(1::BIGINT << CAST(p % 60 AS INT)) AS BIGINT) AS word
  FROM pos GROUP BY p // 60
),
corp AS (SELECT doc_id, toks FROM t WHERE source <> 'src0'),
cg AS (
  SELECT doc_id, i AS gpos, array_to_string(toks[i:i + 7], ' ') AS g
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
        FROM corp WHERE len(toks) >= 8)
),
cgh AS (
  SELECT doc_id, gpos, (v & 1073741823) AS h1, ((v >> 30) | 1) AS h2
  FROM (SELECT doc_id, gpos,
               ('0x' || substr(md5(g || 'bloom'), 1, 15))::BIGINT AS v FROM cg)
),
cpos AS (
  SELECT doc_id, gpos, ((h1 + i * h2) % 1048576) AS p
  FROM (SELECT doc_id, gpos, h1, h2, unnest([0, 1, 2, 3, 4]) AS i FROM cgh)
),
hit AS (
  SELECT c.doc_id, c.gpos,
         CASE WHEN (coalesce(w.word, 0) & (1::BIGINT << CAST(c.p % 60 AS INT)))
                   = (1::BIGINT << CAST(c.p % 60 AS INT)) THEN 1 ELSE 0 END AS b
  FROM cpos c LEFT JOIN words w ON w.w = c.p // 60
),
per_gram AS (
  SELECT doc_id, gpos, CASE WHEN SUM(b) = 5 THEN 1 ELSE 0 END AS f
  FROM hit GROUP BY doc_id, gpos
),
per_doc AS (SELECT doc_id, CAST(SUM(f) AS INT) AS nf FROM per_gram GROUP BY doc_id)
SELECT c.doc_id,
       CAST(greatest(len(c.toks) - 7, 0) AS INT) AS n_grams,
       coalesce(p.nf, 0) AS n_flagged,
       coalesce(p.nf, 0) > 0 AS contaminated
FROM corp c LEFT JOIN per_doc p ON c.doc_id = p.doc_id
"""


def q_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates vs exact counts for the corpus's 20
    most frequent tokens (sketches.cms_table/cms_estimate): the sketch
    state is <= d·w cells however large the corpus, the estimate is never
    an underestimate, and deterministic md5 double hashing makes even the
    approximation oracle-checkable.

    r15 shape (guide §2.3/§2.4): the sketch is built WEIGHTED from the
    exact per-token counts the query computes anyway — c(row,col) =
    Σ counts of the tokens hashed there, identical cells to a raw-stream
    build (integer sums; pinned by pytest + this oracle). That removes
    the second corpus scan+tokenize (the raw-stream build aggregated by
    (row,col) directly, a subtree AQE can never exchange-reuse against
    the exact count) and hashes each DISTINCT token once instead of once
    per occurrence; the exact aggregate's exchange is reused across its
    two consumers at runtime. Measured (isolated min-of-4, quiet host):
    2.511 → 0.768 s at sf0.1; oracle parity green on the same shape."""
    from mine_database_spark.operators import sketches as sk

    (d,) = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), F.asc("tok")).limit(20)
    cms = sk.cms_table(exact, "tok", weight_col="exact_n")
    est = sk.cms_estimate(top.select("tok"), cms, "tok")
    return top.join(est, "tok").select(
        "tok", "exact_n", "est_n", (F.col("est_n") - F.col("exact_n")).alias("overest")
    )


_Q_CMS_SQL = f"""
WITH tok AS (SELECT unnest({_DUCK_TOKS}) AS tok FROM documents),
h AS (
  SELECT tok,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h1,
         (('0x' || substr(md5(tok || 'cms'), 1, 15))::BIGINT | 1) AS h2
  FROM tok
),
cells AS (
  SELECT i AS row, ((h1 + i * h2) % 8192) AS col
  FROM (SELECT h1, h2, unnest([0, 1, 2, 3]) AS i FROM h)
),
cms AS (SELECT row, col, CAST(COUNT(*) AS BIGINT) AS c FROM cells GROUP BY row, col),
exact AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n FROM tok GROUP BY tok),
top AS (SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT 20),
addr AS (
  SELECT tok, i AS row, ((h1 + i * h2) % 8192) AS col
  FROM (
    SELECT t.tok,
           ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h1,
           (('0x' || substr(md5(t.tok || 'cms'), 1, 15))::BIGINT | 1) AS h2,
           unnest([0, 1, 2, 3]) AS i
    FROM top t
  )
),
est AS (
  SELECT a.tok, MIN(coalesce(cms.c, 0)) AS est_n
  FROM addr a LEFT JOIN cms ON a.row = cms.row AND a.col = cms.col
  GROUP BY a.tok
)
SELECT t.tok, t.exact_n, e.est_n, e.est_n - t.exact_n AS overest
FROM top t JOIN est e ON t.tok = e.tok
"""


def q_hll_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog per-source vocabulary estimate vs exact distinct count
    (sketches.hll_registers/hll_estimate): <= 1024 integer registers per
    source replace count_distinct's O(vocab) state; the harmonic sum
    stays integer so the estimate is bit-reproducible and fully
    oracle-checked."""
    from mine_database_spark.operators import sketches as sk

    (d,) = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("exact_distinct")
    )
    est = sk.hll_estimate(sk.hll_registers(toks, "tok", ["source"]), ["source"])
    return exact.join(est, "source").select(
        "source",
        "exact_distinct",
        "est_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct")) / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )


_HLL_ALPHA_REPR = repr(0.7213 / (1 + 1.079 / 1024) * 1024 * 1024)

_Q_HLL_SQL = f"""
WITH tok AS (SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents),
v AS (
  SELECT source, tok, ('0x' || substr(md5(tok || 'hll'), 1, 15))::BIGINT AS v
  FROM tok
),
r AS (
  SELECT source,
         v // 1125899906842624 AS bucket,
         CASE WHEN v % 1125899906842624 = 0 THEN 51
              ELSE 51 - length(bin(v % 1125899906842624)) END AS rho
  FROM v
),
reg AS (SELECT source, bucket, MAX(rho) AS m_j FROM r GROUP BY source, bucket),
a AS (
  SELECT source,
         CAST(SUM(1::BIGINT << CAST(51 - m_j AS INT)) AS BIGINT) AS np,
         COUNT(*) AS vp
  FROM reg GROUP BY source
),
e AS (
  SELECT source,
         np + (1024 - vp) * 2251799813685248 AS num,
         CAST(1024 - vp AS DOUBLE) AS v0
  FROM a
),
est AS (
  SELECT source,
         round(CASE WHEN (CAST({_HLL_ALPHA_REPR} AS DOUBLE) * CAST(2251799813685248.0 AS DOUBLE) / num) <= 2560.0 AND v0 > 0
                    THEN 1024.0 * ln(1024.0 / v0)
                    ELSE CAST({_HLL_ALPHA_REPR} AS DOUBLE) * CAST(2251799813685248.0 AS DOUBLE) / num END, 2) AS est_distinct
  FROM e
),
exact AS (SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct FROM tok GROUP BY source)
SELECT x.source, x.exact_distinct, est.est_distinct,
       round(abs(est.est_distinct - x.exact_distinct) / x.exact_distinct, 4) AS rel_err
FROM exact x JOIN est ON x.source = est.source
"""


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph — the first audit run on
    any edge table (skew in the degree distribution predicts every
    downstream join/agg hotspot). Two stacked map-side aggregates on the
    distinct edge set."""
    (l,) = _t(spark, sf_dir, "lineitem")
    e = gr.co_occurrence_edges(l, "l_orderkey", "l_partkey")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))


_Q_DEGREE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS id FROM lineitem),
e AS (SELECT DISTINCT a.id AS src, b.id AS dst FROM li a JOIN li b ON a.g = b.g AND a.id <> b.id),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM e GROUP BY src)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY degree
"""


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-blocklist content filter — the toxicity/NSFW gate of a
    curation pipeline (the word-level stand-in for a model scorer; the
    synthetic corpus has no real profanity, so common corpus words play
    the blocked set). Per doc: occurrence count, distinct blocked terms
    hit (sorted render), and the keep/drop verdict at a density
    threshold — count-based, not membership-based, so a single stray term
    in a long document survives while saturated spam drops.

    Scale: ZERO shuffle — the token array, the per-token membership scan
    (blocklist inlined as a literal array, O(|blocklist|) per token), the
    density ratio, and the verdict all evaluate inside the scan
    projection.
    """
    (d,) = _t(spark, sf_dir, "documents")
    blocked = ["dup", "spam", "error"]
    lit_block = F.array(*[F.lit(b) for b in blocked])
    toks = tokens(F.col("text"))
    hits = F.filter(toks, lambda x: F.array_contains(lit_block, x))
    n_hits = F.size(hits).cast("int")
    n_toks = F.size(toks).cast("int")
    density = F.when(n_toks > 0, n_hits / n_toks).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        n_hits.alias("n_blocked"),
        F.array_join(F.array_sort(F.array_distinct(hits)), ",").alias("blocked_terms"),
        F.round(density, 4).alias("block_density"),
        (density < 0.05).alias("keep"),
    )


_Q_BLOCKLIST_SQL = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
h AS (
  SELECT doc_id, toks,
         list_filter(toks, x -> list_contains(['dup', 'spam', 'error'], x)) AS hits
  FROM t
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(len(hits) AS INT) AS n_blocked,
         coalesce(array_to_string(list_sort(list_distinct(hits)), ','), '') AS blocked_terms,
         CASE WHEN len(toks) > 0 THEN len(hits) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS density
  FROM h
)
SELECT doc_id, n_tokens, n_blocked, blocked_terms,
       round(density, 4) AS block_density,
       density < 0.05 AS keep
FROM m
"""


# ---------------------------------------------------------------------------
# round 11: corpus-distribution, event-health, and embedding-cluster audits


def q_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency audit per source (quality.zipf_audit, top 200
    terms): ln-ln regression slope + r² + top-token share — the
    distributional health check run per source before mixing."""
    from mine_database_spark.operators import quality as ql

    (d,) = _t(spark, sf_dir, "documents")
    return ql.zipf_audit(d, top_n=200)


_Q_ZIPF_SQL = f"""
WITH toks AS (SELECT source AS grp, unnest({_DUCK_TOKS}) AS tok FROM documents),
hist AS (SELECT grp, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT grp, tok, n,
         row_number() OVER (PARTITION BY grp ORDER BY n DESC, tok) AS rank
  FROM hist
),
tot AS (SELECT grp, SUM(n) AS tot FROM hist GROUP BY 1),
reg AS (
  SELECT grp, CAST(COUNT(*) AS INT) AS n_terms,
         regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))) AS slope,
         regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))) AS r2,
         MAX(CASE WHEN rank = 1 THEN n END) AS topn
  FROM ranked WHERE rank <= 200 GROUP BY 1
)
SELECT reg.grp AS source, n_terms, round(slope, 6) AS zipf_slope,
       round(r2, 6) AS zipf_r2,
       round(CAST(topn AS DOUBLE) / tot, 6) AS top_share
FROM reg JOIN tot ON reg.grp = tot.grp
"""


def q_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus novelty (quality.novelty_curve): the fraction
    of each doc's distinct 8-gram shingles first seen IN that doc — read
    in id order, the crawl's novelty-saturation curve (when it flattens,
    more crawling stops paying). The doc-side complement of
    span_decontaminate/span_scrub's gram machinery; min-id ownership, one
    gram-keyed aggregate, no windows."""
    from mine_database_spark.operators import quality as ql

    (d,) = _t(spark, sf_dir, "documents")
    return ql.novelty_curve(d, k=8)


_Q_NOVELTY_CURVE_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g0 AS (
  SELECT doc_id, array_to_string(list_slice(ws, i, i + 7), ' ') AS g
  FROM t, UNNEST(generate_series(1, len(ws) - 7)) AS u(i)
  WHERE len(ws) >= 8
),
g AS (SELECT DISTINCT doc_id, g FROM g0),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id),
own AS (SELECT MIN(doc_id) AS doc_id FROM g GROUP BY g),
nov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel FROM own GROUP BY doc_id)
SELECT tot.doc_id, tot.n_grams,
       CAST(coalesce(nov.n_novel, 0) AS BIGINT) AS n_novel,
       round(CAST(coalesce(nov.n_novel, 0) AS DOUBLE)
             / CAST(tot.n_grams AS DOUBLE), 6) AS novelty
FROM tot LEFT JOIN nov ON tot.doc_id = nov.doc_id
"""


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document trigram diversity per source (quality.
    ngram_diversity): distinct/total k-gram ratio — the ACROSS-document
    repetition audit repetition_stats (per-doc) is blind to."""
    from mine_database_spark.operators import quality as ql

    (d,) = _t(spark, sf_dir, "documents")
    return ql.ngram_diversity(d, k=3)


_Q_NGRAM_DIVERSITY_SQL = f"""
WITH tok AS (SELECT source, {_DUCK_TOKS} AS toks FROM documents),
pos AS (
  SELECT source, toks, unnest(generate_series(1, len(toks) - 2)) AS i
  FROM tok WHERE len(toks) >= 3
),
g AS (SELECT source, array_to_string(toks[i:i + 2], ' ') AS g FROM pos),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_ngrams
  FROM g GROUP BY 1
)
SELECT source, total_ngrams, distinct_ngrams,
       round(CAST(distinct_ngrams AS DOUBLE) / total_ngrams, 6) AS diversity
FROM agg
"""


def q_ngram_diversity_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-memory twin of ngram_diversity (quality.
    ngram_diversity_hll): distinct trigrams via HLL (≤1024 integer
    registers/group) with the exact count and rel_err in the same result
    — the accuracy-gated form pinning the twin claim (r11 verdict #5);
    a pytest additionally gates rel_err ≤ 0.10 vs the exact form."""
    from mine_database_spark.operators import quality as ql

    (d,) = _t(spark, sf_dir, "documents")
    return ql.ngram_diversity_hll(d, k=3)


# g feeds both the exact aggregate and the HLL replay — AS MATERIALIZED
# against DuckDB's exponential CTE re-inlining (the k_core oracle note).
_Q_NGRAM_DIVERSITY_HLL_SQL = f"""
WITH tok AS (SELECT source, {_DUCK_TOKS} AS toks FROM documents),
pos AS (
  SELECT source, toks, unnest(generate_series(1, len(toks) - 2)) AS i
  FROM tok WHERE len(toks) >= 3
),
g AS MATERIALIZED (SELECT source, array_to_string(toks[i:i + 2], ' ') AS g FROM pos),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_ngrams
  FROM g GROUP BY 1
),
v AS (
  SELECT source, ('0x' || substr(md5(g || 'hll'), 1, 15))::BIGINT AS v FROM g
),
r AS (
  SELECT source,
         v // 1125899906842624 AS bucket,
         CASE WHEN v % 1125899906842624 = 0 THEN 51
              ELSE 51 - length(bin(v % 1125899906842624)) END AS rho
  FROM v
),
reg AS (SELECT source, bucket, MAX(rho) AS m_j FROM r GROUP BY source, bucket),
a AS (
  SELECT source,
         CAST(SUM(1::BIGINT << CAST(51 - m_j AS INT)) AS BIGINT) AS np,
         COUNT(*) AS vp
  FROM reg GROUP BY source
),
e AS (
  SELECT source,
         np + (1024 - vp) * 2251799813685248 AS num,
         CAST(1024 - vp AS DOUBLE) AS v0
  FROM a
),
est AS (
  SELECT source,
         round(CASE WHEN (CAST({_HLL_ALPHA_REPR} AS DOUBLE) * CAST(2251799813685248.0 AS DOUBLE) / num) <= 2560.0 AND v0 > 0
                    THEN 1024.0 * ln(1024.0 / v0)
                    ELSE CAST({_HLL_ALPHA_REPR} AS DOUBLE) * CAST(2251799813685248.0 AS DOUBLE) / num END, 2) AS est_distinct
  FROM e
)
SELECT agg.source, total_ngrams, distinct_ngrams, est.est_distinct,
       round(abs(est.est_distinct - distinct_ngrams) / distinct_ngrams, 4) AS rel_err,
       round(est.est_distinct / total_ngrams, 6) AS diversity_est
FROM agg JOIN est ON agg.source = est.source
"""


def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily-rate anomaly flags (sessionize.rate_anomaly):
    z-score of each day's count against the type's own day distribution,
    mean/variance derived from exact integer Σn / Σn² — the ingest-health
    audit (retry storms, dark sources, duplicated feed days)."""
    (ev,) = _t(spark, sf_dir, "events")
    return sz.rate_anomaly(ev, bucket_days=1, z_threshold=3.0)


_Q_RATE_ANOMALY_SQL = """
WITH per AS (
  SELECT event_type AS key,
         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS period,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(n) AS BIGINT) AS s1, CAST(SUM(n * n) AS BIGINT) AS s2
  FROM per GROUP BY 1
),
z AS (
  SELECT per.key, period, n,
         CASE WHEN cnt * s2 - s1 * s1 > 0 THEN
           round((n - CAST(s1 AS DOUBLE) / cnt)
                 / sqrt(CAST(cnt * s2 - s1 * s1 AS DOUBLE) / CAST(cnt * cnt AS DOUBLE)), 4)
         ELSE 0.0 END AS z
  FROM per JOIN st ON per.key = st.key
)
SELECT key, period, n, z, abs(z) >= 3.0 AS is_anomaly FROM z
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 first-order Markov transitions between a user's consecutive
    events (sessionize.event_transitions) with per-from transition
    probability — the step-graph audit of an event stream."""
    (ev,) = _t(spark, sf_dir, "events")
    return sz.event_transitions(ev, top_k=20)


_Q_EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
tr AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_type, SUM(n) AS t FROM tr GROUP BY 1),
top AS (
  SELECT tr.from_type, to_type, n, round(n / CAST(t AS DOUBLE), 6) AS p
  FROM tr JOIN tot ON tr.from_type = tot.from_type
  ORDER BY n DESC, tr.from_type, to_type LIMIT 20
)
SELECT from_type, to_type, n, p,
       CAST(row_number() OVER (ORDER BY n DESC, from_type, to_type) AS INT) AS rank
FROM top
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-3 vectors per label by cosine to their own label centroid
    (similarity.embedding_outliers) — the mislabeled-cluster audit; the
    centroid and every product are exact integer arithmetic over
    round(x·1e5)-quantized components (knn_graph determinism recipe)."""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.embedding_outliers(e, bottom_k=3)


_Q_EMBED_OUTLIERS_SQL = """
WITH e AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 100000.0) AS BIGINT)) AS v
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
comp AS (SELECT vec_id, label, generate_subscripts(v, 1) AS i, unnest(v) AS q FROM e),
cent AS (SELECT label, i, CAST(SUM(q) AS BIGINT) AS s FROM comp GROUP BY 1, 2),
cnorm AS (SELECT label, CAST(SUM(s * s) AS BIGINT) AS ns FROM cent GROUP BY 1),
dots AS (
  SELECT c.vec_id, c.label,
         CAST(SUM(c.q * t.s) AS BIGINT) AS dot,
         CAST(SUM(c.q * c.q) AS BIGINT) AS nv
  FROM comp c JOIN cent t ON c.label = t.label AND c.i = t.i
  GROUP BY 1, 2
),
scored AS (
  SELECT d.vec_id, d.label,
         round(dot / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(ns AS DOUBLE))), 4) AS score
  FROM dots d JOIN cnorm cn ON d.label = cn.label
  WHERE nv > 0 AND ns > 0
),
r AS (
  SELECT label, vec_id, score,
         CAST(row_number() OVER (PARTITION BY label ORDER BY score ASC, vec_id) AS INT) AS rank
  FROM scored
)
SELECT label, rank, vec_id, score FROM r WHERE rank <= 3
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic on document length between the even- and
    odd-doc_id snapshot halves (quality.ks_drift) — the distribution-
    shape drift monitor; the argmax runs in exact cross-multiplied
    integers, one float division on the winner."""
    from mine_database_spark.operators import quality as ql

    (d,) = _t(spark, sf_dir, "documents")
    return ql.ks_drift(
        d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1),
        "n_chars",
    )


_Q_KS_DRIFT_SQL = """
WITH ha AS (
  SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS ca
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
),
hb AS (
  SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS cb
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
),
m AS (
  SELECT coalesce(ha.v, hb.v) AS v,
         coalesce(ca, CAST(0 AS BIGINT)) AS ca,
         coalesce(cb, CAST(0 AS BIGINT)) AS cb
  FROM ha FULL OUTER JOIN hb ON ha.v = hb.v
),
cum AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
         SUM(ca) OVER () AS n_a,
         SUM(cb) OVER () AS n_b
  FROM m
),
best AS (
  SELECT v, n_a, n_b, abs(cum_a * n_b - cum_b * n_a) AS num
  FROM cum ORDER BY num DESC, v LIMIT 1
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(num / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d_stat,
       v AS at_value
FROM best
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between the even-vec_id and odd-vec_id
    snapshot halves (similarity.embedding_drift) — the embedding-space
    twin of token_drift: integer-quantized centroid sums per half,
    exact-integer cross dot, rounded cosine + count shift."""
    (e,) = _t(spark, sf_dir, "embeddings")
    return sim.embedding_drift(
        e.where(F.col("vec_id") % 2 == 0), e.where(F.col("vec_id") % 2 == 1)
    )


_Q_EMBEDDING_DRIFT_SQL = """
WITH e AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 100000.0) AS BIGINT)) AS v
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
comp AS (
  SELECT vec_id, label, generate_subscripts(v, 1) AS i, unnest(v) AS q FROM e
),
sa AS (SELECT label, i, CAST(SUM(q) AS BIGINT) AS s FROM comp WHERE vec_id % 2 = 0 GROUP BY 1, 2),
sb AS (SELECT label, i, CAST(SUM(q) AS BIGINT) AS s FROM comp WHERE vec_id % 2 = 1 GROUP BY 1, 2),
ca AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_a FROM e WHERE vec_id % 2 = 0 GROUP BY 1),
cb AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_b FROM e WHERE vec_id % 2 = 1 GROUP BY 1),
agg AS (
  SELECT sa.label,
         CAST(SUM(sa.s * sb.s) AS BIGINT) AS dot,
         CAST(SUM(sa.s * sa.s) AS BIGINT) AS na,
         CAST(SUM(sb.s * sb.s) AS BIGINT) AS nb
  FROM sa JOIN sb ON sa.label = sb.label AND sa.i = sb.i
  GROUP BY 1
)
SELECT agg.label, n_a, n_b,
       round(dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 4) AS centroid_cos,
       round(1.0 - round(dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 4), 4) AS drift
FROM agg
JOIN ca ON agg.label = ca.label
JOIN cb ON agg.label = cb.label
WHERE na > 0 AND nb > 0
"""


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of document length per source from a log2-bucketed
    histogram (sketches.hist_quantiles) — the constant-memory quantile
    twin of percentile_filter's exact percentile(); bins via exact
    length(bin(v+1)), selection via integer cum·100 >= pct·total."""
    from mine_database_spark.operators import sketches as sk

    (d,) = _t(spark, sf_dir, "documents")
    return sk.hist_quantiles(d, "n_chars", pcts=(50, 90, 99), group_cols=["source"])


_Q_HIST_QUANTILES_SQL = """
WITH b AS (
  SELECT source, least(61, length(bin(n_chars + 1)) - 1) AS bin FROM documents
),
c AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
cum AS (
  SELECT source, bin,
         SUM(n) OVER (PARTITION BY source ORDER BY bin) AS cum,
         SUM(n) OVER (PARTITION BY source) AS tot
  FROM c
),
p AS (SELECT unnest([50, 90, 99]) AS pct),
hit AS (
  SELECT source, pct, MIN(bin) AS bin
  FROM cum CROSS JOIN p WHERE cum * 100 >= pct * tot GROUP BY 1, 2
)
SELECT source, CAST(pct AS INT) AS pct, CAST(bin AS INT) AS bin,
       CAST((CAST(1 AS BIGINT) << CAST(bin + 1 AS INT)) - 1 AS BIGINT) AS est_hi
FROM hit
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    co-purchase graph (graph.triangle_count) — the community-structure
    audit: clustered duplication (template families) closes triangles,
    pairwise noise does not. The 2.4M-edge canon set persists across the
    four consuming branches (AQE reused 0 of its exchanges; build runs
    once per execution — measured basis in the operator docstring)."""
    (l,) = _t(spark, sf_dir, "lineitem")
    e = gr.co_occurrence_edges(l, "l_orderkey", "l_partkey")
    return gr.triangle_count(e, storage_level=StorageLevel.MEMORY_AND_DISK)


_Q_TRIANGLE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS id FROM lineitem),
e0 AS (SELECT DISTINCT a.id AS src, b.id AS dst FROM li a JOIN li b ON a.g = b.g AND a.id <> b.id),
c AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e0),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM c e1 JOIN c e2 ON e1.b = e2.a JOIN c e3 ON e3.a = e1.a AND e3.b = e2.b
),
pn AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM c UNION ALL SELECT b FROM c
  ) GROUP BY node
)
SELECT deg.node, degree, coalesce(triangles, CAST(0 AS BIGINT)) AS triangles,
       CASE WHEN degree >= 2
            THEN round(2.0 * coalesce(triangles, 0) / (degree * (degree - 1)), 6)
            ELSE 0.0 END AS clustering_coeff
FROM deg LEFT JOIN pn ON deg.node = pn.node
"""


def q_triangle_count_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented triangle twin (graph.triangle_count_deg) over the
    same co-purchase graph — identical output to triangle_count, but
    wedges enumerate in Chiba–Nishizeki (degree, id) order so a hub
    cannot emit O(deg²) wedges: the skew-safe production form (r11
    verdict #3). The oriented edge set persists across its three
    consuming joins."""
    (l,) = _t(spark, sf_dir, "lineitem")
    e = gr.co_occurrence_edges(l, "l_orderkey", "l_partkey")
    return gr.triangle_count_deg(e, storage_level=StorageLevel.MEMORY_AND_DISK)


# AS MATERIALIZED: c/deg/o are each referenced 2-3x — DuckDB re-inlines
# multi-referenced CTEs exponentially otherwise (the k_core oracle note).
_Q_TRIANGLE_DEG_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS id FROM lineitem),
e0 AS (SELECT DISTINCT a.id AS src, b.id AS dst FROM li a JOIN li b ON a.g = b.g AND a.id <> b.id),
c AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e0),
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM c UNION ALL SELECT b FROM c
  ) GROUP BY node
),
o AS MATERIALIZED (
  SELECT CASE WHEN da.degree < db.degree OR (da.degree = db.degree AND a < b) THEN a ELSE b END AS s,
         CASE WHEN da.degree < db.degree OR (da.degree = db.degree AND a < b) THEN b ELSE a END AS t,
         CASE WHEN da.degree < db.degree OR (da.degree = db.degree AND a < b) THEN db.degree ELSE da.degree END AS dt
  FROM c JOIN deg da ON da.node = c.a JOIN deg db ON db.node = c.b
),
tri AS (
  SELECT w1.s, w1.t AS t1, w2.t AS t2
  FROM o w1
  JOIN o w2 ON w1.s = w2.s AND (w1.dt < w2.dt OR (w1.dt = w2.dt AND w1.t < w2.t))
  JOIN o w3 ON w3.s = w1.t AND w3.t = w2.t
),
pn AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
    SELECT s AS node FROM tri UNION ALL SELECT t1 FROM tri UNION ALL SELECT t2 FROM tri
  ) GROUP BY node
)
SELECT deg.node, degree, coalesce(triangles, CAST(0 AS BIGINT)) AS triangles,
       CASE WHEN degree >= 2
            THEN round(2.0 * coalesce(triangles, 0) / (degree * (degree - 1)), 6)
            ELSE 0.0 END AS clustering_coeff
FROM deg LEFT JOIN pn ON deg.node = pn.node
"""


def q_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-stutter scrub report (quality.collapse_repeats):
    how many docs carried consecutive repeated tokens and how many tokens
    the scrub removed — the transform's audit aggregate (zero-shuffle
    scan + one source-keyed aggregate)."""
    from mine_database_spark.operators import quality as ql

    (d,) = _t(spark, sf_dir, "documents")
    s = ql.collapse_repeats(d)
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("n_collapsed") > 0).cast("bigint")).alias("docs_with_repeats"),
        F.sum("n_tokens").alias("tokens_total"),
        F.sum("n_collapsed").alias("tokens_collapsed"),
        F.round(F.sum("n_collapsed") / F.sum("n_tokens"), 6).alias("collapse_share"),
    )


_Q_COLLAPSE_REPEATS_SQL = f"""
WITH t AS (SELECT source, {_DUCK_TOKS} AS toks FROM documents),
k AS (
  SELECT source, len(toks) AS n,
         len(list_filter(toks, (x, i) -> i = 1 OR x <> toks[i - 1])) AS nk
  FROM t
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n > nk THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_repeats,
       CAST(SUM(n) AS BIGINT) AS tokens_total,
       CAST(SUM(n - nk) AS BIGINT) AS tokens_collapsed,
       round(CAST(SUM(n - nk) AS DOUBLE) / SUM(n), 6) AS collapse_share
FROM k GROUP BY source
"""


_Q_CDC_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
tt AS (SELECT doc_id, source, toks, len(toks) AS n FROM t),
pos AS (
  SELECT doc_id, i
  FROM (SELECT doc_id, toks, n, unnest(generate_series(1, n - 3)) AS i FROM tt WHERE n >= 4)
  WHERE ('0x' || substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 8))::BIGINT % 16 = 0
),
starts AS (
  SELECT doc_id, 1 AS s FROM tt WHERE n >= 1
  UNION ALL
  SELECT doc_id, i + 1 FROM pos
),
seg AS (
  SELECT doc_id, s, lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS e
  FROM starts
),
segtext AS (
  SELECT tt.source,
         array_to_string(toks[seg.s : coalesce(seg.e - 1, n)], ' ') AS seg_text,
         coalesce(seg.e - 1, n) - seg.s + 1 AS seg_tokens
  FROM seg JOIN tt ON seg.doc_id = tt.doc_id
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(COUNT(DISTINCT md5(seg_text)) AS BIGINT) AS distinct_segments,
       round(1.0 - CAST(COUNT(DISTINCT md5(seg_text)) AS DOUBLE) / COUNT(*), 6) AS dup_share,
       round(AVG(seg_tokens), 2) AS avg_seg_tokens
FROM segtext GROUP BY source
"""


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 Adamic–Adar link predictions over the co-purchase graph
    (graph.adamic_adar): NOT-yet-connected part pairs ranked by
    Σ 1/ln(deg) over common neighbors — the bundle-candidate / missing-
    edge audit. Hub centers above degree 64 are excluded (their weight is
    the graph's smallest and their wedge fan-out its largest — the
    documented production cap); the score sum is integer-ppm exact."""
    (l,) = _t(spark, sf_dir, "lineitem")
    e = gr.co_occurrence_edges(l, "l_orderkey", "l_partkey")
    # storage_level deliberately None: r15 A/B measured the persist losing
    # (3.49s recompute vs 4.09s persisted, sf0.1 isolated) — AQE exchange
    # reuse already covers the repeated edge derivation (pagerank finding)
    return gr.adamic_adar(e, top_k=100, max_degree=64)


# c/deg/adj each feed 2+ branches — AS MATERIALIZED (k_core oracle note).
_Q_ADAMIC_ADAR_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS id FROM lineitem),
e0 AS (SELECT DISTINCT a.id AS src, b.id AS dst FROM li a JOIN li b ON a.g = b.g AND a.id <> b.id),
c AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e0),
both_dir AS (SELECT a, b FROM c UNION ALL SELECT b, a FROM c),
deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM both_dir GROUP BY 1),
centers AS (
  SELECT node, CAST(floor(1000000.0 / ln(CAST(degree AS DOUBLE))) AS BIGINT) AS w_ppm
  FROM deg WHERE degree >= 2 AND degree <= 64
),
adj AS MATERIALIZED (
  SELECT b.a AS center, b.b AS nbr, centers.w_ppm
  FROM both_dir b JOIN centers ON b.a = centers.node
),
scored AS (
  SELECT x.nbr AS u, y.nbr AS v,
         CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         CAST(SUM(x.w_ppm) AS BIGINT) AS aa_ppm
  FROM adj x JOIN adj y ON x.center = y.center AND x.nbr < y.nbr
  GROUP BY 1, 2
),
missing AS (
  SELECT s.* FROM scored s ANTI JOIN c ON s.u = c.a AND s.v = c.b
),
top AS (SELECT * FROM missing ORDER BY aa_ppm DESC, u, v LIMIT 100)
SELECT u AS src, v AS dst, common_neighbors,
       round(aa_ppm / 1000000.0, 6) AS score,
       CAST(row_number() OVER (ORDER BY aa_ppm DESC, u, v) AS INT) AS rank
FROM top
"""


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 token-pair collocations by document-level PMI over the
    top-100 vocabulary (quality.token_pmi) — the topic-coherence /
    boilerplate-pair audit; exact integer counts, one ln per pair."""
    from mine_database_spark.operators import quality as ql

    (d,) = _t(spark, sf_dir, "documents")
    return ql.token_pmi(d, vocab_n=100, min_pair=5, top_k=50)


_Q_TOKEN_PMI_SQL = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
  )
),
cx AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM dt GROUP BY 1),
vocab AS (SELECT tok, c FROM cx ORDER BY c DESC, tok LIMIT 100),
dtv AS (SELECT dt.doc_id, dt.tok FROM dt JOIN vocab ON dt.tok = vocab.tok),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
pairs AS (
  SELECT x.tok AS tok_a, y.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM dtv x JOIN dtv y ON x.doc_id = y.doc_id AND x.tok < y.tok
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
),
scored AS (
  SELECT tok_a, tok_b, n_pair,
         round(ln((CAST(n_pair AS DOUBLE) * CAST(n_docs AS DOUBLE))
                  / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))), 6) AS pmi
  FROM pairs
  JOIN vocab ca ON pairs.tok_a = ca.tok
  JOIN vocab cb ON pairs.tok_b = cb.tok
  CROSS JOIN nd
),
top AS (SELECT * FROM scored ORDER BY pmi DESC, tok_a, tok_b LIMIT 50)
SELECT tok_a, tok_b, n_pair, pmi,
       CAST(row_number() OVER (ORDER BY pmi DESC, tok_a, tok_b) AS INT) AS rank
FROM top
"""


def q_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-content language consistency per source: share of docs
    whose declared lang and the stopword-heuristic prediction (q_lang_id's
    expression) disagree about being English — the labeling-quality audit
    run before trusting a corpus's own lang column for mixture math."""
    from mine_database_spark.functions.text import stopword_token_count, token_count

    (d,) = _t(spark, sf_dir, "documents")
    ratio = stopword_token_count(F.col("text"), _STOPWORDS) / F.nullif(
        token_count(F.col("text")), F.lit(0)
    )
    pred_en = ratio >= 0.2
    flagged = (F.col("lang") == "en") != F.coalesce(pred_en, F.lit(False))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(flagged.cast("bigint")).alias("n_flagged"),
        )
        .select(
            "source",
            "n_docs",
            "n_flagged",
            F.round(F.col("n_flagged") / F.col("n_docs"), 6).alias("flag_share"),
        )
    )


_Q_LANG_MISMATCH_SQL = """
WITH t AS (
  SELECT source, lang,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
r AS (
  SELECT source, lang,
         len(list_filter(toks, x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x)))
           / CAST(nullif(len(toks), 0) AS DOUBLE) AS ratio
  FROM t
),
f AS (
  SELECT source,
         CASE WHEN (lang = 'en') <> coalesce(ratio >= 0.2, false) THEN 1 ELSE 0 END AS flagged
  FROM r
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(flagged) AS BIGINT) AS n_flagged
  FROM f GROUP BY 1
)
SELECT source, n_docs, n_flagged,
       round(CAST(n_flagged AS DOUBLE) / n_docs, 6) AS flag_share
FROM agg
"""


def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 tokens by |KL contribution| between the English and
    non-English document snapshots (quality.token_drift, vocab 200) —
    the distribution-shift monitor between crawls, with named tokens
    instead of one unexplainable scalar."""
    from mine_database_spark.operators import quality as ql

    (d,) = _t(spark, sf_dir, "documents")
    return ql.token_drift(
        d.where(F.col("lang") == "en"), d.where(F.col("lang") != "en"),
        vocab_n=200, top_k=30,
    )


_Q_TOKEN_DRIFT_SQL = f"""
WITH ta AS (SELECT unnest({_DUCK_TOKS}) AS tok FROM documents WHERE lang = 'en'),
ca AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_a FROM ta GROUP BY 1),
tb AS (SELECT unnest({_DUCK_TOKS}) AS tok FROM documents WHERE lang <> 'en'),
cb AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_b FROM tb GROUP BY 1),
merged AS (
  SELECT coalesce(ca.tok, cb.tok) AS tok,
         coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
  FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok
),
vocab AS (SELECT * FROM merged ORDER BY c_a + c_b DESC, tok LIMIT 200),
t AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b FROM vocab),
s AS (
  SELECT tok, c_a, c_b,
         round((c_a + 1) / CAST(n_a + 200 AS DOUBLE), 6) AS p,
         round((c_b + 1) / CAST(n_b + 200 AS DOUBLE), 6) AS q,
         round(((c_a + 1) / CAST(n_a + 200 AS DOUBLE))
               * ln(((c_a + 1) / CAST(n_a + 200 AS DOUBLE))
                    / ((c_b + 1) / CAST(n_b + 200 AS DOUBLE))), 6) AS kl_term
  FROM vocab CROSS JOIN t
),
top AS (SELECT * FROM s ORDER BY abs(kl_term) DESC, tok LIMIT 30)
SELECT tok, c_a, c_b, p, q, kl_term,
       CAST(row_number() OVER (ORDER BY abs(kl_term) DESC, tok) AS INT) AS rank
FROM top
"""


def _copurchase_pair_weights(l: DataFrame) -> DataFrame:
    """(src, dst, w) co-purchase pairs, src < dst, weighted by the number
    of DISTINCT orders sharing both parts — the weighted input of the
    k_core/k_truss repeat graph (pairs.postings per order)."""
    post = postings(l, ["l_orderkey"], "l_partkey")
    return (
        key_pairs(post)
        .groupBy(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the REPEAT co-purchase graph (pairs sharing >= 2 orders,
    graph.k_core, at most 6 peel rounds): dropping the tree-like periphery —
    nodes that no cycle passes through — is the standard cleanup before
    community detection, and on a dedup-pair graph the 2-core is exactly
    the multi-way template families (pendant one-off pairs peel away).
    All arithmetic is integer; the peel stops within 6 rounds (converged on
    this graph at every sf, pinned in pytest)."""
    (l,) = _t(spark, sf_dir, "lineitem")
    pairs = _copurchase_pair_weights(l)
    e2 = pairs.where(F.col("w") >= 2).select("src", "dst")
    # broadcast_keep=True (r16, VERDICT #6): the per-round keep-list is
    # O(nodes) and this graph's node set is part-catalog-sized by
    # construction — the same join-table-sized argument as q_pagerank's
    # broadcast_ranks / q_label_propagation's broadcast_labels; measured
    # A/B (min-of-3 isolated noop passes, rows identical): 3.35 → 3.13 s
    return gr.k_core(e2, k=2, iters=6, broadcast_keep=True)


def _kcore_sql(iters: int = 6, k: int = 2, min_w: int = 2) -> str:
    # every e{i} is referenced twice (its degree table + the next round's
    # filter) — AS MATERIALIZED forces DuckDB to evaluate each round once;
    # inlined, the 6-round chain re-expands exponentially (measured 179s
    # vs ~1s at sf0.01)
    parts = [
        "WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS id FROM lineitem),",
        "p AS MATERIALIZED (SELECT a.id AS src, b.id AS dst FROM li a JOIN li b ON a.g = b.g"
        f" AND a.id < b.id GROUP BY 1, 2 HAVING COUNT(*) >= {min_w}),",
        "e0 AS MATERIALIZED (SELECT src, dst FROM p UNION SELECT dst, src FROM p),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"d{i-1} AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e{i-1} GROUP BY src),"
        )
        parts.append(f"n{i} AS MATERIALIZED (SELECT src AS node FROM d{i-1} WHERE d >= {k}),")
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i-1} e"
            f" JOIN n{i} a ON e.src = a.node JOIN n{i} b ON e.dst = b.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    # converged mirrors the operator's fixpoint flag: the last peel round
    # removed zero edges (|e{iters-1}| = |e{iters}|)
    parts.append(
        f"SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree,"
        f" (SELECT COUNT(*) FROM e{iters-1}) = (SELECT COUNT(*) FROM e{iters})"
        f" AS converged"
        f" FROM e{iters} GROUP BY src"
    )
    return "\n".join(parts)


_Q_KCORE_SQL = _kcore_sql()


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the repeat co-purchase graph (graph.k_truss, 2 peel
    rounds): every surviving edge sits in >= 1 triangle WITHIN the
    surviving set — one notch stronger than q_k_core's node degrees (a
    star hub passes a 2-core with zero triangles; a truss keeps only
    interlocked structure). k=3 keeps the result populated at every SF
    (the 4-truss of this graph is empty at sf0.01 — repeat co-purchase
    triangles rarely interlock 2-deep); the multi-round CASCADE the
    operator exists for is pinned by the planted triangle-strip pytest.
    Integer supports, at most 2 rounds on `iterate`; convergence on
    this graph is pinned in pytest."""
    (l,) = _t(spark, sf_dir, "lineitem")
    pairs = _copurchase_pair_weights(l)
    e2 = pairs.where(F.col("w") >= 2).select("src", "dst")
    return gr.k_truss(e2, k=3, iters=2)


def _ktruss_sql(iters: int = 2, k: int = 3, min_w: int = 2) -> str:
    # k_core's AS-MATERIALIZED round chain, per EDGE set: each e{i} feeds
    # its own triangle join three ways, so inlining re-expands
    # exponentially exactly like the k_core chain did
    thr = k - 2
    parts = [
        "WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS id FROM lineitem),",
        "e0 AS MATERIALIZED (SELECT a.id AS a, b.id AS b FROM li a JOIN li b ON a.g = b.g"
        f" AND a.id < b.id GROUP BY 1, 2 HAVING COUNT(*) >= {min_w}),",
    ]

    def tri(src: str, out: str) -> str:
        return (
            f"{out} AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM {src} e1"
            f" JOIN {src} e2 ON e1.a = e2.a AND e1.b < e2.b"
            f" JOIN {src} e3 ON e3.a = e1.b AND e3.b = e2.b),"
        )

    def sup(src_tri: str, out: str) -> str:
        return (
            f"{out} AS MATERIALIZED (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM ("
            f"SELECT x AS a, y AS b FROM {src_tri}"
            f" UNION ALL SELECT x AS a, z AS b FROM {src_tri}"
            f" UNION ALL SELECT y AS a, z AS b FROM {src_tri}) GROUP BY a, b),"
        )

    for i in range(1, iters + 1):
        parts.append(tri(f"e{i-1}", f"t{i-1}"))
        parts.append(sup(f"t{i-1}", f"s{i-1}"))
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT e.a, e.b FROM e{i-1} e"
            f" LEFT JOIN s{i-1} s ON e.a = s.a AND e.b = s.b"
            f" WHERE coalesce(s.support, 0) >= {thr}),"
        )
    parts.append(tri(f"e{iters}", "tf"))
    parts.append(sup("tf", "sfin"))
    parts[-1] = parts[-1].rstrip(",")
    # converged mirrors the operator's fixpoint flag: the last peel round
    # removed zero edges (|e{iters-1}| = |e{iters}|)
    parts.append(
        f"SELECT e.a, e.b, coalesce(s.support, CAST(0 AS BIGINT)) AS support,"
        f" (SELECT COUNT(*) FROM e{iters-1}) = (SELECT COUNT(*) FROM e{iters})"
        f" AS converged"
        f" FROM e{iters} e LEFT JOIN sfin s ON e.a = s.a AND e.b = s.b"
    )
    return "\n".join(parts)


_Q_KTRUSS_SQL = _ktruss_sql()


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs by bounded Levenshtein within
    prefix blocks (dedup.edit_distance_pairs) — the edit-distance member
    of the dedup family: same lowercased 16-char prefix of the
    whitespace-collapsed text, |Δlen| <= 20 (a lossless Levenshtein
    lower-bound prune), JVM bounded levenshtein(a, b, 20)."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.edit_distance_pairs(d, max_dist=20, prefix_len=16, max_block=1000)


_Q_EDIT_DISTANCE_SQL = """
WITH d AS (
  SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
  FROM documents
),
k AS (
  SELECT doc_id, t, substr(lower(t), 1, 16) AS bk, len(t) AS n FROM d
),
ok AS (SELECT bk FROM k GROUP BY bk HAVING COUNT(*) <= 1000),
kk AS (SELECT k.* FROM k JOIN ok USING (bk))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.t, b.t) AS INT) AS dist
FROM kk a JOIN kk b ON a.bk = b.bk AND a.doc_id < b.doc_id
WHERE abs(a.n - b.n) <= 20 AND levenshtein(a.t, b.t) <= 20
"""


def q_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup candidates (dedup.snm_pairs): global
    sort by the normalized text (distributed_rank — a range shuffle,
    never a single-partition window), window-5 adjacency pairs verified
    at distinct-token Jaccard >= 0.8 — the record-linkage blocking
    family, complementary to LSH's content-collision blocking."""
    (d,) = _t(spark, sf_dir, "documents")
    return dd.snm_pairs(d, window=5, min_jaccard=0.8)


_Q_SNM_PAIRS_SQL = f"""
WITH d AS (
  SELECT doc_id,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS k,
         list_distinct({_DUCK_TOKS}) AS toks
  FROM documents
),
r AS (SELECT doc_id, toks, row_number() OVER (ORDER BY k, doc_id) AS rk FROM d),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(b.rk - a.rk AS INT) AS rank_gap,
         len(list_intersect(a.toks, b.toks)) AS i,
         len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS u
  FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk < 5
)
SELECT id_a, id_b, rank_gap,
       CASE WHEN u > 0 THEN round(CAST(i AS DOUBLE) / u, 6) ELSE 1.0 END AS jaccard
FROM p WHERE (CASE WHEN u > 0 THEN round(CAST(i AS DOUBLE) / u, 6) ELSE 1.0 END) >= 0.8
"""


def q_source_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 tokens per source with corpus lift
    (quality.source_top_terms, min_count=5) — the per-source
    characteristic-vocabulary audit: lift ≫ 1 flags source-specific
    terms, lift ≈ 1 corpus-wide stopwords; exact integer counts, one
    float division per emitted row."""
    from mine_database_spark.operators import quality as ql

    (d,) = _t(spark, sf_dir, "documents")
    return ql.source_top_terms(d, top_k=10, min_count=5)


_Q_SOURCE_TOP_TERMS_SQL = f"""
WITH t AS (
  SELECT source AS grp, unnest({_DUCK_TOKS}) AS tok FROM documents
),
gt AS (SELECT grp, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
grp_tot AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS tot_grp FROM gt GROUP BY 1),
tok_tot AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS c_tok FROM gt GROUP BY 1),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM gt),
ranked AS (
  SELECT grp, tok, c,
         row_number() OVER (PARTITION BY grp ORDER BY c DESC, tok) AS rank
  FROM gt WHERE c >= 5
)
SELECT r.grp AS source, r.tok, r.c, CAST(r.rank AS INT) AS rank,
       round(CAST(r.c * total.total AS DOUBLE) / (grp_tot.tot_grp * tok_tot.c_tok), 4) AS lift
FROM ranked r
JOIN grp_tot ON grp_tot.grp = r.grp
JOIN tok_tot ON tok_tot.tok = r.tok
CROSS JOIN total
WHERE r.rank <= 10
"""


def q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy cross-corpus decontamination (dedup.fuzzy_contamination):
    even-doc_id docs as the training corpus, odd as the benchmark;
    MinHash-LSH banding ACROSS the split proposes candidates, exact
    shingle Jaccard verifies, best match per train doc survives. The
    fuzzy tier between exact 8-gram and embedding decontamination."""
    (d,) = _t(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 2 == 0)
    bench = d.where(F.col("doc_id") % 2 == 1)
    return dd.fuzzy_contamination(
        train, bench, k=5, num_hashes=16, rows_per_band=4, min_jaccard=0.5
    )


_Q_FUZZY_CONTAM_SQL = (
    "WITH " + _SHINGLE_SQL.format(k=5, km1=4) + "," + _MINHASH_CTES_SQL + """,
cand AS (
  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS bench_id
  FROM band a JOIN band b ON a.band = b.band AND a.band_sig = b.band_sig
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.train_id, c.bench_id, COUNT(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.train_id
  JOIN sh b ON b.doc_id = c.bench_id AND b.shingle = a.shingle
  GROUP BY 1, 2
),
jac AS (
  SELECT c.train_id, c.bench_id,
         round(coalesce(i, 0) / CAST(st.n + sb.n - coalesce(i, 0) AS DOUBLE), 6) AS jaccard
  FROM cand c
  LEFT JOIN inter ON inter.train_id = c.train_id AND inter.bench_id = c.bench_id
  JOIN sizes st ON st.doc_id = c.train_id
  JOIN sizes sb ON sb.doc_id = c.bench_id
),
r AS (
  SELECT train_id, bench_id, jaccard,
         row_number() OVER (PARTITION BY train_id ORDER BY jaccard DESC, bench_id) AS rn,
         COUNT(*) OVER (PARTITION BY train_id) AS nc
  FROM jac
)
SELECT train_id AS doc_id, bench_id, CAST(nc AS INT) AS n_candidates,
       jaccard, jaccard >= 0.5 AS contaminated
FROM r WHERE rn = 1
"""
)


def q_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust event-rate anomaly flags per (event_type, day) by modified
    z-score 0.6745·(n−median)/MAD (sessionize.mad_anomaly) — the
    50%-breakdown twin of rate_anomaly: a single huge spike inflates
    mean/std enough to mask itself; it cannot move the median."""
    from mine_database_spark.operators import sessionize as sz

    (e,) = _t(spark, sf_dir, "events")
    return sz.mad_anomaly(e, bucket_days=1, z_threshold=3.5)


_Q_MAD_ANOMALY_SQL = """
WITH per AS (
  SELECT event_type AS key,
         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS period,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
med AS (SELECT key, quantile_cont(n, 0.5) AS med FROM per GROUP BY 1),
wm AS (SELECT per.key, period, n, med FROM per JOIN med USING (key)),
mad AS (SELECT key, quantile_cont(abs(n - med), 0.5) AS mad FROM wm GROUP BY 1),
z AS (
  SELECT wm.key, period, n, med, mad,
         CASE WHEN mad > 0
              THEN round(CAST(0.6745 AS DOUBLE) * (n - med) / mad, 4)
              ELSE 0.0 END AS z
  FROM wm JOIN mad USING (key)
)
SELECT key, period, n, med, mad, z, abs(z) >= 3.5 AS is_anomaly FROM z
"""


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 for a bag-of-terms query fused with
    the embedding-cosine top-20 for query vector 0 by Reciprocal Rank
    Fusion (search.hybrid_rrf, k_rrf=60) — the sparse+dense RAG
    composition; contributions are exact integer 1e6 div (60+rank), so
    the fused ranking replays bit-for-bit."""
    from mine_database_spark.operators import search as srch

    d, e = _t(spark, sf_dir, "documents", "embeddings")
    lex = srch.bm25_topk(d, ["spark", "window", "hash", "merge"], k=20)
    sem = sim.brute_force_topk(e, e.where(F.col("vec_id") == 0), k=20).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return srch.hybrid_rrf(lex, sem, k_rrf=60, top_k=20)


_Q_HYBRID_RRF_SQL = f"""
WITH lex AS ({_Q_BM25_SQL}),
sem AS (
  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
  s AS (
    SELECT e.vec_id,
           round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
    FROM e CROSS JOIN q WHERE e.vec_id <> 0
  ),
  r AS (SELECT vec_id AS doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INT) AS rank
        FROM s)
  SELECT doc_id, rank FROM r WHERE rank <= 20
),
f AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         l.rank AS rank_lex, s.rank AS rank_sem,
         CAST(coalesce(1000000 // (60 + l.rank), 0)
              + coalesce(1000000 // (60 + s.rank), 0) AS BIGINT) AS rrf_ppm
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
),
t AS (SELECT * FROM f ORDER BY rrf_ppm DESC, doc_id LIMIT 20)
SELECT doc_id, rank_lex, rank_sem, rrf_ppm,
       round(rrf_ppm / 1000000.0, 6) AS score,
       CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id) AS INT) AS rank
FROM t
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels over the co-purchase graph by up to 4 rounds
    of synchronous LPA with self-vote (graph.label_propagation) — splits the
    connected market into product neighborhoods; ties resolve to the
    smallest label so the replay is exact."""
    (l,) = _t(spark, sf_dir, "lineitem")
    e = gr.co_occurrence_edges(l, "l_orderkey", "l_partkey")
    # broadcast_labels=True: the label state is O(part catalog) — the
    # same join-table-sized-by-construction argument as q_pagerank's
    # broadcast_ranks; measured 13.99s → 11.71s (r15 A/B, contended host,
    # rows asserted identical — the argmax is order-independent)
    return gr.label_propagation(e, iters=4, broadcast_labels=True)


def _lpa_sql(iters: int = 4) -> str:
    """Iterative-CTE replay of label_propagation on the co-purchase
    graph. Every multi-referenced CTE is AS MATERIALIZED — DuckDB
    re-inlines multi-referenced CTEs exponentially otherwise (the k_core
    oracle note)."""
    parts = [
        "WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS id FROM lineitem),",
        "e0 AS (SELECT DISTINCT a.id AS src, b.id AS dst"
        " FROM li a JOIN li b ON a.g = b.g AND a.id <> b.id),",
        "c AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,"
        " greatest(src, dst) AS b FROM e0),",
        "sym AS MATERIALIZED (SELECT a, b FROM c UNION ALL SELECT b, a FROM c),",
        "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM sym),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"v{i} AS (SELECT s.a AS node, l.label"
            f" FROM sym s JOIN l{i-1} l ON s.b = l.node"
            f" UNION ALL SELECT node, label FROM l{i-1}),"
        )
        parts.append(
            f"n{i} AS (SELECT node, label, COUNT(*) AS cnt FROM v{i} GROUP BY 1, 2),"
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER"
            f" (PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM n{i}"
            f") WHERE rn = 1),"
        )
    parts[-1] = parts[-1].rstrip(",")
    # converged mirrors the operator's fixpoint flag: the last round
    # changed zero labels (the k_truss/k_core recipe)
    parts.append(
        f"SELECT node, label,"
        f" (SELECT COUNT(*) FROM l{iters-1} p JOIN l{iters} n"
        f" ON p.node = n.node AND p.label <> n.label) = 0 AS converged"
        f" FROM l{iters}"
    )
    return "\n".join(parts)


_Q_LABEL_PROP_SQL = _lpa_sql()


def q_decayed_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 users by recency-weighted event value
    (sessionize.time_decayed_score): per event, value · 2^-(age_days div
    7) anchored at the corpus's latest day — dyadic step decay so every
    contribution is an exact bigint micro and the per-key score an
    order-insensitive integer sum."""
    from mine_database_spark.operators import sessionize as sz

    (e,) = _t(spark, sf_dir, "events")
    return sz.time_decayed_score(e, half_life_days=7, top_k=100)


_Q_DECAYED_SCORE_SQL = """
WITH e AS (
  SELECT user_id AS key,
         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         value AS v
  FROM events
),
mx AS (SELECT MAX(day) AS max_day FROM e),
c AS (
  SELECT key,
         CAST(floor(v * 1000000.0
                    / power(2.0, CAST(least((max_day - day) // 7, 62) AS DOUBLE)))
              AS BIGINT) AS cm
  FROM e, mx
),
s AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(cm) AS BIGINT) AS score_micro
  FROM c GROUP BY 1
),
t AS (SELECT * FROM s ORDER BY score_micro DESC, key LIMIT 100)
SELECT key, n_events, score_micro,
       round(score_micro / 1000000.0, 6) AS score,
       CAST(row_number() OVER (ORDER BY score_micro DESC, key) AS INT) AS rank
FROM t
"""


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profile of the orders table
    (profile.profile_table) — the Deequ-style data-quality census: per
    column, rows / nulls / exact distinct / typed min-max, one pass,
    map-side-combinable aggregates, driver-free unpivot."""
    from mine_database_spark.operators.profile import profile_table

    (o,) = _t(spark, sf_dir, "orders")
    return profile_table(o)


_PROFILE_COLS = (
    ("o_orderkey", "bigint", True),
    ("o_custkey", "bigint", True),
    ("o_orderstatus", "string", False),
    ("o_totalprice", "double", True),
    ("o_orderdate", "timestamp_ntz", False),
    ("o_orderpriority", "string", False),
)

_Q_PROFILE_TABLE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, '{dt}' AS dtype,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {f"CAST(MIN({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"} AS min_num,
       {f"CAST(MAX({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"} AS max_num,
       {"CAST(NULL AS VARCHAR)" if num else f"CAST(MIN({c}) AS VARCHAR)"} AS min_str,
       {"CAST(NULL AS VARCHAR)" if num else f"CAST(MAX({c}) AS VARCHAR)"} AS max_str
FROM orders"""
    for c, dt, num in _PROFILE_COLS
)


# ---------------------------------------------------------------------------
# registry

# Dict ORDER matters: the driver's correctness gate hashes only the first 50
# QUERIES entries. The order is derived at import by rotation.gate_order from
# the CORRECTNESS_r*.json history: never-green queries first, then
# GATE_TOUCHED, then the stalest last-green round; declaration order breaks
# ties and is the whole order when no history exists. GATE_TOUCHED is the
# one manual input: every query whose call graph reaches code changed in
# this round.
GATE_TOUCHED: tuple[str, ...] = (
    # round loops moved to operators/iterate.py (scripts/gate_touched.py)
    "dup_clusters", "k_core", "label_propagation", "pagerank", "k_truss",
    "keep_best_dedup", "copurchase_reach",
)

_DECLARED: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "minhash_lsh": q_minhash_lsh,
    "dup_clusters": q_dup_clusters,
    "ngram_jaccard_capped": q_ngram_jaccard_capped,
    "degree_distribution": q_degree_distribution,
    "ivf_candidate_fraction": q_ivf_candidate_fraction,
    "k_core": q_k_core,
    "ngram_jaccard": q_ngram_jaccard,
    "embed_neardup_lsh": q_embed_neardup_lsh,
    "label_propagation": q_label_propagation,
    "knn_graph_lsh": q_knn_graph_lsh,
    "pagerank": q_pagerank,
    "lang_id_model": q_lang_id_model,
    "lsh_candidate_fraction": q_lsh_candidate_fraction,
    "k_truss": q_k_truss,
    "binary_neardup": q_binary_neardup,
    "triangle_count_deg": q_triangle_count_deg,
    "adamic_adar": q_adamic_adar,
    "text_knn": q_text_knn,
    "keep_best_dedup": q_keep_best_dedup,
    "minhash_estimate": q_minhash_estimate,
    "triangle_count": q_triangle_count,
    "bit_prevalence": q_bit_prevalence,
    "repetition_stats": q_repetition_stats,
    "quality_rules": q_quality_rules,
    "pii_scan": q_pii_scan,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embed_neardup": q_embed_neardup,
    "binary_dedup": q_binary_dedup,
    "binary_profile": q_binary_profile,
    "span_decontaminate": q_span_decontaminate,
    "novelty_curve": q_novelty_curve,
    "span_scrub": q_span_scrub,
    "fuzzy_contamination": q_fuzzy_contamination,
    "doc_chunks": q_doc_chunks,
    "pack_sequences": q_pack_sequences,
    "domain_mixture_sample": q_domain_mixture_sample,
    "incremental_dedup": q_incremental_dedup,
    "quality_classifier": q_quality_classifier,
    "corpus_stats": q_corpus_stats,
    "dataset_split": q_dataset_split,
    "packed_texts": q_packed_texts,
    "dedup_exact": q_dedup_exact,
    "simhash": q_simhash,
    "text_quality": q_text_quality,
    "token_stats": q_token_stats,
    "lang_id": q_lang_id,
    "vocab_oov": q_vocab_oov,
    "url_stats": q_url_stats,
    "winnow_fingerprints": q_winnow_fingerprints,
    "bloom_decontaminate": q_bloom_decontaminate,
    "blocklist_filter": q_blocklist_filter,
    "key_skew": q_key_skew,
    "funnel": q_funnel,
    "retention": q_retention,
    "bm25_topk": q_bm25_topk,
    "ngram_containment": q_ngram_containment,
    "simhash_hamming": q_simhash_hamming,
    "dedup_report": q_dedup_report,
    "char_entropy": q_char_entropy,
    "pii_pseudonymize": q_pii_pseudonymize,
    "stratified_sample": q_stratified_sample,
    "winnow_pairs": q_winnow_pairs,
    "knn_graph": q_knn_graph,
    "knn_graph_ivf": q_knn_graph_ivf,
    "zipf_audit": q_zipf_audit,
    "cc_luhn_scan": q_cc_luhn_scan,
    "rate_anomaly": q_rate_anomaly,
    "event_transitions": q_event_transitions,
    "embedding_outliers": q_embedding_outliers,
    "lang_mismatch": q_lang_mismatch,
    "token_drift": q_token_drift,
    "inverted_index": q_inverted_index,
    "hll_vocab": q_hll_vocab,
    "operator_census": q_operator_census,
    "ann_cosine_topk": q_ann_cosine_topk,
    "contamination_check": q_contamination_check,
    "model_jaccard": q_model_jaccard,
    "orphan_gc": q_orphan_gc,
    "regex_filter": q_regex_filter,
    "token_shards": q_token_shards,
    "segment_dedup": q_segment_dedup,
    "assign_ids": q_assign_ids,
    "multimodal_features": q_multimodal_features,
    "bpe_token_stats": q_bpe_token_stats,
    "asof_enrich": q_asof_enrich,
    "tumbling_window": q_tumbling_window,
    "sessionize": q_sessionize,
    "pricing_summary": q_pricing_summary,
    "top_revenue_orders": q_top_revenue_orders,
    "region_revenue": q_region_revenue,
    "frontier_select": q_frontier_select,
    "first_wins_dedup": q_first_wins_dedup,
    "content_hash_ids": q_content_hash_ids,
    "collect_set_union": q_collect_set_union,
    "rule_coverage_cdf": q_rule_coverage_cdf,
    "intermediate_rules": q_intermediate_rules,
    "mass_range_join": q_mass_range_join,
    "provenance_score": q_provenance_score,
    "weighted_sample": q_weighted_sample,
    "topk_per_group": q_topk_per_group,
    "unigram_logprob": q_unigram_logprob,
    "bigram_logprob": q_bigram_logprob,
    "snapshot_diff": q_snapshot_diff,
    "priority_dedup": q_priority_dedup,
    "length_percentile_filter": q_length_percentile_filter,
    "source_overlap": q_source_overlap,
    "mixture_upsample": q_mixture_upsample,
    "semantic_contamination": q_semantic_contamination,
    "edit_distance_pairs": q_edit_distance_pairs,
    "ngram_candidate_volume": q_ngram_candidate_volume,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ngram_diversity_hll": q_ngram_diversity_hll,
    "profile_table": q_profile_table,
    "semantic_dedup": q_semantic_dedup,
    "ngram_diversity": q_ngram_diversity,
    "cms_token_freq": q_cms_token_freq,
    "url_dedup": q_url_dedup,
    "snm_pairs": q_snm_pairs,
    "decayed_score": q_decayed_score,
    "hybrid_rrf": q_hybrid_rrf,
    "mad_anomaly": q_mad_anomaly,
    "source_top_terms": q_source_top_terms,
    "collapse_repeats": q_collapse_repeats,
    "embedding_drift": q_embedding_drift,
    "shard_balance": q_shard_balance,
    "ks_drift": q_ks_drift,
    "cdc_dedup": q_cdc_dedup,
    "token_pmi": q_token_pmi,
    "hist_quantiles": q_hist_quantiles,
    "html_extract": q_html_extract,
    "normalized_dedup": q_normalized_dedup,
    "ms2_search": q_ms2_search,
    "spectral_cosine": q_spectral_cosine,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_pq_rescored": q_ann_pq_rescored,
    "ann_ivf_pq": q_ann_ivf_pq,
    "mass_range_join_bucketed": q_mass_range_join_bucketed,
    "copurchase_reach": q_copurchase_reach,
    "order_chain_paths": q_order_chain_paths,
    "tfidf_topk": q_tfidf_topk,
    "adduct_search": q_adduct_search,
    "product_of_native": q_product_of_native,
    "quiet_customers": q_quiet_customers,
}

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    n: _DECLARED[n]
    for n in _rotation.gate_order(
        list(_DECLARED), _rotation.load_green_history(_rotation.repo_root()), GATE_TOUCHED
    )
}

ORACLES: dict[str, str] = {
    "edit_distance_pairs": _Q_EDIT_DISTANCE_SQL,
    "snm_pairs": _Q_SNM_PAIRS_SQL,
    "profile_table": _Q_PROFILE_TABLE_SQL,
    "decayed_score": _Q_DECAYED_SCORE_SQL,
    "label_propagation": _Q_LABEL_PROP_SQL,
    "hybrid_rrf": _Q_HYBRID_RRF_SQL,
    "mad_anomaly": _Q_MAD_ANOMALY_SQL,
    "fuzzy_contamination": _Q_FUZZY_CONTAM_SQL,
    "source_top_terms": _Q_SOURCE_TOP_TERMS_SQL,
    "triangle_count_deg": _Q_TRIANGLE_DEG_SQL,
    "ngram_diversity_hll": _Q_NGRAM_DIVERSITY_HLL_SQL,
    "adamic_adar": _Q_ADAMIC_ADAR_SQL,
    "collapse_repeats": _Q_COLLAPSE_REPEATS_SQL,
    "embedding_drift": _Q_EMBEDDING_DRIFT_SQL,
    "shard_balance": _Q_SHARD_BALANCE_SQL,
    "text_knn": _Q_TEXT_KNN_SQL,
    "keep_best_dedup": _Q_KEEP_BEST_SQL,
    "ks_drift": _Q_KS_DRIFT_SQL,
    "cdc_dedup": _Q_CDC_DEDUP_SQL,
    "minhash_estimate": _Q_MINHASH_EST_SQL,
    "zipf_audit": _Q_ZIPF_SQL,
    "ngram_diversity": _Q_NGRAM_DIVERSITY_SQL,
    "rate_anomaly": _Q_RATE_ANOMALY_SQL,
    "event_transitions": _Q_EVENT_TRANSITIONS_SQL,
    "embedding_outliers": _Q_EMBED_OUTLIERS_SQL,
    "hist_quantiles": _Q_HIST_QUANTILES_SQL,
    "triangle_count": _Q_TRIANGLE_SQL,
    "k_core": _Q_KCORE_SQL,
    "token_drift": _Q_TOKEN_DRIFT_SQL,
    "token_pmi": _Q_TOKEN_PMI_SQL,
    "lang_mismatch": _Q_LANG_MISMATCH_SQL,
    "bloom_decontaminate": _Q_BLOOM_DECON_SQL,
    "cms_token_freq": _Q_CMS_SQL,
    "degree_distribution": _Q_DEGREE_SQL,
    "blocklist_filter": _Q_BLOCKLIST_SQL,
    "hll_vocab": _Q_HLL_SQL,
    "pagerank": _Q_PAGERANK_SQL,
    "key_skew": _Q_KEY_SKEW_SQL,
    "funnel": _Q_FUNNEL_SQL,
    "retention": _Q_RETENTION_SQL,
    "bm25_topk": _Q_BM25_SQL,
    "inverted_index": _Q_INVIDX_SQL,
    "ngram_containment": _Q_CONTAINMENT_SQL,
    "simhash_hamming": _Q_SIMHASH_HAMMING_SQL,
    "dedup_report": _Q_DEDUP_REPORT_SQL,
    "char_entropy": _Q_CHAR_ENTROPY_SQL,
    "pii_pseudonymize": _Q_PII_PSEUDO_SQL,
    "stratified_sample": _Q_STRATIFIED_SQL,
    "span_scrub": _Q_SPAN_SCRUB_SQL,
    "bigram_logprob": _Q_BIGRAM_SQL,
    "winnow_pairs": _Q_WINNOW_PAIRS_SQL,
    "knn_graph": _Q_KNN_GRAPH_SQL,
    "knn_graph_lsh": _Q_KNN_GRAPH_LSH_SQL,
    "lsh_candidate_fraction": _Q_LSH_CAND_FRACTION_SQL,
    "binary_dedup": _Q_BINARY_DEDUP_SQL,
    "binary_profile": _Q_BINARY_PROFILE_SQL,
    "binary_neardup": _Q_BINARY_NEARDUP_SQL,
    "lang_id_model": _Q_LANG_ID_MODEL_SQL,
    "span_decontaminate": _Q_SPAN_DECONTAMINATE_SQL,
    "cc_luhn_scan": _Q_CC_LUHN_SQL,
    "k_truss": _Q_KTRUSS_SQL,
    "ivf_candidate_fraction": _Q_IVF_CAND_FRACTION_SQL,
    "novelty_curve": _Q_NOVELTY_CURVE_SQL,
    "knn_graph_ivf": _Q_KNN_GRAPH_IVF_SQL,
    "snapshot_diff": _Q_SNAPSHOT_DIFF_SQL,
    "priority_dedup": _Q_PRIORITY_DEDUP_SQL,
    "length_percentile_filter": _Q_LENGTH_PCTL_SQL,
    "source_overlap": _Q_SOURCE_OVERLAP_SQL,
    "mixture_upsample": _Q_MIXTURE_UPSAMPLE_SQL,
    "semantic_contamination": _Q_SEMANTIC_CONTAM_SQL,
    "url_dedup": _Q_URL_DEDUP_SQL,
    "html_extract": _Q_HTML_EXTRACT_SQL,
    "normalized_dedup": _Q_NORMALIZED_DEDUP_SQL,
    "pricing_summary": _Q_PRICING_SQL,
    "top_revenue_orders": _Q_TOP_REVENUE_SQL,
    "region_revenue": _Q_REGION_REVENUE_SQL,
    "frontier_select": _Q_FRONTIER_SQL,
    "first_wins_dedup": _Q_FIRST_WINS_SQL,
    "content_hash_ids": _Q_CONTENT_HASH_SQL,
    "collect_set_union": _Q_COLLECT_SET_SQL,
    "assign_ids": _Q_ASSIGN_IDS_SQL,
    "rule_coverage_cdf": _Q_CDF_SQL,
    "intermediate_rules": _Q_INTERMEDIATE_RULES_SQL,
    "operator_census": _Q_OPERATOR_CENSUS_SQL,
    "mass_range_join": _Q_RANGE_JOIN_SQL,
    "mass_range_join_bucketed": _Q_RANGE_JOIN_BUCKETED_SQL,
    "provenance_score": _Q_PROVENANCE_SQL,
    "weighted_sample": _Q_WEIGHTED_SAMPLE_SQL,
    "topk_per_group": _Q_TOPK_SQL,
    "copurchase_reach": _Q_REACH_SQL,
    "sessionize": _Q_SESSIONIZE_SQL,
    "asof_enrich": _Q_ASOF_SQL,
    "tumbling_window": _Q_TUMBLING_SQL,
    "dedup_exact": _Q_DEDUP_EXACT_SQL,
    "minhash_lsh": _Q_MINHASH_SQL,
    "dup_clusters": _Q_DUP_CLUSTERS_SQL,
    "ngram_jaccard": _Q_NGRAM_JACCARD_SQL,
    "ngram_candidate_volume": _Q_NGRAM_CANDIDATE_VOLUME_SQL,
    "ngram_jaccard_capped": _Q_NGRAM_JACCARD_CAPPED_SQL,
    "simhash": _Q_SIMHASH_SQL,
    "text_quality": _Q_TEXT_QUALITY_SQL,
    "repetition_stats": _Q_REPETITION_SQL,
    "quality_rules": _Q_QUALITY_RULES_SQL,
    "pii_scan": _Q_PII_SQL,
    "winnow_fingerprints": _Q_WINNOW_SQL,
    "order_chain_paths": _Q_ORDER_CHAIN_SQL,
    "adduct_search": _Q_ADDUCT_SEARCH_SQL,
    "ms2_search": _Q_MS2_SEARCH_SQL,
    "product_of_native": _Q_PRODUCT_OF_NATIVE_SQL,
    "quiet_customers": _Q_QUIET_CUSTOMERS_SQL,
    "bit_prevalence": _Q_BIT_PREVALENCE_SQL,
    "tfidf_topk": _Q_TFIDF_SQL,
    "lang_id": _Q_LANG_ID_SQL,
    "token_stats": _Q_TOKEN_STATS_SQL,
    "contamination_check": _Q_CONTAMINATION_SQL,
    "vocab_oov": _Q_VOCAB_OOV_SQL,
    "url_stats": _Q_URL_STATS_SQL,
    "ann_cosine_topk": _Q_ANN_SQL,
    "embed_neardup": _Q_EMBED_NEARDUP_SQL,
    "embed_neardup_lsh": _Q_EMBED_NEARDUP_LSH_SQL,
    "semantic_dedup": _Q_SEMANTIC_DEDUP_SQL,
    "segment_dedup": _Q_SEGMENT_DEDUP_SQL,
    "ann_lsh_topk": _Q_ANN_LSH_SQL,
    "ann_ivf_topk": _Q_ANN_IVF_SQL,
    "multimodal_features": _Q_MULTIMODAL_SQL,
    "bpe_token_stats": _Q_BPE_SQL,
    "spectral_cosine": _Q_SPECTRAL_SQL,
    "model_jaccard": _Q_MODEL_JACCARD_SQL,
    "orphan_gc": _Q_ORPHAN_SQL,
    "regex_filter": _Q_REGEX_FILTER_SQL,
    "doc_chunks": _Q_DOC_CHUNKS_SQL,
    "pack_sequences": _Q_PACK_SQL,
    "domain_mixture_sample": _Q_MIXTURE_SQL,
    "unigram_logprob": _Q_UNIGRAM_SQL,
    "incremental_dedup": _Q_INCREMENTAL_DEDUP_SQL,
    "token_shards": _Q_TOKEN_SHARDS_SQL,
    "quality_classifier": _Q_QUALITY_CLASSIFIER_SQL,
    "corpus_stats": _Q_CORPUS_STATS_SQL,
    "dataset_split": _Q_DATASET_SPLIT_SQL,
    "packed_texts": _Q_PACK_CONCAT_SQL,
    "ann_pq_topk": _Q_ANN_PQ_SQL,
    "ann_pq_rescored": _Q_ANN_PQ_RESCORED_SQL,
    "ann_ivf_pq": _Q_ANN_IVF_PQ_SQL,
}
