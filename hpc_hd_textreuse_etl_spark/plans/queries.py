"""Benchmark/correctness query registry.

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the
equivalent ANSI SQL for the DuckDB oracle, exercising one or more
operators from SURVEY.md §2 on the driver's synthetic tables
(``TESTDATA.md``). Registered here once; consumed by
``__spark_entry__.py`` (driver contract), ``examples/scale_ladder.py``
and ``tests/test_oracle_parity.py``.

Cross-engine exactness rules (so the driver's value-hash matches):

- Sums of doubles are NOT associative-safe across engines. Money-style
  double aggregates are computed as ``sum(cast(x as decimal(30, s)))``
  — decimal addition is exact, so both engines produce the identical
  value — then cast back to double. Valid ONLY because those columns
  hold low-precision decimal values with guard digits to spare: Spark
  converts double→decimal via the shortest string representation,
  DuckDB via the exact binary expansion, and they disagree past ~15
  significant digits. Aggregates over arbitrary doubles (float32
  embeddings) use plain double arithmetic + ``round(…, 6)`` instead
  (see ``label_centroids``).
- Per-row double arithmetic (a*b, a/b) is IEEE-deterministic given the
  same operand order; safe to compare directly.
- Counts/sums of integers: cast to bigint on both sides (DuckDB sums
  integers into hugeint).
- Timestamps are rendered to microsecond ISO strings; dates to
  ``yyyy-MM-dd`` strings (avoids dialect-specific date physical types).
- No ``first()``-style nondeterministic aggregates; min/max instead.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.catalog import load_testdata
from hpc_hd_textreuse_etl_spark.functions.checkpoints import session_temp_dir
from hpc_hd_textreuse_etl_spark.functions.skew import spread_small_input


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in examples/scale_ladder.py's headline set
    #: golden expected-output records for oracle-free queries whose
    #: output is nonetheless bit-deterministic (seeded CW): maps a
    #: testdata dir BASENAME (e.g. "sf0.01") to
    #: {"sha256": golden_value_hash(df), "rows": n}. Gated in pytest
    #: (tests/test_registry.py) — a semantic change to the operator
    #: fails the pin instead of sliding under weaker invariants.
    expected: dict | None = None


QUERIES: dict[str, QuerySpec] = {}


def golden_value_hash(df: DataFrame) -> tuple[str, int]:
    """Canonical order-insensitive output hash for golden pins:
    reorder each row by sorted column name, sort rows BY REPR, sha256
    the reprs. Partitioning/ordering-invariant by construction — only a
    change in the VALUE SET moves it. The sort key is ``repr`` (a total
    order over mixed/None values) rather than the raw tuples: tuple
    comparison raises TypeError on a NULL next to a non-NULL in the same
    column, which would make the pin mechanism unusable for nullable
    outputs instead of failing with a clean hash mismatch."""
    import hashlib

    order = sorted(range(len(df.columns)), key=lambda i: df.columns[i])
    rows = sorted((tuple(r[i] for i in order) for r in df.collect()), key=repr)
    m = hashlib.sha256()
    for r in rows:
        m.update(repr(r).encode())
    return m.hexdigest(), len(rows)


def query(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    expected: dict | None = None,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            load_testdata(spark, sf_dir)
            return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(name, wrapped, oracle, tags, bench, expected)
        return wrapped

    return deco


def dsum(col, scale: int = 4, alias: str | None = None):
    """Exact cross-engine double sum: decimal-accumulate, emit double."""
    out = F.sum(col.cast(f"decimal(30,{scale})")).cast("double")
    return out.alias(alias) if alias else out


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4) — flagship pricing summary (TPC-H Q1 shape)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A3", "A11", "P6"),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.table("lineitem")
    price = F.col("l_extendedprice")
    disc_price = price * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 4, "sum_qty"),
            dsum(price, 4, "sum_base_price"),
            dsum(disc_price, 6, "sum_disc_price"),
            dsum(charge, 6, "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("J1", "O2", "A3"),
    bench=True,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = spark.table("orders")
    li = spark.table("lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # apply the selective BUILDING reduction to orders BEFORE the big
    # lineitem join, as a SEMI join: customer contributes only the
    # filter (no output columns), so the reduction carries no payload,
    # and the lineitem-sized join output is never re-shuffled by
    # custkey (the old shape's second join did exactly that at scale).
    # Identical output: c_custkey is customer's key, so inner ≡ semi.
    orders_building = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_semi"
    )
    return (
        li.join(orders_building, li.l_orderkey == orders_building["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(revenue, 6, "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "region_order_stats",
    oracle="""
    SELECT r_name,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT CASE WHEN o_totalprice > 150000 THEN o_custkey END) AS BIGINT) AS n_big_spenders,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total_price
    FROM region JOIN nation ON r_regionkey = n_regionkey
                JOIN customer ON n_nationkey = c_nationkey
                JOIN orders ON c_custkey = o_custkey
    GROUP BY r_name
    """,
    tags=("J9", "J4", "A4"),
    bench=True,
)
def region_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake join with broadcast dims + conditional COUNT(DISTINCT CASE…)
    (reference shape: assets/source_piece_statistics.py:24-61).

    Spelled as a per-custkey pre-aggregation: both COUNT(DISTINCT)s key
    on the customer, so aggregating orders down to one row per custkey
    FIRST removes the multi-distinct Expand (which tripled every joined
    order row through the exchange) and joins the dims against custkey
    cardinality instead of order cardinality. Exact equivalence relies
    only on c_custkey being unique in customer (it is the table's key):
    n_customers = one group row per custkey seen, n_big_spenders = max
    of the per-order flag, and the decimal partial sums re-sum exactly.
    """
    region = spark.table("region")
    nation = spark.table("nation")
    cust = spark.table("customer")
    orders = spark.table("orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("__n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("__price"),
        F.max(
            F.when(F.col("o_totalprice") > 150000, F.lit(1)).otherwise(F.lit(0))
        ).alias("__big"),
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("__big").cast("bigint").alias("n_big_spenders"),
            F.sum("__n_orders").cast("bigint").alias("n_orders"),
            F.sum("__price").cast("double").alias("total_price"),
        )
    )


@query(
    "customers_without_open_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
    tags=("J5",),
)
def customers_without_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native left_anti — the idiomatic rewrite of the reference's
    right-join + IS NULL pattern (assets/reception.py:21-25)."""
    cust = spark.table("customer")
    orders = spark.table("orders").filter(F.col("o_orderstatus") == "O")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "customers_with_orders",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("J11",),
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.table("customer")
    orders = spark.table("orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_acctbal")


@query(
    "supplier_part_pairs",
    oracle="""
    SELECT s_suppkey, p_partkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                  JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 10
    GROUP BY s_suppkey, p_partkey
    """,
    tags=("J2", "J8"),
)
def supplier_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.table("lineitem")
    supp = spark.table("supplier")
    part = spark.table("part").filter(F.col("p_size") <= 10)
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("s_suppkey", "p_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_quantity"), 4, "total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Projections / CASE / scalar functions (SURVEY §2.2, §2.8)
# ---------------------------------------------------------------------------


@query(
    "order_price_buckets",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("P2", "A9"),
)
def order_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.table("orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return (
        orders.withColumn("bucket", bucket)
        .groupBy("bucket", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "part_string_ops",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           CAST(length(p_name) AS BIGINT) AS name_len,
           split_part(p_type, ' ', 1) AS type_head,
           concat(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size,
           substring(p_name, 1, 5) AS name_prefix
    FROM part
    """,
    tags=("P1", "scalar-string"),
)
def part_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface (reference splits ids with SUBSTRING_INDEX /
    LOCATE / SUBSTRING / CONCAT, assets/raw_textreuses.py:150-170)."""
    part = spark.table("part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring_index(F.col("p_type"), " ", 1).alias("type_head"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
        F.substring(F.col("p_name"), 1, 5).alias("name_prefix"),
    )


@query(
    "orders_per_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
    FROM orders GROUP BY 1 ORDER BY y
    """,
    tags=("A9", "scalar-date"),
)
def orders_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.table("orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("y"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice"), 4, "total"),
        )
        .orderBy("y")
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# ---------------------------------------------------------------------------


@query(
    "brand_title_dedup",
    oracle="""
    SELECT p_brand, max(p_name) AS canonical_name,
           CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types
    FROM part GROUP BY p_brand
    """,
    tags=("A8", "A10"),
)
def brand_title_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX(string) grouped — the reference's multi-mapped-title dedup
    (assets/titles.py:26-28)."""
    part = spark.table("part")
    return part.groupBy("p_brand").agg(
        F.max("p_name").alias("canonical_name"),
        F.countDistinct("p_type").alias("n_types"),
    )


@query(
    "customer_totals_salted",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS max_order
    FROM orders GROUP BY o_custkey
    """,
    tags=("skew", "A3"),
)
def customer_totals_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped totals through the salted two-phase aggregation
    (functions/skew.py) — the hot-key path must be value-identical to a
    plain GROUP BY, proven here against the plain-SQL oracle. Decimal
    columns ride through both phases, keeping the sums exact."""
    from hpc_hd_textreuse_etl_spark.functions.skew import salted_aggregate

    orders = spark.table("orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(30,4)").alias("p")
    )
    out = salted_aggregate(
        orders,
        ["o_custkey"],
        {"n_orders": ("count", None), "total_dec": ("sum", "p"), "max_dec": ("max", "p")},
        buckets=8,
    )
    return out.select(
        "o_custkey",
        "n_orders",
        F.col("total_dec").cast("double").alias("total"),
        F.col("max_dec").cast("double").alias("max_order"),
    )


@query(
    "label_centroids",
    oracle="""
    WITH elems AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS x
      FROM embeddings
    )
    SELECT label, CAST(pos AS INT) AS pos,
           round(SUM(CAST(x AS DOUBLE)) / COUNT(*), 6) AS mean_val
    FROM elems WHERE pos <= 8 GROUP BY label, pos
    """,
    tags=("A6", "array-agg"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise centroid of embeddings per label (first 8 dims) —
    the grouping shape behind IVF's Lloyd step, oracle-checked.

    NOTE double→decimal casts are NOT cross-engine safe for arbitrary
    doubles (Spark converts via shortest string, DuckDB via the exact
    binary expansion — they disagree past ~15 digits), so this mean is
    plain double arithmetic rounded to 6 dp (summation-order drift
    ~1e-16 against a 5e-7 rounding boundary)."""
    emb = spark.table("embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "x"))
        .withColumn("pos", F.col("pos0") + 1)
        .filter(F.col("pos") <= 8)
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("x").cast("double")) / F.count(F.lit(1)), 6
            ).alias("mean_val")
        )
        .select("label", "pos", "mean_val")
    )


@query(
    "event_props_json",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
           CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS k_present
    FROM events GROUP BY event_type
    """,
    tags=("scalar-json",),
)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar surface (§2.8 — the reference parses JSON only in
    Python ingestion; SQL-level extraction is the engine-native form)."""
    ev = spark.table("events")
    k = F.get_json_object("props", "$.k")
    return ev.groupBy("event_type").agg(
        F.sum(k.cast("long")).alias("k_total"),
        F.count(k).alias("k_present"),
    )


@query(
    "returnflag_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(30,4)) END) AS DOUBLE) AS qty_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(30,4)) END) AS DOUBLE) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("pivot",),
)
def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (beyond the reference's surface — it has none; standard
    Spark users expect it). Oracle expresses the same result as
    conditional aggregation."""
    li = spark.table("lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,4)")).cast("double"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


@query(
    "active_custkeys_union",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
    """,
    tags=("U1", "U4"),
)
def active_custkeys_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        spark.table("orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
    )
    b = (
        spark.table("customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return a.union(b).distinct()


@query(
    "nation_branches_union_all",
    oracle="""
    SELECT 'customer' AS side, c_nationkey AS nationkey FROM customer
    UNION ALL
    SELECT 'supplier' AS side, s_nationkey AS nationkey FROM supplier
    """,
    tags=("U2", "U3"),
)
def nation_branches_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = spark.table("customer").select(
        F.lit("customer").alias("side"), F.col("c_nationkey").alias("nationkey")
    )
    b = spark.table("supplier").select(
        F.lit("supplier").alias("side"), F.col("s_nationkey").alias("nationkey")
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Windows (SURVEY §2.5) + dense ids (§2.9)
# ---------------------------------------------------------------------------


@query(
    "part_type_dense_ids",
    oracle="""
    SELECT p_type, CAST(row_number() OVER (ORDER BY p_type) AS BIGINT) AS type_id
    FROM (SELECT DISTINCT p_type FROM part)
    """,
    tags=("ids", "O1"),
)
def part_type_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense stable id assignment (spark_utils.py:140-230 equivalent)."""
    from hpc_hd_textreuse_etl_spark.functions.ids import dense_ids

    part = spark.table("part")
    out = dense_ids(part.select("p_type").distinct(), ["p_type"], "type_id")
    return out.select("p_type", F.col("type_id").cast("long"))


@query(
    "first_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    tags=("W2",),
)
def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.table("orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey")
    )


@query(
    "running_prev_max_value",
    oracle="""
    SELECT event_id, user_id, value,
           max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM events
    """,
    tags=("W3",),
)
def running_prev_max_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running max of *previous* rows — the gaps-and-islands core window
    (assets/coverages.py:57-70)."""
    ev = spark.table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ev.select(
        "event_id", "user_id", "value", F.max("value").over(w).alias("prev_max")
    )


@query(
    "earliest_order_with_ties",
    oracle="""
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             min(o_orderdate) OVER (PARTITION BY o_custkey) AS min_date
      FROM orders
    ) WHERE o_orderdate = min_date
    """,
    tags=("W5", "P4"),
)
def earliest_order_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-in-group keeping ALL ties — semantically required by the
    reference (assets/downstream_clusters.py:132-148); row_number()=1
    would silently drop tied rows."""
    from hpc_hd_textreuse_etl_spark.operators.reception import earliest_in_group

    orders = spark.table("orders")
    return earliest_in_group(orders, ["o_custkey"], "o_orderdate").select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands / coverage (SURVEY §2.5 W3-W4, §2.4 A3)
# ---------------------------------------------------------------------------

SESSION_GAP_US = 1_800_000_000  # 30 min in microseconds


@query(
    "user_sessions",
    oracle=f"""
    WITH pts AS (
      SELECT user_id, epoch_us(ts) AS t FROM events
    ), marked AS (
      SELECT user_id, t,
             CASE WHEN max(t) OVER (PARTITION BY user_id ORDER BY t, t
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       + {SESSION_GAP_US} >= t
                  THEN 0 ELSE 1 END AS is_new,
             CASE WHEN max(t) OVER (PARTITION BY user_id ORDER BY t, t
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE
             CASE WHEN max(t) OVER (PARTITION BY user_id ORDER BY t, t
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       + {SESSION_GAP_US} >= t THEN 0 ELSE 1 END END AS new_island
      FROM pts
    ), islands AS (
      SELECT user_id, t,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY t, t
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM marked
    ), merged AS (
      SELECT user_id, island_id, min(t) AS island_start, max(t) AS island_end,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(island_end - island_start) AS BIGINT) AS total_session_us,
           CAST(sum(n_rows) AS BIGINT) AS n_events
    FROM merged GROUP BY user_id
    """,
    tags=("W3", "W4", "A3"),
    bench=True,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization = gaps-and-islands over event times (the coverage
    machinery of assets/coverages.py:36-139 applied to point events)."""
    from hpc_hd_textreuse_etl_spark.functions.intervals import coverage

    ev = spark.table("events").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    pts = ev.withColumn("t_end", F.col("t"))
    cov = coverage(
        pts, ["user_id"], "t", "t_end", adjacency_gap=SESSION_GAP_US
    )
    return cov.select(
        "user_id",
        F.col("n_islands").alias("n_sessions"),
        F.col("covered_len").cast("long").alias("total_session_us"),
        F.col("n_intervals").alias("n_events"),
    )


@query(
    "interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS e
      FROM events
    ), marked AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       + 1 >= s THEN 0 ELSE 1 END END AS new_island
      FROM iv
    ), islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM marked
    ), merged AS (
      SELECT user_id, island_id, min(s) AS island_start, max(e) AS island_end,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(sum(island_end - island_start) AS BIGINT) AS covered_len,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(n_rows) AS BIGINT) AS n_intervals
    FROM merged GROUP BY user_id
    """,
    tags=("W2", "W3", "W4", "A3"),
    bench=True,
)
def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage totals per group — the reference's
    coverages query shape (assets/coverages.py:36-139) on synthetic
    intervals derived from events."""
    from hpc_hd_textreuse_etl_spark.functions.intervals import coverage

    ev = spark.table("events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * 1_000_000).cast("long")
        ).alias("e"),
    )
    cov = coverage(ev, ["user_id"], "s", "e", adjacency_gap=1)
    return cov.select(
        "user_id",
        F.col("covered_len").cast("long").alias("covered_len"),
        F.col("n_islands"),
        F.col("n_intervals"),
    )


def _islands_sql(src: str, part: str, s: str, e: str, out: str) -> str:
    """DuckDB gaps-and-islands CTE chain over ``src`` partitioned by
    ``part`` on span columns ``s``/``e`` → per-partition merged totals."""
    return f"""
    {out}_marked AS (
      SELECT {part}, {s} AS s, {e} AS e,
             CASE WHEN max({e}) OVER (PARTITION BY {part} ORDER BY {s}, {e}
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE
             CASE WHEN max({e}) OVER (PARTITION BY {part} ORDER BY {s}, {e}
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       + 1 >= {s} THEN 0 ELSE 1 END END AS new_island
      FROM {src}
    ), {out}_islands AS (
      SELECT {part}, s, e,
             sum(new_island) OVER (PARTITION BY {part} ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM {out}_marked
    ), {out} AS (
      SELECT {part}, CAST(sum(island_end - island_start) AS BIGINT) AS reuses_length,
             CAST(count(*) AS BIGINT) AS num_merged
      FROM (
        SELECT {part}, island_id, min(s) AS island_start, max(e) AS island_end
        FROM {out}_islands GROUP BY {part}, island_id
      ) GROUP BY {part}
    )"""


@query(
    "pair_coverage",
    oracle=f"""
    WITH edges AS (
      SELECT user_id AS trs1_id, CAST(event_id % 20 AS BIGINT) AS trs2_id,
             CAST(floor(value * 100) AS BIGINT) AS s1,
             CAST(floor(value * 100) AS BIGINT) + 50 + CAST(event_id % 200 AS BIGINT) AS e1,
             CAST((event_id * 37) % 1000 AS BIGINT) AS s2,
             CAST((event_id * 37) % 1000 AS BIGINT) + 30 + CAST(event_id % 150 AS BIGINT) AS e2
      FROM events
    ),
    {_islands_sql("edges", "trs1_id, trs2_id", "s1", "e1", "t1_final")},
    {_islands_sql("edges", "trs1_id, trs2_id", "s2", "e2", "t2_final")}
    SELECT t1_final.trs1_id AS trs1_id, t1_final.trs2_id AS trs2_id,
           t1_final.reuses_length AS t1_reuses_length,
           t2_final.reuses_length AS t2_reuses_length,
           t1_final.num_merged AS t1_num_merged,
           t2_final.num_merged AS t2_num_merged,
           CAST(t1_final.reuses_length AS DOUBLE) * CAST(100.0 AS DOUBLE)
             / CAST(5000 + t1_final.trs1_id AS DOUBLE) AS reuse_t1_t2,
           CAST(t2_final.reuses_length AS DOUBLE) * CAST(100.0 AS DOUBLE)
             / CAST(5000 + t1_final.trs2_id AS DOUBLE) AS reuse_t2_t1
    FROM t1_final LEFT JOIN t2_final
      ON t1_final.trs1_id = t2_final.trs1_id AND t1_final.trs2_id = t2_final.trs2_id
    """,
    tags=("J4", "J7", "W2", "W3", "W4", "A3"),
    bench=True,
)
def pair_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship coverages query (assets/coverages.py:36-165)
    on synthetic pair spans: merged-interval totals per document pair on
    both sides, outer-joined, with length-normalized ratios."""
    from hpc_hd_textreuse_etl_spark.plans.textreuse import coverages

    ev = spark.table("events")
    eid = F.col("event_id")
    s1 = F.floor(F.col("value") * 100).cast("long")
    s2 = (eid * 37) % 1000
    edges = ev.select(
        F.col("user_id").alias("trs1_id"),
        (eid % 20).cast("long").alias("trs2_id"),
        s1.alias("s1"),
        (s1 + 50 + eid % 200).alias("e1"),
        s2.alias("s2"),
        (s2 + 30 + eid % 150).alias("e2"),
        (eid * 2).alias("piece1_id"),
        (eid * 2 + 1).alias("piece2_id"),
    )
    pieces = edges.select(
        F.col("piece1_id").alias("piece_id"),
        F.col("trs1_id").alias("trs_id"),
        F.col("s1").alias("trs_start"),
        F.col("e1").alias("trs_end"),
    ).unionByName(
        edges.select(
            F.col("piece2_id").alias("piece_id"),
            F.col("trs2_id").alias("trs_id"),
            F.col("s2").alias("trs_start"),
            F.col("e2").alias("trs_end"),
        )
    )
    # NOTE the t2 side must group by the PAIR, not the piece's own doc:
    # coverages() handles this by joining pieces back to the edge list
    lengths = (
        pieces.select("trs_id")
        .distinct()
        .select("trs_id", (F.lit(5000) + F.col("trs_id")).alias("text_length"))
    )
    cov = coverages(
        edges.select("piece1_id", "piece2_id"), pieces, lengths
    )
    return cov


@query(
    "reception_coverage_directed",
    oracle=f"""
    WITH edges AS (
      SELECT user_id AS src_trs_id, CAST(event_id % 20 AS BIGINT) AS dst_trs_id,
             CAST(floor(value * 100) AS BIGINT) AS s1,
             CAST(floor(value * 100) AS BIGINT) + 50 + CAST(event_id % 200 AS BIGINT) AS e1,
             CAST((event_id * 37) % 1000 AS BIGINT) AS s2,
             CAST((event_id * 37) % 1000 AS BIGINT) + 30 + CAST(event_id % 150 AS BIGINT) AS e2
      FROM events
    ),
    {_islands_sql("edges", "src_trs_id, dst_trs_id", "s1", "e1", "t1_final")},
    {_islands_sql("edges", "src_trs_id, dst_trs_id", "s2", "e2", "t2_final")}
    SELECT t1_final.src_trs_id AS src_trs_id,
           t1_final.num_merged AS num_reuses_src,
           t1_final.reuses_length AS reuses_src_in_dst,
           CAST(5000 + t1_final.src_trs_id AS BIGINT) AS src_length,
           CAST(t1_final.reuses_length AS DOUBLE)
             / CAST(5000 + t1_final.src_trs_id AS DOUBLE)
             * CAST(100.0 AS DOUBLE) AS coverage_src_in_dst,
           t1_final.dst_trs_id AS dst_trs_id,
           t2_final.num_merged AS num_reuses_dst,
           t2_final.reuses_length AS reuses_dst_in_src,
           CAST(5000 + t1_final.dst_trs_id AS BIGINT) AS dst_length,
           CAST(t2_final.reuses_length AS DOUBLE)
             / CAST(5000 + t1_final.dst_trs_id AS DOUBLE)
             * CAST(100.0 AS DOUBLE) AS coverage_dst_in_src
    FROM t1_final LEFT JOIN t2_final
      ON t1_final.src_trs_id = t2_final.src_trs_id
     AND t1_final.dst_trs_id = t2_final.dst_trs_id
    """,
    tags=("§2.10-book", "J7", "W2", "W3", "W4", "A3"),
)
def reception_coverage_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's book-restricted reception coverage
    (additional_assets/book_based.py:147-287) on synthetic directed
    edges: two-sided islands per (src, dst) pair, LEFT-joined dst
    branch, per-direction (reuse/length)*100 ratios."""
    from hpc_hd_textreuse_etl_spark.plans.textreuse import reception_coverages

    ev = spark.table("events")
    eid = F.col("event_id")
    s1 = F.floor(F.col("value") * 100).cast("long")
    s2 = (eid * 37) % 1000
    edges_denorm = ev.select(
        F.col("user_id").alias("src_trs_id"),
        (eid % 20).cast("long").alias("dst_trs_id"),
        s1.alias("src_trs_start"),
        (s1 + 50 + eid % 200).alias("src_trs_end"),
        s2.alias("dst_trs_start"),
        (s2 + 30 + eid % 150).alias("dst_trs_end"),
    )
    ids = (
        edges_denorm.select(F.col("src_trs_id").alias("trs_id"))
        .unionByName(edges_denorm.select(F.col("dst_trs_id").alias("trs_id")))
        .distinct()
    )
    lengths = ids.select(
        "trs_id", (F.lit(5000) + F.col("trs_id")).cast("long").alias("text_length")
    )
    return reception_coverages(edges_denorm, lengths)


# ---------------------------------------------------------------------------
# Higher-order array/map functions (SURVEY §2.8 — the reference's most
# Spark-idiomatic surface: aggregate/transform folds, kept verbatim)
# ---------------------------------------------------------------------------


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS max_elem,
           CAST(len(embedding) AS INT) AS dim
    FROM embeddings
    """,
    tags=("A6", "scalar-array"),
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst higher-order fold over an array column — same machinery
    as the reference's vote-map folds (chinese_label_propagation.py:113-134)."""
    emb = spark.table("embeddings")
    sq_sum = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        "label",
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_elem"),
        F.size("embedding").alias("dim"),
    )


# ---------------------------------------------------------------------------
# Reception analytics (SURVEY §2.3 J5/J6, §2.5 W5) — earliest source →
# later destination edges, the reference's reception_edges shape
# (assets/reception.py:14-102) on the orders table
# ---------------------------------------------------------------------------


@query(
    "order_reception_edges",
    oracle="""
    WITH members AS (
      SELECT o_custkey, o_orderkey, o_orderdate FROM orders
    ), earliest AS (
      SELECT o_custkey, o_orderkey FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               min(o_orderdate) OVER (PARTITION BY o_custkey) AS min_date
        FROM members
      ) WHERE o_orderdate = min_date
    ), non_source AS (
      SELECT m.o_custkey, m.o_orderkey FROM members m
      WHERE NOT EXISTS (SELECT 1 FROM earliest e WHERE e.o_orderkey = m.o_orderkey)
    )
    SELECT e.o_custkey AS custkey,
           e.o_orderkey AS src_o_orderkey,
           n.o_orderkey AS dst_o_orderkey
    FROM earliest e JOIN non_source n ON e.o_custkey = n.o_custkey
    """,
    tags=("J5", "J6", "W5"),
    bench=True,
)
def order_reception_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpc_hd_textreuse_etl_spark.operators.reception import reception_edges

    members = spark.table("orders").select("o_custkey", "o_orderkey", "o_orderdate")
    # o_orderkey is unique ⇒ the anti-join formulation collapses to a
    # filter on the shared min-window (one exchange total, equivalence
    # documented at the operator)
    edges = reception_edges(
        members, "o_custkey", "o_orderkey", "o_orderdate", unique_keys=True
    )
    return edges.select(
        F.col("o_custkey").alias("custkey"), "src_o_orderkey", "dst_o_orderkey"
    )


# ---------------------------------------------------------------------------
# Serving workload (plans/serving.py) — the reception / top-quote / QC
# queries the reference's users run against the materialized tables
# (companion paper arXiv:2401.07290; scratch.py:55-68)
# ---------------------------------------------------------------------------

_RECEPTION_EDGES_CTE = """
    members AS (
      SELECT o_custkey, o_orderkey, o_orderdate FROM orders
    ), earliest AS (
      SELECT o_custkey, o_orderkey FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               min(o_orderdate) OVER (PARTITION BY o_custkey) AS min_date
        FROM members
      ) WHERE o_orderdate = min_date
    ), non_source AS (
      SELECT m.o_custkey, m.o_orderkey FROM members m
      WHERE NOT EXISTS (SELECT 1 FROM earliest e WHERE e.o_orderkey = m.o_orderkey)
    ), edges AS (
      SELECT e.o_custkey, e.o_orderkey AS src_o_orderkey,
             n.o_orderkey AS dst_o_orderkey
      FROM earliest e JOIN non_source n ON e.o_custkey = n.o_custkey
    )"""


def _order_reception_edges_df(spark: SparkSession) -> DataFrame:
    from hpc_hd_textreuse_etl_spark.operators.reception import reception_edges

    members = spark.table("orders").select("o_custkey", "o_orderkey", "o_orderdate")
    return reception_edges(
        members, "o_custkey", "o_orderkey", "o_orderdate", unique_keys=True
    ).select(
        "o_custkey", "src_o_orderkey", "dst_o_orderkey"
    )


@query(
    "cluster_span_topk",
    oracle="""
    SELECT o_custkey, strftime(max_d, '%Y-%m-%d') AS max_pub_date,
           strftime(min_d, '%Y-%m-%d') AS min_pub_date,
           CAST(datediff('day', min_d, max_d) AS INT) AS span_days
    FROM (
      SELECT o_custkey, max(o_orderdate) AS max_d, min(o_orderdate) AS min_d
      FROM orders GROUP BY o_custkey
    )
    ORDER BY span_days DESC, o_custkey LIMIT 100
    """,
    tags=("O2", "A7", "serving-qc"),
)
def cluster_span_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's "time spans of clusters" QC query
    (scratch.py:55-68): per-group MIN/MAX dates and their day span,
    top-100 widest (deterministic tiebreak on the group key)."""
    from hpc_hd_textreuse_etl_spark.plans.serving import cluster_time_spans

    return cluster_time_spans(spark.table("orders"), "o_custkey", "o_orderdate", 100)


@query(
    "top_quote_spans",
    oracle=f"""
    WITH {_RECEPTION_EDGES_CTE}
    SELECT src_o_orderkey,
           CAST(count(DISTINCT dst_o_orderkey) AS BIGINT) AS n_receptions
    FROM edges GROUP BY src_o_orderkey
    ORDER BY n_receptions DESC, src_o_orderkey LIMIT 20
    """,
    tags=("serving-topquote", "A10", "O2"),
)
def top_quote_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The companion paper's top-quote workload: source spans ranked by
    distinct receiving documents, top-k via TakeOrderedAndProject."""
    from hpc_hd_textreuse_etl_spark.plans.serving import top_quotes

    edges = _order_reception_edges_df(spark)
    return top_quotes(edges, ["src_o_orderkey"], "dst_o_orderkey", 20)


@query(
    "reception_detail_serving",
    oracle=f"""
    WITH {_RECEPTION_EDGES_CTE}
    SELECT e.o_custkey, e.src_o_orderkey, e.dst_o_orderkey, c.c_name, c.c_acctbal
    FROM edges e JOIN customer c ON e.o_custkey = c.c_custkey
    WHERE e.o_custkey < 10
    """,
    tags=("serving-reception", "J4"),
)
def reception_detail_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The companion paper's reception point-query: everything
    downstream of a selected source set, metadata-enriched (both the
    selection and the dim broadcast; the fact side streams)."""
    from hpc_hd_textreuse_etl_spark.plans.serving import reception_detail

    edges = _order_reception_edges_df(spark)
    src_ids = (
        edges.filter(F.col("o_custkey") < 10).select("src_o_orderkey").distinct()
    )
    metadata = spark.table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal"
    )
    return reception_detail(edges, "src_o_orderkey", src_ids, metadata, "o_custkey")


# ---------------------------------------------------------------------------
# Non-SQL-expressible operators (driver records rows-only checks):
# defragmentation scan + Chinese Whispers clustering
# ---------------------------------------------------------------------------


def _synthetic_pieces_from_events(spark: SparkSession) -> DataFrame:
    """Deterministic span table shaped like orig_pieces (trs_id,
    trs_start, trs_end, piece_id) derived from the events table."""
    ev = spark.table("events")
    start = F.floor(F.col("value") * 100).cast("int")
    length = (F.lit(50) + F.pmod(F.col("event_id"), F.lit(300))).cast("int")
    return ev.select(
        F.col("user_id").alias("trs_id"),
        start.alias("trs_start"),
        (start + length).alias("trs_end"),
        (F.col("event_id") + 1).alias("piece_id"),
    )


_DEFRAG_PIECES_SQL = """
    pieces AS (
      SELECT user_id AS trs_id,
             CAST(floor(value * 100) AS BIGINT) AS s,
             CAST(floor(value * 100) AS BIGINT) + 50 + (event_id % 300) AS e,
             event_id + 1 AS pid
      FROM events
    ), cand AS (
      SELECT a.pid AS pa, b.pid AS pb, b.s AS sb
      FROM pieces a JOIN pieces b ON a.trs_id = b.trs_id
       AND b.s >= a.s - 180
       AND (b.s < a.s OR (b.s = a.s AND b.pid <= a.pid))
       AND abs(b.s - a.s) <= least(greatest(CAST(floor(least(a.e - a.s, b.e - b.s) / 4) AS BIGINT), 10), 180)
       AND abs(b.e - a.e) <= least(greatest(CAST(floor(least(a.e - a.s, b.e - b.s) / 4) AS BIGINT), 10), 180)
    ), raw AS (
      SELECT pa AS orig_piece_id, pb AS defrag_mapping FROM (
        SELECT pa, pb, row_number() OVER (PARTITION BY pa ORDER BY sb, pb) AS rn
        FROM cand
      ) WHERE rn = 1
    )"""


@query(
    "defrag_piece_mappings",
    oracle=f"""
    WITH {_DEFRAG_PIECES_SQL}
    SELECT orig_piece_id,
           CAST(dense_rank() OVER (ORDER BY defrag_mapping) AS BIGINT) AS defrag_piece_id
    FROM raw
    """,
    tags=("A12", "W1"),
    bench=True,
)
def defrag_piece_mappings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered per-document defrag scan (the reference's only UDAF,
    piece_id_mappings.ipynb cell 2). The range-join reformulation
    (operators/defrag.py) is SQL-expressible, so the driver gets a FULL
    oracle for it; tests/test_defrag.py also checks it against the
    pure-Python sequential scan (``defrag_scan_group``)."""
    from hpc_hd_textreuse_etl_spark.operators.defrag import piece_id_mappings

    pieces = _synthetic_pieces_from_events(spark)
    return piece_id_mappings(pieces)


@query(
    "defrag_pieces_merged",
    oracle=f"""
    WITH {_DEFRAG_PIECES_SQL},
    mapped AS (
      SELECT raw.orig_piece_id,
             CAST(dense_rank() OVER (ORDER BY raw.defrag_mapping) AS BIGINT) AS piece_id
      FROM raw
    )
    SELECT m.piece_id, p.trs_id,
           CAST(min(p.s) AS INT) AS trs_start, CAST(max(p.e) AS INT) AS trs_end
    FROM mapped m JOIN pieces p ON m.orig_piece_id = p.pid
    GROUP BY m.piece_id, p.trs_id
    """,
    tags=("A1", "A12"),
)
def defrag_pieces_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpc_hd_textreuse_etl_spark.operators.defrag import (
        defrag_pieces,
        piece_id_mappings,
    )

    pieces = _synthetic_pieces_from_events(spark)
    return defrag_pieces(pieces, piece_id_mappings(pieces))


@query(
    "kmv_distinct_orders",
    oracle="""
    WITH h AS (
      SELECT DISTINCT l_returnflag,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM lineitem
    ), r AS (
      SELECT l_returnflag, h,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
      FROM h
    ), sk AS (
      SELECT l_returnflag, MAX(h) AS kth, COUNT(*) AS n
      FROM r WHERE rn <= 64 GROUP BY l_returnflag
    ), ex AS (
      SELECT l_returnflag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT sk.l_returnflag,
           CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                ELSE 63.0 / (kth / 1152921504606846976.0) END AS kmv_estimate,
           ex.n_exact
    FROM sk JOIN ex USING (l_returnflag)
    """,
    tags=("sketch", "approx-distinct", "portable-hash"),
)
def kmv_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k (KMV) distinct-count sketch per return flag
    (operators/sketches.py), alongside the exact count. The portable
    md5 hash family makes the estimate a deterministic function of the
    input set, so the oracle recomputes it bit-identically — the
    cardinality-sketch family gets a value-hash gate that native HLL
    (engine-private registers) cannot."""
    from hpc_hd_textreuse_etl_spark.operators.sketches import kmv_distinct

    li = spark.table("lineitem")
    est = kmv_distinct(li, ["l_returnflag"], "l_orderkey", k=64)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_exact")
    )
    return est.join(exact, "l_returnflag")


_ASOF_RIGHT_SQL = """
    rd AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS k
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    r AS (
      SELECT rd.o_custkey, rd.o_orderdate,
             CAST(rd.k AS BIGINT) AS o_orderkey, o.o_totalprice
      FROM rd JOIN orders o ON o.o_orderkey = rd.k
    )
"""


def _asof_latest_order_spark(spark: SparkSession, tolerance=None) -> DataFrame:
    from hpc_hd_textreuse_etl_spark.operators.temporal import asof_join

    orders = spark.table("orders")
    rd = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("k")
    )
    right = (
        rd.join(orders, rd["k"] == orders["o_orderkey"])
        .select(
            rd["o_custkey"].alias("user_id"),
            rd["o_orderdate"].alias("order_ts"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_totalprice",
        )
    )
    events = spark.table("events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "ts",
    )
    return asof_join(
        events,
        right,
        left_on="ts",
        right_on="order_ts",
        by=["user_id"],
        right_cols=["o_orderkey", "o_totalprice"],
        tolerance=tolerance,
        suffix="_asof",
    ).select(
        "event_id",
        "user_id",
        F.col("o_orderkey_asof").alias("asof_orderkey"),
        F.col("o_totalprice_asof").alias("asof_totalprice"),
    )


@query(
    "asof_latest_order",
    oracle=f"""
    WITH {_ASOF_RIGHT_SQL}
    SELECT CAST(e.event_id AS BIGINT) AS event_id,
           CAST(e.user_id AS BIGINT) AS user_id,
           r.o_orderkey AS asof_orderkey,
           r.o_totalprice AS asof_totalprice
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
    tags=("asof-join", "temporal", "custom-operator"),
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.py): each event picks up the
    latest order of the same customer at or before its timestamp —
    Spark-side as ONE shuffle + window carry-forward (no range
    explosion), oracled by DuckDB's native ASOF LEFT JOIN. The right
    side is pre-deduped to one row per (customer, order date) so both
    engines' tie semantics coincide."""
    return _asof_latest_order_spark(spark)


@query(
    "asof_latest_order_30d",
    oracle=f"""
    WITH {_ASOF_RIGHT_SQL}
    SELECT CAST(e.event_id AS BIGINT) AS event_id,
           CAST(e.user_id AS BIGINT) AS user_id,
           CASE WHEN e.ts - r.o_orderdate <= INTERVAL 30 DAY
                THEN r.o_orderkey END AS asof_orderkey,
           CASE WHEN e.ts - r.o_orderdate <= INTERVAL 30 DAY
                THEN r.o_totalprice END AS asof_totalprice
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
    tags=("asof-join", "temporal", "tolerance"),
)
def asof_latest_order_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance variant: matches farther than 30 days back are nulled,
    exercising the operator's bounded-staleness path (the common
    point-in-time-correctness guard in feature-store joins)."""
    return _asof_latest_order_spark(spark, tolerance=F.expr("INTERVAL 30 DAYS"))


@query(
    "connected_components_labels",
    oracle="""
    WITH RECURSIVE chain AS (
      SELECT CAST(c_custkey AS BIGINT) AS src,
             CAST(lead(c_custkey) OVER (PARTITION BY c_nationkey
                                        ORDER BY c_custkey) AS BIGINT) AS dst
      FROM customer
    ), e AS (
      SELECT src, dst FROM chain WHERE dst IS NOT NULL
      UNION
      SELECT dst, src FROM chain WHERE dst IS NOT NULL
    ), reach AS (
      SELECT src AS node, src AS x FROM e
      UNION
      SELECT r.node, e.dst AS x FROM reach r JOIN e ON e.src = r.x
    )
    SELECT CAST(c.c_custkey AS BIGINT) AS node,
           COALESCE(MIN(r.x), CAST(c.c_custkey AS BIGINT)) AS component
    FROM customer c LEFT JOIN reach r ON r.node = c.c_custkey
    GROUP BY c.c_custkey
    """,
    tags=("§2.10", "J10", "iterative-graph"),
)
def connected_components_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic connected components (large-star/small-star,
    operators/graph.py) on per-nation customer chains — ~60-hop paths,
    the worst case for label flooding and the classic O(log n) case for
    star contraction. The oracle recomputes the labels from first
    principles: recursive-CTE transitive closure + MIN over the
    reachable set — so the iterative-graph family gets a full
    value-hash check, not just rows-only (CW stays rows-only: it is
    randomized by design)."""
    from hpc_hd_textreuse_etl_spark.operators.graph import connected_components

    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    edges = (
        spark.table("customer")
        .select(
            F.col("c_custkey").alias("src"),
            F.lead("c_custkey").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    nodes = spark.table("customer").select(F.col("c_custkey").alias("node"))
    return connected_components(edges, nodes=nodes)


@query(
    "chinese_whispers_clusters",
    oracle=None,
    tags=("§2.10", "A5", "A6"),
    expected={
        # golden pins: CW is bit-deterministic (seeded coins + sorted
        # folds, operators/clustering.py) — these gate SEMANTIC drift
        # the two oracle-green invariants (component containment,
        # intra-edge fraction) cannot see. Regenerate via
        # plans.queries.golden_value_hash after an INTENDED change.
        # Re-pinned in round 8 (intended, twice over): golden_value_hash
        # now sorts rows by repr (NULL-safe total order), and the CW
        # default gained tie-freeze convergence
        # (operators/clustering.py tie_freeze=5).
        "sf0.001": {
            "sha256": "12ed6569a0257ae46ec6954e75a835bd805c244f6841f6e69b64249b245851fb",
            "rows": 175,
        },
        "sf0.01": {
            "sha256": "154285d63f7de46e61a6698469fa5ef9f925f61da5dcf8a6e756bd162c2be500",
            "rows": 1525,
        },
    },
)
def chinese_whispers_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Chinese-Whispers label propagation on a customer–nation
    bipartite graph (operators/clustering.py). Deterministic row count =
    vertex count for the driver's rows-only check."""
    from hpc_hd_textreuse_etl_spark.operators.clustering import (
        adjacency_list,
        chinese_whispers,
        clustered_pieces,
    )

    edges = (
        spark.table("customer")
        .select(
            F.col("c_custkey").alias("piece1_id"),
            (F.col("c_nationkey").cast("long") + 10_000_000).alias("piece2_id"),
        )
        .distinct()
    )
    state, _ = chinese_whispers(adjacency_list(edges), max_iter=20, seed=42)
    return clustered_pieces(state)


@query(
    "cw_component_invariant",
    oracle="SELECT CAST(0 AS BIGINT) AS n_violating_clusters",
    tags=("§2.10", "qc-invariant"),
)
def cw_component_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-adjacent gate for the randomized CW query: every
    Chinese-Whispers cluster must lie inside ONE connected component of
    the same graph (labels only travel along edges — the invariant
    operators/graph.py's docstring states; reference consistency
    practice: etl_textreuse/scratch.py:46-54). CW itself can't
    hash-match a SQL oracle, but this CAN: the count of clusters
    spanning >1 component is exactly 0 in any correct run, and the CC
    side is independently full-oracle-gated (connected_components_labels).
    A partition-dependent coin, a label leak across components, or a
    stale-state bug in the CW loop would make this nonzero and fail the
    value-hash."""
    from hpc_hd_textreuse_etl_spark.operators.clustering import (
        adjacency_list,
        chinese_whispers,
        clustered_pieces,
    )
    from hpc_hd_textreuse_etl_spark.operators.graph import connected_components
    from hpc_hd_textreuse_etl_spark.plans.qc import cluster_component_violations

    edges = (
        spark.table("customer")
        .select(
            F.col("c_custkey").alias("piece1_id"),
            (F.col("c_nationkey").cast("long") + 10_000_000).alias("piece2_id"),
        )
        .distinct()
    )
    state, _ = chinese_whispers(adjacency_list(edges), max_iter=20, seed=42)
    cw = clustered_pieces(state)
    cc = connected_components(
        edges.select(F.col("piece1_id").alias("src"), F.col("piece2_id").alias("dst"))
    ).select(F.col("node").alias("piece_id"), "component")
    violations = cluster_component_violations(
        cw, cc, node_col="piece_id", cluster_col="cluster_id",
        component_col="component",
    ).select(F.col("cluster").alias("cluster_id"), "n_components")
    return violations.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_violating_clusters")
    )


@query(
    "cw_intra_edge_fraction",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS meets_threshold,
           CAST(count(*) AS BIGINT) AS n_edges
    FROM (SELECT DISTINCT c_custkey, c_nationkey FROM customer)
    """,
    tags=("§2.10", "qc-invariant"),
)
def cw_intra_edge_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second oracle-adjacent CW gate (complements cw_component_invariant,
    which only proves labels never LEAK across components — it would
    also pass if CW degenerated into one-node-per-cluster). This one
    proves CW actually AGGLOMERATES: the fraction of graph edges whose
    endpoints share a cluster must clear a seeded-run-pinned threshold.
    Measured for this seed/graph (seed=42, max_iter=20, customer–nation
    stars): 0.813 at sf0.001, 0.803 at sf0.01, 0.781 at sf0.1 — the
    0.70 pin leaves >10% margin at every gated scale while a
    no-agglomeration run (fraction ≈ 0) or a stale-vote bug (clusters
    fragmenting mid-star) lands far below it. n_edges doubles as an
    exact row-count anchor so the gate can't pass on an empty join."""
    from hpc_hd_textreuse_etl_spark.operators.clustering import (
        adjacency_list,
        chinese_whispers,
        clustered_pieces,
    )

    edges = (
        spark.table("customer")
        .select(
            F.col("c_custkey").alias("piece1_id"),
            (F.col("c_nationkey").cast("long") + 10_000_000).alias("piece2_id"),
        )
        .distinct()
    )
    state, _ = chinese_whispers(adjacency_list(edges), max_iter=20, seed=42)
    cw = clustered_pieces(state)
    lab1 = cw.select(
        F.col("piece_id").alias("piece1_id"), F.col("cluster_id").alias("l1")
    )
    lab2 = cw.select(
        F.col("piece_id").alias("piece2_id"), F.col("cluster_id").alias("l2")
    )
    joined = edges.join(lab1, "piece1_id").join(lab2, "piece2_id")
    return joined.agg(
        (
            (
                F.sum(F.when(F.col("l1") == F.col("l2"), 1).otherwise(0))
                / F.count(F.lit(1))
            )
            >= F.lit(0.70)
        )
        .cast("bigint")
        .alias("meets_threshold"),
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
    )


def _cw_portable_oracle(
    iters: int,
    seed: int = 42,
    update_prob: float = 0.9,
    tie_freeze: int = 5,
    max_custkey: int = 200,
) -> str:
    """DuckDB oracle for a bounded-iteration ``hash_family="portable"``
    Chinese-Whispers run (operators/clustering.py): the full loop —
    initial neighbor-vote maps, sorted-key arg-max with reservoir
    tie-breaking, the 0.9 update gate, ±vote delta pushes, stale/freeze
    bookkeeping — unrolled ``iters`` times as relational state tables
    ``(votes_i, labels_i)``. Every round CTE is MATERIALIZED (the
    token_budget_mixture lesson: an unrolled chain whose round ``i``
    is referenced several times by round ``i+1`` otherwise re-inlines
    3^rounds).

    Exactness notes: the coins are the md5 portable hash of the
    '|'-joined args — bit-identical in both engines; the reservoir fold
    over sorted map keys is equivalent to "among the tied-max keys in
    key order, key #j replaces the pick iff coin(j) < 1.0/j", so the
    arg-max is ``arg_max(y, j)`` over the accepted rows; the 1/j
    threshold divides in DOUBLE on both sides (the engine's portable
    fold casts — Spark's bare decimal division disagrees with double
    by one ulp at some n). If the loop converges before ``iters``,
    further unrolled rounds are no-ops (no active vertices → empty
    picks), so a fixed unroll matches any early stop."""

    def coin(args: str) -> str:
        return (
            f"((('0x' || substr(md5({args}), 1, 15))::BIGINT"
            " % 1000000000) / 1000000000.0)"
        )

    parts = [
        f"""WITH base AS MATERIALIZED (
      SELECT CAST(c_custkey AS BIGINT) AS cid,
             CAST(c_nationkey AS BIGINT) AS nid
      FROM customer WHERE c_custkey <= {max_custkey}
    ), raw_edges AS MATERIALIZED (
      SELECT cid AS src, nid + 10000000 AS dst FROM base
      UNION ALL
      SELECT cid AS src,
             lead(cid) OVER (PARTITION BY nid ORDER BY cid) AS dst
      FROM base
    ), e AS MATERIALIZED (
      SELECT src AS piece_id, dst AS other FROM raw_edges WHERE dst IS NOT NULL
      UNION ALL
      SELECT dst AS piece_id, src AS other FROM raw_edges WHERE dst IS NOT NULL
    ), votes_0 AS MATERIALIZED (
      SELECT piece_id, other AS cluster, CAST(count(*) AS BIGINT) AS votes
      FROM e GROUP BY 1, 2
    ), labels_0 AS MATERIALIZED (
      SELECT DISTINCT piece_id, piece_id AS cluster_id,
             TRUE AS active, 0 AS stale
      FROM e
    )"""
    ]
    for i in range(iters):
        tie_coin = coin(
            f"a.piece_id::VARCHAR || '|' || a.y::VARCHAR || '|{i}|{seed}'"
        )
        gate_coin = coin(f"p.piece_id::VARCHAR || '|{i}|{seed + 1}'")
        parts.append(f""", act_{i} AS MATERIALIZED (
      SELECT v.piece_id, v.cluster AS y, v.votes
      FROM votes_{i} v JOIN labels_{i} l USING (piece_id)
      WHERE l.active
    ), mx_{i} AS MATERIALIZED (
      SELECT piece_id, max(votes) AS mv FROM act_{i} GROUP BY piece_id
    ), cand_{i} AS MATERIALIZED (
      SELECT piece_id, y,
             row_number() OVER (PARTITION BY piece_id ORDER BY y) AS j,
             count(*) OVER (PARTITION BY piece_id) AS m
      FROM (
        SELECT a.piece_id, a.y
        FROM act_{i} a JOIN mx_{i} x ON a.piece_id = x.piece_id
        WHERE a.votes = x.mv
      )
    ), picks_{i} AS MATERIALIZED (
      SELECT a.piece_id, arg_max(a.y, a.j) AS new_cluster_id,
             max(a.m) > 1 AS tied
      FROM cand_{i} a
      WHERE a.j = 1 OR {tie_coin} < 1.0/a.j
      GROUP BY a.piece_id
    ), upd_{i} AS MATERIALIZED (
      SELECT p.piece_id, l.cluster_id AS old_cluster_id, p.new_cluster_id,
             p.tied,
             (l.cluster_id <> p.new_cluster_id
              AND {gate_coin} <= {update_prob}) AS do_update
      FROM picks_{i} p JOIN labels_{i} l USING (piece_id)
      WHERE p.tied OR (l.cluster_id <> p.new_cluster_id
                       AND {gate_coin} <= {update_prob})
    ), dx_{i} AS MATERIALIZED (
      SELECT e.other AS piece_id, c.old_cluster_id, c.new_cluster_id,
             CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT * FROM upd_{i} WHERE do_update) c
      JOIN e ON e.piece_id = c.piece_id
      GROUP BY 1, 2, 3
    ), deltas_{i} AS MATERIALIZED (
      SELECT piece_id, cluster, CAST(sum(d) AS BIGINT) AS delta FROM (
        SELECT piece_id, old_cluster_id AS cluster, -cnt AS d FROM dx_{i}
        UNION ALL
        SELECT piece_id, new_cluster_id AS cluster, cnt AS d FROM dx_{i}
      ) GROUP BY 1, 2
    ), dset_{i} AS MATERIALIZED (
      SELECT DISTINCT piece_id FROM deltas_{i}
    ), votes_{i + 1} AS MATERIALIZED (
      SELECT piece_id, cluster, CAST(sum(v) AS BIGINT) AS votes FROM (
        SELECT piece_id, cluster, votes AS v FROM votes_{i}
        UNION ALL
        SELECT piece_id, cluster, delta AS v FROM deltas_{i}
      ) GROUP BY 1, 2
      HAVING sum(v) <> 0
    ), labels_{i + 1} AS MATERIALIZED (
      SELECT l.piece_id,
             CASE WHEN COALESCE(u.do_update, FALSE)
                  THEN u.new_cluster_id ELSE l.cluster_id END AS cluster_id,
             (COALESCE(u.tied, FALSE)
              AND (CASE WHEN d.piece_id IS NOT NULL
                        THEN 0 ELSE l.stale + 1 END) < {tie_freeze})
             OR (d.piece_id IS NOT NULL) AS active,
             CASE WHEN d.piece_id IS NOT NULL
                  THEN 0 ELSE l.stale + 1 END AS stale
      FROM labels_{i} l
      LEFT JOIN upd_{i} u ON u.piece_id = l.piece_id
      LEFT JOIN dset_{i} d ON d.piece_id = l.piece_id
    )""")
    parts.append(
        f"""
    SELECT CAST(piece_id AS BIGINT) AS piece_id,
           CAST(cluster_id AS BIGINT) AS cluster_id
    FROM labels_{iters}
    """
    )
    return "".join(parts)


@query(
    "chinese_whispers_portable",
    oracle=_cw_portable_oracle(iters=8),
    tags=("§2.10", "A5", "A6", "iterative-graph"),
)
def chinese_whispers_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chinese Whispers under the FULL value-hash gate: the
    ``hash_family="portable"`` coin variant (md5-based, reproducible in
    DuckDB) on a bounded star+chain graph (customers ≤ 200 linked to
    their nation hub and chained within nation — tie-rich, so the
    reservoir tie-break, the 0.9 gate, and the stale/freeze bookkeeping
    all fire), max_iter=8 unrolled exactly in the oracle. This retires
    the registry's only rows-only entry: the stochastic PRODUCTION
    query (``chinese_whispers_clusters``, xxhash64 coins) keeps its
    golden pins + the two oracle-green invariants, while this twin
    proves the LOOP — vote maps, arg-max fold, delta pushes,
    convergence bookkeeping — against an independent relational
    recomputation, iteration by iteration."""
    from hpc_hd_textreuse_etl_spark.operators.clustering import (
        adjacency_list,
        chinese_whispers,
        clustered_pieces,
    )

    base = (
        spark.table("customer")
        .filter(F.col("c_custkey") <= 200)
        .select(
            F.col("c_custkey").cast("long").alias("cid"),
            F.col("c_nationkey").cast("long").alias("nid"),
        )
    )
    star = base.select(
        F.col("cid").alias("piece1_id"),
        (F.col("nid") + 10_000_000).alias("piece2_id"),
    )
    w = Window.partitionBy("nid").orderBy("cid")
    chain = base.select(
        F.col("cid").alias("piece1_id"),
        F.lead("cid").over(w).alias("piece2_id"),
    ).filter(F.col("piece2_id").isNotNull())
    state, _ = chinese_whispers(
        adjacency_list(star.unionAll(chain)),
        max_iter=8, seed=42, hash_family="portable",
    )
    return clustered_pieces(state)


@query(
    "earliest_consistency_check",
    oracle="""
    WITH win AS (
      SELECT o_custkey, o_orderkey FROM (
        SELECT o_custkey, o_orderkey,
               min(o_orderdate) OVER (PARTITION BY o_custkey) AS min_date,
               o_orderdate
        FROM orders
      ) WHERE o_orderdate = min_date
    ), agg AS (
      SELECT o.o_custkey, o.o_orderkey
      FROM orders o JOIN (
        SELECT o_custkey, min(o_orderdate) AS min_date
        FROM orders GROUP BY o_custkey
      ) m ON o.o_custkey = m.o_custkey AND o.o_orderdate = m.min_date
    )
    SELECT CAST(count(DISTINCT CASE WHEN w.o_orderkey IS NULL
                                      OR a.o_orderkey IS NULL
                     THEN COALESCE(w.o_custkey, a.o_custkey) END) AS BIGINT)
             AS n_disagreements,
           CAST(count(DISTINCT COALESCE(w.o_custkey, a.o_custkey)) AS BIGINT)
             AS n_groups_checked
    FROM win w FULL OUTER JOIN agg a
      ON w.o_custkey = a.o_custkey AND w.o_orderkey = a.o_orderkey
    """,
    tags=("serving-qc", "W5", "A7"),
)
def earliest_consistency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's cluster-consistency sanity check
    (etl_textreuse/scratch.py:46-54): two INDEPENDENT derivations of
    "earliest member per group" — the ties-kept window
    (earliest_in_group, the path reception edges are built on) vs a
    groupBy-min + equality join-back — cross-validated via symmetric
    difference. Emitted as a one-row
    summary (disagreement count + groups checked) rather than the
    expected-empty violation set — an empty set hash-matches trivially;
    the (0, N) row only matches if both engines ran the full check."""
    from hpc_hd_textreuse_etl_spark.operators.reception import earliest_in_group
    from hpc_hd_textreuse_etl_spark.plans.qc import set_disagreement

    orders = spark.table("orders")
    win = earliest_in_group(orders, ["o_custkey"], "o_orderdate").select(
        "o_custkey", "o_orderkey"
    )
    mins = (
        orders.groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("min_date"))
        .withColumnRenamed("o_custkey", "m_custkey")
    )
    agg = (
        orders.join(
            mins,
            (F.col("o_custkey") == F.col("m_custkey"))
            & (F.col("o_orderdate") == F.col("min_date")),
        )
        .select("o_custkey", "o_orderkey")
    )
    dis = set_disagreement(win, agg, "o_custkey", "o_orderkey")
    groups = win.select("o_custkey").unionAll(agg.select("o_custkey"))
    # one-row summary, not the (expected-empty) violation set: an empty
    # result hash-matches trivially, a (0, 1500) row only matches if both
    # engines actually ran the full cross-validation
    return dis.agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_disagreements")
    ).crossJoin(
        groups.agg(
            F.count_distinct("o_custkey").cast("bigint").alias("n_groups_checked")
        )
    )


# ---------------------------------------------------------------------------
# Text analysis (beyond-parity: training-data pipeline operators)
# ---------------------------------------------------------------------------

_TOK = "list_filter(string_split_regex(text, '\\s+'), t -> t != '')"


@query(
    "doc_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len({_TOK}) AS INT) AS n_tokens,
           CAST(len(list_distinct({_TOK})) AS INT) AS n_unique_tokens,
           list_sum(list_transform({_TOK}, t -> CAST(length(t) AS DOUBLE)))
             / CAST(len({_TOK}) AS INT) AS avg_token_len,
           CAST(len(list_distinct({_TOK})) AS DOUBLE) / CAST(len({_TOK}) AS INT)
             AS type_token_ratio
    FROM documents
    """,
    tags=("text-analysis",),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpc_hd_textreuse_etl_spark.functions.text import token_stats

    docs = spark.table("documents")
    stats = token_stats("text")
    return docs.select(
        "doc_id",
        stats["n_chars"].alias("n_chars"),
        stats["n_tokens"].alias("n_tokens"),
        stats["n_unique_tokens"].alias("n_unique_tokens"),
        stats["avg_token_len"].alias("avg_token_len"),
        stats["type_token_ratio"].alias("type_token_ratio"),
    )


@query(
    "doc_quality",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             CAST(len({_TOK}) AS INT) AS n_tokens,
             CAST(len(list_filter({_TOK},
                  t -> t IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
               / CAST(len({_TOK}) AS INT) AS stop_ratio
      FROM documents
    )
    SELECT doc_id, n_tokens, stop_ratio,
           CASE WHEN n_tokens < 20 THEN 'too_short'
                WHEN stop_ratio < 0.05 THEN 'low_stopword'
                ELSE 'ok' END AS quality_label
    FROM q
    """,
    tags=("text-analysis",),
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpc_hd_textreuse_etl_spark.functions.text import stopword_ratio, tokens

    docs = spark.table("documents")
    n = F.size(tokens("text"))
    out = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        stopword_ratio("text").alias("stop_ratio"),
    )
    label = (
        F.when(F.col("n_tokens") < 20, "too_short")
        .when(F.col("stop_ratio") < 0.05, "low_stopword")
        .otherwise("ok")
    )
    return out.withColumn("quality_label", label)


@query(
    "doc_lang_guess",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
        len(list_filter({_TOK}, t -> t IN ('the','a','of','and','is','to','in'))) AS s_en,
        len(list_filter({_TOK}, t -> t IN ('der','die','das','und','ist','zu','ein'))) AS s_de,
        len(list_filter({_TOK}, t -> t IN ('el','la','de','y','es','en','un'))) AS s_es
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
                WHEN s_de > s_en AND s_de >= s_es AND s_de > 0 THEN 'de'
                WHEN s_es > s_en AND s_es > s_de AND s_es > 0 THEN 'es'
                ELSE 'unknown' END AS lang_guess
    FROM s
    """,
    tags=("text-analysis",),
)
def doc_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpc_hd_textreuse_etl_spark.functions.text import lang_guess

    docs = spark.table("documents")
    return docs.select("doc_id", "lang", lang_guess("text").alias("lang_guess"))


@query(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
    tags=("text-analysis",),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpc_hd_textreuse_etl_spark.functions.text import normalized_md5

    docs = spark.table("documents")
    return docs.select("doc_id", normalized_md5("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# Deduplication (beyond-parity)
# ---------------------------------------------------------------------------


@query(
    "exact_duplicate_groups",
    oracle="""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
    )
    SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS group_size
    FROM u GROUP BY text HAVING count(*) > 1
    """,
    tags=("dedup-exact",),
)
def exact_duplicate_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy. The corpus has no exact
    dups, so the query plants deterministic copies (doc_id < 50) first —
    exercising the operator with non-trivial output."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import exact_duplicate_groups

    docs = spark.table("documents").select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    groups = exact_duplicate_groups(docs.unionByName(copies), "doc_id", "text")
    return groups.select("keep_id", "group_size")


@query(
    "token_jaccard_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(list_distinct({_TOK})) AS tok FROM documents
    ), sizes AS (
      SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter) AS jaccard
    FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter) >= 0.95
    """,
    tags=("dedup-jaccard",),
)
def token_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpc_hd_textreuse_etl_spark.operators.dedup import token_jaccard_pairs

    docs = spark.table("documents")
    return token_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.95, block_cols=("lang",)
    )


_REP_LINES = "list_filter(string_split(text, chr(10)), l -> trim(l) != '')"
_REP_BIGRAMS = (
    "list_transform(range(1, greatest(len({t}) - 1, 1) + 1), "
    "i -> array_to_string({t}[i:i+1], ' '))"
).format(t=_TOK)


@query(
    "doc_repetition_stats",
    oracle=f"""
    WITH lined AS (
      SELECT doc_id,
             regexp_replace(text, ' (the|a) ', chr(10), 'g') AS text
      FROM documents
    ), st AS (
      SELECT doc_id, text,
             {_REP_LINES} AS lines,
             {_REP_BIGRAMS} AS bigrams
      FROM lined
    ), agg AS (
      SELECT doc_id, text, lines, bigrams,
             list_filter(list_transform(list_distinct(lines),
               l -> {{'len': length(l),
                      'n': len(list_filter(lines, x -> x = l))}}),
               s -> s.n > 1) AS dups,
             list_max(list_transform(list_distinct(bigrams),
               g -> {{'n': len(list_filter(bigrams, x -> x = g)),
                      'len': length(g)}})) AS top
      FROM st
    )
    SELECT doc_id,
           CASE WHEN len(lines) > 0
                THEN COALESCE(list_sum(list_transform(dups, s -> s.n)), 0)::DOUBLE
                     / len(lines)
                ELSE 0.0 END AS dup_line_fraction,
           CASE WHEN COALESCE(list_sum(list_transform(lines, l -> length(l))), 0) > 0
                THEN COALESCE(list_sum(list_transform(dups, s -> s.len * s.n)), 0)::DOUBLE
                     / list_sum(list_transform(lines, l -> length(l)))
                ELSE 0.0 END AS dup_line_char_fraction,
           CASE WHEN length(text) > 0 AND len(bigrams) > 0
                THEN (top.n * top.len)::DOUBLE / length(text)
                ELSE 0.0 END AS top_bigram_char_fraction
    FROM agg
    """,
    tags=("text-quality", "gopher-repetition"),
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gates (duplicate-line fractions +
    most-frequent-bigram coverage) — the boilerplate/keyword-stuffing
    filters every web-crawl curation run applies. Lines are synthesized
    from the single-line corpus by an identical regexp in both engines;
    all three fractions are per-row integer→double divisions, so raw
    doubles value-hash-match."""
    from hpc_hd_textreuse_etl_spark.functions.text import repetition_stats

    docs = spark.table("documents")
    lined = docs.select(
        "doc_id", F.regexp_replace("text", " (the|a) ", "\n").alias("text")
    )
    stats = repetition_stats("text")
    return lined.select("doc_id", *[v.alias(k) for k, v in stats.items()])


# Portable-hash oracles (functions/hashing.py): the md5-based 60-bit hash
# H(s) below is byte-identical in Spark and DuckDB, so the FULL minhash /
# simhash / LSH pipelines run under the value-hash gate. The xxhash64
# production defaults keep their est-vs-exact property tests instead.

_DUCK_H = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
_P = 2_147_483_647


def _minhash_oracle(
    num_hashes: int, shingle: int, num_bands: int, threshold: float,
    table: str = "documents",
) -> str:
    """DuckDB SQL mirroring minhash_near_duplicates(hash_family='portable')
    over ``table`` (a view or an in-scope CTE with doc_id/text)."""
    from hpc_hd_textreuse_etl_spark.functions.hashing import minhash_coeffs

    coeffs = minhash_coeffs(num_hashes)
    rows = num_hashes // num_bands
    mins = ",\n             ".join(
        f"MIN(({a} * hb + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_branches = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {h} AS band_hash FROM sigs".format(
            b=b,
            h=_DUCK_H.format(
                x=" || ',' || ".join(f"h{b * rows + r}" for r in range(rows))
                + f" || '#{b}'"
            ),
        )
        for b in range(num_bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    shingles = (
        f"[substr(text, i, {shingle}) "
        f"FOR i IN range(1, greatest(length(text) - {shingle - 1}, 1) + 1)]"
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({shingles})) AS shingle FROM {table}
    ), hb AS (
      SELECT doc_id, {_DUCK_H.format(x='shingle')} % {_P} AS hb FROM sh
    ), sigs AS (
      SELECT doc_id, {mins}
      FROM hb GROUP BY doc_id
    ), bands AS (
      {band_branches}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT id_a, id_b,
             CAST({agree} AS DOUBLE) / CAST({num_hashes} AS DOUBLE) AS est_jaccard
      FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id
    ) WHERE est_jaccard >= CAST({threshold} AS DOUBLE)
    """


def _simhash_oracle(bits: int, max_hamming: int) -> str:
    """DuckDB SQL mirroring simhash_near_duplicates(hash_family='portable')."""
    n_chunks = min(max_hamming + 1, bits)
    band_bits = max(bits // n_chunks, 1)
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS t FROM documents
    ), th AS (
      SELECT doc_id, {_DUCK_H.format(x='t')} AS h FROM toks
    ), votes AS (
      SELECT doc_id, b.range AS bit,
             SUM(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN range({bits}) b GROUP BY doc_id, b.range
    ), sig0 AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS sig
      FROM votes GROUP BY doc_id
    ), sigs AS (
      SELECT d.doc_id, COALESCE(s.sig, 0) AS sig
      FROM documents d LEFT JOIN sig0 s ON d.doc_id = s.doc_id
    ), chunks AS (
      SELECT doc_id, sig, b.range AS band,
             (sig >> (b.range * {band_bits})) & {mask} AS chunk
      FROM sigs CROSS JOIN range({n_bands}) b
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      FROM chunks a JOIN chunks b
        ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


@query(
    "corpus_vocab_topk",
    oracle=f"""
    SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
      SELECT doc_id, unnest(list_distinct({_TOK})) AS token FROM documents
    )
    GROUP BY token
    ORDER BY df DESC, token
    LIMIT 50
    """,
    tags=("corpus-stats", "O2", "A10"),
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 vocabulary by document frequency (distinct-per-doc before
    counting; token tiebreak makes the cut deterministic). Plans
    TakeOrderedAndProject over a map-side-combined DF aggregation."""
    from hpc_hd_textreuse_etl_spark.operators.corpus_stats import vocab_topk

    return vocab_topk(spark.table("documents"), "doc_id", "text", k=50)


@query(
    "tf_df_exact",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, unnest({_TOK}) AS token FROM documents
      ) GROUP BY doc_id, token
    ), dfreq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM (
        SELECT doc_id, unnest(list_distinct({_TOK})) AS token FROM documents
      ) GROUP BY token
    )
    SELECT tf.doc_id, tf.token, tf.tf, dfreq.df
    FROM tf JOIN dfreq ON tf.token = dfreq.token
    WHERE tf.doc_id < 100
    """,
    tags=("corpus-stats",),
)
def tf_df_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF's exact integer core — per-(doc, token) term frequency
    joined with corpus document frequency (restricted to doc_id < 100
    to bound the gated row count). The ln-based weight itself is
    epsilon-tested in tests/test_corpus_stats.py: libm last-ulp
    differences make it a bad hash-gate candidate (same reasoning as
    the matmul rank gate)."""
    from hpc_hd_textreuse_etl_spark.operators.corpus_stats import tf_idf

    docs = spark.table("documents")
    return (
        tf_idf(docs, "doc_id", "text")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "token", "tf", "df")
    )


@query(
    "sequence_packing",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS size,
             ('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 8 AS shard
      FROM documents
    )
    SELECT doc_id, size, shard,
           CAST(floor(COALESCE(SUM(size) OVER (
             PARTITION BY shard ORDER BY size DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 256.0) AS BIGINT) AS pack_id
    FROM sized
    """,
    tags=("packing", "W4"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, cumsum strategy (operators/packing.py): shard
    deterministically, pack within shards by one window cumsum. The
    portable-hash shard and the window arithmetic reproduce exactly in
    DuckDB, so every document's (shard, pack) assignment is
    value-hash-gated. The strict next-fit variant is pytest-pinned
    (test_packing) — its per-shard scan isn't SQL-expressible."""
    from hpc_hd_textreuse_etl_spark.functions.hashing import portable_hash64
    from hpc_hd_textreuse_etl_spark.functions.text import tokens
    from hpc_hd_textreuse_etl_spark.operators.packing import pack_sequences

    docs = spark.table("documents")
    sized = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        # portable shard: the operator's default xxhash64 shard is
        # engine-internal, so the gated run pins the md5 family instead
        F.pmod(
            portable_hash64(
                F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))
            ),
            F.lit(8),
        ).alias("pshard"),
    )
    return pack_sequences(
        sized, "doc_id", "n_tokens", budget=256, num_shards=8,
        strategy="cumsum", shard_col="pshard",
    )


_TRIGRAMS = (
    "list_transform(range(1, greatest(len({t}) - 2, 1) + 1), "
    "i -> array_to_string({t}[i:i+2], ' '))"
).format(t=_TOK)


@query(
    "benchmark_contamination",
    oracle=f"""
    WITH bg AS (
      SELECT DISTINCT {_DUCK_H.format(x='g')} AS g FROM (
        SELECT unnest(list_distinct({_TRIGRAMS})) AS g
        FROM documents WHERE doc_id % 50 = 0
      )
    ), cg AS (
      SELECT doc_id, {_DUCK_H.format(x='g')} AS g FROM (
        SELECT doc_id, unnest(list_distinct({_TRIGRAMS})) AS g
        FROM documents WHERE doc_id % 50 <> 0
      )
    )
    SELECT doc_id, CAST(count(DISTINCT cg.g) AS BIGINT) AS n_contaminated
    FROM cg JOIN bg ON cg.g = bg.g
    GROUP BY doc_id
    """,
    tags=("decontamination", "text-quality"),
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training decontamination: per-document count of distinct
    token n-grams shared with a benchmark set (every 50th document
    plays the benchmark; n=3 on the short synthetic docs standing in
    for the production 13-gram test). Portable hash family, so gram
    hashing, the broadcast join AND the distinct-count all sit under
    the DuckDB value-hash gate."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import ngram_contamination

    docs = spark.table("documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return ngram_contamination(
        corpus, bench, "doc_id", "text", n=3, hash_family="portable"
    )


@query(
    "minhash_near_duplicates",
    oracle=_minhash_oracle(num_hashes=32, shingle=5, num_bands=8, threshold=0.7),
    tags=("dedup-minhash",),
    bench=True,
)
def minhash_near_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (shingle→minhash→band→bucket-join),
    portable hash family — the full pipeline (shingling, k min-aggs,
    banding, estimated-Jaccard verify) is value-hash-checked against
    DuckDB. The xxhash64 production family is validated against exact
    Jaccard in tests/test_dedup.py."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import minhash_near_duplicates

    docs = spark.table("documents")
    return minhash_near_duplicates(
        docs, "doc_id", "text", num_hashes=32, num_bands=8, threshold=0.7,
        hash_family="portable",
    )


@query(
    "minhash_delta_near_duplicates",
    oracle=f"""
    SELECT id_a, id_b, est_jaccard FROM (
      {_minhash_oracle(num_hashes=32, shingle=5, num_bands=8, threshold=0.7)}
    ) WHERE id_a % 5 = 0 OR id_b % 5 = 0
    """,
    tags=("dedup-minhash", "incremental"),
)
def minhash_delta_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup — every 5th doc arrives as the ingest
    DELTA against a base corpus whose signature table is already built
    (dedup.py minhash_near_duplicates_delta): delta bands probe the
    (base ∪ delta) band table, base-internal pairs never re-derive. The
    oracle is the FULL-corpus portable-family pipeline restricted to
    pairs touching a delta doc — the gate therefore also re-proves the
    delta path's pair-for-pair equivalence with the batch path at
    sf0.01, on top of the unit equivalence test."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        minhash_near_duplicates_delta,
        minhash_signatures,
    )

    docs = spark.table("documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    base_sigs = minhash_signatures(
        base, "doc_id", "text", num_hashes=32, hash_family="portable"
    )
    return minhash_near_duplicates_delta(
        base_sigs, delta, "doc_id", "text", num_hashes=32, num_bands=8,
        threshold=0.7, hash_family="portable",
    )


@query(
    "simhash_near_duplicates",
    oracle=_simhash_oracle(bits=60, max_hamming=8),
    tags=("dedup-simhash",),
)
def simhash_near_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup (60-bit portable signature, pigeonhole banding,
    exact Hamming verify) — value-hash-checked against a DuckDB oracle
    that recomputes the bit-vote fold with 60 per-bit aggregations."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import simhash_near_duplicates

    docs = spark.table("documents")
    return simhash_near_duplicates(
        docs, "doc_id", "text", max_hamming=8, hash_family="portable"
    )


@query(
    "near_dup_resolution",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM (
        {_minhash_oracle(num_hashes=32, shingle=5, num_bands=8, threshold=0.7)}
      )
    ), e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach AS (
      SELECT src AS node, src AS x FROM e
      UNION
      SELECT r.node, e.dst AS x FROM reach r JOIN e ON e.src = r.x
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           COALESCE(MIN(r.x), CAST(d.doc_id AS BIGINT)) AS canonical_id,
           COALESCE(MIN(r.x), CAST(d.doc_id AS BIGINT)) = d.doc_id
             AS is_canonical
    FROM documents d LEFT JOIN reach r ON r.node = d.doc_id
    GROUP BY d.doc_id
    """,
    tags=("dedup-resolution", "§2.10"),
)
def near_dup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end duplicate RESOLUTION — what a curation run actually
    consumes: MinHash+LSH candidate pairs, transitively closed into
    groups (large-star/small-star CC over the pair graph), one canonical
    keeper per group, every document covered. The oracle recomputes the
    whole chain — portable-minhash pairs, recursive-CTE closure, min-id
    keeper — so signatures, banding, grouping AND keeper choice are all
    under the value-hash gate."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        minhash_near_duplicates,
        resolve_duplicates,
    )

    docs = spark.table("documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", num_hashes=32, num_bands=8, threshold=0.7,
        hash_family="portable",
    )
    return resolve_duplicates(docs, "doc_id", pairs)


@query(
    "embedding_near_dup_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
           (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
            sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
          (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
           sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.25
    """,
    tags=("dedup-embedding",),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup within label blocks. The Spark fold and
    the DuckDB explicit-double formula are bit-identical (verified over
    1225 pairs), so raw doubles compare exactly."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import embedding_near_duplicates

    emb = spark.table("embeddings")
    return embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.25, block_cols=("label",)
    )


def _lsh_blocked_dedup_oracle(
    threshold: float, num_planes: int, dim: int, seed: int
) -> str:
    """DuckDB SQL mirroring embedding_near_duplicates blocked by the
    seeded hyperplane bucket (with_lsh_blocks): same literal planes →
    same buckets → same candidate pairs → same cosines."""
    from hpc_hd_textreuse_etl_spark.functions.hashing import hyperplane_coeffs

    planes = hyperplane_coeffs(1, num_planes, dim, seed)[0]

    def dot(coeffs: list[float]) -> str:
        lits = ", ".join(f"{c:.17e}" for c in coeffs)
        return (
            f"list_sum(list_transform(list_zip(embedding, [{lits}]), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2]))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot(planes[p])} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(num_planes)
    )
    cos = (
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / "
        "(sqrt(list_sum(list_transform(a.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
        "sqrt(list_sum(list_transform(b.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {bucket} AS lsh_bucket FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
    FROM bucketed a JOIN bucketed b
      ON a.lsh_bucket = b.lsh_bucket AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold}
    """


@query(
    "embedding_near_dup_lsh_blocked",
    oracle=_lsh_blocked_dedup_oracle(threshold=0.25, num_planes=6, dim=64, seed=42),
    tags=("dedup-embedding", "similarity-lsh"),
)
def embedding_near_dup_lsh_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with NO natural blocking key: the canonical
    scale recipe — seeded hyperplane-LSH buckets as ``block_cols``
    (with_lsh_blocks), bounding the pair join at any corpus size. The
    whole chain (literal planes → buckets → candidate pairs → bit-exact
    cosines) sits under the value-hash gate."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        embedding_near_duplicates,
        with_lsh_blocks,
    )

    emb = with_lsh_blocks(
        spark.table("embeddings"), "embedding", num_planes=6, dim=64, seed=42
    )
    return embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.25, block_cols=("lsh_bucket",)
    )


# ---------------------------------------------------------------------------
# Similarity search (beyond-parity)
# ---------------------------------------------------------------------------


@query(
    "ann_cosine_topk",
    oracle="""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
      FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=("similarity-bruteforce",),
    bench=True,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k — the ANN baseline (broadcast
    queries, streaming corpus side)."""
    from hpc_hd_textreuse_etl_spark.operators.similarity import cosine_topk

    emb = spark.table("embeddings")
    return cosine_topk(
        emb.filter(F.col("vec_id") < 20), emb, "vec_id", "embedding", k=5
    )


@query(
    "ann_cosine_topk_matmul",
    oracle="""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
      FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=("similarity-bruteforce", "arrow-matmul"),
    bench=True,
)
def ann_cosine_topk_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/BLAS scale path for exact cosine top-k: one
    (batch × dim)·(dim × q) matmul per Arrow batch, batch-local top-k
    pruning before the shuffle. The oracle gates on (query_id,
    neighbor_id, rank) only: BLAS summation order differs from the
    sequential fold by ~1 ulp, and a rounded score straddling a rounding
    boundary would flip even a 6-decimal gate intermittently. Score
    agreement with the fold path is asserted within epsilon — and ranks
    exactly — in tests/test_similarity.py."""
    from hpc_hd_textreuse_etl_spark.operators.similarity import cosine_topk

    emb = spark.table("embeddings")
    out = cosine_topk(
        emb.filter(F.col("vec_id") < 20), emb, "vec_id", "embedding", k=5,
        strategy="matmul",
    )
    return out.select("query_id", "neighbor_id", "rank")


def _ivf_cos(x: str, y: str) -> str:
    """DuckDB cosine over two pre-cast double lists (shared by every
    IVF-family oracle)."""
    return (
        f"(list_sum(list_transform(list_zip({x}, {y}), x -> x[1] * x[2])) / "
        f"(sqrt(list_sum(list_transform({x}, x -> x * x))) * "
        f"sqrt(list_sum(list_transform({y}, x -> x * x)))))"
    )


def _ivf_lloyd_ctes(n_cells: int, lloyd_iters: int, seed: int, dim: int) -> list[str]:
    """Shared CTE prefix unrolling ivf_index(hash_family='portable'):
    ``v`` (double-cast vectors), ``c0`` (portable-hash seeded init),
    then alternating ``a{i}`` (assignments) / ``c{i+1}`` (order-fixed
    centroid means) up to the final assignment ``a{lloyd_iters}`` and
    centroids ``c{lloyd_iters}``. Reused by the IVF-ANN and
    semantic-dedup oracles so the quantizer is verifiably the SAME
    computation in both."""
    cos = _ivf_cos
    init_h = f"('0x' || substr(md5(vec_id || '#{seed}'), 1, 15))::BIGINT"
    ctes = [
        "v AS (\n      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        "\n      FROM embeddings\n    )",
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY {init_h}) AS cell_id, v AS centroid
      FROM v ORDER BY {init_h} LIMIT {n_cells}
    )""",
    ]
    for i in range(lloyd_iters + 1):
        ctes.append(f"""a{i} AS (
      SELECT vec_id, cell_id FROM (
        SELECT vv.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY vv.vec_id
                                  ORDER BY {cos('vv.v', 'c.centroid')} DESC,
                                           c.cell_id) AS rn
        FROM v vv CROSS JOIN c{i} c
      ) WHERE rn = 1
    )""")
        if i < lloyd_iters:
            ctes.append(f"""c{i + 1} AS (
      SELECT cell_id, list(m ORDER BY pos) AS centroid FROM (
        SELECT a.cell_id, p.range AS pos,
               list_sum(list_sort(list(vv.v[p.range + 1]))) / count(*) AS m
        FROM a{i} a JOIN v vv ON a.vec_id = vv.vec_id CROSS JOIN range({dim}) p
        GROUP BY a.cell_id, p.range
      ) GROUP BY cell_id
    )""")
    return ctes


def _ivf_oracle(
    k: int, n_cells: int, n_probe: int, lloyd_iters: int, seed: int, dim: int
) -> str:
    """DuckDB SQL mirroring ivf_topk(hash_family='portable'): portable
    init hash + order-fixed centroid sums make every Lloyd iteration
    bit-reproducible, so the iterations unroll as chained CTEs."""
    cos = _ivf_cos
    ctes = _ivf_lloyd_ctes(n_cells, lloyd_iters, seed, dim)
    last = lloyd_iters
    ctes.append(f"""probes AS (
      SELECT query_id, cell_id FROM (
        SELECT q.vec_id AS query_id, c.cell_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos('q.v', 'c.centroid')} DESC,
                                           c.cell_id) AS rn
        FROM v q CROSS JOIN c{last} c WHERE q.vec_id < 20
      ) WHERE rn <= {n_probe}
    )""")
    ctes.append(f"""scored AS (
      SELECT p.query_id, m.vec_id AS neighbor_id,
             (list_sum(list_transform(list_zip(q.v, e.embedding),
                       x -> x[1] * CAST(x[2] AS DOUBLE))) /
              (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
               sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS cosine
      FROM probes p
      JOIN a{last} m ON p.cell_id = m.cell_id
      JOIN v q ON p.query_id = q.vec_id
      JOIN embeddings e ON m.vec_id = e.vec_id
      WHERE m.vec_id <> p.query_id
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query(
    "ann_ivf_topk",
    oracle=_ivf_oracle(k=5, n_cells=8, n_probe=3, lloyd_iters=2, seed=42, dim=64),
    tags=("similarity-ivf",),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (seeded coarse quantizer + Lloyd refinement;
    recall vs brute force checked in tests/test_similarity.py). The
    portable variant pins the init hash and the centroid summation
    order, so both Lloyd iterations — and the final ranks — value-hash-
    match the unrolled DuckDB oracle."""
    from hpc_hd_textreuse_etl_spark.operators.similarity import ivf_topk

    emb = spark.table("embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 20), emb, "vec_id", "embedding",
        k=5, n_cells=8, n_probe=3, hash_family="portable",
    )


def _semantic_dedup_oracle(
    threshold: float, n_cells: int, lloyd_iters: int, seed: int, dim: int
) -> str:
    """DuckDB SQL mirroring semantic_dedup(hash_family='portable'): the
    shared Lloyd-unroll prefix (same quantizer as the IVF-ANN oracle),
    within-cell pairs above threshold, recursive-CTE transitive closure
    for the duplicate groups (the connected_components_labels pattern),
    and the SemDeDup keeper rank (lowest centroid-cosine, id tiebreak)."""
    cos = _ivf_cos
    last = lloyd_iters
    ctes = _ivf_lloyd_ctes(n_cells, lloyd_iters, seed, dim)
    ctes.append(f"""sim AS (
      SELECT a.vec_id, a.cell_id, {cos('vv.v', 'c.centroid')} AS centroid_sim
      FROM a{last} a
      JOIN v vv ON vv.vec_id = a.vec_id
      JOIN c{last} c ON c.cell_id = a.cell_id
    )""")
    ctes.append(f"""p AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b
      FROM a{last} x
      JOIN a{last} y ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
      JOIN v vx ON vx.vec_id = x.vec_id
      JOIN v vy ON vy.vec_id = y.vec_id
      WHERE {cos('vx.v', 'vy.v')} >= {threshold}
    )""")
    ctes.append("""e AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b AS src, id_a AS dst FROM p
    )""")
    ctes.append("""reach AS (
      SELECT src AS node, src AS x FROM e
      UNION
      SELECT r.node, e.dst AS x FROM reach r JOIN e ON e.src = r.x
    )""")
    ctes.append("""comp AS (
      SELECT s.vec_id AS node, COALESCE(MIN(r.x), s.vec_id) AS component
      FROM sim s LEFT JOIN reach r ON r.node = s.vec_id
      GROUP BY s.vec_id
    )""")
    ctes.append("""ranked AS (
      SELECT s.vec_id, s.cell_id, s.centroid_sim, c.component,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY s.centroid_sim ASC, s.vec_id ASC) AS rk
      FROM sim s JOIN comp c ON c.node = s.vec_id
    )""")
    ctes.append("""keep AS (
      SELECT component, vec_id AS canonical_id FROM ranked WHERE rk = 1
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH RECURSIVE {joined}
    SELECT r.vec_id, CAST(r.cell_id AS INT) AS cell_id, r.centroid_sim,
           k.canonical_id, (r.vec_id = k.canonical_id) AS is_canonical
    FROM ranked r JOIN keep k ON k.component = r.component
    """


@query(
    "semantic_dedup_verdicts",
    oracle=_semantic_dedup_oracle(
        threshold=0.32, n_cells=8, lloyd_iters=2, seed=42, dim=64
    ),
    tags=("semantic-dedup", "beyond-parity", "iterative"),
)
def semantic_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup verdicts over the embeddings table
    (operators/dedup.py semantic_dedup): k-means cells as dedup blocks,
    within-cell cosine >= 0.32 pairs (the synthetic embeddings top out
    near 0.47, so this threshold yields ~70 non-trivial groups), keep
    the member FARTHEST from its centroid. Fully value-hash-gated —
    quantizer, pairs, transitive groups, centroid_sim doubles, and
    keeper choice all bit-match the unrolled DuckDB oracle."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        spark.table("embeddings"), "vec_id", "embedding",
        threshold=0.32, n_cells=8, lloyd_iters=2, seed=42,
        hash_family="portable",
    )


def _lsh_ann_oracle(
    k: int, num_planes: int, num_tables: int, dim: int, seed: int
) -> str:
    """DuckDB SQL mirroring lsh_topk(plane_source='literal'): the same
    seeded hyperplane coefficients are inlined into both plans, so
    buckets — and therefore candidates and ranks — agree exactly."""
    from hpc_hd_textreuse_etl_spark.functions.hashing import hyperplane_coeffs

    planes = hyperplane_coeffs(num_tables, num_planes, dim, seed)

    def dot(coeffs: list[float]) -> str:
        lits = ", ".join(f"{c:.17e}" for c in coeffs)
        return (
            f"list_sum(list_transform(list_zip(embedding, [{lits}]), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2]))"
        )

    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN {dot(planes[t][p])} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(num_planes)
        )

    branches = "\n      UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS tbl, {bucket(t)} AS bucket FROM embeddings"
        for t in range(num_tables)
    )
    return f"""
    WITH b AS (
      {branches}
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
      WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
      FROM cand JOIN embeddings q ON cand.query_id = q.vec_id
                JOIN embeddings c ON cand.neighbor_id = c.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Deterministic sampling (operators/sampling.py) — the gate hash is the
# portable md5 family, so the *exact* sampled row set (not just its size)
# is value-hash-checked against DuckDB. Reference behavior: key-stable
# hash gating as used in large-scale corpus curation; see the module
# docstring for the invariants (partition-independence, cross-table
# consistency, nested splits).
# ---------------------------------------------------------------------------


def _duck_gate(salt: str, key_expr: str) -> str:
    """DuckDB expression for sample_hash((key,), salt): md5 of
    '<salt>|<key>' taken as a 60-bit non-negative bigint."""
    return _DUCK_H.format(x=f"'{salt}|' || CAST({key_expr} AS VARCHAR)")


@query(
    "hash_sampled_orders",
    oracle=None,  # set below once sampling's threshold() is importable
    tags=("sampling-hash",),
)
def hash_sampled_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-stable 10% sample of orders: row kept iff
    H('v1|' || o_orderkey) < 0.1 * 2^60. The full surviving row set is
    value-hash-checked — a partition-layout dependence or an off-by-one
    in the threshold would flip membership and fail the gate."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import hash_sample

    orders = spark.table("orders")
    return hash_sample(orders, ["o_orderkey"], 0.1, salt="v1").select(
        "o_orderkey", "o_custkey"
    )


@query(
    "train_test_split_orders",
    oracle=None,  # set below
    tags=("sampling-split",),
)
def train_test_split_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order tagged train/test by complementary hash bands
    (test fraction 0.2). Emitting ALL rows with their tag makes the
    oracle check disjointness + exhaustiveness by construction: each key
    appears exactly once, with the same side in both engines."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import train_test_split

    orders = spark.table("orders")
    return train_test_split(orders, ["o_orderkey"], test_fraction=0.2).select(
        "o_orderkey", "split"
    )


@query(
    "stratified_sample_counts",
    oracle=None,  # set below
    tags=("sampling-stratified",),
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling rates (downsample 'O'/'F', keep 'P' whole)
    resolved as a literal CASE chain over thresholds; counts per stratum
    are checked, which pins both the gate and the CASE resolution."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import (
        stratified_hash_sample,
    )

    orders = spark.table("orders")
    sampled = stratified_hash_sample(
        orders,
        "o_orderstatus",
        {"F": 0.2, "O": 0.05, "P": 1.0},
        ["o_orderkey"],
    )
    return sampled.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled")
    )


@query(
    "per_key_quota_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS quota_rank FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tags=("sampling-quota",),
)
def per_key_quota_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer quota: keep each customer's 3 earliest orders
    (orderkey tiebreaker makes the within-group order total, so the kept
    set is deterministic under any partitioning)."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import per_key_quota

    orders = spark.table("orders")
    return per_key_quota(
        orders,
        ["o_custkey"],
        3,
        order_by=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    ).select("o_custkey", "o_orderkey", "quota_rank")


def _install_sampling_oracles() -> None:
    """Fill in the sampling oracles with thresholds computed by the SAME
    driver-side function the Spark plans use (operators/sampling.py), so
    the two engines cannot drift on int(fraction * 2^60)."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import threshold

    QUERIES["hash_sampled_orders"].oracle = f"""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE {_duck_gate('v1', 'o_orderkey')} < {threshold(0.1)}
    """
    QUERIES["train_test_split_orders"].oracle = f"""
    SELECT o_orderkey,
           CASE WHEN {_duck_gate('split-v1', 'o_orderkey')} < {threshold(0.2)}
                THEN 'test' ELSE 'train' END AS split
    FROM orders
    """
    QUERIES["stratified_sample_counts"].oracle = f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_sampled
    FROM orders
    WHERE {_duck_gate('strata-v1', 'o_orderkey')} <
          CASE o_orderstatus
            WHEN 'F' THEN {threshold(0.2)}
            WHEN 'O' THEN {threshold(0.05)}
            WHEN 'P' THEN {threshold(1.0)}
            ELSE {threshold(0.0)}
          END
    GROUP BY o_orderstatus
    """


_install_sampling_oracles()


def _curated_corpus_oracle() -> str:
    """DuckDB oracle recomputing the ENTIRE curation chain
    (plans/curation.py): quality gate → exact dedup (min-id per sha256)
    → portable-minhash pairs → recursive-CTE component closure →
    canonical keeper → trigram decontamination vs the benchmark →
    hash-gate split."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import threshold

    stop = "('the','a','of','and','in','to','is')"
    pairs_sql = _minhash_oracle(
        num_hashes=32, shingle=5, num_bands=8, threshold=0.7, table="e"
    )
    return f"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
    ), q AS (
      SELECT doc_id, text FROM corpus
      WHERE len({_TOK}) >= 20
        AND len(list_filter({_TOK}, t -> t IN {stop}))::DOUBLE
              / len({_TOK}) >= 0.05
    ), e AS (
      SELECT doc_id, text FROM q
      WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY sha256(text))
    ), nd_pairs AS (
      SELECT id_a, id_b FROM ({pairs_sql})
    ), sym AS (
      SELECT id_a AS src, id_b AS dst FROM nd_pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM nd_pairs
    ), reach AS (
      SELECT src AS node, src AS x FROM sym
      UNION
      SELECT r.node, s.dst AS x FROM reach r JOIN sym s ON s.src = r.x
    ), canon AS (
      SELECT e.doc_id,
             COALESCE(MIN(r.x), CAST(e.doc_id AS BIGINT)) AS canonical
      FROM e LEFT JOIN reach r ON r.node = e.doc_id
      GROUP BY e.doc_id
    ), nd AS (
      SELECT e.doc_id, e.text FROM e
      JOIN canon c ON e.doc_id = c.doc_id AND c.canonical = e.doc_id
    ), bg AS (
      SELECT DISTINCT {_DUCK_H.format(x='g')} AS g FROM (
        SELECT unnest(list_distinct({_TRIGRAMS})) AS g
        FROM documents WHERE doc_id % 50 = 0
      )
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, {_DUCK_H.format(x='g')} AS g FROM (
          SELECT doc_id, unnest(list_distinct({_TRIGRAMS})) AS g FROM nd
        )
      ) cg JOIN bg ON cg.g = bg.g
    ), clean AS MATERIALIZED (
      -- MATERIALIZED: the DSIR tail references clean from four CTEs;
      -- inlined, DuckDB re-evaluates the whole minhash/closure chain
      -- per reference (measured 518 s vs ~1 s at sf0.001)
      SELECT doc_id, text FROM nd
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT doc_id,
           CASE WHEN ('0x' || substr(md5('split-v1|' ||
                      CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     < {threshold(0.2)}
                THEN 'test' ELSE 'train' END AS split
    FROM clean
    """


@query(
    "curated_corpus",
    oracle=_curated_corpus_oracle(),
    tags=("curation-pipeline", "dedup-resolution", "decontamination",
          "sampling-split", "text-quality"),
)
def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation pipeline (plans/curation.py) as one gated
    contract: quality gate, exact dedup, MinHash near-dup resolution,
    benchmark decontamination, deterministic train/test split — five
    operator families composed, and the DuckDB oracle recomputes every
    stage, so a drift anywhere in the chain fails the value-hash."""
    from hpc_hd_textreuse_etl_spark.plans.curation import CurationConfig, curate

    docs = spark.table("documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return curate(
        corpus, bench, cfg=CurationConfig(hash_family="portable")
    )


@query(
    "ann_lsh_topk",
    oracle=_lsh_ann_oracle(k=5, num_planes=4, num_tables=4, dim=64, seed=42),
    tags=("similarity-lsh",),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (the scale path; recall vs brute force
    checked in tests/test_similarity.py). Literal seeded planes — bucket
    assignment, candidates and final ranks all value-hash-checked against
    the DuckDB oracle."""
    from hpc_hd_textreuse_etl_spark.operators.similarity import lsh_topk

    emb = spark.table("embeddings")
    return lsh_topk(
        emb.filter(F.col("vec_id") < 20), emb, "vec_id", "embedding",
        k=5, num_planes=4, num_tables=4, plane_source="literal",
    )


# ---------------------------------------------------------------------------
# Round-3 wave 4: frequency/quantile sketches, PII scrubbing, CDC, splits
# ---------------------------------------------------------------------------


def _cms_oracle(
    col: str, table: str, width: int, depth: int, seed: int, topn: int
) -> str:
    """DuckDB SQL mirroring cms_sketch + cms_lookup over ``table.col``
    with the same inlined universal-family coefficients."""
    from hpc_hd_textreuse_etl_spark.functions.hashing import minhash_coeffs

    coeffs = minhash_coeffs(depth, seed=seed)
    probe = ", ".join(
        f"(({a} * hm + {b}) % {_P}) % {width} AS b{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    counters = "\n      UNION ALL ".join(
        f"SELECT {i} AS depth, b{i} AS bucket, COUNT(*) AS cms_count"
        f" FROM probes GROUP BY b{i}"
        for i in range(depth)
    )
    lookups = "\n      UNION ALL ".join(
        f"SELECT item, {i} AS depth, b{i} AS bucket FROM cand_probes"
        for i in range(depth)
    )
    h = _DUCK_H.format(x=f"CAST({col} AS VARCHAR)")
    return f"""
    WITH h AS (
      SELECT {col} AS item, {h} % {_P} AS hm FROM {table}
    ), probes AS (
      SELECT item, {probe} FROM h
    ), counters AS (
      {counters}
    ), exact AS (
      SELECT item, COUNT(*) AS exact_count FROM h GROUP BY item
      ORDER BY exact_count DESC, item LIMIT {topn}
    ), cand_probes AS (
      SELECT DISTINCT p.item, b0{"".join(f", b{i}" for i in range(1, depth))}
      FROM probes p JOIN exact e USING (item)
    ), probe_rows AS (
      {lookups}
    )
    SELECT CAST(pr.item AS BIGINT) AS item,
           CAST(e.exact_count AS BIGINT) AS exact_count,
           CAST(MIN(c.cms_count) AS BIGINT) AS cms_estimate
    FROM probe_rows pr
    JOIN counters c USING (depth, bucket)
    JOIN exact e ON e.item = pr.item
    GROUP BY pr.item, e.exact_count
    """


@query(
    "cms_heavy_hitters",
    oracle=_cms_oracle("l_partkey", "lineitem", width=256, depth=4, seed=11, topn=20),
    tags=("sketch-cms", "portable-hash"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for the 20 hottest part keys,
    beside their exact counts. Width 256 over ~2000 distinct keys forces
    real collisions, so the min-over-depths estimator is actually
    exercised (not vacuously equal to the exact count). Counter grid,
    probes and estimates are all integer arithmetic on the portable
    family — the whole sketch is value-hash-gated."""
    from hpc_hd_textreuse_etl_spark.operators.sketches import cms_lookup, cms_sketch

    li = spark.table("lineitem")
    sketch = cms_sketch(
        li, "l_partkey", width=256, depth=4, seed=11, hash_family="portable"
    )
    cand = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("l_partkey").asc())
        .limit(20)
    )
    est = cms_lookup(sketch, cand.select("l_partkey"), "l_partkey",
                     width=256, depth=4, seed=11, hash_family="portable")
    return (
        cand.join(est, "l_partkey")
        .select(
            F.col("l_partkey").alias("item"),
            F.col("exact_count").cast("bigint").alias("exact_count"),
            F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        )
    )


@query(
    "quantile_sketch_prices",
    oracle=None,  # installed below (needs sampling.threshold)
    tags=("sketch-quantile", "sampling-hash"),
)
def quantile_sketch_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag price quantiles from the deterministic hash-gated
    sample sketch: the sampled row set, the rank arithmetic and the
    type-1 pick are all reproduced by the oracle — an engine-private
    approx_percentile could never sit under this gate."""
    from hpc_hd_textreuse_etl_spark.operators.sketches import (
        quantile_sketch,
        quantiles_from_sketch,
    )

    li = spark.table("lineitem")
    sk = quantile_sketch(
        li, ["l_returnflag"], "l_extendedprice",
        sample_key_cols=["l_orderkey", "l_linenumber"], fraction=0.2,
    )
    return quantiles_from_sketch(
        sk, ["l_returnflag"], "l_extendedprice",
        qs=(0.25, 0.5, 0.9, 0.99),
        tiebreak_cols=("l_orderkey", "l_linenumber"),
    )


@query(
    "pii_scrub_docs",
    oracle=r"""
    WITH synth AS (
      SELECT doc_id,
             'reach user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or https://site'
              || CAST(doc_id AS VARCHAR)
              || '.example.com/a?q=1 node 10.0.'
              || CAST(doc_id % 250 AS VARCHAR)
              || '.9 tel +1-555-0' || CAST(100 + doc_id % 100 AS VARCHAR)
              || ' ' || substr(text, 1, 40) AS t0
      FROM documents
    ), s1 AS (
      SELECT doc_id,
             CAST(length(regexp_extract_all(t0, 'https?://[^\s]+')) AS INT)
               AS url_count,
             regexp_replace(t0, 'https?://[^\s]+', '<URL>', 'g') AS t1
      FROM synth
    ), s2 AS (
      SELECT doc_id, url_count,
             CAST(length(regexp_extract_all(
               t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS email_count,
             regexp_replace(
               t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t2
      FROM s1
    ), s3 AS (
      SELECT doc_id, url_count, email_count,
             CAST(length(regexp_extract_all(
               t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT)
               AS ip_count,
             regexp_replace(
               t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t3
      FROM s2
    )
    SELECT doc_id, url_count, email_count, ip_count,
           CAST(length(regexp_extract_all(t3, '\+\d[\d\- ]{6,}\d')) AS INT)
             AS phone_count,
           regexp_replace(t3, '\+\d[\d\- ]{6,}\d', '<PHONE>', 'g') AS scrubbed
    FROM s3
    """,
    tags=("text-pii",),
)
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-wise PII redaction (URL -> email -> IP -> phone) with
    per-stage match counts. The synthetic corpus contains no PII, so the
    query deterministically splices one span of each category (built
    from doc_id) in front of each document — exercising every pattern on
    every row — then scrubs. Patterns live in the Java-regex / RE2
    common subset; counts and the final scrubbed text are value-hashed.
    """
    from hpc_hd_textreuse_etl_spark.functions.text import scrub_pii

    docs = spark.table("documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.lit("reach user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or https://site"),
            F.col("doc_id").cast("string"),
            F.lit(".example.com/a?q=1 node 10.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(".9 tel +1-555-0"),
            (F.col("doc_id") % 100 + 100).cast("string"),
            F.lit(" "), F.substring("text", 1, 40),
        ).alias("t0"),
    )
    cols = scrub_pii("t0")
    return synth.select(
        "doc_id",
        cols["url_count"].cast("int").alias("url_count"),
        cols["email_count"].cast("int").alias("email_count"),
        cols["ip_count"].cast("int").alias("ip_count"),
        cols["phone_count"].cast("int").alias("phone_count"),
        cols["scrubbed"].alias("scrubbed"),
    )


@query(
    "cdc_latest_events",
    oracle="""
    SELECT user_id, event_type, event_id, value FROM (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND NOT COALESCE(value > 9.0, FALSE)
    """,
    tags=("cdc", "W2"),
    bench=True,
)
def cdc_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction of the event stream: current state per
    (user, event_type) under the total order (ts, event_id), with
    value > 9 on the *winning* row acting as a tombstone — the key
    vanishes only if its latest change is a delete, the semantic that
    distinguishes upsert folding from plain dedup. (merge_upsert's
    storage path — atomic snapshot swap — is pytest-verified; this
    gates the relational core.)"""
    from hpc_hd_textreuse_etl_spark.operators.cdc import latest_by_key

    ev = spark.table("events").withColumn("__del", F.col("value") > 9.0)
    return latest_by_key(
        ev, ["user_id", "event_type"], ["ts", "event_id"], delete_col="__del"
    ).select("user_id", "event_type", "event_id", "value")


@query(
    "leakage_safe_split_docs",
    oracle=None,  # installed below (needs sampling.threshold)
    tags=("sampling-split", "dedup-resolution"),
)
def leakage_safe_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/test split: near-duplicate documents (portable
    MinHash pairs, transitively closed) always land on the same side —
    the split that doesn't leak test data through paraphrases. The
    oracle recomputes pairs, closure, representative AND band per
    document, so group-atomicity itself is value-hash-gated."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import minhash_near_duplicates
    from hpc_hd_textreuse_etl_spark.operators.sampling import leakage_safe_split

    docs = spark.table("documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", num_hashes=32, num_bands=8, threshold=0.7,
        hash_family="portable",
    )
    return leakage_safe_split(
        docs.select("doc_id"), "doc_id", pairs, test_fraction=0.25
    ).select("doc_id", "canonical_id", "split")


def _install_wave4_oracles() -> None:
    from hpc_hd_textreuse_etl_spark.operators.sampling import threshold

    QUERIES["quantile_sketch_prices"].oracle = f"""
    WITH s AS (
      SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber
      FROM lineitem
      WHERE {_DUCK_H.format(
          x="'qsk-v1|' || CAST(l_orderkey AS VARCHAR)"
            " || '|' || CAST(l_linenumber AS VARCHAR)")} < {threshold(0.2)}
    ), r AS (
      SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM s
    )
    SELECT l_returnflag, CAST(q AS DOUBLE) AS quantile, l_extendedprice AS value
    FROM r JOIN (VALUES (0.25), (0.5), (0.9), (0.99)) qs(q)
      ON rn = GREATEST(1, CAST(CEIL(q * n) AS BIGINT))
    """

    QUERIES["leakage_safe_split_docs"].oracle = f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM (
        {_minhash_oracle(num_hashes=32, shingle=5, num_bands=8, threshold=0.7)}
      )
    ), e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach AS (
      SELECT src AS node, src AS x FROM e
      UNION
      SELECT r.node, e.dst AS x FROM reach r JOIN e ON e.src = r.x
    ), canon AS (
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             COALESCE(MIN(r.x), CAST(d.doc_id AS BIGINT)) AS canonical_id
      FROM documents d LEFT JOIN reach r ON r.node = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT doc_id, canonical_id,
           CASE WHEN {_DUCK_H.format(
               x="'lsplit-v1|' || CAST(canonical_id AS VARCHAR)")}
                < {threshold(0.25)}
                THEN 'test' ELSE 'train' END AS split
    FROM canon
    """


_install_wave4_oracles()


# ---------------------------------------------------------------------------
# Round-3 wave 5: grouping sets (ROLLUP / CUBE), UNPIVOT, fuzzy joins
# ---------------------------------------------------------------------------


@query(
    "lineitem_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    tags=("A-rollup", "grouping-sets"),
    bench=True,
)
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: leaf groups, per-flag subtotals and the
    grand total, disambiguated by GROUPING flags (a NULL key value vs a
    rolled-up level look the same without them).

    Spark expands grouping sets BEFORE the aggregate, so a direct
    ``rollup`` pushes every lineitem row through the hash aggregate
    once per level (Expand ×3 of the scan). Pre-aggregating to the
    finest (flag, status) level first and rolling up the handful of
    leaf rows does the same arithmetic — decimal partial sums re-sum
    exactly, counts sum — with the full-data pass hashing each row
    once. GROUPING flags are computed on the tiny second aggregate,
    where the rollup expansion is free."""
    li = spark.table("lineitem")
    leaf = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(30,4)")).alias("__qty"),
        F.count(F.lit(1)).alias("__n"),
    )
    return leaf.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.sum("__qty").cast("double").alias("sum_qty"),
        F.sum("__n").cast("bigint").alias("n"),
    ).select("l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n")


@query(
    "order_status_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
             AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    tags=("A-cube", "grouping-sets"),
)
def order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cross-classified totals: CUBE emits every subset of the two
    dimensions (leaves, both one-dim margins, grand total) — the OLAP
    dashboard query. Same single-aggregate expansion as ROLLUP."""
    orders = spark.table("orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        dsum(F.col("o_totalprice"), alias="sum_price"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_priority",
        "sum_price", "n",
    )


@query(
    "part_measures_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value
    FROM part
    """,
    tags=("unpivot",),
)
def part_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long melt: one (key, measure, value) row per measure
    column — the inverse of the pivot query (returnflag_pivot). Spark's
    native unpivot is a zero-shuffle Expand node (row count ×2, no
    exchange); the oracle spells the same thing as UNION ALL."""
    part = spark.table("part")
    return part.withColumn(
        "p_size_d", F.col("p_size").cast("double")
    ).unpivot(
        ["p_partkey"],
        ["p_size_d", "p_retailprice"],
        "measure",
        "value",
    ).select(
        "p_partkey",
        F.when(F.col("measure") == "p_size_d", "p_size")
        .otherwise(F.col("measure"))
        .alias("measure"),
        "value",
    )


@query(
    "fuzzy_name_pairs",
    oracle="""
    WITH names AS (
      SELECT p_name, MIN(p_partkey) AS pid FROM part GROUP BY p_name
    )
    SELECT a.pid AS id_a, b.pid AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_distance
    FROM names a JOIN names b
      ON b.pid > a.pid
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
     AND levenshtein(a.p_name, b.p_name) <= 2
    """,
    tags=("fuzzy-join",),
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over short strings: distinct part names within
    2 edits of each other (keyed by their smallest partkey). The
    operator's sound length-band blocking (bucketed equi-join, no range
    join, no cartesian) must reproduce DuckDB's brute-force all-pairs
    answer exactly — blocking recall IS the thing under test."""
    from hpc_hd_textreuse_etl_spark.operators.fuzzy import fuzzy_self_join

    names = (
        spark.table("part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("pid"))
    )
    return fuzzy_self_join(names, "pid", "p_name", max_dist=2).select(
        "id_a", "id_b", F.col("edit_distance").cast("int").alias("edit_distance")
    )


# ---------------------------------------------------------------------------
# Round-3 wave 6: window zoo, multiset ops, gap-fill, incremental aggs
# ---------------------------------------------------------------------------


@query(
    "window_function_zoo",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           lag(o_totalprice, 1, -1.0) OVER w AS prev_price,
           lead(o_totalprice, 1, -1.0) OVER w AS next_price,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER
             (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_price,
           nth_value(o_totalprice, 3) OVER
             (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS third_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("W-zoo",),
)
def window_function_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking/navigation window surface in one gated query:
    ntile, percent_rank, cume_dist, lag/lead with defaults, first/last/
    nth_value with explicit whole-partition frames (the default
    running frame makes last_value the current row — a classic
    cross-engine trap this query pins instead of dodging). The
    (date, key) order is total, so every value is deterministic."""
    w = Window.partitionBy("o_orderstatus").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders = spark.table("orders")
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("o_totalprice", 1, -1.0).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1, -1.0).over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(wf).alias("last_price"),
        F.nth_value("o_totalprice", 3).over(wf).alias("third_price"),
    )


@query(
    "custkey_set_ops",
    oracle="""
    SELECT 'both_all' AS tag, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'o_minus_f_all' AS tag, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'both_distinct' AS tag, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
    tags=("U-setops",),
)
def custkey_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset algebra beyond UNION: INTERSECT ALL / EXCEPT ALL keep
    bag multiplicities (how many 'O' orders survive pairing off against
    'F' orders per customer), INTERSECT collapses to the distinct
    overlap. All three tagged into one value-hashed result."""
    orders = spark.table("orders")
    o = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        o.intersectAll(f).select(F.lit("both_all").alias("tag"), "o_custkey")
        .unionByName(
            o.exceptAll(f).select(F.lit("o_minus_f_all").alias("tag"), "o_custkey")
        )
        .unionByName(
            o.intersect(f).select(F.lit("both_distinct").alias("tag"), "o_custkey")
        )
    )


@query(
    "events_hourly_gapfill",
    oracle="""
    WITH agged AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), span AS (
      SELECT min(date_trunc('hour', ts)) AS lo, max(date_trunc('hour', ts)) AS hi
      FROM events
    ), buckets AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket
      FROM span
    ), grid AS (
      SELECT t.event_type, b.bucket
      FROM buckets b CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    )
    SELECT g.event_type, epoch_us(g.bucket) AS bucket_us,
           COALESCE(a.n_events, 0) AS n_events
    FROM grid g LEFT JOIN agged a
      ON a.event_type = g.event_type AND a.bucket = g.bucket
    """,
    tags=("temporal-gapfill",),
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type hourly event counts over the global span, silent
    hours emitted as explicit zeros — the time_bucket_gapfill rollup a
    monitoring/feature pipeline needs (a missing row and a zero row are
    different facts). Data is aggregated in one shuffled pass; the
    dense grid is dims-only (span × types) and broadcast-joined on.
    The bucket is emitted as epoch-µs (not a raw timestamp): collected
    timestamps render in the PROCESS timezone, so a raw column would
    hash-mismatch the UTC-naive oracle in any non-UTC driver env."""
    from hpc_hd_textreuse_etl_spark.operators.temporal import gapfill_buckets

    ev = spark.table("events").withColumn(
        "bucket", F.date_trunc("hour", F.col("ts"))
    )
    return gapfill_buckets(
        ev,
        "bucket",
        ["event_type"],
        {"n_events": F.count(F.lit(1)).cast("bigint")},
        step="interval 1 hour",
        fill={"n_events": 0},
    ).select(
        "event_type",
        F.unix_micros("bucket").alias("bucket_us"),
        "n_events",
    )


@query(
    "incremental_order_aggs",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
             AS sum_price,
           epoch_us(MIN(o_orderdate)) AS first_order_us,
           epoch_us(MAX(o_orderdate)) AS last_order_us
    FROM orders GROUP BY o_custkey
    """,
    tags=("incremental-agg",),
    bench=True,
)
def incremental_order_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: per-customer aggregates built as
    snapshot(pre-1996 history) + delta(1996-on) via the partial-state
    merge algebra (operators/incremental.py) — and the oracle aggregates
    everything from scratch, so the query IS the invariant that
    incremental maintenance equals recomputation. Sums stay decimal
    through both stages; the cast to double happens once at the end.
    Min/max order times emit as epoch-µs (raw timestamps render in the
    process timezone at collect and break the gate in non-UTC envs)."""
    from hpc_hd_textreuse_etl_spark.operators.incremental import (
        aggregate_delta,
        incremental_aggregate,
    )

    orders = spark.table("orders")
    cut = F.lit("1996-01-01").cast("date")
    specs = {
        "n_orders": ("count", None),
        "sum_price": ("sum", F.col("o_totalprice").cast("decimal(30,4)")),
        "first_order": ("min", "o_orderdate"),
        "last_order": ("max", "o_orderdate"),
    }
    snapshot = aggregate_delta(
        orders.where(F.col("o_orderdate") < cut), ["o_custkey"], specs
    )
    merged = incremental_aggregate(
        snapshot, orders.where(F.col("o_orderdate") >= cut), ["o_custkey"], specs
    )
    return merged.select(
        "o_custkey",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("sum_price").cast("double").alias("sum_price"),
        F.unix_micros("first_order").alias("first_order_us"),
        F.unix_micros("last_order").alias("last_order_us"),
    )


def _pagerank_oracle(
    edges_sql: str, iterations: int, scale: int, num: int, den: int
) -> str:
    """DuckDB SQL mirroring pagerank_scaled: the fixed power iteration
    unrolled as chained CTEs, every step integer floor division."""
    ctes = [
        f"e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "outdeg AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, {scale} // n AS rank_scaled FROM nodes, nn)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""r{k} AS (
      SELECT n.node,
             ({scale} * {den - num}) // ({den} * nn.n)
               + COALESCE(SUM((r.rank_scaled * {num}) // ({den} * d.outdeg)), 0)
               AS rank_scaled
      FROM nodes n
      CROSS JOIN nn
      LEFT JOIN e ON e.dst = n.node
      LEFT JOIN r{k - 1} r ON r.node = e.src
      LEFT JOIN outdeg d ON d.node = e.src
      GROUP BY n.node, nn.n
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, CAST(rank_scaled AS BIGINT) AS rank_scaled FROM r{iterations}"
    )


@query(
    "pagerank_supplier_parts",
    oracle=_pagerank_oracle(
        edges_sql="""
        SELECT CAST(l_suppkey AS BIGINT) AS src,
               CAST(l_partkey + 1000000 AS BIGINT) AS dst
        FROM lineitem
        """,
        iterations=3, scale=1_000_000_000_000, num=85, den=100,
    ),
    tags=("graph-pagerank", "iterative"),
)
def pagerank_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three power iterations of integer-lattice PageRank over the
    supplier→part supply graph (part ids offset to disjoin the key
    spaces). An ITERATIVE algorithm under the full value-hash gate:
    floor-division arithmetic makes every rank a deterministic integer,
    so the oracle unrolls the same three iterations as chained CTEs and
    must agree bit-for-bit — no rounding tolerance anywhere."""
    from hpc_hd_textreuse_etl_spark.operators.graph import pagerank_scaled

    li = spark.table("lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") + 1_000_000).cast("long").alias("dst"),
    )
    return pagerank_scaled(edges, iterations=3).select(
        "node", F.col("rank_scaled").cast("bigint").alias("rank_scaled")
    )


# ---------------------------------------------------------------------------
# Interval overlap join (binned equi-join range join — operators/temporal.py)
# ---------------------------------------------------------------------------


@query(
    "interval_overlap_pairs",
    oracle="""
    WITH iv AS (
      SELECT user_id, CAST(event_id AS BIGINT) AS event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) + 1 AS e
      FROM events
    )
    SELECT a.user_id AS user_id,
           a.event_id AS event_id_l,
           b.event_id AS event_id_r,
           GREATEST(a.s, b.s) AS overlap_start,
           LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap_us
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id
     AND a.s < b.e AND b.s < a.e
     AND a.event_id < b.event_id
    """,
    tags=("interval-join", "range-join"),
)
def interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs of same-user event intervals that overlap in time, via
    the binned-equi-join range join (operators/temporal.py
    interval_join). The oracle is the naive θ-join DuckDB can afford at
    sf0.01 — the whole point is that the Spark side never plans one:
    candidates come from a hash-joinable (user, bin) key and are emitted
    exactly once via the anchor-bin rule, then re-verified on the exact
    integers. Same operator family as the reference's piece-overlap
    reasoning (defrag windows), generalized to arbitrary intervals."""
    from hpc_hd_textreuse_etl_spark.operators.temporal import interval_join

    iv = spark.table("events").select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * 1_000_000).cast("long")
            + F.lit(1)
        ).alias("e"),
    )
    pairs = interval_join(
        iv,
        iv,
        "s",
        "e",
        "s",
        "e",
        by=["user_id"],
        bin_width=60_000_000,  # 60 s bins ≈ median interval length
        suffixes=("_l", "_r"),
    )
    s_l, s_r = F.col("s_l"), F.col("s_r")
    e_l, e_r = F.col("e_l"), F.col("e_r")
    return pairs.filter(F.col("event_id_l") < F.col("event_id_r")).select(
        "user_id",
        "event_id_l",
        "event_id_r",
        F.greatest(s_l, s_r).alias("overlap_start"),
        (F.least(e_l, e_r) - F.greatest(s_l, s_r)).alias("overlap_us"),
    )


@query(
    "triangle_counts_supplier",
    oracle="""
    WITH und AS (
      SELECT DISTINCT
             LEAST(CAST(a.l_suppkey AS BIGINT), CAST(b.l_suppkey AS BIGINT)) AS x,
             GREATEST(CAST(a.l_suppkey AS BIGINT), CAST(b.l_suppkey AS BIGINT)) AS y
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ), tri AS (
      SELECT e1.x AS u, e1.y AS v, e2.y AS w
      FROM und e1
      JOIN und e2 ON e2.x = e1.x AND e2.y > e1.y
      JOIN und e3 ON e3.x = e1.y AND e3.y = e2.y
    ), hits AS (
      SELECT u AS node FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri
    ), nodes AS (
      SELECT DISTINCT x AS node FROM und
      UNION SELECT DISTINCT y FROM und
    )
    SELECT n.node, CAST(COALESCE(c.triangles, 0) AS BIGINT) AS triangles
    FROM nodes n
    LEFT JOIN (SELECT node, count(*) AS triangles FROM hits GROUP BY node) c
      ON c.node = n.node
    """,
    tags=("graph-triangles",),
)
def triangle_counts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts over the co-supply graph (two
    suppliers adjacent iff they supply the same order). The Spark side
    runs the degree-ordered-orientation algorithm (O(m^1.5) wedges,
    skew-proof — operators/graph.py triangle_count); the oracle
    brute-forces the id-ordered triple join, which is affordable at
    sf0.01 and provably enumerates the same triangle set."""
    from hpc_hd_textreuse_etl_spark.operators.graph import triangle_count

    li = spark.table("lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").cast("long").alias("src"),
            F.col("b.l_suppkey").cast("long").alias("dst"),
        )
        .distinct()
    )
    return triangle_count(pairs)


@query(
    "scd2_customer_status",
    oracle="""
    WITH ch AS (
      SELECT CAST(o_custkey AS BIGINT) AS custkey,
             o_orderstatus AS status,
             epoch_us(o_orderdate) AS t,
             CAST(o_orderkey AS BIGINT) AS oid
      FROM orders
    ), marked AS (
      SELECT *, lag(status) OVER (PARTITION BY custkey ORDER BY t, oid) AS prev
      FROM ch
    ), opens AS (
      SELECT custkey, status, t, oid
      FROM marked WHERE prev IS NULL OR status <> prev
    )
    SELECT custkey, status,
           t AS valid_from,
           lead(t) OVER (PARTITION BY custkey ORDER BY t, oid) AS valid_to,
           (lead(t) OVER (PARTITION BY custkey ORDER BY t, oid) IS NULL)
             AS is_current
    FROM opens
    """,
    tags=("scd2", "cdc"),
)
def scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the per-customer
    order-status change stream: run-length-collapsed states with
    half-open [valid_from, valid_to) spans and a current flag
    (operators/cdc.py scd2_history — the history-keeping twin of
    latest_by_key). Single exchange+sort per key reused by the
    lag-dedup and the lead."""
    from hpc_hd_textreuse_etl_spark.operators.cdc import scd2_history

    ch = spark.table("orders").select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.unix_micros(F.col("o_orderdate")).alias("t"),
        F.col("o_orderkey").cast("long").alias("oid"),
    )
    return scd2_history(
        ch,
        key_cols=["custkey"],
        ts_col="t",
        attr_cols=["status"],
        order_cols=["t", "oid"],
    ).select(
        "custkey",
        "status",
        "valid_from",
        "valid_to",
        "is_current",
    )


@query(
    "hll_user_registers",
    oracle="""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      FROM events
    ), r AS (
      SELECT event_type, hh & 511 AS register,
             CASE WHEN (hh >> 9) = 0 THEN 52
                  ELSE 52 - length(printf('%b', hh >> 9)) END AS rho
      FROM h
    )
    SELECT event_type, register, CAST(max(rho) AS BIGINT) AS max_rho
    FROM r GROUP BY event_type, register
    """,
    tags=("sketch-hll",),
)
def hll_user_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HyperLogLog register tables (p=9) over user ids on
    the portable hash family — every register an exact integer both
    engines recompute, so the HLL sketch CONTENT sits under the full
    value-hash gate (operators/sketches.py hll_registers; Spark's own
    HLL++ register layout is engine-private and could only ever get
    rows-only). The float estimator runs downstream of the gated
    registers (accuracy pytest-checked in test_sketches)."""
    from hpc_hd_textreuse_etl_spark.operators.sketches import hll_registers

    return hll_registers(
        spark.table("events"), "user_id", keys=["event_type"], p=9
    )


def _register_bloom_probe_query() -> None:
    from hpc_hd_textreuse_etl_spark.functions.hashing import minhash_coeffs

    coeff_values = ", ".join(
        f"({a}, {b})" for a, b in minhash_coeffs(5, seed=97)
    )

    @query(
        "bloom_supplier_probe",
        oracle=f"""
        WITH coeffs(a, b) AS (VALUES {coeff_values}),
        members AS (
          SELECT DISTINCT CAST(CAST(s_suppkey AS BIGINT) AS VARCHAR) AS v
          FROM supplier WHERE s_acctbal >= 5000
        ),
        words AS (
          SELECT pos >> 5 AS word,
                 bit_or(1::BIGINT << CAST(pos & 31 AS INT)) AS bits
          FROM (
            SELECT ((c.a * (('0x' || substr(md5(m.v), 1, 15))::BIGINT
                             % 2147483647) + c.b) % 2147483647) % 65536 AS pos
            FROM members m CROSS JOIN coeffs c
          ) GROUP BY 1
        ),
        probes AS (
          SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS suppkey FROM lineitem
        ),
        ppos AS (
          SELECT p.suppkey,
                 ((c.a * (('0x' || substr(md5(CAST(p.suppkey AS VARCHAR)), 1, 15))::BIGINT
                           % 2147483647) + c.b) % 2147483647) % 65536 AS pos
          FROM probes p CROSS JOIN coeffs c
        )
        SELECT suppkey,
               (min((coalesce(w.bits, 0) >> CAST(pos & 31 AS INT)) & 1) = 1)
                 AS might_contain
        FROM ppos LEFT JOIN words w ON w.word = pos >> 5
        GROUP BY suppkey
        """,
        tags=("sketch-bloom",),
    )
    def bloom_supplier_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Bloom-filter semi-join prune, fully under the gate: the filter
        is built over rich suppliers (acctbal >= 5000), then every
        distinct lineitem supplier is probed — word/bit arithmetic on the
        portable universal family, so the oracle rebuilds the identical
        bitmap and probe verdicts (operators/sketches.py bloom_bits /
        bloom_contains). At 100 TB the ≤ m/32-row bitmap broadcasts
        against the fact table and prunes before the real join — no
        false negatives by construction (pytest-pinned)."""
        from hpc_hd_textreuse_etl_spark.operators.sketches import (
            bloom_bits,
            bloom_contains,
        )

        members = (
            spark.table("supplier")
            .filter(F.col("s_acctbal") >= 5000)
            .select(F.col("s_suppkey").cast("long").cast("string").alias("v"))
            .distinct()
        )
        bloom = bloom_bits(members, "v", m_bits=1 << 16, k=5, seed=97)
        probes = (
            spark.table("lineitem")
            .select(F.col("l_suppkey").cast("long").alias("suppkey"))
            .distinct()
        )
        return bloom_contains(
            probes, "suppkey", bloom, m_bits=1 << 16, k=5, seed=97
        )


_register_bloom_probe_query()


@query(
    "events_hopping_windows",
    oracle="""
    WITH g(i) AS (VALUES (CAST(0 AS BIGINT)), (1), (2), (3)),
    w AS (
      SELECT event_type,
             (epoch_us(ts) // 900000000) * 900000000
               - i * 900000000 AS window_start,
             epoch_us(ts) AS t,
             value
      FROM events CROSS JOIN g
    )
    SELECT event_type, window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
    FROM w
    WHERE t < window_start + 3600000000
    GROUP BY event_type, window_start
    """,
    tags=("window-hopping", "streaming-twin"),
)
def events_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) time-window aggregates — 1-hour windows every
    15 minutes — via Spark's native ``F.window`` slide support (the
    batch twin of the structured-streaming windowed counts in
    streaming/events.py; Spark expands each row into the
    width/slide = 4 windows it falls in, then one map-side-combined
    shuffle). The oracle enumerates the same 4 aligned candidate starts
    per event and filters to the containing ones — pinning Spark's
    epoch-aligned, start-inclusive/end-exclusive assignment semantics
    exactly, µs-integer window starts and decimal-exact sums."""
    ev = spark.table("events")
    agged = ev.groupBy(
        "event_type", F.window("ts", "1 hour", "15 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 6, "sum_value"),
    )
    return agged.select(
        "event_type",
        F.unix_micros(F.col("w.start")).alias("window_start"),
        "n_events",
        "sum_value",
    )


def _zorder_oracle_terms(cols: tuple[str, ...], bits: int) -> str:
    """Morton-interleave SQL mirroring operators/layout.py zorder_key
    term by term — generated, so the bit budget stays in ONE place."""
    d = len(cols)
    return " + ".join(
        f"(((CAST({c} AS BIGINT) >> {b}) & 1) << {b * d + j})"
        for b in range(bits)
        for j, c in enumerate(cols)
    )


#: 21 bits/dim (the zorder_key default, 42-bit keys for 2 dims): covers
#: key domains up to 2^21 ≈ 2M, so the contract holds at every ladder
#: rung (bits=12 overflowed already at sf0.1's 20k part keys).
_ZORDER_BITS = 21


@query(
    "zorder_lineitem_keys",
    oracle=f"""
    SELECT CAST(l_orderkey AS BIGINT) AS orderkey,
           CAST(l_linenumber AS BIGINT) AS linenumber,
           {_zorder_oracle_terms(('l_partkey', 'l_suppkey'), _ZORDER_BITS)} AS zkey
    FROM lineitem
    """,
    tags=("layout-zorder",),
)
def zorder_lineitem_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-order clustering keys over (l_partkey, l_suppkey) —
    the multi-dimensional data-layout key (operators/layout.py
    zorder_key): pure Catalyst shift-and-mask interleave, exact integer
    arithmetic the oracle reproduces term by term (generated from the
    same bit budget). Range-sorting files by this key gives tight
    parquet min/max stats on BOTH dimensions (pruning proof in
    test_layout)."""
    from hpc_hd_textreuse_etl_spark.operators.layout import zorder_key

    return spark.table("lineitem").select(
        F.col("l_orderkey").cast("long").alias("orderkey"),
        F.col("l_linenumber").cast("long").alias("linenumber"),
        zorder_key(["l_partkey", "l_suppkey"], bits=_ZORDER_BITS).alias("zkey"),
    )


@query(
    "bfs_hops_supply_graph",
    oracle="""
    WITH e AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
             CAST(l_partkey AS BIGINT) + 1000000 AS d
      FROM lineitem
    ), und AS (
      SELECT s, d FROM e UNION SELECT d, s FROM e
    ), d0(node) AS (VALUES (CAST(1 AS BIGINT))),
    r1 AS (
      SELECT DISTINCT d AS node FROM und JOIN d0 ON und.s = d0.node
      WHERE d NOT IN (SELECT node FROM d0)
    ),
    r2 AS (
      SELECT DISTINCT d AS node FROM und JOIN r1 ON und.s = r1.node
      WHERE d NOT IN (SELECT node FROM d0)
        AND d NOT IN (SELECT node FROM r1)
    ),
    r3 AS (
      SELECT DISTINCT d AS node FROM und JOIN r2 ON und.s = r2.node
      WHERE d NOT IN (SELECT node FROM d0)
        AND d NOT IN (SELECT node FROM r1)
        AND d NOT IN (SELECT node FROM r2)
    )
    SELECT node, CAST(0 AS BIGINT) AS hops FROM d0
    UNION ALL SELECT node, 1 FROM r1
    UNION ALL SELECT node, 2 FROM r2
    UNION ALL SELECT node, 3 FROM r3
    """,
    tags=("graph-bfs", "iterative"),
)
def bfs_hops_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS distances from supplier 1 over the undirected
    supplier↔part supply graph (part ids offset into a disjoint key
    space). An ITERATIVE traversal under the full value-hash gate —
    hop counts are exact integers, so the oracle unrolls the same three
    frontier expansions as chained CTEs (operators/graph.py bfs_hops;
    same gating strategy as pagerank_supplier_parts)."""
    from hpc_hd_textreuse_etl_spark.operators.graph import bfs_hops

    li = spark.table("lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") + 1_000_000).cast("long").alias("dst"),
    )
    sources = spark.createDataFrame([(1,)], "node long")
    return bfs_hops(edges, sources, max_hops=3)


@query(
    "token_cooccurrence",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, i AS pos, lst[i] AS tok
      FROM (SELECT doc_id, {_TOK} AS lst FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(lst))) AS i)
    ), pairs AS (
      SELECT least(a.tok, b.tok) AS x, greatest(a.tok, b.tok) AS y
      FROM pos a JOIN pos b
        ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
    ), nxy AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy
      FROM pairs GROUP BY x, y HAVING count(*) >= 5
    ), uni AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n FROM pos GROUP BY tok
    )
    SELECT nxy.x, nxy.y, nxy.n_xy, ux.n AS n_x, uy.n AS n_y
    FROM nxy JOIN uni ux ON ux.tok = nxy.x JOIN uni uy ON uy.tok = nxy.y
    """,
    tags=("corpus-stats", "pmi"),
)
def token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±3-window token co-occurrence with unigram counts — the exact
    integer core of PMI/collocation mining, computed with the
    shift-join plan (operators/corpus_stats.py cooccurrence_counts: one
    equi-join per offset, shuffle ∝ window × tokens — never the O(L²)
    per-document self-join the oracle can afford at sf0.01). The
    ln-based PMI value is float-layer, epsilon-tested in
    test_corpus_stats (libm-ulp reasoning, as with TF-IDF)."""
    from hpc_hd_textreuse_etl_spark.operators.corpus_stats import (
        cooccurrence_counts,
    )

    return cooccurrence_counts(
        spark.table("documents"), "doc_id", "text", window=3, min_count=5
    )


@query(
    "orders_30d_moving_window",
    oracle="""
    WITH o AS (
      SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
             CAST(o_custkey AS BIGINT) AS custkey,
             CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
             o_totalprice
      FROM orders
    )
    SELECT orderkey, custkey, d,
           CAST(count(*) OVER w AS BIGINT) AS n_orders_30d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER w AS DOUBLE)
             AS spend_30d
    FROM o
    WINDOW w AS (PARTITION BY custkey ORDER BY d
                 RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
    tags=("window-range-frame",),
)
def orders_30d_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day order count and spend per customer — a RANGE
    (value-based) window frame over integer order-day, the time-based
    moving aggregate ROWS frames can't express (peers on the same day
    are frame-inclusive on both engines by RANGE semantics). One
    exchange+sort per customer; decimal-exact windowed sum."""
    o = spark.table("orders").select(
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.col("o_custkey").cast("long").alias("custkey"),
        F.floor(F.unix_micros("o_orderdate") / F.lit(86_400_000_000)).alias("d"),
        "o_totalprice",
    )
    w = (
        Window.partitionBy("custkey")
        .orderBy("d")
        .rangeBetween(-29, Window.currentRow)
    )
    return o.select(
        "orderkey",
        "custkey",
        "d",
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .over(w)
        .cast("double")
        .alias("spend_30d"),
    )


@query(
    "totalprice_histogram",
    oracle="""
    SELECT LEAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT), 24) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(o_totalprice) AS DOUBLE) AS lo,
           CAST(max(o_totalprice) AS DOUBLE) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
    FROM orders GROUP BY bucket
    """,
    tags=("profiling-histogram",),
)
def totalprice_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (25k-wide buckets, top
    bucket clamped) — the one-pass numeric-profile primitive
    (data-quality dashboards, drift detection). The bucket index is the
    same IEEE double divide+floor in both engines (DuckDB has no
    width_bucket; an explicit formula also pins boundary semantics).
    Map-side combine reduces every partition to ≤ 25 bucket rows before
    the single tiny shuffle."""
    return (
        spark.table("orders")
        .groupBy(
            F.least(
                F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("long"),
                F.lit(24).cast("long"),
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
            dsum(F.col("o_totalprice"), 4, "total"),
        )
    )


# ---------------------------------------------------------------------------
# Document chunking + mixture sampling (operators/chunking.py,
# operators/sampling.py) — the context-window cut and the epoch-mixing
# steps of LLM training-data preparation.
# ---------------------------------------------------------------------------


@query(
    "doc_token_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS lst FROM documents),
         s AS (SELECT doc_id, lst,
                      unnest(generate_series(0, greatest(len(lst) - 9, 0), 16))
                        AS start
               FROM t WHERE len(lst) > 0)
    SELECT doc_id,
           CAST(start // 16 AS INT) AS chunk_id,
           CAST(least(start + 24, len(lst)) - start AS INT) AS n_tokens,
           array_to_string(
             list_slice(lst, start + 1, least(start + 24, len(lst))), ' ')
             AS chunk_text
    FROM s
    """,
    tags=("chunking",),
)
def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 24-token windows with 8-token overlap (stride 16) over
    every document. Both engines compute the same start set — including
    the containment rule that suppresses windows made entirely of
    already-seen tokens (upper bound n - overlap - 1) — and the exact
    window text, so chunk boundaries are value-hash-pinned. Zero
    shuffles on the Spark side: pure Generate inside the scan stage."""
    from hpc_hd_textreuse_etl_spark.operators.chunking import chunk_documents

    return chunk_documents(
        spark.table("documents"), "doc_id", "text",
        chunk_tokens=24, overlap_tokens=8,
    )


@query(
    "mixture_sampled_docs",
    oracle=None,  # set below (needs sampling.threshold at import time)
    tags=("sampling-mixture",),
)
def mixture_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture re-weighting with upsampling: src0 at rate 2.5 (every
    doc 2 or 3 copies), src1 at 0.25 (gate), src2 at 3.0 (exactly 3
    copies), every other source passed through at 1.0. The full
    (doc_id, source, copy) multiset is value-hashed, pinning the floor
    + fractional-gate decomposition and the 1-based copy indexing."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import mixture_sample

    docs = spark.table("documents").select("doc_id", "source")
    out = mixture_sample(
        docs, "source",
        {"src0": 2.5, "src1": 0.25, "src2": 3.0},
        ["doc_id"],
    )
    return out.select("doc_id", "source", F.col("copy").cast("int").alias("copy"))


def _install_mixture_oracle() -> None:
    from hpc_hd_textreuse_etl_spark.operators.sampling import threshold

    QUERIES["mixture_sampled_docs"].oracle = f"""
    WITH g AS (
      SELECT doc_id, source,
             {_duck_gate('mix-v1', 'doc_id')} AS h
      FROM documents
    ), c AS (
      SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
                         WHEN 'src2' THEN 3 ELSE 1 END
             + CASE WHEN h < CASE source
                      WHEN 'src0' THEN {threshold(0.5)}
                      WHEN 'src1' THEN {threshold(0.25)}
                      WHEN 'src2' THEN {threshold(0.0)}
                      ELSE {threshold(0.0)} END
                    THEN 1 ELSE 0 END AS copies
      FROM g
    )
    SELECT doc_id, source,
           CAST(unnest(generate_series(1, copies)) AS INT) AS copy
    FROM c WHERE copies > 0
    """


_install_mixture_oracle()


# ---------------------------------------------------------------------------
# Event-stream product analytics: ordered funnels + retention cohorts
# (operators/funnel.py).
# ---------------------------------------------------------------------------


@query(
    "purchase_funnel",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
    s1 AS (SELECT user_id, min(us) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND us > t1
             AND us <= t1 + 86400000000 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND us > t2
             AND us <= t2 + 86400000000 GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage,
           t1, t2, t3
    FROM (SELECT DISTINCT user_id FROM e) u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
    tags=("funnel",),
    bench=True,
)
def purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel, each step within 24 h of the
    previous, greedy earliest-completion binding. The Spark side is ONE
    shuffle (sorted-fold stage automaton per user); the oracle is the
    equivalent 3-stage min-chain join — the value hash pins the exact
    per-user bound timestamps, i.e. the equivalence of the two
    formulations on real data, not just stage counts."""
    from hpc_hd_textreuse_etl_spark.operators.funnel import funnel

    return funnel(
        spark.table("events"),
        "user_id", "ts", "event_type",
        steps=("view", "click", "purchase"),
        within_seconds=86400,
    )


@query(
    "weekly_retention_cohorts",
    oracle="""
    WITH su AS (
      SELECT user_id,
             min(epoch_us(ts)) // 604800000000 AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), act AS (
      SELECT DISTINCT e.user_id, cohort_week,
             epoch_us(ts) // 604800000000 - cohort_week AS week_offset
      FROM events e JOIN su USING (user_id)
    )
    SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act WHERE week_offset >= 0
    GROUP BY cohort_week, week_offset
    """,
    tags=("cohort-retention",),
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped by signup epoch-week,
    counted once per (cohort, weeks-since-signup) they were active in.
    Spark plan: min-aggregate per user, broadcast-join the (tiny) cohort
    map back onto events, distinct, count — two small shuffles, events
    scanned once. Pre-signup activity is excluded on both engines."""
    ev = spark.table("events")
    wk = F.floor(F.unix_micros("ts") / F.lit(604_800_000_000))
    cohorts = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(wk).alias("cohort_week"))
    )
    act = (
        ev.join(F.broadcast(cohorts), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (wk - F.col("cohort_week")).alias("week_offset"),
        )
        .where(F.col("week_offset") >= 0)
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


def _sssp_oracle(rounds: int) -> str:
    """Unrolled full-relaxation Bellman-Ford CTEs — provably equal to
    the frontier-optimized loop in operators/graph.py sssp_weighted
    (see its docstring) and exact on integer weights."""
    parts = [
        """
    WITH e0 AS MATERIALIZED (
      SELECT CAST(l_suppkey AS BIGINT) AS s,
             CAST(l_partkey AS BIGINT) + 1000000 AS d,
             min(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2
    ), e AS (
      SELECT s, d, w FROM e0 UNION ALL SELECT d, s, w FROM e0
    ), d0(node, dist) AS (VALUES (CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""
    , d{i} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.d AS node, p.dist + e.w AS dist
        FROM d{i - 1} p JOIN e ON p.node = e.s
      ) GROUP BY node
    )""")
    parts.append(f"\n    SELECT node, dist FROM d{rounds}")
    return "".join(parts)


@query(
    "sssp_supply_graph",
    oracle=_sssp_oracle(3),
    tags=("graph-sssp", "iterative"),
)
def sssp_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round weighted shortest paths from supplier 1 over the
    undirected supplier↔part graph, edge weight = min lineitem
    quantity on the link. Completes the iterative-graph family
    (components, PageRank, BFS) with min-plus relaxation under the
    full value-hash gate: dist = min weight over ≤3-edge paths, an
    exact integer both engines must agree on node-for-node."""
    from hpc_hd_textreuse_etl_spark.operators.graph import sssp_weighted

    li = spark.table("lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") + 1_000_000).cast("long").alias("dst"),
        F.col("l_quantity").cast("long").alias("weight"),
    )
    sources = spark.createDataFrame([(1,)], "node long")
    return sssp_weighted(edges, sources, rounds=3)


@query(
    "event_value_ohlc_hourly",
    oracle="""
    WITH e AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS hr,
             epoch_us(ts) AS us, event_id, value
      FROM events
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, hr
                                ORDER BY us, event_id) AS rf,
             row_number() OVER (PARTITION BY event_type, hr
                                ORDER BY us DESC, event_id DESC) AS rl
      FROM e
    )
    SELECT event_type, CAST(hr AS BIGINT) AS hr,
           CAST(min(us) AS BIGINT) AS first_us,
           CAST(min(CASE WHEN rf = 1 THEN value END) AS DOUBLE) AS open,
           CAST(min(CASE WHEN rl = 1 THEN value END) AS DOUBLE) AS close,
           CAST(min(value) AS DOUBLE) AS low,
           CAST(max(value) AS DOUBLE) AS high,
           CAST(count(*) AS BIGINT) AS n
    FROM r GROUP BY event_type, hr
    """,
    tags=("resample-ohlc",),
)
def event_value_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open/high/low/close resampling of the event value stream into
    hourly bars per event type — the time-series downsampling shape
    (finance bars, metrics rollups). open/close are positional
    aggregates; both engines pin them with an explicit total order
    ((µs, event_id) — unique tiebreak), Spark via the min/max-of-struct
    trick (one map-side-combinable agg, no window, no sort)."""
    ev = spark.table("events")
    us = F.unix_micros("ts")
    key = F.struct(us.alias("us"), F.col("event_id").alias("eid"),
                   F.col("value").alias("v"))
    return (
        ev.groupBy(
            "event_type",
            F.floor(us / F.lit(3_600_000_000)).alias("hr"),
        )
        .agg(
            F.min(key).alias("__f"),
            F.max(key).alias("__l"),
            F.min("value").cast("double").alias("low"),
            F.max("value").cast("double").alias("high"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            "event_type", "hr",
            F.col("__f.us").alias("first_us"),
            F.col("__f.v").cast("double").alias("open"),
            F.col("__l.v").cast("double").alias("close"),
            "low", "high", "n",
        )
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM s WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
    tags=("markov-transitions",),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences (the \"what happens after X\" product-analytics view).
    One exchange+sort on the user key feeds the lead window ((µs,
    event_id) total order), then the bigram count map-side combines to
    |types|² rows."""
    ev = spark.table("events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "jaccard_prefix_filter_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(lst) - 2),
               i -> lst[i] || ' ' || lst[i + 1] || ' ' || lst[i + 2])) AS s
      FROM (SELECT doc_id, {_TOK} AS lst FROM documents)
    ), p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.s, b.s)) AS i,
             len(a.s) AS na, len(b.s) AS nb
      FROM t a JOIN t b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(i AS BIGINT) AS n_intersect,
           CAST(na + nb - i AS BIGINT) AS n_union,
           CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
    FROM p WHERE 1000 * i >= 500 * (na + nb - i)
    """,
    tags=("setsim-prefix-filter",),
)
def jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.5 join over 3-token-shingle sets via prefix
    filtering (operators/setsim.py) — the deterministic complement to
    the MinHash/SimHash probabilistic dedups. The oracle brute-forces
    all pairs (affordable at sf0.01); the Spark side must reproduce the
    identical pair set THROUGH the rarity-ordered prefix blocking,
    which gates the blocking's completeness, not just the verify
    arithmetic. Integer-exact threshold compare on both engines."""
    from hpc_hd_textreuse_etl_spark.functions.text import token_shingles
    from hpc_hd_textreuse_etl_spark.operators.setsim import (
        jaccard_threshold_pairs,
    )

    docs = spark.table("documents")
    return jaccard_threshold_pairs(
        docs, "doc_id", token_shingles(F.col("text"), 3), threshold=0.5
    )


@query(
    "customer_radius_pairs",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_duck_gate('px', 'c_custkey')} % 1000000 AS x,
             {_duck_gate('py', 'c_custkey')} % 1000000 AS y
      FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= 10000 * 10000
    """,
    tags=("spatial-radius-join",),
    bench=True,
)
def customer_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-radius near-neighbor SELF-join over customers placed on an
    integer 10^6 grid by the portable hash (so both engines derive the
    identical point set). Spark computes it with 3×3 grid-cell blocking
    (operators/spatial.py — an equi-join, never a cartesian product);
    the oracle brute-forces the θ-join. Distances are exact integers;
    the value hash gates the blocking's exactly-once completeness."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import sample_hash
    from hpc_hd_textreuse_etl_spark.operators.spatial import radius_self_join

    pts = spark.table("customer").select(
        F.col("c_custkey").alias("id"),
        F.pmod(sample_hash(["c_custkey"], "px"), F.lit(1_000_000)).alias("x"),
        F.pmod(sample_hash(["c_custkey"], "py"), F.lit(1_000_000)).alias("y"),
    )
    return radius_self_join(pts, "id", radius=10_000)


@query(
    "orders_table_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 17 <> 3
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 29 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_custkey % 10 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 13 <> 5
    ), j AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NOT NULL AS in_old,
             n.o_orderkey IS NOT NULL AS in_new,
             list_filter([
               CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                    THEN 'o_orderpriority' END,
               CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                    THEN 'o_orderstatus' END,
               CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    THEN 'o_totalprice' END
             ], x -> x IS NOT NULL) AS d
      FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    )
    SELECT o_orderkey,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                WHEN len(d) > 0 THEN 'changed'
                ELSE 'unchanged' END AS diff_status,
           CASE WHEN in_old AND in_new AND len(d) > 0
                THEN array_to_string(d, ',') ELSE '' END AS changed_cols
    FROM j
    """,
    tags=("table-diff",),
    bench=True,
)
def orders_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/diff.py): 'old' drops every
    17th order, 'new' drops every 13th, bumps totalprice for custkey %
    10 == 0 and rewrites status for orderkey % 29 == 0 — so all four
    statuses and several changed-column sets appear. The row-level
    classification (status + exact changed column list per key) is
    value-hashed; null-safe comparison semantics are pinned by IS
    DISTINCT FROM on the oracle side."""
    from hpc_hd_textreuse_etl_spark.operators.diff import table_diff

    orders = spark.table("orders")
    old = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    ).where(F.col("o_orderkey") % 17 != 3)
    new = orders.where(F.col("o_orderkey") % 13 != 5).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 29 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_custkey") % 10 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    return table_diff(old, new, ["o_orderkey"])


@query(
    "orders_expectations_audit",
    oracle="""
    SELECT 'not_null:o_custkey' AS expectation,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS metric,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'unique:o_orderkey',
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
           count(*) - count(DISTINCT o_orderkey) = 0
    FROM orders WHERE o_orderkey IS NOT NULL
    UNION ALL
    SELECT 'in_range:o_totalprice',
           CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 200000
                         THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 200000
               THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'in_set:o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('F', 'O', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('F', 'O', 'P')
               THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'foreign_key:o_custkey',
           CAST(count(*) AS BIGINT), count(*) = 0
    FROM (
      SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_custkey IN
        (SELECT c_custkey FROM customer)
    )
    UNION ALL
    SELECT 'row_count', CAST(count(*) AS BIGINT),
           count(*) BETWEEN 1000 AND 1000000000
    FROM orders
    """,
    tags=("qc-expectations",),
)
def orders_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations suite over orders (plans/qc.py): null
    contract, key uniqueness, value range (deliberately tight so real
    violations appear and passed=false rows are exercised), status
    domain, referential integrity to customer, and row-count bounds —
    the publish-gate audit as ONE value-hashed report table."""
    from hpc_hd_textreuse_etl_spark.plans.qc import (
        expect_foreign_key,
        expect_in_range,
        expect_in_set,
        expect_not_null,
        expect_row_count_between,
        expect_unique,
        run_expectations,
    )

    orders = spark.table("orders")
    customer = spark.table("customer")
    return run_expectations([
        expect_not_null(orders, "o_custkey"),
        expect_unique(orders, ["o_orderkey"]),
        expect_in_range(orders, "o_totalprice", 0, 200000),
        expect_in_set(orders, "o_orderstatus", ["F", "O", "P"]),
        expect_foreign_key(orders, "o_custkey", customer, "c_custkey"),
        expect_row_count_between(orders, 1000, 1_000_000_000),
    ])


@query(
    "incremental_join_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, c_nationkey, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("incremental-view-join",),
)
def incremental_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the orders⋈customer materialized
    join: both inputs split into snapshot + delta (orders on
    orderkey%5, customer on custkey%7 — so ΔA⋈B, A⋈ΔB AND ΔA⋈ΔB all
    contribute rows), the old join materialized from the snapshots
    only, then incremental_join folds the deltas in. The oracle
    recomputes the FULL join from scratch — equality proves the delta
    algebra Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB on real data, row for row
    (operators/incremental.py join_delta)."""
    from hpc_hd_textreuse_etl_spark.operators.incremental import (
        incremental_join,
    )

    orders = spark.table("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.table("customer").select("c_custkey", "c_nationkey")
    a_old = orders.where(F.col("o_orderkey") % 5 != 0)
    a_delta = orders.where(F.col("o_orderkey") % 5 == 0)
    b_old = cust.where(F.col("c_custkey") % 7 != 0)
    b_delta = cust.where(F.col("c_custkey") % 7 == 0)
    j_old = a_old.withColumnRenamed("o_custkey", "c_custkey").join(
        b_old, "c_custkey"
    )
    out = incremental_join(
        j_old,
        a_old.withColumnRenamed("o_custkey", "c_custkey"),
        a_delta.withColumnRenamed("o_custkey", "c_custkey"),
        b_old,
        b_delta,
        ["c_custkey"],
    )
    return out.select(
        "o_orderkey",
        F.col("c_custkey").alias("o_custkey"),
        "c_nationkey",
        "o_totalprice",
    )


@query(
    "chunked_sequence_packing",
    oracle=None,  # set below (_duck_gate at import time)
    tags=("chunking", "packing", "pipeline-composition"),
    bench=True,
)
def chunked_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-prep chain: chunk documents into 24-token
    windows (stride 16) → pack the CHUNKS into 128-token shard-parallel
    budgets (cumsum strategy, portable shard). The oracle recomputes
    both stages — window boundaries feed pack sizes feed the packing
    window arithmetic — so the composed assignment (every chunk's
    shard + pack) is value-hashed as one chain, the same style as
    curated_corpus. chunk_key = doc_id*100 + chunk_id (chunk counts
    are two-digit-bounded at this stride by construction)."""
    from hpc_hd_textreuse_etl_spark.functions.hashing import portable_hash64
    from hpc_hd_textreuse_etl_spark.operators.chunking import chunk_documents
    from hpc_hd_textreuse_etl_spark.operators.packing import pack_sequences

    chunks = chunk_documents(
        spark.table("documents"), "doc_id", "text",
        chunk_tokens=24, overlap_tokens=8,
    )
    sized = chunks.select(
        (F.col("doc_id") * 100 + F.col("chunk_id")).alias("chunk_key"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.pmod(
            portable_hash64(
                F.concat(F.lit("cshard|"),
                         (F.col("doc_id") * 100 + F.col("chunk_id")).cast("string"))
            ),
            F.lit(8),
        ).alias("pshard"),
    )
    return pack_sequences(
        sized, "chunk_key", "n_tokens", budget=128, num_shards=8,
        strategy="cumsum", shard_col="pshard",
    )


def _install_chunk_pack_oracle() -> None:
    QUERIES["chunked_sequence_packing"].oracle = f"""
    WITH t AS (SELECT doc_id, {_TOK} AS lst FROM documents),
    s AS (SELECT doc_id, lst,
                 unnest(generate_series(0, greatest(len(lst) - 9, 0), 16))
                   AS start
          FROM t WHERE len(lst) > 0),
    ch AS (SELECT doc_id * 100 + start // 16 AS chunk_key,
                  least(start + 24, len(lst)) - start AS sz
           FROM s),
    sized AS (SELECT chunk_key, CAST(sz AS BIGINT) AS size,
                     {_duck_gate('cshard', 'chunk_key')} % 8 AS shard
              FROM ch)
    SELECT chunk_key, size, shard,
           CAST(floor(COALESCE(SUM(size) OVER (
             PARTITION BY shard ORDER BY size DESC, chunk_key
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 128.0) AS BIGINT) AS pack_id
    FROM sized
    """


_install_chunk_pack_oracle()


@query(
    "orders_column_profile",
    oracle="""
    SELECT 'o_orderkey' AS column, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT)
    FROM orders
    """,
    tags=("qc-analyze",),
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style profile (plans/qc.py analyze_table) over four
    orders columns in ONE aggregate job (multi-distinct via Expand,
    one shuffle). The gated projection is the integer core (rows /
    nulls / exact ndv per column); min/max strings are pytest-pinned
    (string-rendering rules differ per engine, counts don't)."""
    from hpc_hd_textreuse_etl_spark.plans.qc import analyze_table

    prof = analyze_table(
        spark.table("orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
    )
    return prof.select("column", "n_rows", "n_nulls", "n_distinct")


@query(
    "doc_oov_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS token FROM documents
    ), vocab AS (
      SELECT token FROM (
        SELECT token, count(DISTINCT doc_id) AS df_
        FROM tok GROUP BY token
      ) WHERE df_ >= 3
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS oov_rate
    FROM tok LEFT JOIN vocab USING (token)
    GROUP BY doc_id
    """,
    tags=("corpus-stats", "text-quality"),
)
def doc_oov_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the df>=3 corpus
    vocabulary (operators/corpus_stats.py oov_stats) — the vocabulary-
    coverage quality gate. Counts are exact integers; the rate is one
    per-row IEEE division; vocab broadcasts into the occurrence join."""
    from hpc_hd_textreuse_etl_spark.operators.corpus_stats import oov_stats

    return oov_stats(spark.table("documents"), "doc_id", "text", min_df=3)


@query(
    "hourly_top_events",
    oracle="""
    WITH c AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY hr, event_type
    )
    SELECT CAST(hr AS BIGINT) AS hr, event_type, n, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY hr
                                   ORDER BY n DESC, event_type) AS rk
      FROM c
    ) WHERE rk <= 3
    """,
    tags=("windowed-topk",),
)
def hourly_top_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour top-3 event types by count (trending/heavy-hitters per
    window): map-side-combined counts, then a rank window whose
    WindowGroupLimit prunes to <=3 rows per hour per map partition
    before the exchange. Total order (count desc, type) pins ties."""
    ev = spark.table("events")
    c = ev.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(3_600_000_000)).alias("hr"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("hr").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
    )


@query(
    "bloom_pruned_supplier_join",
    oracle="""
    SELECT l_orderkey, l_suppkey, CAST(s_nationkey AS BIGINT) AS s_nationkey,
           l_quantity
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    WHERE s_nationkey = 1
    """,
    tags=("bloom-pruned-join",),
)
def bloom_pruned_supplier_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction (operators/sketches.py bloom_pruned_join):
    the nation-1 supplier keys build a Bloom bitmap, the lineitem fact
    side is pruned by the zero-shuffle literal-bitmap predicate, and
    the exact join runs on the survivors. The oracle is the PLAIN join
    — value equality proves no false negatives and that false
    positives die in the join, with row multiplicity preserved."""
    from hpc_hd_textreuse_etl_spark.operators.sketches import (
        bloom_pruned_join,
    )

    li = spark.table("lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    dim = (
        spark.table("supplier")
        .where(F.col("s_nationkey") == 1)
        .select("s_suppkey", F.col("s_nationkey").cast("long").alias("s_nationkey"))
    )
    out = bloom_pruned_join(li, dim, "l_suppkey", "s_suppkey")
    return out.select("l_orderkey", "l_suppkey", "s_nationkey", "l_quantity")


@query(
    "customer_subtree_rollup",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS node, c_custkey // 2 AS anc
      FROM customer WHERE c_custkey >= 2
      UNION ALL
      SELECT a.node, c.c_custkey // 2
      FROM anc a JOIN customer c ON a.anc = c.c_custkey
      WHERE c.c_custkey >= 2
    ), pairs AS (
      SELECT anc AS ancestor, node FROM anc
      UNION ALL
      SELECT c_custkey, c_custkey FROM customer
    )
    SELECT p.ancestor, CAST(count(*) AS BIGINT) AS n_subtree,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(30,4))) AS DOUBLE)
             AS subtree_sum
    FROM pairs p JOIN customer c ON p.node = c.c_custkey
    GROUP BY p.ancestor
    """,
    tags=("graph-hierarchy", "iterative"),
)
def customer_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree rollup over the implicit binary tree
    parent(c) = c div 2 on customer keys (depth ~11 at sf0.01):
    pointer-doubling ancestor closure (4 rounds for 2^4 = 16 levels —
    O(log depth), vs 11 parent-walk joins), then a decimal-exact
    per-ancestor aggregate. The oracle walks the same hierarchy with a
    recursive CTE — closure pairs, subtree sizes and balances must
    match node-for-node (operators/graph.py ancestor_closure /
    subtree_rollup)."""
    from hpc_hd_textreuse_etl_spark.operators.graph import subtree_rollup

    cust = spark.table("customer").select(
        F.col("c_custkey").alias("id"),
        F.when(
            F.col("c_custkey") >= 2, F.floor(F.col("c_custkey") / 2)
        ).alias("parent"),
        "c_acctbal",
    )
    out = subtree_rollup(cust, "id", "parent", "c_acctbal", levels=4)
    return out.select(
        F.col("ancestor"), "n_subtree", "subtree_sum"
    )


# ---------------------------------------------------------------------------
# Weighted sampling, Pareto frontier, bigram LM (round-3 twentieth wave)
# ---------------------------------------------------------------------------


def _install_weighted_sample_oracle() -> None:
    from hpc_hd_textreuse_etl_spark.operators.sampling import SEP  # noqa: F401

    QUERIES["weighted_sample_orders"].oracle = f"""
    SELECT o_orderkey, pri AS sample_priority FROM (
      SELECT o_orderkey,
             CAST({_DUCK_H.format(x="'wsample-v1|' || CAST(o_orderkey AS VARCHAR)")}
                  AS DOUBLE) / CAST(o_totalprice AS DOUBLE) AS pri
      FROM orders
    ) ORDER BY pri, o_orderkey LIMIT 50
    """


@query(
    "weighted_sample_orders",
    oracle=None,  # installed below (shares the portable-gate spelling)
    tags=("sampling-weighted",),
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted bottom-k sample (priority sampling /
    PPSWOR): keep the 50 orders minimizing H('wsample-v1'|key)/weight,
    weight = o_totalprice. The emitted priority doubles are value-hashed
    — the integer hash, the decimal→double cast and the one IEEE
    division are each correctly rounded in both engines, so the gate
    pins the whole construction bit-for-bit
    (operators/sampling.py weighted_sample_topk; plans
    TakeOrderedAndProject — per-task heaps, no global sort)."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import (
        weighted_sample_topk,
    )

    orders = spark.table("orders")
    return weighted_sample_topk(
        orders, ["o_orderkey"], F.col("o_totalprice"), k=50
    ).select("o_orderkey", "sample_priority")


def _dsir_weights_sql(num_buckets: int, table: str = "documents") -> str:
    """CTE chain computing DSIR log importance weights in DuckDB,
    ending in ``wts(doc_id, log_weight)`` — mirrors
    operators/dsir.py dsir_log_weights(hash_family='portable') with
    raw = all rows of ``table`` (any CTE/table with doc_id + text) and
    target = its ``lang='en'`` slice (lang looked up in documents). The
    per-document sum is order-fixed (``list(term ORDER BY bucket)``)
    exactly like the Spark sorted-struct fold."""
    b = num_buckets
    bucket = _DUCK_H.format(x="g") + f" % {b}"
    return f"""tok AS (
      SELECT doc_id, {_TOK} AS w FROM {table}
    ), grams AS (
      SELECT doc_id, unnest(w) AS g FROM tok
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(range(2, len(w) + 1),
                                   i -> w[i - 1] || ' ' || w[i])) AS g
      FROM tok WHERE len(w) >= 2
    ), dc AS (
      SELECT doc_id, CAST({bucket} AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM grams GROUP BY 1, 2
    ), raw AS (
      SELECT bucket, SUM(cnt) AS cnt_r FROM dc GROUP BY 1
    ), tgt AS (
      SELECT dc.bucket, SUM(dc.cnt) AS cnt_t
      FROM dc JOIN documents d USING (doc_id)
      WHERE d.lang = 'en' GROUP BY 1
    ), model AS (
      SELECT r.bucket,
             (ln((COALESCE(t.cnt_t, 0) + 1.0)
                 / ((SELECT SUM(cnt_t) FROM tgt) + {float(b)}))
              - ln((r.cnt_r + 1.0)
                   / ((SELECT SUM(cnt_r) FROM raw) + {float(b)}))) AS log_ratio
      FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket
    ), wts0 AS (
      SELECT dc.doc_id,
             list_sum(list(CAST(dc.cnt AS DOUBLE) * m.log_ratio
                           ORDER BY dc.bucket)) AS log_weight
      FROM dc JOIN model m ON m.bucket = dc.bucket
      GROUP BY dc.doc_id
    ), wts AS (
      SELECT d.doc_id, COALESCE(w.log_weight, 0.0) AS log_weight
      FROM {table} d LEFT JOIN wts0 w USING (doc_id)
    )"""


def _dsir_spark_weights(spark: SparkSession):
    from hpc_hd_textreuse_etl_spark.operators.dsir import dsir_log_weights

    docs = spark.table("documents")
    return dsir_log_weights(
        docs, docs.filter(F.col("lang") == "en"), "doc_id", "text",
        num_buckets=512, alpha=1.0, hash_family="portable",
    )


@query(
    "dsir_importance_ranking",
    oracle=f"""
    WITH {_dsir_weights_sql(512)}
    SELECT doc_id, CAST(rank AS INT) AS rank FROM (
      SELECT doc_id, row_number() OVER (ORDER BY log_weight DESC, doc_id) AS rank
      FROM wts
    ) WHERE rank <= 50
    """,
    tags=("dsir", "importance-sampling", "beyond-parity"),
)
def dsir_importance_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance ranking (operators/dsir.py): the 50 most
    target-like documents under hashed-bigram bag models, target =
    English documents, raw = the whole corpus. Gated on (doc_id, rank)
    with a doc_id tiebreak — the log weight itself is a sum of
    ``ln``-ratio terms, so its residual is the libm-ln ulp (the
    BM25/matmul-ANN precedent); weight values are epsilon-tested in
    tests/test_dsir.py."""
    w = _dsir_spark_weights(spark)
    topk = w.orderBy(F.desc("log_weight"), F.asc("doc_id")).limit(50)
    # rank window AFTER the limit, over <= 50 rows — benign
    wnd = Window.orderBy(F.desc("log_weight"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(wnd).cast("int")).select(
        "doc_id", "rank"
    )


@query(
    "dsir_resampled_docs",
    oracle=f"""
    WITH {_dsir_weights_sql(512)}
    SELECT doc_id FROM (
      SELECT doc_id,
             log_weight - ln(-ln(({_DUCK_H.format(
                 x="'gumbel-dsir-v1|' || CAST(doc_id AS VARCHAR)")}
                 + 0.5) / 1152921504606846976.0)) AS p
      FROM wts
    ) ORDER BY p DESC, doc_id LIMIT 50
    """,
    tags=("dsir", "importance-sampling", "beyond-parity"),
)
def dsir_resampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR resample itself: 50 documents drawn ∝ importance weight
    via the deterministic Gumbel top-k (operators/sampling.py
    gumbel_topk_sample — log-domain, so corpus-scale log weights never
    pay an exp overflow). Gated on the kept document-id SET; the
    priority doubles carry the same ln-ulp residual as the ranking
    query and are epsilon-tested in tests/test_dsir.py."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import gumbel_topk_sample

    w = _dsir_spark_weights(spark)
    return gumbel_topk_sample(
        w, ["doc_id"], "log_weight", k=50, salt="gumbel-dsir-v1"
    ).select("doc_id")


@query(
    "repeated_segment_dedup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOK} AS w FROM documents
    ), seg AS (
      SELECT doc_id,
             array_to_string(
               list_transform(range(0, CAST(ceil(len(w) / 12.0) AS INT)),
                              j -> array_to_string(w[j*12+1 : j*12+12], ' ')),
               chr(10)) AS text
      FROM tok
    ), lines AS (
      SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM seg)
    ), ranked AS (
      SELECT doc_id, pos, line,
             count(*) OVER (PARTITION BY line) AS n,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
      FROM lines
    ), kept AS (
      SELECT doc_id, pos, line FROM ranked WHERE line = '' OR n < 2 OR rk = 1
    ), rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS kept_n
      FROM kept GROUP BY doc_id
    ), totals AS (
      SELECT doc_id, len(string_split(text, chr(10))) AS total FROM seg
    )
    SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text,
           CAST(t.total - COALESCE(r.kept_n, 0) AS INT) AS n_removed
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
    tags=("line-dedup", "beyond-parity"),
)
def repeated_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level repeated-line removal
    (operators/dedup.py dedup_repeated_lines, keep='first'): the
    synthetic documents carry no newlines, so both engines first derive
    a deterministic line structure (12-token segments, ~100 of which
    repeat across documents at sf0.01) and then the whole pass —
    occurrence counts, globally-first keeper, order-preserving
    reassembly, removal counts — is value-hash-gated exactly (pure
    string/integer semantics, no floats)."""
    from hpc_hd_textreuse_etl_spark.functions.text import tokens
    from hpc_hd_textreuse_etl_spark.operators.dedup import dedup_repeated_lines

    docs = spark.table("documents")
    # bind the token array to a real column first: a positional
    # transform whose lambda slices the tokenization EXPRESSION would
    # re-run the tokenizer regex once per segment (interpreted
    # higher-order lambdas re-evaluate closed-over expressions); over a
    # bound column the slice is a cheap row access
    tokked = docs.select("doc_id", tokens(F.col("text")).alias("__w"))
    w = F.col("__w")
    nseg = F.ceil(F.size(w) / F.lit(12.0)).cast("int")
    segs = F.when(
        F.size(w) > 0,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda j: F.concat_ws(" ", F.slice(w, j * 12 + 1, 12)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    seg_docs = tokked.select("doc_id", F.concat_ws("\n", segs).alias("text"))
    return dedup_repeated_lines(
        seg_docs, "doc_id", "text", min_count=2, keep="first", hashed=False
    )


def _nb_sql(num_buckets: int, table: str = "documents",
            train_pred: str = "TRUE") -> str:
    """CTE chain recomputing the hashed-feature NB quality classifier
    (operators/classifier.py, hash_family='portable') in DuckDB, ending
    in ``nbmodel(bucket, cnt_pos, cnt_neg, log_ratio)`` and
    ``nbscores(doc_id, log_odds)``. ``table`` supplies (doc_id, text)
    for BOTH training features and scoring; the training slice is the
    rows satisfying ``train_pred`` (aliased ``t``), labeled positive
    iff the document's ``lang`` is 'en' (looked up in documents). The
    per-document sum is order-fixed (``list(term ORDER BY bucket)``)
    exactly like the Spark sorted-struct fold."""
    b = num_buckets
    bucket = _DUCK_H.format(x="g") + f" % {b}"
    return f"""nbtok AS (
      SELECT doc_id, {_TOK} AS w FROM {table}
    ), nbgrams AS (
      SELECT doc_id, unnest(w) AS g FROM nbtok
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(range(2, len(w) + 1),
                                   i -> w[i - 1] || ' ' || w[i])) AS g
      FROM nbtok WHERE len(w) >= 2
    ), nbdc AS (
      SELECT doc_id, CAST({bucket} AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM nbgrams GROUP BY 1, 2
    ), nbtrain AS (
      SELECT t.doc_id, (d.lang = 'en') AS is_pos
      FROM {table} t JOIN documents d USING (doc_id)
      WHERE {train_pred}
    ), nbcc AS (
      SELECT dc.bucket,
             SUM(CASE WHEN tr.is_pos THEN dc.cnt ELSE 0 END) AS cnt_pos,
             SUM(CASE WHEN NOT tr.is_pos THEN dc.cnt ELSE 0 END) AS cnt_neg
      FROM nbdc dc JOIN nbtrain tr USING (doc_id)
      GROUP BY 1
    ), nbmodel AS (
      SELECT r.range AS bucket,
             CAST(COALESCE(c.cnt_pos, 0) AS BIGINT) AS cnt_pos,
             CAST(COALESCE(c.cnt_neg, 0) AS BIGINT) AS cnt_neg,
             (ln((COALESCE(c.cnt_pos, 0) + 1.0)
                 / ((SELECT SUM(cnt_pos) FROM nbcc) + {float(b)}))
              - ln((COALESCE(c.cnt_neg, 0) + 1.0)
                   / ((SELECT SUM(cnt_neg) FROM nbcc) + {float(b)}))) AS log_ratio
      FROM range({b}) r LEFT JOIN nbcc c ON c.bucket = r.range
    ), nbprior AS (
      SELECT ln(CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS DOUBLE))
             - ln(CAST(SUM(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS DOUBLE))
               AS log_prior
      FROM nbtrain
    ), nbs0 AS (
      SELECT dc.doc_id,
             list_sum(list(CAST(dc.cnt AS DOUBLE) * m.log_ratio
                           ORDER BY dc.bucket)) AS ll
      FROM nbdc dc JOIN nbmodel m USING (bucket)
      GROUP BY 1
    ), nbscores AS (
      SELECT t.doc_id,
             COALESCE(s.ll, 0.0) + (SELECT log_prior FROM nbprior) AS log_odds
      FROM {table} t LEFT JOIN nbs0 s USING (doc_id)
    )"""


def _nb_train_docs(spark: SparkSession) -> DataFrame:
    return (
        spark.table("documents")
        .filter(F.col("doc_id") % 10 < 8)
        .withColumn("is_pos", F.col("lang") == "en")
    )


@query(
    "quality_classifier_weights",
    oracle=f"""
    WITH {_nb_sql(512, train_pred="t.doc_id % 10 < 8")}
    SELECT bucket, cnt_pos, cnt_neg FROM nbmodel
    """,
    tags=("quality-classifier", "beyond-parity"),
)
def quality_classifier_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained NB quality-filter model (operators/classifier.py
    nb_quality_model) on the 80% train slice, labels = lang=='en'. The
    full integer count core — one row per bucket, including untouched
    buckets — is value-hash-gated bit-exactly; the derived log_ratio
    doubles carry the libm-ln ulp and are epsilon-tested in
    tests/test_classifier.py (the DSIR/BM25 residual class)."""
    from hpc_hd_textreuse_etl_spark.operators.classifier import nb_quality_model

    return nb_quality_model(
        _nb_train_docs(spark), "doc_id", "text", "is_pos",
        num_buckets=512, hash_family="portable",
    ).select("bucket", "cnt_pos", "cnt_neg")


@query(
    "quality_classifier_ranking",
    oracle=f"""
    WITH {_nb_sql(512, train_pred="t.doc_id % 10 < 8")}
    SELECT doc_id, CAST(rank AS INT) AS rank FROM (
      SELECT doc_id,
             row_number() OVER (ORDER BY log_odds DESC, doc_id) AS rank
      FROM nbscores
    ) WHERE rank <= 50
    """,
    tags=("quality-classifier", "beyond-parity"),
)
def quality_classifier_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployed quality filter: train NB on the 80% slice, score
    EVERY document (prior + sorted-fold likelihood), rank the 50 most
    curated-like. Gated on (doc_id, rank) with an id tiebreak — the
    DuckDB oracle recomputes features, class counts, smoothing, prior,
    and the order-fixed score fold end to end."""
    from hpc_hd_textreuse_etl_spark.operators.classifier import nb_quality_scores

    docs = spark.table("documents")
    w = nb_quality_scores(
        docs, _nb_train_docs(spark), "doc_id", "text", "is_pos",
        num_buckets=512, hash_family="portable",
    )
    topk = w.orderBy(F.desc("log_odds"), F.asc("doc_id")).limit(50)
    # rank window AFTER the limit, over <= 50 rows — benign
    wnd = Window.orderBy(F.desc("log_odds"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(wnd).cast("int")).select(
        "doc_id", "rank"
    )


@query(
    "quality_classifier_auc",
    oracle=f"""
    WITH {_nb_sql(512, train_pred="t.doc_id % 10 < 8")},
    per AS (
      SELECT s.log_odds AS score, count(*) AS n,
             SUM(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS pos
      FROM nbscores s JOIN documents d USING (doc_id)
      GROUP BY 1
    ), cum AS (
      SELECT score, n, pos,
             SUM(pos) OVER (ORDER BY score DESC) AS tp,
             SUM(n) OVER (ORDER BY score DESC) AS cum_n
      FROM per
    ), rank2 AS (
      SELECT SUM(pos) AS p, SUM(n) - SUM(pos) AS q,
             SUM(pos * (2 * ((SELECT SUM(n) FROM per) - cum_n) + n + 1)) AS r2
      FROM cum
    )
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(q AS BIGINT) AS n_neg,
           CAST(r2 - p * (p + 1) AS BIGINT) AS auc_num2,
           CASE WHEN p > 0 AND q > 0
                THEN CAST(r2 - p * (p + 1) AS DOUBLE) / (2.0 * p * q)
           END AS auc
    FROM rank2
    """,
    tags=("quality-classifier", "evaluation", "beyond-parity"),
)
def quality_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the trained filter? Exact tie-aware ROC-AUC of the
    NB log-odds against the lang=='en' label over ALL documents
    (train-slice model, operators/evaluation.py roc_auc). The integer
    rank-sum core is hashed; the auc double is one exact-integer
    division. Ties (identical texts → bit-identical scores in both
    engines) share sweep rows under the same RANGE-frame convention."""
    from hpc_hd_textreuse_etl_spark.operators.classifier import nb_quality_scores
    from hpc_hd_textreuse_etl_spark.operators.evaluation import roc_auc

    docs = spark.table("documents")
    w = nb_quality_scores(
        docs, _nb_train_docs(spark), "doc_id", "text", "is_pos",
        num_buckets=512, hash_family="portable",
    )
    scored = w.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("label")), "doc_id"
    )
    return roc_auc(scored, "log_odds", "label")


@query(
    "quality_classifier_ranking_reloaded",
    oracle=f"""
    WITH {_nb_sql(512, train_pred="t.doc_id % 10 < 8")}
    SELECT doc_id, CAST(rank AS INT) AS rank FROM (
      SELECT doc_id,
             row_number() OVER (ORDER BY log_odds DESC, doc_id) AS rank
      FROM nbscores
    ) WHERE rank <= 50
    """,
    tags=("quality-classifier", "model-persistence", "beyond-parity"),
)
def quality_classifier_ranking_reloaded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The train-once / score-later contract
    (functions/model_store.py): the NB model trains, round-trips
    through save_model → parquet → load_model (sidecar kind + params
    validated), and the RELOADED model scores the corpus — gated by
    the SAME oracle as the train-in-session twin
    (quality_classifier_ranking), so any bit drift through the
    persistence layer (double truncation, row loss, column reorder)
    fails the value-hash."""
    from hpc_hd_textreuse_etl_spark.functions.model_store import (
        load_model,
        save_model,
    )
    from hpc_hd_textreuse_etl_spark.operators.classifier import (
        nb_quality_model,
        nb_quality_scores,
    )

    params = dict(num_buckets=512, alpha=1.0, hash_family="portable", seed=7)
    model = nb_quality_model(
        _nb_train_docs(spark), "doc_id", "text", "is_pos",
        num_buckets=512, hash_family="portable",
    )
    path = session_temp_dir("nb-model-")
    save_model(model, path, "nb_quality_model", params)
    reloaded = load_model(spark, path, "nb_quality_model", params)
    w = nb_quality_scores(
        spark.table("documents"), _nb_train_docs(spark),
        "doc_id", "text", "is_pos",
        num_buckets=512, hash_family="portable", model=reloaded,
    )
    topk = w.orderBy(F.desc("log_odds"), F.asc("doc_id")).limit(50)
    wnd = Window.orderBy(F.desc("log_odds"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(wnd).cast("int")).select(
        "doc_id", "rank"
    )


def _lr_sql(
    num_buckets: int,
    iters: int,
    lr: float,
    l2: float,
    train_pred: str = "TRUE",
) -> str:
    """CTE chain recomputing the logistic-regression quality filter
    (operators/classifier.py lr_quality_model / lr_quality_scores,
    hash_family='portable') in DuckDB, ending in
    ``lrscores(doc_id, score)``: length-normalized hashed-gram features
    over ALL documents, the training slice labeled ``lang='en'``, and
    ``iters`` full-batch gradient rounds UNROLLED as weight tables
    ``lrw_i`` (every round CTE MATERIALIZED — the unrolled-cascade
    inlining lesson). Every double sum is order-fixed
    (``list_sum(list(v ORDER BY k))`` ≡ the Spark sorted-struct folds);
    the only cross-engine residue is libm-``exp`` ulp in the sigmoid,
    which is why the gate pins the score RANKING, not values (the
    DSIR/BM25 convention)."""
    b = num_buckets
    bucket = _DUCK_H.format(x="g") + f" % {b}"
    zero = "CAST(0 AS DOUBLE)"
    parts = [f"""lrtok AS (
      SELECT doc_id, {_TOK} AS w FROM documents
    ), lrgrams AS (
      SELECT doc_id, unnest(w) AS g FROM lrtok
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(range(2, len(w) + 1),
                                   i -> w[i - 1] || ' ' || w[i])) AS g
      FROM lrtok WHERE len(w) >= 2
    ), lrdc AS (
      SELECT doc_id, CAST({bucket} AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lrgrams GROUP BY 1, 2
    ), lrx AS MATERIALIZED (
      SELECT dc.doc_id, dc.bucket, CAST(dc.cnt AS DOUBLE) / t.total AS x
      FROM lrdc dc JOIN (
        SELECT doc_id, CAST(sum(cnt) AS DOUBLE) AS total
        FROM lrdc GROUP BY doc_id
      ) t ON dc.doc_id = t.doc_id
    ), lrtrain AS MATERIALIZED (
      SELECT t.doc_id, (t.lang = 'en') AS is_pos
      FROM documents t WHERE {train_pred}
    ), lrn AS MATERIALIZED (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM lrtrain
    ), lrw_0 AS MATERIALIZED (
      SELECT CAST(r.range AS INT) AS bucket, {zero} AS weight
      FROM range(-1, {b}) r
    )"""]
    for i in range(iters):
        parts.append(f""", lrs_{i} AS MATERIALIZED (
      SELECT x.doc_id,
             list_sum(list(x.x * w.weight ORDER BY x.bucket)) AS t
      FROM lrx x JOIN lrw_{i} w ON x.bucket = w.bucket
      GROUP BY x.doc_id
    ), lrr_{i} AS MATERIALIZED (
      SELECT tr.doc_id,
             (1.0 / (1.0 + exp(-(wb.bias + COALESCE(s.t, {zero}))))
              - (CASE WHEN tr.is_pos THEN 1.0 ELSE 0.0 END)) AS r
      FROM lrtrain tr
      LEFT JOIN lrs_{i} s ON s.doc_id = tr.doc_id
      CROSS JOIN (SELECT weight AS bias FROM lrw_{i} WHERE bucket = -1) wb
    ), lrg_{i} AS MATERIALIZED (
      SELECT x.bucket,
             list_sum(list(r.r * x.x ORDER BY x.doc_id)) AS g
      FROM lrx x JOIN lrr_{i} r ON x.doc_id = r.doc_id
      GROUP BY x.bucket
    ), lrgb_{i} AS MATERIALIZED (
      SELECT list_sum(list(r ORDER BY doc_id)) AS g FROM lrr_{i}
    ), lrw_{i + 1} AS MATERIALIZED (
      SELECT w.bucket,
             CASE WHEN w.bucket = -1
                  THEN w.weight - {lr!r} * ((SELECT g FROM lrgb_{i})
                                            / (SELECT n FROM lrn))
                  ELSE w.weight - {lr!r} * ((COALESCE(g.g, {zero})
                                             / (SELECT n FROM lrn))
                                            + {l2!r} * w.weight)
             END AS weight
      FROM lrw_{i} w LEFT JOIN lrg_{i} g ON w.bucket = g.bucket
    )""")
    parts.append(f""", lrscores AS MATERIALIZED (
      SELECT d.doc_id, wb.bias + COALESCE(s.t, {zero}) AS score
      FROM documents d
      LEFT JOIN (
        SELECT x.doc_id,
               list_sum(list(x.x * w.weight ORDER BY x.bucket)) AS t
        FROM lrx x JOIN lrw_{iters} w ON x.bucket = w.bucket
        GROUP BY x.doc_id
      ) s ON s.doc_id = d.doc_id
      CROSS JOIN (SELECT weight AS bias FROM lrw_{iters} WHERE bucket = -1) wb
    )""")
    return "".join(parts)


@query(
    "quality_lr_ranking",
    oracle=f"""
    WITH {_lr_sql(512, iters=8, lr=0.5, l2=0.0, train_pred="t.doc_id % 10 < 8")}
    SELECT doc_id, CAST(rank AS INT) AS rank FROM (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM lrscores
    ) WHERE rank <= 50
    """,
    tags=("quality-classifier", "iterative", "beyond-parity"),
)
def quality_lr_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ITERATIVE quality filter deployed end to end: logistic
    regression trains by 8 full-batch gradient rounds on the 80% slice
    (labels lang=='en', operators/classifier.py lr_quality_model),
    scores EVERY document, ranks the 50 most curated-like. The DuckDB
    oracle re-runs the entire optimization — features, margins,
    sigmoids, per-bucket gradients, weight updates — unrolled round by
    round, so a drift anywhere in the training loop (fold order, the
    intercept's no-l2 exemption, the n divisor, the update expression
    tree) reorders the ranking and fails the value-hash. NB
    (quality_classifier_ranking) is the closed-form sibling; this is
    the fastText/CCNet-style trainer for labels NB's multinomial
    assumption can't separate."""
    from hpc_hd_textreuse_etl_spark.operators.classifier import (
        lr_quality_scores,
    )

    docs = spark.table("documents")
    w = lr_quality_scores(
        docs, _nb_train_docs(spark), "doc_id", "text", "is_pos",
        num_buckets=512, iters=8, learning_rate=0.5, l2=0.0,
        hash_family="portable",
    )
    topk = w.orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
    # rank window AFTER the limit, over <= 50 rows — benign
    wnd = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(wnd).cast("int")).select(
        "doc_id", "rank"
    )


@query(
    "quality_lr_ranking_reloaded",
    oracle=f"""
    WITH {_lr_sql(512, iters=8, lr=0.5, l2=0.0, train_pred="t.doc_id % 10 < 8")}
    SELECT doc_id, CAST(rank AS INT) AS rank FROM (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM lrscores
    ) WHERE rank <= 50
    """,
    tags=("quality-classifier", "iterative", "model-persistence",
          "beyond-parity"),
)
def quality_lr_ranking_reloaded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LR filter's train-once / score-later leg: the trained
    weights round-trip through save_model → parquet → load_model
    (sidecar kind + params validated) and the RELOADED model ranks the
    corpus — against the SAME full-GD-unroll oracle as the in-session
    twin (quality_lr_ranking), so any bit drift through the persistence
    layer reorders the ranking and fails the hash. Completes the
    reloaded-gate symmetry: NB (quality_classifier_ranking_reloaded),
    IVF-PQ (ann_ivfpq_topk_reloaded), LR (here)."""
    from hpc_hd_textreuse_etl_spark.functions.model_store import (
        load_model,
        save_model,
    )
    from hpc_hd_textreuse_etl_spark.operators.classifier import (
        lr_quality_model,
        lr_quality_scores,
    )

    params = dict(num_buckets=512, iters=8, learning_rate=0.5, l2=0.0,
                  hash_family="portable", seed=7)
    model = lr_quality_model(
        _nb_train_docs(spark), "doc_id", "text", "is_pos",
        num_buckets=512, iters=8, learning_rate=0.5, l2=0.0,
        hash_family="portable",
    )
    path = session_temp_dir("lr-model-")
    save_model(model, path, "lr_quality_model", params)
    reloaded = load_model(spark, path, "lr_quality_model", params)
    w = lr_quality_scores(
        spark.table("documents"), None, "doc_id", "text", "is_pos",
        num_buckets=512, hash_family="portable", model=reloaded,
    )
    topk = w.orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
    wnd = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(wnd).cast("int")).select(
        "doc_id", "rank"
    )


def _ivfpq_oracle(
    k: int, n_cells: int, n_probe: int, lloyd_iters: int,
    m: int, ks: int, pq_iters: int, seed: int, dim: int,
) -> str:
    """DuckDB SQL mirroring ivfpq_topk(hash_family='portable') END TO
    END: the shared coarse-quantizer Lloyd unroll (_ivf_lloyd_ctes —
    bit-identical to the IVF-flat oracle), L2 normalization, subspace
    split, seeded PQ init, L2-assignment Lloyd rounds with order-fixed
    means, final codes, the per-query ADC lookup table, and the
    subspace-ordered ADC fold. PQ arithmetic is pure +/* (no ``ln``),
    so the adc DOUBLES hash-match — the only ANN family whose scores,
    not just ranks, sit under the value gate."""
    cos = _ivf_cos
    d_sub = dim // m
    last = lloyd_iters
    ctes = _ivf_lloyd_ctes(n_cells, lloyd_iters, seed, dim)
    pq_h = f"('0x' || substr(md5(vec_id || '#pq{seed}'), 1, 15))::BIGINT"
    ctes.append("""nv AS (
      SELECT vec_id,
             CASE WHEN nrm = 0 THEN x
                  ELSE list_transform(x, e -> e / nrm) END AS vn
      FROM (
        SELECT vec_id, v AS x,
               sqrt(list_sum(list_transform(v, e -> e * e))) AS nrm
        FROM v
      )
    )""")
    ctes.append(f"""sv AS (
      SELECT vec_id, r.range AS j,
             vn[r.range * {d_sub} + 1 : r.range * {d_sub} + {d_sub}] AS s
      FROM nv CROSS JOIN range({m}) r
    )""")
    ctes.append(f"""pinit AS (
      SELECT row_number() OVER (ORDER BY {pq_h}) AS code, vec_id
      FROM nv ORDER BY {pq_h} LIMIT {ks}
    )""")
    ctes.append("""cb0 AS (
      SELECT s.j, p.code, s.s AS c FROM sv s JOIN pinit p USING (vec_id)
    )""")
    l2 = (
        "list_sum(list_transform(list_zip(sv.s, cb.c), "
        "z -> (z[1] - z[2]) * (z[1] - z[2])))"
    )
    for i in range(pq_iters + 1):
        ctes.append(f"""pa{i} AS (
      SELECT vec_id, j, code FROM (
        SELECT sv.vec_id, sv.j, cb.code,
               row_number() OVER (PARTITION BY sv.vec_id, sv.j
                                  ORDER BY {l2} ASC, cb.code) AS rn
        FROM sv JOIN cb{i} cb ON sv.j = cb.j
      ) WHERE rn = 1
    )""")
        if i < pq_iters:
            ctes.append(f"""cb{i + 1} AS (
      SELECT j, code, list(c ORDER BY pos) AS c FROM (
        SELECT a.j, a.code, p.range AS pos,
               list_sum(list_sort(list(s.s[p.range + 1]))) / count(*) AS c
        FROM pa{i} a
        JOIN sv s ON a.vec_id = s.vec_id AND a.j = s.j
        CROSS JOIN range({d_sub}) p
        GROUP BY a.j, a.code, p.range
      ) GROUP BY j, code
    )""")
    ctes.append(f"""probes AS (
      SELECT query_id, cell_id FROM (
        SELECT q.vec_id AS query_id, c.cell_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos('q.v', 'c.centroid')} DESC,
                                           c.cell_id) AS rn
        FROM v q CROSS JOIN c{last} c WHERE q.vec_id < 20
      ) WHERE rn <= {n_probe}
    )""")
    ctes.append(f"""lut AS (
      SELECT s.vec_id AS query_id, cb.j, cb.code,
             list_sum(list_transform(list_zip(s.s, cb.c),
                                     z -> z[1] * z[2])) AS lt
      FROM sv s JOIN cb{pq_iters} cb ON s.j = cb.j
      WHERE s.vec_id < 20
    )""")
    ctes.append(f"""cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN a{last} a ON p.cell_id = a.cell_id
      WHERE a.vec_id <> p.query_id
    )""")
    ctes.append(f"""adcs AS (
      SELECT c.query_id, c.neighbor_id,
             list_sum(list(l.lt ORDER BY l.j)) AS adc
      FROM cand c
      JOIN pa{pq_iters} pc ON pc.vec_id = c.neighbor_id
      JOIN lut l ON l.query_id = c.query_id
                AND l.j = pc.j AND l.code = pc.code
      GROUP BY 1, 2
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, adc, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc DESC, neighbor_id) AS rank
      FROM adcs
    ) WHERE rank <= {k}
    """


@query(
    "ann_ivfpq_topk",
    oracle=_ivfpq_oracle(
        k=5, n_cells=8, n_probe=3, lloyd_iters=2,
        m=8, ks=8, pq_iters=1, seed=42, dim=64,
    ),
    tags=("similarity-ivfpq", "beyond-parity"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/similarity.py ivfpq_topk): coarse IVF
    probing + product-quantized ADC scoring — the memory-bounded tier
    (m=8 one-byte codes instead of 64 float32s per candidate). The
    WHOLE pipeline — coarse quantizer, normalization, subspace
    codebooks, codes, lookup tables, and the adc score doubles
    themselves — value-hash-matches the unrolled DuckDB oracle (PQ has
    no ``ln``, so score values gate exactly, unlike BM25/DSIR)."""
    from hpc_hd_textreuse_etl_spark.operators.similarity import ivfpq_topk

    emb = spark.table("embeddings")
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 20), emb, "vec_id", "embedding",
        k=5, n_cells=8, n_probe=3, lloyd_iters=2,
        m=8, ks=8, pq_iters=1, hash_family="portable",
    )


@query(
    "ann_ivfpq_topk_reloaded",
    oracle=_ivfpq_oracle(
        k=5, n_cells=8, n_probe=3, lloyd_iters=2,
        m=8, ks=8, pq_iters=1, seed=42, dim=64,
    ),
    tags=("similarity-ivfpq", "model-persistence", "beyond-parity"),
)
def ann_ivfpq_topk_reloaded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ scored from a PERSISTED index: coarse centroids,
    assignments, PQ codebooks and codes all round-trip through
    functions/model_store.py, and ivfpq_topk(index=...) scores from
    the reloaded frames — against the same unrolled oracle as the
    train-in-session twin (ann_ivfpq_topk), adc doubles and all. This
    is the index-build-nightly / query-all-day deployment shape; the
    sidecar's params check is what stops a query batch from probing an
    index trained with different (m, ks, seed) knobs."""
    from hpc_hd_textreuse_etl_spark.functions.model_store import (
        load_model,
        save_model,
    )
    from hpc_hd_textreuse_etl_spark.operators.similarity import (
        ivf_index,
        ivfpq_topk,
        pq_train,
    )

    knobs = dict(n_cells=8, lloyd_iters=2, m=8, ks=8, pq_iters=1,
                 seed=42, dim=64, hash_family="portable")
    emb = spark.table("embeddings")
    centroids, assignments = ivf_index(
        emb, "vec_id", "embedding", 8, 2, 42, hash_family="portable"
    )
    codebooks, codes = pq_train(
        emb, "vec_id", "embedding", 8, 8, 1, 42, 64, "portable"
    )
    base = session_temp_dir("ivfpq-index-")
    parts = {
        "centroids": centroids, "assignments": assignments,
        "codebooks": codebooks, "codes": codes,
    }
    corpus_sized = {"assignments", "codes"}  # one row per corpus vector
    for part, df in parts.items():
        save_model(df, f"{base}/{part}", f"ivfpq_{part}", knobs,
                   single_file=part not in corpus_sized)
    index = tuple(
        load_model(spark, f"{base}/{part}", f"ivfpq_{part}", knobs)
        for part in parts
    )
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 20), emb, "vec_id", "embedding",
        k=5, n_probe=3, dim=64, m=8, index=index,
    )


def _install_ivfpq_recall_oracle() -> None:
    QUERIES["ann_ivfpq_recall"].oracle = f"""
    WITH exact AS (
      SELECT query_id, neighbor_id FROM ({QUERIES["ann_cosine_topk"].oracle})
    ), pq AS (
      SELECT query_id, neighbor_id FROM ({QUERIES["ann_ivfpq_topk"].oracle})
    )
    SELECT e.query_id,
           CAST(count(p.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(p.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM exact e LEFT JOIN pq p USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """


@query(
    "ann_ivfpq_recall",
    oracle=None,  # composed below from the two gated ANN oracles
    tags=("ann-eval", "recall", "similarity-ivfpq", "beyond-parity"),
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF-PQ path against the exact brute-force
    ranking, per query — the ship/no-ship metric for the compressed
    index, AS a gated query (the ann_lsh_recall pattern: both
    underlying pipelines hash-match standalone and their oracles
    compose verbatim). PQ recall reflects BOTH probe misses and code
    distortion, so it lower-bounds the IVF-flat recall at the same
    probe settings."""
    from hpc_hd_textreuse_etl_spark.operators.similarity import (
        cosine_topk,
        ivfpq_topk,
    )

    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(q, emb, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    pq = (
        ivfpq_topk(
            q, emb, "vec_id", "embedding",
            k=5, n_cells=8, n_probe=3, lloyd_iters=2,
            m=8, ks=8, pq_iters=1, hash_family="portable",
        )
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        exact.join(pq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("bigint").alias("n_overlap"),
            (F.count("__hit").cast("double") / F.lit(5.0)).alias("recall_at_5"),
        )
    )


_install_ivfpq_recall_oracle()


def _synthetic_png_docs(spark: SparkSession, limit: int = 300) -> DataFrame:
    """Deterministic 16×16 single-channel PNGs from the portable pixel
    formula: ``p(d, r, c) = H(d%50 || '|' || r || '|' || c) % 256``
    with a per-document one-pixel perturbation at
    ``(d % 16, (d // 16) % 16)`` (+128 mod 256) — 50 base patterns,
    each document a near-identical variant. The pixel array is pure
    Catalyst (oracle-replicable); only the PNG container encode is an
    Arrow-batched UDF (functions/png_codec.py — stdlib zlib), and the
    encode→decode round-trip is lossless, so the downstream perceptual
    hash is provably a function of the FORMULA, which is what lets
    DuckDB gate an image pipeline it cannot decode."""
    import pandas as pd

    from hpc_hd_textreuse_etl_spark.functions.hashing import portable_hash64

    docs = spark.table("documents").filter(F.col("doc_id") < limit).select("doc_id")
    idx = F.sequence(F.lit(0), F.lit(255))

    def pixel(i):
        r = F.shiftright(i, 4)
        c = i.bitwiseAND(F.lit(15))
        h = portable_hash64(
            F.concat_ws(
                "|",
                (F.col("doc_id") % 50).cast("string"),
                r.cast("string"),
                c.cast("string"),
            )
        ) % 256
        perturbed = (
            (r == F.col("doc_id") % 16)
            & (c == F.shiftright(F.col("doc_id"), 4) % 16)
        )
        return F.when(perturbed, (h + 128) % 256).otherwise(h).cast("int")

    with_pix = docs.select("doc_id", F.transform(idx, pixel).alias("pix"))

    def encode(batches):
        from hpc_hd_textreuse_etl_spark.functions.png_codec import png_encode

        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "data": [
                        png_encode(16, 16, 1, bytes(list(p))) for p in pdf["pix"]
                    ],
                }
            )

    return with_pix.mapInPandas(encode, schema="doc_id long, data binary")


def _phash_oracle_select(limit: int = 300) -> str:
    """DuckDB SQL computing the dHash of the synthetic PNGs DIRECTLY
    from the pixel formula — the encode/decode round-trip cancels, so
    matching this is a gate over the whole Spark image chain (pixel
    gen, PNG encode, stdlib decode, grayscale, 16×16 → 9×8 nearest-
    neighbor resize, bit pack). Only the 72 SAMPLED pixel positions
    are materialized; bit 63 wraps to the signed BIGINT the phash
    column holds."""
    def h(sr: int, sc: int) -> str:
        return (
            f"(('0x' || substr(md5(CAST(doc_id % 50 AS VARCHAR) || "
            f"'|{sr}|{sc}'), 1, 15))::BIGINT % 256)"
        )

    def px(sr: int, sc: int) -> str:
        return (
            f"(CASE WHEN doc_id % 16 = {sr} AND (doc_id // 16) % 16 = {sc} "
            f"THEN ({h(sr, sc)} + 128) % 256 ELSE {h(sr, sc)} END)"
        )

    rows_map = [y * 16 // 8 for y in range(8)]
    cols_map = [x * 16 // 9 for x in range(9)]
    pix_cols = ", ".join(
        f"{px(rows_map[r], cols_map[c])} AS p_{r}_{c}"
        for r in range(8)
        for c in range(9)
    )
    bit_sum = " + ".join(
        f"(CASE WHEN p_{r}_{c} > p_{r}_{c + 1} "
        f"THEN {1 << (r * 8 + c)}::HUGEINT ELSE 0::HUGEINT END)"
        for r in range(8)
        for c in range(8)
    )
    return f"""px AS (
      SELECT doc_id, {pix_cols} FROM documents WHERE doc_id < {limit}
    ), ph AS (
      SELECT doc_id,
             CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                       THEN s - 18446744073709551616::HUGEINT
                       ELSE s END AS BIGINT) AS phash
      FROM (SELECT doc_id, ({bit_sum}) AS s FROM px)
    )"""


@query(
    "perceptual_dhash_codes",
    oracle=f"""
    WITH {_phash_oracle_select()}
    SELECT doc_id, phash FROM ph
    """,
    tags=("perceptual-dedup", "multimodal", "beyond-parity"),
)
def perceptual_dhash_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash over a synthetic PNG corpus
    (operators/multimodal.py perceptual_image_hashes): the full image
    pipeline — Catalyst pixel generation, distributed PNG encode,
    stdlib decode, grayscale, nearest-neighbor resize, difference-hash
    bit pack — value-hash-gated against a DuckDB oracle that computes
    the hash from the pixel formula alone (the lossless container
    round-trip cancels out)."""
    from hpc_hd_textreuse_etl_spark.operators.multimodal import (
        perceptual_image_hashes,
    )

    pngs = _synthetic_png_docs(spark)
    return perceptual_image_hashes(pngs, "doc_id", "data", method="dhash")


@query(
    "perceptual_near_duplicate_images",
    oracle=f"""
    WITH {_phash_oracle_select()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 2
    """,
    tags=("perceptual-dedup", "multimodal", "beyond-parity"),
)
def perceptual_near_duplicate_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs: dHash codes → Hamming-ball
    blocking via the pigeonhole banding engine (operators/dedup.py
    signature_near_duplicates — the SimHash machinery reused on image
    signatures) → exact bit_count(xor) verification at radius 2. The
    DuckDB oracle brute-forces ALL pairs within the radius, so the
    gate proves the banding is lossless, not just plausible."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        signature_near_duplicates,
    )
    from hpc_hd_textreuse_etl_spark.operators.multimodal import (
        perceptual_image_hashes,
    )

    pngs = _synthetic_png_docs(spark)
    hashes = perceptual_image_hashes(pngs, "doc_id", "data", method="dhash")
    return signature_near_duplicates(
        hashes, "doc_id", "phash", max_hamming=2
    ).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@query(
    "perceptual_near_duplicate_images_delta",
    oracle=f"""
    WITH {_phash_oracle_select()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 2
      AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
    """,
    tags=("perceptual-dedup", "multimodal", "incremental", "beyond-parity"),
)
def perceptual_near_duplicate_images_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The daily-ingest leg of perceptual image dedup
    (operators/dedup.py signature_near_duplicates_delta): the corpus's
    signature table is already materialized (every doc_id % 5 != 0
    image), a delta of new images (doc_id % 5 == 0) is hashed and
    banded against base ∪ delta. The DuckDB oracle brute-forces all
    within-radius pairs TOUCHING the delta — so the gate proves both
    the pigeonhole banding's losslessness on the ingest path and that
    base-internal pairs are never re-derived (they are absent from the
    oracle's answer, so re-deriving any would fail the value-hash)."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        signature_near_duplicates_delta,
    )
    from hpc_hd_textreuse_etl_spark.operators.multimodal import (
        perceptual_image_hashes,
    )

    pngs = _synthetic_png_docs(spark)
    hashes = perceptual_image_hashes(pngs, "doc_id", "data", method="dhash")
    base = hashes.filter(F.col("doc_id") % 5 != 0)
    delta = hashes.filter(F.col("doc_id") % 5 == 0)
    return signature_near_duplicates_delta(
        base, delta, "doc_id", "phash", max_hamming=2
    ).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@query(
    "perceptual_near_duplicate_images_star",
    oracle=f"""
    WITH {_phash_oracle_select()},
    sig_groups AS (
      SELECT phash AS sig, min(doc_id) AS rep FROM ph GROUP BY phash
    ),
    stars AS (
      SELECT g.rep AS id_a, p.doc_id AS id_b, 0 AS hamming
      FROM ph p JOIN sig_groups g ON p.phash = g.sig
      WHERE p.doc_id <> g.rep
    ),
    cross_pairs AS (
      SELECT least(a.rep, b.rep) AS id_a, greatest(a.rep, b.rep) AS id_b,
             bit_count(xor(a.sig, b.sig)) AS hamming
      FROM sig_groups a JOIN sig_groups b ON a.sig < b.sig
      WHERE bit_count(xor(a.sig, b.sig)) <= 2
    )
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM stars
    UNION ALL
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM cross_pairs
    """,
    tags=("perceptual-dedup", "multimodal", "scale-path", "beyond-parity"),
)
def perceptual_near_duplicate_images_star(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The duplicate-heavy-corpus scale path of perceptual image dedup
    (operators/dedup.py signature_near_duplicates
    ``collapse_identical=True``): identical-signature groups emit a
    linear STAR to their min-id representative instead of the
    quadratic clique, and only distinct signatures enter the banding
    join — connectivity-equivalent for resolve_duplicates, output
    linear in the duplicate-group size. The DuckDB oracle recomputes
    the exact star representation (per-signature min-id groups, star
    edges, representative cross pairs within radius 2), so the
    collapsed output is value-hash-gated, not just
    equivalence-tested."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        signature_near_duplicates,
    )
    from hpc_hd_textreuse_etl_spark.operators.multimodal import (
        perceptual_image_hashes,
    )

    pngs = _synthetic_png_docs(spark)
    hashes = perceptual_image_hashes(pngs, "doc_id", "data", method="dhash")
    return signature_near_duplicates(
        hashes, "doc_id", "phash", max_hamming=2, collapse_identical=True
    ).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@query(
    "perceptual_near_duplicate_images_delta_star",
    oracle=f"""
    WITH {_phash_oracle_select()},
    base AS (SELECT * FROM ph WHERE doc_id % 5 <> 0),
    delta AS (SELECT * FROM ph WHERE doc_id % 5 = 0),
    base_groups AS (
      SELECT phash AS sig, min(doc_id) AS base_rep FROM base GROUP BY phash
    ),
    delta_groups AS (
      SELECT phash AS sig, min(doc_id) AS delta_rep FROM delta GROUP BY phash
    ),
    anchors AS (
      SELECT d.sig, coalesce(b.base_rep, d.delta_rep) AS anchor,
             b.base_rep IS NOT NULL AS sig_in_base
      FROM delta_groups d LEFT JOIN base_groups b ON d.sig = b.sig
    ),
    stars AS (
      SELECT least(a.anchor, p.doc_id) AS id_a,
             greatest(a.anchor, p.doc_id) AS id_b, 0 AS hamming
      FROM delta p JOIN anchors a ON p.phash = a.sig
      WHERE p.doc_id <> a.anchor
    ),
    new_reps AS (
      SELECT anchor AS id, sig FROM anchors WHERE NOT sig_in_base
    ),
    all_reps AS (
      SELECT base_rep AS id, sig FROM base_groups
      UNION ALL SELECT id, sig FROM new_reps
    ),
    cross_pairs AS (
      SELECT DISTINCT least(n.id, r.id) AS id_a,
             greatest(n.id, r.id) AS id_b,
             bit_count(xor(n.sig, r.sig)) AS hamming
      FROM new_reps n JOIN all_reps r ON n.sig <> r.sig
      WHERE bit_count(xor(n.sig, r.sig)) <= 2
    )
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM stars
    UNION ALL
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM cross_pairs
    """,
    tags=("perceptual-dedup", "multimodal", "incremental", "scale-path",
          "beyond-parity"),
)
def perceptual_near_duplicate_images_delta_star(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ingest leg under the star collapse
    (signature_near_duplicates_delta ``collapse_identical=True``):
    every delta image attaches by a hamming-0 star to its signature's
    anchor (the existing base representative when the signature is
    already in the corpus — so a re-uploaded duplicate joins its
    cluster with ONE row — else the delta minimum), and only
    NEW-to-the-corpus signatures band against the corpus's distinct
    signatures. A viral image re-ingested a million times costs a
    million star rows, not a half-trillion pairs. The oracle
    recomputes anchors, stars, and new-signature cross pairs
    relationally."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        signature_near_duplicates_delta,
    )
    from hpc_hd_textreuse_etl_spark.operators.multimodal import (
        perceptual_image_hashes,
    )

    pngs = _synthetic_png_docs(spark)
    hashes = perceptual_image_hashes(pngs, "doc_id", "data", method="dhash")
    base = hashes.filter(F.col("doc_id") % 5 != 0)
    delta = hashes.filter(F.col("doc_id") % 5 == 0)
    return signature_near_duplicates_delta(
        base, delta, "doc_id", "phash", max_hamming=2,
        collapse_identical=True,
    ).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _synthetic_wav_docs(spark: SparkSession, limit: int = 200) -> DataFrame:
    """Deterministic 1024-sample 16-bit mono WAV clips from the
    portable sample formula:
    ``u(d, i) = H(d%40 || '|' || i) % 65536`` and
    ``s = u - 32768``, with a per-document one-sample perturbation at
    ``i = d % 1024`` (``u + 16384 mod 65536``) — 40 base waveforms,
    each document a near-identical variant. The sample array is pure
    Catalyst; only the WAV container encode is an Arrow-batched UDF
    (functions/wav_codec.py — stdlib struct), and the encode→decode
    round-trip is lossless, so the downstream energy-contour
    fingerprint is provably a function of the FORMULA — the PNG
    precedent (_synthetic_png_docs) transferred to audio, letting
    DuckDB gate an audio pipeline it cannot decode."""
    import pandas as pd

    from hpc_hd_textreuse_etl_spark.functions.hashing import portable_hash64

    docs = spark.table("documents").filter(F.col("doc_id") < limit).select("doc_id")
    idx = F.sequence(F.lit(0), F.lit(1023))

    def sample(i):
        u = portable_hash64(
            F.concat_ws(
                "|",
                (F.col("doc_id") % 40).cast("string"),
                i.cast("string"),
            )
        ) % 65536
        u2 = F.when(
            i == F.col("doc_id") % 1024, (u + 16384) % 65536
        ).otherwise(u)
        return (u2 - 32768).cast("int")

    with_samples = docs.select("doc_id", F.transform(idx, sample).alias("smp"))

    def encode(batches):
        import struct

        from hpc_hd_textreuse_etl_spark.functions.wav_codec import wav_encode

        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "data": [
                        wav_encode(
                            8000, 1, 2,
                            struct.pack(f"<{len(s)}h", *list(s)),
                        )
                        for s in pdf["smp"]
                    ],
                }
            )

    return with_samples.mapInPandas(encode, schema="doc_id long, data binary")


def _afp_oracle_select(limit: int = 200) -> str:
    """DuckDB SQL computing the energy-contour fingerprint of the
    synthetic WAVs DIRECTLY from the sample formula — the WAV
    encode/decode round-trip cancels, so matching this gates the whole
    Spark audio chain (sample gen, WAV encode, stdlib decode, mono
    samples, 64-segment energy sums, ring-comparison bit pack). Unlike
    the 72-pixel image oracle this one materializes ALL 1024 samples
    per document via a relational ``range`` cross join (the energy sum
    needs every sample); bit 63 wraps to the signed BIGINT the afp
    column holds."""
    return f"""wav_u AS (
      SELECT d.doc_id, r.i,
             (('0x' || substr(md5(CAST(d.doc_id % 40 AS VARCHAR) || '|' ||
               CAST(r.i AS VARCHAR)), 1, 15))::BIGINT % 65536) AS u
      FROM (SELECT doc_id FROM documents WHERE doc_id < {limit}) d
      CROSS JOIN (SELECT range AS i FROM range(1024)) r
    ), wav_s AS (
      SELECT doc_id, i,
             CASE WHEN i = doc_id % 1024
                  THEN ((u + 16384) % 65536) - 32768
                  ELSE u - 32768 END AS s
      FROM wav_u
    ), wav_seg AS (
      SELECT doc_id, i // 16 AS seg, sum(abs(s)) AS e
      FROM wav_s GROUP BY doc_id, i // 16
    ), afp AS (
      SELECT doc_id,
             CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                       THEN s - 18446744073709551616::HUGEINT
                       ELSE s END AS BIGINT) AS afp
      FROM (
        SELECT a.doc_id,
               sum(CASE WHEN a.e > b.e
                        THEN CAST(power(2, a.seg) AS HUGEINT)
                        ELSE 0::HUGEINT END) AS s
        FROM wav_seg a JOIN wav_seg b
          ON a.doc_id = b.doc_id AND b.seg = (a.seg + 1) % 64
        GROUP BY a.doc_id
      )
    )"""


@query(
    "audio_fingerprint_codes",
    oracle=f"""
    WITH {_afp_oracle_select()}
    SELECT doc_id, afp, 8000 AS sample_rate,
           CAST(1024 AS BIGINT) AS n_samples
    FROM afp
    """,
    tags=("audio-dedup", "multimodal", "beyond-parity"),
)
def audio_fingerprint_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio modality's fingerprint pass end to end: synthetic WAV
    clips (pure-Catalyst sample formula → stdlib WAV encode) →
    operators/multimodal.py audio_fingerprints (decode → integer mono →
    64 segment energies → ring-comparison bit pack) — value-hash-gated
    against a DuckDB oracle that computes the fingerprint from the
    sample formula alone (the lossless container round-trip cancels).
    The gated sample_rate / n_samples columns additionally pin the
    header round-trip."""
    from hpc_hd_textreuse_etl_spark.operators.multimodal import (
        audio_fingerprints,
    )

    wavs = _synthetic_wav_docs(spark)
    return audio_fingerprints(wavs, "doc_id", "data").select(
        "doc_id", "afp", "sample_rate", "n_samples"
    )


@query(
    "audio_near_duplicate_clips",
    oracle=f"""
    WITH {_afp_oracle_select()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
    FROM afp a JOIN afp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.afp, b.afp)) <= 4
    """,
    tags=("audio-dedup", "multimodal", "beyond-parity"),
)
def audio_near_duplicate_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs: energy-contour fingerprints → the SAME
    pigeonhole banding engine the image and SimHash families use
    (operators/dedup.py signature_near_duplicates — signature-agnostic
    by design, so the audio modality inherits batch, delta,
    star-collapse and streaming legs for free) → exact bit_count(xor)
    verification at radius 4. The DuckDB oracle brute-forces all pairs
    within the radius, proving the banding lossless on audio
    signatures."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        signature_near_duplicates,
    )
    from hpc_hd_textreuse_etl_spark.operators.multimodal import (
        audio_fingerprints,
    )

    wavs = _synthetic_wav_docs(spark)
    fps = audio_fingerprints(wavs, "doc_id", "data").select("doc_id", "afp")
    return signature_near_duplicates(
        fps, "doc_id", "afp", max_hamming=4
    ).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@query(
    "pareto_frontier_parts",
    oracle="""
    WITH d AS (
      SELECT p_partkey, CAST(p_retailprice AS DOUBLE) AS price,
             CAST(p_size AS INT) AS p_size,
             CAST(length(p_name) AS INT) AS name_len
      FROM part
    )
    SELECT p_partkey, price, p_size, name_len FROM d q
    WHERE NOT EXISTS (
      SELECT 1 FROM d p
      WHERE p.price <= q.price AND p.p_size >= q.p_size
        AND p.name_len <= q.name_len
        AND (p.price < q.price OR p.p_size > q.p_size
             OR p.name_len < q.name_len)
    )
    """,
    tags=("skyline", "pandas-udf"),
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-objective Pareto frontier over part (minimize price, maximize
    size, minimize name length) — batch-local numpy prune inside the
    scan stage, then a broadcast anti-join verify among candidates; the
    oracle is the brute-force NOT EXISTS dominance predicate, so the
    full skyline membership is value-checked
    (operators/skyline.py pareto_frontier)."""
    from hpc_hd_textreuse_etl_spark.operators.skyline import pareto_frontier

    d = spark.table("part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("price"),
        F.col("p_size").cast("int").alias("p_size"),
        F.length("p_name").cast("int").alias("name_len"),
    )
    return pareto_frontier(
        d, ["price", "p_size", "name_len"], ["min", "max", "min"]
    )


@query(
    "pareto_frontier_2d_parts",
    oracle="""
    WITH d AS (
      SELECT p_partkey, CAST(p_size AS INT) AS p_size,
             CAST(p_retailprice AS DOUBLE) AS price
      FROM part
    )
    SELECT p_partkey, p_size, price FROM d q
    WHERE NOT EXISTS (
      SELECT 1 FROM d p
      WHERE p.p_size <= q.p_size AND p.price >= q.price
        AND (p.p_size < q.p_size OR p.price > q.price)
    )
    """,
    tags=("skyline",),
)
def pareto_frontier_2d_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (minimize size, maximize price) via the pure-Catalyst
    sort + running-best window — no Python, one exchange; must agree
    with the brute-force dominance oracle
    (operators/skyline.py pareto_frontier_2d)."""
    from hpc_hd_textreuse_etl_spark.operators.skyline import (
        pareto_frontier_2d,
    )

    d = spark.table("part").select(
        "p_partkey",
        F.col("p_size").cast("int").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("price"),
    )
    return pareto_frontier_2d(d, "p_size", "price", ("min", "max"))


@query(
    "doc_bigram_lm",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, lst[i] AS w1, lst[i + 1] AS w2
      FROM (SELECT doc_id, {_TOK} AS lst FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(lst) - 1)) AS i)
      WHERE len(lst) >= 2
    ), cnt AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
      FROM pos GROUP BY w1, w2 HAVING count(*) >= 2
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(SUM(c.n_xy), 0) AS BIGINT) AS sum_bigram_n,
           CAST(SUM(CASE WHEN c.n_xy IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS unseen_bigrams
    FROM pos p LEFT JOIN cnt c ON p.w1 = c.w1 AND p.w2 = c.w2
    GROUP BY p.doc_id
    """,
    tags=("corpus-stats", "language-model"),
)
def doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM familiarity, exact integer core: adjacent
    pairs per doc, Σ corpus counts (min_count=2 pruned) and unseen-pair
    counts. Bigrams are built INSIDE each row (Catalyst transform +
    element_at — no positional self-join, no window) and reduce
    map-side onto the pair join key. The add-k smoothed avg_logprob
    float layer is epsilon-tested in test_corpus_stats, not
    oracle-gated (libm ln — same reasoning as TF-IDF)
    (operators/corpus_stats.py bigram_lm_score)."""
    from hpc_hd_textreuse_etl_spark.operators.corpus_stats import (
        bigram_counts,
        bigram_lm_score,
    )

    docs = spark.table("documents")
    counts = bigram_counts(docs, "doc_id", "text", min_count=2)
    return bigram_lm_score(docs, "doc_id", "text", counts=counts).select(
        "doc_id", "n_bigrams", "sum_bigram_n", "unseen_bigrams"
    )


_install_weighted_sample_oracle()


# ---------------------------------------------------------------------------
# Round-3 twenty-first wave: ER composition, inverted index, chi-square
# ---------------------------------------------------------------------------


@query(
    "entity_resolution_parts",
    oracle="""
    WITH RECURSIVE names AS (
      SELECT p_name, MIN(p_partkey) AS pid FROM part GROUP BY p_name
    ), pairs AS (
      SELECT a.pid AS id_a, b.pid AS id_b
      FROM names a JOIN names b
        ON b.pid > a.pid
       AND abs(length(a.p_name) - length(b.p_name)) <= 2
       AND levenshtein(a.p_name, b.p_name) <= 2
    ), e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach AS (
      SELECT src AS node, src AS x FROM e
      UNION
      SELECT r.node, e.dst AS x FROM reach r JOIN e ON e.src = r.x
    )
    SELECT n.pid AS pid,
           COALESCE(MIN(r.x), n.pid) AS canonical_id,
           COALESCE(MIN(r.x), n.pid) = n.pid AS is_canonical
    FROM names n LEFT JOIN reach r ON r.node = n.pid
    GROUP BY n.pid
    """,
    tags=("entity-resolution", "composition"),
)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ENTITY RESOLUTION as one gated chain: distinct part
    names → sound length-band fuzzy blocking (edit distance ≤ 2, exact
    recall) → transitive closure over the match graph (large-star /
    small-star CC) → min-id canonical entity per group, every name
    covered. The oracle recomputes all three stages (brute-force
    levenshtein all-pairs, recursive-CTE closure, keeper pick), so
    blocking recall, grouping AND survivorship are under one value-hash
    gate — the same whole-pipeline gating style as curated_corpus
    (operators/fuzzy.py fuzzy_self_join +
    operators/dedup.py resolve_duplicates)."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import resolve_duplicates
    from hpc_hd_textreuse_etl_spark.operators.fuzzy import fuzzy_self_join

    names = (
        spark.table("part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("pid"))
    )
    pairs = fuzzy_self_join(names, "pid", "p_name", max_dist=2)
    return resolve_duplicates(names.select("pid"), "pid", pairs)


@query(
    "token_postings",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, i, lst[i] AS token
      FROM (SELECT doc_id, {_TOK} AS lst FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(lst))) AS i)
    )
    SELECT token, doc_id, CAST(count(*) AS BIGINT) AS n_occ,
           list(i ORDER BY i) AS positions
    FROM pos GROUP BY token, doc_id
    """,
    tags=("inverted-index", "corpus-stats"),
)
def token_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index — the posting-list layer of retrieval
    and of phrase-level contamination checks: for every (token, doc),
    the occurrence count and the sorted 1-based position array.
    Positions are generated IN-ROW (posexplode inside the scan stage),
    then ONE map-side-combined shuffle keyed (token, doc) builds the
    lists; sort_array makes the array deterministic under any partition
    order, and the full array values are under the hash gate."""
    from hpc_hd_textreuse_etl_spark.functions.text import tokens

    docs = spark.table("documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "token")
    )
    return tok.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        F.sort_array(F.collect_list((F.col("pos") + 1).cast("bigint"))).alias(
            "positions"
        ),
    )


@query(
    "token_label_association",
    oracle=f"""
    WITH present AS (
      SELECT DISTINCT doc_id, lang AS label, t.token
      FROM (SELECT doc_id, lang, {_TOK} AS lst FROM documents),
           LATERAL (SELECT unnest(lst) AS token) t
    ), n11 AS (
      SELECT token, label, CAST(count(*) AS BIGINT) AS n11
      FROM present GROUP BY token, label HAVING count(*) >= 5
    ), ntok AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_token
      FROM present GROUP BY token
    ), nlab AS (
      SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_label
      FROM documents GROUP BY lang
    )
    SELECT n11.token, n11.label, n11.n11, ntok.n_token, nlab.n_label,
           (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
    FROM n11 JOIN ntok ON ntok.token = n11.token
             JOIN nlab ON nlab.label = n11.label
    """,
    tags=("corpus-stats", "feature-selection"),
)
def token_label_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square token–language association, exact integer core: the
    full 2×2 document-level contingency table per (token, lang) —
    derivable from the four gated counts — with the (token, lang) tail
    pruned at n11 >= 5. The float chi2 score is strictly downstream of
    these integers and epsilon-tested in test_corpus_stats
    (operators/corpus_stats.py label_association)."""
    from hpc_hd_textreuse_etl_spark.operators.corpus_stats import (
        label_association,
    )

    docs = spark.table("documents")
    return label_association(docs, "doc_id", "text", "lang", min_count=5).select(
        "token", "label", "n11", "n_token", "n_label", "n_docs"
    )


def _install_negative_sample_oracle() -> None:
    gate = _DUCK_H.format(
        x="'neg-v1|' || CAST(e.vec_id AS VARCHAR) || '|' || CAST(i.i AS VARCHAR)"
    )
    QUERIES["contrastive_negative_samples"].oracle = f"""
    WITH c AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS nidx
      FROM documents
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT e.vec_id, CAST(i.i AS INT) AS sample_idx, c.doc_id AS negative_id
    FROM embeddings e,
         LATERAL (SELECT unnest(generate_series(1, 3)) AS i) i,
         n
    JOIN c ON c.nidx = 1 + ({gate} % n.n)
    """


@query(
    "contrastive_negative_samples",
    oracle=None,  # installed below (shares the portable-gate spelling)
    tags=("sampling-negative", "training-data"),
)
def contrastive_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: every
    embedding row draws 3 pseudo-random document ids via
    ``1 + H('neg-v1'|vec_id|i) mod N`` against the dense corpus index.
    The full (positive, draw index, negative id) triple set is
    value-hashed — index assignment, the modular pick and the fact-dim
    join are all under the gate
    (operators/sampling.py negative_samples)."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import negative_samples

    return negative_samples(
        spark.table("embeddings"),
        ["vec_id"],
        spark.table("documents"),
        "doc_id",
        k=3,
    )


@query(
    "last_touch_attribution",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
    ), w AS (
      SELECT user_id, event_id, event_type, us,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_id END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_event_id,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type
      FROM e
    )
    SELECT user_id, event_id AS purchase_event_id, us AS purchase_us,
           touch_event_id, touch_type
    FROM w WHERE event_type = 'purchase'
    """,
    tags=("event-analytics", "attribution"),
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent preceding non-purchase event. ONE exchange+sort per user
    (the same window serves both attributed columns — ignore-nulls
    last_value over the strict-predecessor frame, (µs, event_id) total
    order), then the purchase filter; no self-join against the event
    history. NULL attribution (purchase with no prior touch) is part of
    the gated surface."""
    ev = spark.table("events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_id = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_id")), True
    ).over(w)
    touch_type = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")), True
    ).over(w)
    return (
        ev.withColumn("touch_event_id", touch_id)
        .withColumn("touch_type", touch_type)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            F.col("us").alias("purchase_us"),
            "touch_event_id",
            "touch_type",
        )
    )


_install_negative_sample_oracle()


@query(
    "decayed_customer_value",
    bench=True,
    oracle="""
    WITH d AS (
      SELECT o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)
               * (CAST(1 AS BIGINT) << CAST(20 - greatest(0, least(20,
                   CAST(floor(
                     CAST(epoch_us(TIMESTAMP '2001-08-01 00:00:00')
                          - epoch_us(o_orderdate) AS DOUBLE)
                     / 31536000000000.0) AS BIGINT))) AS INT)) AS scaled
      FROM orders
    )
    SELECT o_custkey,
           CAST(SUM(scaled) AS BIGINT) AS decayed_value_scaled,
           CAST(count(*) AS BIGINT) AS decayed_value_n,
           CAST(SUM(scaled) AS DOUBLE) / 104857600.0 AS decayed_value
    FROM d GROUP BY o_custkey
    """,
    tags=("decayed-counters", "temporal"),
)
def decayed_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted customer value: per-customer sum of order totals
    decayed by 2^-(whole 365-day half-lives before the 2001-08-01
    snapshot). The decay runs entirely in scaled-integer space
    (cents · 2^(20−d), operators/temporal.py decayed_sum) so BOTH the
    bigint accumulator and the derived double are under the value-hash
    gate — an exp(-λt) formulation could never be, and even the
    power-of-two weight hits decimal-rounding midpoints if summed as
    decimal(30,6) (tried; 57/150 rows flipped at the 6th decimal)."""
    from hpc_hd_textreuse_etl_spark.operators.temporal import decayed_sum

    return decayed_sum(
        spark.table("orders"),
        ["o_custkey"],
        "o_totalprice",
        "o_orderdate",
        as_of="2001-08-01 00:00:00",
        half_life="365 days",
        max_half_lives=20,
    )


@query(
    "brand_association_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), nb AS (
      SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM items
    ), pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 5
    ), singles AS (
      SELECT item, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY item
    )
    SELECT p.item_a, p.item_b, p.n_ab, sa.n AS n_a, sb.n AS n_b,
           nb.n_baskets,
           CAST(p.n_ab AS DOUBLE) / CAST(sa.n AS DOUBLE) AS confidence,
           (CAST(p.n_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE))
             / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS lift
    FROM pairs p
    JOIN singles sa ON sa.item = p.item_a
    JOIN singles sb ON sb.item = p.item_b, nb
    """,
    tags=("basket-rules", "beyond-parity"),
)
def brand_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair rules over order baskets with part BRAND as
    the item (25-value universe → meaningful supports): exact bigint
    supports plus confidence/lift as fixed-order IEEE divisions, ALL
    under the value-hash gate (operators/basket.py). The within-basket
    pair join fans out C(|basket|,2) ≤ C(7,2) per order."""
    from hpc_hd_textreuse_etl_spark.operators.basket import association_rules

    baskets = (
        spark.table("lineitem")
        .join(F.broadcast(spark.table("part")), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
    )
    return association_rules(baskets, "l_orderkey", "p_brand", min_pair_support=5)


@query(
    "bm25_doc_ranking",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS token FROM documents
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS total_dl FROM dl
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
      WHERE token IN ('spark', 'merge', 'window') GROUP BY doc_id, token
    ), dfq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
    ), wide AS (
      SELECT t.doc_id, dl.dl,
             CAST(coalesce(max(CASE WHEN t.token = 'spark'  THEN t.tf END), 0) AS DOUBLE) AS tf1,
             CAST(coalesce(max(CASE WHEN t.token = 'merge'  THEN t.tf END), 0) AS DOUBLE) AS tf2,
             CAST(coalesce(max(CASE WHEN t.token = 'window' THEN t.tf END), 0) AS DOUBLE) AS tf3
      FROM tf t JOIN dl ON dl.doc_id = t.doc_id
      GROUP BY t.doc_id, dl.dl
    ), dfw AS (
      SELECT CAST(coalesce(max(CASE WHEN token = 'spark'  THEN df END), 0) AS DOUBLE) AS df1,
             CAST(coalesce(max(CASE WHEN token = 'merge'  THEN df END), 0) AS DOUBLE) AS df2,
             CAST(coalesce(max(CASE WHEN token = 'window' THEN df END), 0) AS DOUBLE) AS df3
      FROM dfq
    ), scored AS (
      SELECT w.doc_id,
             ((0.0
               + ln(1.0 + ((CAST(s.n_docs AS DOUBLE) - d.df1) + 0.5) / (d.df1 + 0.5))
                 * (w.tf1 * 2.2) / (w.tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(w.dl AS DOUBLE) / (s.total_dl / CAST(s.n_docs AS DOUBLE)))))
              + ln(1.0 + ((CAST(s.n_docs AS DOUBLE) - d.df2) + 0.5) / (d.df2 + 0.5))
                 * (w.tf2 * 2.2) / (w.tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(w.dl AS DOUBLE) / (s.total_dl / CAST(s.n_docs AS DOUBLE)))))
              + ln(1.0 + ((CAST(s.n_docs AS DOUBLE) - d.df3) + 0.5) / (d.df3 + 0.5))
                 * (w.tf3 * 2.2) / (w.tf3 + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(w.dl AS DOUBLE) / (s.total_dl / CAST(s.n_docs AS DOUBLE))))
             AS score
      FROM wide w, stats s, dfw d
    )
    SELECT doc_id, CAST(rank AS INT) AS rank FROM (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    tags=("bm25", "search", "beyond-parity"),
)
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the query {spark, merge, window} over the
    documents corpus (operators/corpus_stats.py bm25_topk). Gated on
    (doc_id, rank) only — per-term contributions are added in written
    order in BOTH engines, so the residual wobble is the libm ln ulp,
    exactly the matmul-ANN precedent; score values are epsilon-tested
    in tests/test_corpus_stats.py."""
    from hpc_hd_textreuse_etl_spark.operators.corpus_stats import bm25_topk

    docs = spark.table("documents")
    out = bm25_topk(docs, "doc_id", "text", ["spark", "merge", "window"], k=10)
    return out.select("doc_id", "rank")


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled k-core peel (the PageRank/IVF chained-CTE pattern): one
    degree + survivor + edge-restrict CTE triple per round.
    MATERIALIZED is load-bearing: each round references the previous
    round three times, so inlined CTEs expand 3^rounds scans of the
    base parquet (DuckDB ran out of file handles at rounds=6)."""
    parts = [
        """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(CAST(a.l_partkey AS BIGINT), CAST(b.l_partkey AS BIGINT)) AS x,
             GREATEST(CAST(a.l_partkey AS BIGINT), CAST(b.l_partkey AS BIGINT)) AS y
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""
    ]
    for r in range(rounds):
        parts.append(f""", d{r} AS MATERIALIZED (
      SELECT node, count(*) AS degree FROM (
        SELECT x AS node FROM e{r} UNION ALL SELECT y FROM e{r}
      ) GROUP BY node
    ), k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE degree >= {k}),
    e{r + 1} AS MATERIALIZED (
      SELECT e.x, e.y FROM e{r} e
      JOIN k{r} ka ON ka.node = e.x JOIN k{r} kb ON kb.node = e.y
    )""")
    parts.append(f"""
    SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
      SELECT x AS node FROM e{rounds} UNION ALL SELECT y FROM e{rounds}
    ) GROUP BY node HAVING count(*) >= {k}
    """)
    return "".join(parts)


@query(
    "kcore_part_graph",
    oracle=_kcore_oracle(k=65, rounds=6),
    tags=("graph-kcore", "iterative"),
)
def kcore_part_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """65-core of the part co-occurrence graph (parts adjacent iff they
    appear in the same order), peeled for a fixed 6-round budget —
    converged at both gated SFs (3 rounds at sf0.001, 1 at sf0.01;
    tests assert a 7th round is a no-op), and non-empty at both (188 /
    1992 surviving nodes). Peel confluence makes the fixpoint unique;
    the fixed budget makes every intermediate engine-reproducible, so
    the oracle unrolls the same rounds as chained CTEs
    (operators/graph.py kcore)."""
    from hpc_hd_textreuse_etl_spark.operators.graph import kcore

    li = spark.table("lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").cast("bigint").alias("src"),
            F.col("b.l_partkey").cast("bigint").alias("dst"),
        )
    )
    return kcore(pairs, "src", "dst", k=65, rounds=6)


@query(
    "order_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
    tags=("grouping-sets", "A-family"),
)
def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than cube/rollup, which the cube
    query already gates): (status, priority) cells + status subtotals +
    the grand total in ONE Expand + one shuffle — the multi-granularity
    reporting shape that would otherwise cost three scans and a union.
    grouping_id disambiguates real NULL dimension values from subtotal
    rows (both engines spell it as the same 2-bit mask)."""
    orders = spark.table("orders")
    return (
        orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum(F.col("o_totalprice"), 4, "total_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price"
        )
    )


@query(
    "weekly_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), span AS (
      SELECT min(day) AS lo, max(day) AS hi FROM ud
    ), expl AS (
      SELECT user_id,
             CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS DATE) AS report_day
      FROM ud
    )
    SELECT strftime(report_day, '%Y-%m-%d') AS report_day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_entities
    FROM expl, span WHERE report_day BETWEEN lo AND hi
    GROUP BY 1
    """,
    tags=("sliding-distinct", "event-analytics"),
    bench=True,
)
def weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day active users per day
    (operators/temporal.py sliding_distinct_count): dedup → bounded
    explode → one count-distinct shuffle; no range join, no
    COUNT(DISTINCT) OVER. Dates rendered yyyy-MM-dd per the module
    exactness rules."""
    from hpc_hd_textreuse_etl_spark.operators.temporal import (
        sliding_distinct_count,
    )

    out = sliding_distinct_count(spark.table("events"), "ts", "user_id", 7)
    return out.select(
        F.date_format("report_day", "yyyy-MM-dd").alias("report_day"),
        "active_entities",
    )


@query(
    "order_value_zscores",
    oracle="""
    WITH c AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ), m AS (
      SELECT o_orderkey, o_custkey, cents,
             SUM(cents)       OVER (PARTITION BY o_custkey) AS s,
             SUM(cents*cents) OVER (PARTITION BY o_custkey) AS sq,
             COUNT(*)         OVER (PARTITION BY o_custkey) AS n
      FROM c
    )
    SELECT o_orderkey, o_custkey,
           CASE WHEN (CAST(sq AS DOUBLE)
                      - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE))
                     / CAST(n AS DOUBLE) > 0.0
                THEN (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     / sqrt((CAST(sq AS DOUBLE)
                             - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE))
                            / CAST(n AS DOUBLE))
           END AS zscore
    FROM m
    """,
    tags=("zscore", "W-family", "anomaly"),
)
def order_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order z-score against the customer's own price distribution
    (population moments) — the per-entity anomaly-scoring primitive —
    with the FLOAT z-value itself under the value-hash gate. Why that
    is possible: moments accumulate as exact integer cents (sum and
    sum-of-squares are bigints, associative, partition-order-proof),
    every downstream op is fixed-order IEEE arithmetic on identical
    bits, and IEEE-754 requires sqrt to be correctly rounded — so both
    engines produce the same double bit for bit. One shuffle (the
    customer window); no join. Zero variance → NULL."""
    c = spark.table("orders").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w = Window.partitionBy("o_custkey")
    m = (
        c.withColumn("s", F.sum("cents").over(w))
        .withColumn("sq", F.sum(F.col("cents") * F.col("cents")).over(w))
        .withColumn("n", F.count(F.lit(1)).over(w))
    )
    s_d = F.col("s").cast("double")
    sq_d = F.col("sq").cast("double")
    n_d = F.col("n").cast("double")
    var = (sq_d - (s_d * s_d) / n_d) / n_d
    z = (F.col("cents").cast("double") - s_d / n_d) / F.sqrt(var)
    return m.select(
        "o_orderkey",
        "o_custkey",
        F.when(var > 0.0, z).alias("zscore"),
    )


@query(
    "orders_kfold_assignment",
    oracle=None,  # installed below; shares the portable-gate spelling
    tags=("sampling-kfold", "training-data"),
)
def orders_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold CV assignment: fold = H('fold-v1'|o_orderkey) mod 5 — the
    full (row, fold) mapping is value-hashed, so disjointness AND
    exhaustiveness of the folds are gated, not asserted
    (operators/sampling.py kfold_assignment)."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import kfold_assignment

    return kfold_assignment(spark.table("orders"), ["o_orderkey"], k=5).select(
        "o_orderkey", "o_custkey", "fold"
    )


QUERIES["orders_kfold_assignment"].oracle = f"""
    SELECT o_orderkey, o_custkey,
           CAST({_duck_gate("fold-v1", "o_orderkey")} % 5 AS INT) AS fold
    FROM orders
"""


@query(
    "doc_feature_hash_counts",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS token FROM documents
    )
    SELECT doc_id,
           CAST({_duck_gate("fh-v1", "token")} % 64 AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM tok GROUP BY 1, 2
    """,
    tags=("feature-hashing", "training-data"),
)
def doc_feature_hash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization of every document into 64 buckets —
    vocabulary-free, one map-side-combined shuffle; the whole sparse
    count matrix is under the value-hash gate
    (operators/corpus_stats.py feature_hash_counts)."""
    from hpc_hd_textreuse_etl_spark.operators.corpus_stats import (
        feature_hash_counts,
    )

    return feature_hash_counts(spark.table("documents"), "doc_id", "text", 64)


def _bpe_oracle_rounds(n_merges: int) -> str:
    """Shared CTE chain replaying BPE training in DuckDB: pair counts →
    total-order argmax → greedy list_reduce rewrite, per round. The
    fold's accumulator-tail condition (acc = w1 OR ends_with(acc, ' '||
    w1)) reproduces greedy left-to-right merging exactly — after a
    fusion the tail is the MERGED symbol, so overlaps can't double-fire
    ("a a a" → "a@@a a"). MATERIALIZED for the same 3^rounds-inlining
    reason as the k-core oracle."""
    parts = [f"""
    WITH c0 AS MATERIALIZED (
      SELECT doc_id AS id, array_to_string({_TOK}, ' ') AS t FROM documents
      WHERE len({_TOK}) > 0
    )"""]
    for r in range(n_merges):
        parts.append(f""", p{r} AS MATERIALIZED (
      SELECT z[1] AS w1, z[2] AS w2, CAST(count(*) AS BIGINT) AS pair_count
      FROM (SELECT unnest(list_zip(l, l[2:])) AS z
            FROM (SELECT string_split(t, ' ') AS l FROM c{r}))
      WHERE z[2] IS NOT NULL GROUP BY 1, 2
    ), b{r} AS MATERIALIZED (
      SELECT w1, w2, pair_count FROM p{r}
      ORDER BY pair_count DESC, w1, w2 LIMIT 1
    ), c{r + 1} AS MATERIALIZED (
      -- LEFT JOIN ON TRUE, not a comma cross join: if the corpus
      -- exhausts pairs before n_merges rounds, b{r} is empty and the
      -- NULL-w1 CASE falls through to the no-op append — mirroring the
      -- Spark operator's left join that keeps documents unchanged.
      SELECT id, list_reduce(string_split(t, ' '), (acc, x) ->
        CASE WHEN (acc = b.w1 OR ends_with(acc, ' ' || b.w1)) AND x = b.w2
             THEN acc || '@@' || x ELSE acc || ' ' || x END) AS t
      FROM c{r} LEFT JOIN b{r} b ON TRUE
    )""")
    return "".join(parts)


_BPE_MERGES = 4


@query(
    "bpe_merge_table",
    oracle=_bpe_oracle_rounds(_BPE_MERGES)
    + "".join(
        f"""
    {"SELECT" if r == 0 else "UNION ALL SELECT"} CAST({r} AS INT) AS merge_rank,
           w1, w2, pair_count FROM b{r}"""
        for r in range(_BPE_MERGES)
    ),
    tags=("bpe-training", "tokenizer", "beyond-parity"),
)
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, merge table: 4 corpus-wide merge rounds
    (pair-count shuffle → total-order argmax → greedy in-row rewrite),
    the learned (rank, pair, count) rows value-hashed against DuckDB
    replaying the identical rounds (operators/bpe.py bpe_train)."""
    from hpc_hd_textreuse_etl_spark.operators.bpe import bpe_train

    merges, _ = bpe_train(
        spark.table("documents"), "doc_id", "text", _BPE_MERGES
    )
    return merges


@query(
    "bpe_segmented_corpus",
    oracle=_bpe_oracle_rounds(_BPE_MERGES)
    + f"""
    SELECT id AS doc_id, t AS text FROM c{_BPE_MERGES}
    """,
    tags=("bpe-training", "tokenizer", "beyond-parity"),
)
def bpe_segmented_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of the BPE gate: the full re-segmented corpus
    after the 4 learned merges — every document's merged symbol stream
    value-hashed, so the greedy rewrite itself (not just the merge
    choices) is verified cross-engine."""
    from hpc_hd_textreuse_etl_spark.operators.bpe import bpe_train

    _, corpus = bpe_train(
        spark.table("documents"), "doc_id", "text", _BPE_MERGES
    )
    return corpus


@query(
    "orders_pit_status_join",
    oracle="""
    WITH ch AS (
      SELECT CAST(o_custkey AS BIGINT) AS custkey,
             o_orderstatus AS status,
             epoch_us(o_orderdate) AS t,
             CAST(o_orderkey AS BIGINT) AS oid
      FROM orders
    ), marked AS (
      SELECT *, lag(status) OVER (PARTITION BY custkey ORDER BY t, oid) AS prev
      FROM ch
    ), opens AS (
      SELECT custkey, status, t, oid
      FROM marked WHERE prev IS NULL OR status <> prev
    ), scd2 AS (
      SELECT custkey, status,
             t AS valid_from,
             lead(t) OVER (PARTITION BY custkey ORDER BY t, oid) AS valid_to
      FROM opens
    )
    SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey, s.custkey,
           s.status AS pit_status, s.valid_from
    FROM orders o JOIN scd2 s
      ON s.custkey = CAST(o.o_custkey AS BIGINT)
     AND s.valid_from <= epoch_us(o.o_orderdate)
     AND (s.valid_to IS NULL OR s.valid_to > epoch_us(o.o_orderdate))
    """,
    tags=("pit-join", "scd2", "temporal"),
)
def orders_pit_status_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of the fact stream against its SCD2 dimension:
    every order picks the status version valid at its date — the classic
    warehouse operator completing the SCD2 family. Runs as ONE as-of
    join (union + carry-forward window, operators/temporal.py), not the
    oracle's range θ-join: zero-width versions (valid_to == valid_from,
    which half-open semantics exclude) are filtered first, making
    valid_from unique per key, so the as-of match IS the containing
    version. Exactly one row per order by construction (versions tile
    each customer's timeline from their first order on)."""
    from hpc_hd_textreuse_etl_spark.operators.cdc import scd2_history
    from hpc_hd_textreuse_etl_spark.operators.temporal import asof_join

    ch = spark.table("orders").select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.unix_micros(F.col("o_orderdate")).alias("t"),
        F.col("o_orderkey").cast("long").alias("oid"),
    )
    scd2 = scd2_history(
        ch, key_cols=["custkey"], ts_col="t", attr_cols=["status"],
        order_cols=["t", "oid"],
    ).where(F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from")))
    facts = spark.table("orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("custkey"),
        F.unix_micros(F.col("o_orderdate")).alias("t"),
    )
    out = asof_join(
        facts,
        scd2.select("custkey", "status", "valid_from", "valid_to"),
        left_on="t",
        right_on="valid_from",
        by=["custkey"],
        right_cols=["status", "valid_from"],
        suffix="_v",
    )
    return out.select(
        "o_orderkey",
        "custkey",
        F.col("status_v").alias("pit_status"),
        F.col("valid_from_v").alias("valid_from"),
    )


@query(
    "customer_price_time_corr",
    oracle="""
    WITH c AS (
      SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             CAST(floor(CAST(epoch_us(o_orderdate) AS DOUBLE) / 86400000000.0)
                  AS BIGINT) AS y
      FROM orders
    ), m AS (
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
             CAST(SUM(x*y) AS BIGINT) AS sxy
      FROM c GROUP BY o_custkey
    )
    SELECT o_custkey, n,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0
                THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS price_time_corr
    FROM m
    """,
    tags=("correlation", "anomaly", "A-family"),
)
def customer_price_time_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer Pearson correlation between order price and order
    date ("is this customer's spend trending?") with the FLOAT
    correlation itself value-hash-gated — same recipe as the z-score
    query: all five moments accumulate as exact bigints (cents ×
    epoch-days), the closed form is fixed-order IEEE arithmetic on
    identical bits, and IEEE sqrt is correctly rounded. One map-side-
    combined aggregation; degenerate variance → NULL (never NaN)."""
    c = spark.table("orders").select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x"),
        F.floor(F.unix_micros("o_orderdate") / F.lit(86_400_000_000))
        .cast("bigint")
        .alias("y"),
    )
    m = c.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    vx = n_d * sxx - sx * sx
    vy = n_d * syy - sy * sy
    corr = (n_d * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy))
    return m.select(
        "o_custkey",
        "n",
        F.when((vx > 0.0) & (vy > 0.0), corr).alias("price_time_corr"),
    )


@query(
    "top_event_trigrams",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
    ), seq AS (
      SELECT user_id, list(event_type ORDER BY us, event_id) AS l
      FROM e GROUP BY user_id
    ), tg AS (
      SELECT z[1] AS t1, z[2] AS t2, z[3] AS t3
      FROM (SELECT unnest(list_zip(l, l[2:], l[3:])) AS z FROM seq)
      WHERE z[3] IS NOT NULL
    )
    SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
    FROM tg GROUP BY 1, 2, 3
    ORDER BY n DESC, t1, t2, t3 LIMIT 20
    """,
    tags=("sequence-mining", "event-analytics"),
)
def top_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 behavioral trigrams (consecutive event-type triples per
    user journey) — the sequential-pattern-mining staple behind
    "what do users do next". ONE shuffle: per-user event arrays are
    collect_list'd then value-sorted in-row (sort_array of (time, id,
    type) structs — partition-order-proof), trigrams form in-row via
    the bigram slice/element_at pattern, counts are map-side combined,
    and the top-k is a TakeOrderedAndProject heap with a total-order
    tiebreak."""
    e = spark.table("events").select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("t"),
        ).alias("ev"),
    )
    seq = e.groupBy("user_id").agg(
        F.sort_array(F.collect_list("ev")).alias("evs")
    )
    arr = F.transform(F.col("evs"), lambda x: x["t"])
    n = F.size(arr)
    tg = F.transform(
        F.slice(arr, F.lit(1), F.greatest(n - 2, F.lit(0))),
        lambda t, i: F.struct(
            t.alias("t1"),
            F.element_at(arr, i + F.lit(2)).alias("t2"),
            F.element_at(arr, i + F.lit(3)).alias("t3"),
        ),
    )
    return (
        seq.select(F.explode(tg).alias("g"))
        .groupBy(
            F.col("g.t1").alias("t1"),
            F.col("g.t2").alias("t2"),
            F.col("g.t3").alias("t3"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "t1", "t2", "t3")
        .limit(20)
    )


@query(
    "lang_token_overlap_kmv",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT lang,
             ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
      FROM (SELECT lang, unnest({_TOK}) AS token FROM documents)
    ), r AS (
      SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
      FROM h
    ), sk AS (
      SELECT lang, list(h ORDER BY h) AS l FROM r WHERE rn <= 128 GROUP BY lang
    ), p AS (
      SELECT a.lang AS key_a, b.lang AS key_b, a.l AS la, b.l AS lb,
             list_sort(list_distinct(a.l || b.l))[1:128] AS lu
      FROM sk a JOIN sk b ON a.lang < b.lang
    ), e AS (
      SELECT key_a, key_b,
        CASE WHEN len(la) < 128 THEN CAST(len(la) AS DOUBLE)
             ELSE 127.0 / (la[128] / 1152921504606846976.0) END AS est_a,
        CASE WHEN len(lb) < 128 THEN CAST(len(lb) AS DOUBLE)
             ELSE 127.0 / (lb[128] / 1152921504606846976.0) END AS est_b,
        CASE WHEN len(lu) < 128 THEN CAST(len(lu) AS DOUBLE)
             ELSE 127.0 / (lu[128] / 1152921504606846976.0) END AS est_union
      FROM p
    )
    SELECT key_a, key_b, est_a, est_b, est_union,
           greatest(0.0, (est_a + est_b) - est_union) AS est_intersection,
           greatest(0.0, (est_a + est_b) - est_union) / est_union AS jaccard
    FROM e
    """,
    tags=("sketch", "corpus-overlap", "beyond-parity"),
)
def lang_token_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus vocabulary overlap from sketches alone: per-language
    bottom-128 KMV token sketches, all unordered pairs estimated via
    union-sketch + inclusion-exclusion (operators/sketches.py
    kmv_pairwise_overlap). The portable hash family keeps the float
    estimates bit-reproducible, so overlap/Jaccard land under the
    value-hash gate."""
    from hpc_hd_textreuse_etl_spark.operators.sketches import (
        kmv_bottom_k,
        kmv_pairwise_overlap,
    )

    from hpc_hd_textreuse_etl_spark.functions.text import tokens

    tok = spark.table("documents").select(
        "lang", F.explode(tokens("text")).alias("token")
    )
    sk = kmv_bottom_k(tok, ["lang"], "token", k=128)
    return kmv_pairwise_overlap(sk, "lang", k=128)


@query(
    "shingle_containment_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS l FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(l[i + 1 : i + 3], ' ')
                            for i in range(0, greatest(len(l) - 3, 0) + 1)])
               AS els
      FROM t WHERE len(l) > 0
    )
    SELECT a.doc_id AS container_id, b.doc_id AS contained_id,
           CAST(len(list_intersect(a.els, b.els)) AS BIGINT) AS n_intersect,
           CAST(len(b.els) AS BIGINT) AS n_contained,
           CAST(len(list_intersect(a.els, b.els)) AS DOUBLE)
             / CAST(len(b.els) AS DOUBLE) AS containment
    FROM sh a JOIN sh b ON a.doc_id != b.doc_id
    WHERE 1000 * len(list_intersect(a.els, b.els)) >= 500 * len(b.els)
    """,
    tags=("containment-join", "text-reuse", "setsim"),
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment join over 3-token shingles: every ordered
    (container, contained) pair where ≥ 50% of the contained document's
    distinct shingles appear in the container — the text-reuse relation
    symmetric Jaccard dilutes (operators/setsim.py
    containment_threshold_pairs, B-prefix probe vs full inverted index,
    integer-exact threshold). Oracle brute-forces all pairs, which the
    prefix filter must provably reproduce."""
    from hpc_hd_textreuse_etl_spark.functions.text import token_shingles, tokens
    from hpc_hd_textreuse_etl_spark.operators.setsim import (
        containment_threshold_pairs,
    )

    # guard: token_shingles of an EMPTY doc yields [""] (one degenerate
    # shingle), which the oracle's len(l) > 0 filter excludes — drop
    # token-less docs before shingling so both engines see the same set
    docs = spark.table("documents").where(F.size(tokens("text")) > 0)
    return containment_threshold_pairs(
        docs, "doc_id", token_shingles(F.col("text"), 3), threshold=0.5
    )


def _install_retraction_ivm_query() -> None:
    from hpc_hd_textreuse_etl_spark.operators.sampling import threshold

    base_t = threshold(0.8)
    del_t = threshold(0.125)
    base_gate = _duck_gate("ivmbase", "o_orderkey")
    del_gate = _duck_gate("ivmdel", "o_orderkey")
    QUERIES["incremental_retraction_aggs"].oracle = f"""
    WITH eff AS (
      SELECT * FROM orders
      WHERE ({base_gate} < {base_t} AND {del_gate} >= {del_t})
         OR {base_gate} >= {base_t}
    )
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
             AS total_price
    FROM eff GROUP BY o_custkey
    """


@query(
    "incremental_retraction_aggs",
    oracle=None,  # installed below (shares the portable-gate spelling)
    tags=("ivm-retractions", "cdc"),
)
def incremental_retraction_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-aware incremental aggregation: the orders table splits
    into a base snapshot (80% by hash gate), a later insert batch (the
    rest) and a delete batch (12.5%-gated subset of the base); the
    maintained per-customer count/sum — snapshot partials + SIGNED
    delta partials, zero-count keys pruned — must equal the from-
    scratch aggregate over (base − deletes + inserts), row for row and
    cent for cent (operators/incremental.py
    incremental_aggregate_with_retractions)."""
    from hpc_hd_textreuse_etl_spark.operators.incremental import (
        incremental_aggregate_with_retractions,
    )
    from hpc_hd_textreuse_etl_spark.operators.sampling import (
        sample_hash,
        threshold,
    )

    orders = spark.table("orders")
    in_base = sample_hash(["o_orderkey"], "ivmbase") < F.lit(threshold(0.8))
    is_del = sample_hash(["o_orderkey"], "ivmdel") < F.lit(threshold(0.125))
    base = orders.where(in_base)
    inserts = orders.where(~in_base).withColumn("op", F.lit("I"))
    deletes = base.where(is_del).withColumn("op", F.lit("D"))
    specs = {
        "n_orders": ("count", None),
        "total_price": (
            "sum",
            F.col("o_totalprice").cast("decimal(30,2)"),
        ),
    }
    snapshot = base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("total_price"),
    )
    out = incremental_aggregate_with_retractions(
        snapshot,
        inserts.unionByName(deletes),
        ["o_custkey"],
        specs,
        count_col="n_orders",
    )
    return out.select(
        "o_custkey",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
    )


_install_retraction_ivm_query()


@query(
    "near_dup_degree",
    oracle=f"""
    WITH p AS (
      SELECT * FROM ({_minhash_oracle(num_hashes=32, shingle=5, num_bands=8, threshold=0.7)})
    ), ends AS (
      SELECT id_a AS doc_id, est_jaccard FROM p
      UNION ALL SELECT id_b, est_jaccard FROM p
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_neighbors,
           max(est_jaccard) AS max_est_jaccard
    FROM ends GROUP BY doc_id
    """,
    tags=("dedup-analytics", "minhash"),
)
def near_dup_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication pressure: neighbor count and strongest
    similarity in the MinHash near-dup graph — the triage view a
    curation run reads to decide what to resolve first (a doc with 400
    neighbors is boilerplate; one with 1 is a revision). Pure rollup of
    the already-gated pair pipeline: endpoints union + one map-side-
    combined aggregation."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(
        spark.table("documents"), "doc_id", "text",
        num_hashes=32, num_bands=8, threshold=0.7, hash_family="portable",
    )
    ends = pairs.select(
        F.col("id_a").alias("doc_id"), "est_jaccard"
    ).unionAll(pairs.select(F.col("id_b").alias("doc_id"), "est_jaccard"))
    return ends.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
        F.max("est_jaccard").alias("max_est_jaccard"),
    )


def _install_winsorize_oracle() -> None:
    from hpc_hd_textreuse_etl_spark.operators.sampling import threshold

    gate = _DUCK_H.format(
        x="'qsk-v1|' || CAST(l_orderkey AS VARCHAR)"
          " || '|' || CAST(l_linenumber AS VARCHAR)"
    )
    QUERIES["winsorized_price_stats"].oracle = f"""
    WITH s AS (
      SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber
      FROM lineitem WHERE {gate} < {threshold(0.2)}
    ), r AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM s
    ), bounds AS (
      SELECT l_returnflag,
             MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.05 * n) AS BIGINT))
                      THEN l_extendedprice END) AS lo,
             MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.95 * n) AS BIGINT))
                      THEN l_extendedprice END) AS hi
      FROM r GROUP BY l_returnflag
    )
    SELECT li.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN li.l_extendedprice < b.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_lo,
           CAST(SUM(CASE WHEN li.l_extendedprice > b.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_hi,
           CAST(SUM(CAST(LEAST(GREATEST(li.l_extendedprice, b.lo), b.hi)
                         AS DECIMAL(30,4))) AS DOUBLE) AS winsorized_sum
    FROM lineitem li JOIN bounds b USING (l_returnflag)
    GROUP BY li.l_returnflag
    """


@query(
    "winsorized_price_stats",
    oracle=None,  # installed above pattern (needs sampling.threshold)
    tags=("winsorize", "curation", "sketch-quantile"),
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the outlier-clipping curation primitive: clip
    every price to its return-flag's [p05, p95], bounds taken from the
    deterministic hash-sample quantile sketch (already gated standalone
    in quantile_sketch_prices). Bounds broadcast back onto the fact
    table; clipped sums accumulate in decimal — so clip counts AND the
    winsorized total are value-hash-exact end to end."""
    from hpc_hd_textreuse_etl_spark.operators.sketches import (
        quantile_sketch,
        quantiles_from_sketch,
    )

    li = spark.table("lineitem")
    sk = quantile_sketch(
        li, ["l_returnflag"], "l_extendedprice",
        sample_key_cols=["l_orderkey", "l_linenumber"], fraction=0.2,
    )
    qs = quantiles_from_sketch(
        sk, ["l_returnflag"], "l_extendedprice",
        qs=(0.05, 0.95), tiebreak_cols=("l_orderkey", "l_linenumber"),
    )
    bounds = (
        qs.groupBy("l_returnflag")
        .agg(
            F.max(F.when(F.col("quantile") == 0.05, F.col("value"))).alias("lo"),
            F.max(F.when(F.col("quantile") == 0.95, F.col("value"))).alias("hi"),
        )
    )
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("lo"), 1).otherwise(0)
            ).cast("bigint").alias("n_clipped_lo"),
            F.sum(
                F.when(F.col("l_extendedprice") > F.col("hi"), 1).otherwise(0)
            ).cast("bigint").alias("n_clipped_hi"),
            dsum(clipped, 4, "winsorized_sum"),
        )
    )


_install_winsorize_oracle()


@query(
    "orders_time_rollup",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(month(o_orderdate) AS BIGINT) AS mon,
           CAST(GROUPING(year(o_orderdate)) * 4
                + GROUPING(quarter(o_orderdate)) * 2
                + GROUPING(month(o_orderdate)) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS (
      (year(o_orderdate)),
      (year(o_orderdate), quarter(o_orderdate)),
      (year(o_orderdate), quarter(o_orderdate), month(o_orderdate))
    )
    """,
    tags=("grouping-sets", "time-hierarchy"),
)
def orders_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (year / year-quarter / year-quarter-month)
    in ONE Expand + one shuffle — the multi-grain reporting table a
    warehouse would otherwise build with three scans. Derived time
    columns inside the grouping sets (not pre-projected dims) show the
    sets compose with expressions; grouping_id disambiguates grain."""
    orders = spark.table("orders").select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.quarter("o_orderdate").cast("bigint").alias("qtr"),
        F.month("o_orderdate").cast("bigint").alias("mon"),
        "o_totalprice",
    )
    return (
        orders.groupingSets(
            [["yr"], ["yr", "qtr"], ["yr", "qtr", "mon"]], "yr", "qtr", "mon"
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum(F.col("o_totalprice"), 4, "total_price"),
        )
        .select("yr", "qtr", "mon", "gid", "n_orders", "total_price")
    )


def _install_ann_recall_oracle() -> None:
    QUERIES["ann_lsh_recall"].oracle = f"""
    WITH exact AS (
      SELECT query_id, neighbor_id FROM ({QUERIES["ann_cosine_topk"].oracle})
    ), lsh AS (
      SELECT query_id, neighbor_id FROM ({QUERIES["ann_lsh_topk"].oracle})
    )
    SELECT e.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(l.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM exact e LEFT JOIN lsh l USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """


@query(
    "ann_lsh_recall",
    oracle=None,  # composed below from the two gated ANN oracles
    tags=("ann-eval", "recall", "similarity-lsh"),
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN path against the exact brute-force
    ranking, per query — the evaluation metric that tells you whether
    an approximate index is good enough to ship, AS a gated query (both
    underlying pipelines already hash-match standalone; this composes
    their oracles verbatim). Left join on the exact top-k so missing
    LSH hits count as misses, one rollup per query."""
    from hpc_hd_textreuse_etl_spark.operators.similarity import (
        cosine_topk,
        lsh_topk,
    )

    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(q, emb, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    lsh = (
        lsh_topk(
            q, emb, "vec_id", "embedding",
            k=5, num_planes=4, num_tables=4, plane_source="literal",
        )
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        exact.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("bigint").alias("n_overlap"),
            (F.count("__hit").cast("double") / F.lit(5.0)).alias("recall_at_5"),
        )
    )


_install_ann_recall_oracle()


@query(
    "boolean_and_search",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest({_TOK}) AS token FROM documents
      ) WHERE token IN ('spark', 'merge', 'window')
    )
    SELECT doc_id FROM tok GROUP BY doc_id HAVING count(*) = 3
    """,
    tags=("boolean-retrieval", "search"),
)
def boolean_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND retrieval (docs containing EVERY query term) as a
    postings count-match: term-filter BEFORE any shuffle (only the |q|
    terms' postings move), distinct per (doc, term), one map-side-
    combined count keyed on the doc, HAVING = |q| — the conjunctive
    companion to BM25's ranked path, with no join chain (an n-way
    semi-join intersection would cost |q|−1 shuffles; the count-match
    costs one)."""
    from hpc_hd_textreuse_etl_spark.functions.text import tokens

    terms = ["spark", "merge", "window"]
    tok = (
        spark.table("documents")
        .select("doc_id", F.explode(tokens("text")).alias("token"))
        .where(F.col("token").isin(terms))
        .distinct()
    )
    return (
        tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") == len(terms))
        .select("doc_id")
    )


@query(
    "term_proximity_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t.i AS pos, l[t.i] AS token
      FROM (SELECT doc_id, {_TOK} AS l FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) t
    ), a AS (
      SELECT doc_id, pos FROM tok WHERE token = 'spark'
    ), b AS (
      SELECT doc_id, pos FROM tok WHERE token = 'window'
    )
    SELECT a.doc_id,
           CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_distance
    FROM a JOIN b ON a.doc_id = b.doc_id
    GROUP BY a.doc_id
    """,
    tags=("proximity-search", "positional-index"),
)
def term_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term proximity ("spark NEAR window"): per document, the minimum
    token-position distance between the two terms — the positional-
    index primitive behind phrase and NEAR queries. Postings filter to
    the two terms BEFORE the per-document position join, so fan-out is
    tf('spark')·tf('window') per doc (bounded by term frequency, never
    document length²); one shuffle keys the join + the min on doc_id."""
    from hpc_hd_textreuse_etl_spark.functions.text import tokens

    tok = spark.table("documents").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "token")
    ).withColumn("pos", F.col("pos0") + 1)
    a = tok.where(F.col("token") == "spark").select("doc_id", F.col("pos").alias("pa"))
    b = tok.where(F.col("token") == "window").select("doc_id", F.col("pos").alias("pb"))
    return (
        a.join(b, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.min(F.abs(F.col("pa") - F.col("pb"))).cast("bigint")
            .alias("min_distance")
        )
    )


@query(
    "vocab_growth_curve",
    oracle=f"""
    WITH firsts AS (
      SELECT token, min(doc_id) AS first_doc FROM (
        SELECT doc_id, unnest(list_distinct({_TOK})) AS token FROM documents
      ) GROUP BY token
    ), per_doc AS (
      SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new_tokens
      FROM firsts GROUP BY first_doc
    )
    SELECT doc_id, n_new_tokens,
           CAST(SUM(n_new_tokens) OVER (ORDER BY doc_id) AS BIGINT)
             AS cum_vocab
    FROM per_doc
    """,
    tags=("corpus-stats", "vocab-growth"),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps-law curve): how many NEVER-BEFORE-SEEN
    tokens each document contributes in doc-id order, plus the running
    vocabulary size — the corpus diagnostic that says when more data
    stops buying new vocabulary. No per-prefix rescans: one min-agg
    (token → first containing doc), one count, then the global cumsum
    runs as a distributed two-pass prefix sum (functions/intervals.py
    prefix_sum) — the per-doc table is one row per DOCUMENT, so a
    single-partition Window.orderBy over it would violate the repo's
    no-global-window rule at corpus scale."""
    from hpc_hd_textreuse_etl_spark.functions.intervals import prefix_sum
    from hpc_hd_textreuse_etl_spark.functions.text import tokens

    firsts = (
        spark.table("documents")
        .select("doc_id", F.explode(F.array_distinct(tokens("text"))).alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    per_doc = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_tokens")
    )
    return prefix_sum(per_doc, "doc_id", "n_new_tokens", "cum_vocab").select(
        "doc_id", "n_new_tokens", F.col("cum_vocab").cast("bigint").alias("cum_vocab")
    )


@query(
    "view_to_purchase_latency",
    oracle="""
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS first_view_us
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.first_view_us
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.first_view_us, p.first_purchase_us,
           p.first_purchase_us - v.first_view_us AS latency_us
    FROM v LEFT JOIN p ON p.user_id = v.user_id
    """,
    tags=("conversion-latency", "event-analytics"),
)
def view_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, first view → first purchase AT OR
    AFTER that view (a purchase preceding any view is prior intent, not
    conversion — the ordering predicate is the semantic point vs a
    naive min/min join). Two map-side-combined min-aggs + one
    broadcastable join; non-converting users kept with NULL latency."""
    ev = spark.table("events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("first_view_us"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("us") >= F.col("first_view_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("first_purchase_us"))
    )
    return v.join(p, "user_id", "left").select(
        "user_id",
        "first_view_us",
        "first_purchase_us",
        (F.col("first_purchase_us") - F.col("first_view_us")).alias("latency_us"),
    )


@query(
    "uniform_k_per_group_sample",
    oracle=None,  # installed below (shares the portable-gate spelling)
    tags=("sampling-per-group", "training-data"),
)
def uniform_k_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-per-group sampling without RNG state: per_key_quota
    ordered by the portable hash of the row key — each customer keeps
    the 2 orders with the smallest H('upg-v1'|orderkey), a uniform
    draw that is reproducible across runs/partitionings and needs no
    reservoir (the window's per-group state is O(1)). The chosen row
    SET per group is value-hashed."""
    from hpc_hd_textreuse_etl_spark.operators.sampling import (
        per_key_quota,
        sample_hash,
    )

    orders = spark.table("orders")
    out = per_key_quota(
        orders,
        ["o_custkey"],
        2,
        order_by=[sample_hash(["o_orderkey"], "upg-v1"), F.col("o_orderkey")],
    )
    return out.select("o_custkey", "o_orderkey", F.col("quota_rank").cast("int").alias("quota_rank"))


QUERIES["uniform_k_per_group_sample"].oracle = f"""
    SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS quota_rank FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY {_duck_gate("upg-v1", "o_orderkey")}, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 2
"""


@query(
    "embedding_int8_quantization",
    oracle="""
    WITH elems AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), f AS (
      SELECT * FROM elems WHERE dim <= 8
    ), stats AS (
      SELECT dim, min(x) AS lo, max(x) AS hi FROM f GROUP BY dim
    )
    SELECT f.vec_id, CAST(f.dim AS INT) AS dim,
           CAST(CASE WHEN s.hi = s.lo THEN 0
                ELSE floor((f.x - s.lo) / (s.hi - s.lo) * 255.0 + 0.5) END
                AS INT) AS q8
    FROM f JOIN stats s ON s.dim = f.dim
    """,
    tags=("vector-quantization", "similarity", "beyond-parity"),
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embeddings (first 8 dims): per-dim
    corpus min/max (exact float compares) broadcast back, then
    ``floor((x−lo)/(hi−lo)·255 + 0.5)`` — floor instead of round()
    because floor of an identical double has no half-to-even/half-up
    ambiguity, which makes every quantized code value-hash-exact. The
    memory-4×/speed path vector stores run before exact re-ranking;
    constant dims map to 0."""
    emb = spark.table("embeddings")
    f = (
        emb.select("vec_id", F.posexplode("embedding").alias("dim0", "x0"))
        .select(
            "vec_id",
            (F.col("dim0") + 1).alias("dim"),
            F.col("x0").cast("double").alias("x"),
        )
        .where(F.col("dim") <= 8)
    )
    stats = f.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    q = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.floor(
            (F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")) * F.lit(255.0)
            + F.lit(0.5)
        )
    )
    return f.join(F.broadcast(stats), "dim").select(
        "vec_id", F.col("dim").cast("int").alias("dim"), q.cast("int").alias("q8")
    )


@query(
    "customer_order_count_histogram",
    oracle="""
    WITH c AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM c GROUP BY n_orders
    """,
    tags=("count-of-counts", "A-family"),
)
def customer_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-of-counts (group-size distribution): two chained map-side-
    combined aggregations — the skew diagnostic you run BEFORE picking a
    partitioning (a fat tail here is what salting/AQE-skew handling is
    for; SCALE.md's knobs cite exactly this shape)."""
    c = spark.table("orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    return c.groupBy("n_orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring span dedup (round-6 wave) — ExactSubstr of
# Lee et al. 2022, arXiv:2107.06499, as a window-hash + island pipeline
# ---------------------------------------------------------------------------

#: DuckDB twin of operators/dedup.py token_window_grams at window=8:
#: 0-based start, end-exclusive spans, \x1f-joined length-prefixed
#: gram strings (injective encoding — see dedup._GRAM_SEP). The
#: Spark side groups xxhash64(gram); the oracle groups the raw gram —
#: a value-hash match therefore ALSO audits the hashed path for
#: collisions at test scale.
_WIN8 = f"""
    toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
    wins AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS s,
             array_to_string(list_transform(t[i:i+7], x -> concat(len(x), ':', x)), chr(31)) AS gram
      FROM toks, unnest(range(1, len(t) - 6)) r(i)
      WHERE len(t) >= 8
    ),
    dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) >= 2),
    hits AS (SELECT doc_id, s, s + 8 AS e FROM wins JOIN dup USING (gram)),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) < s
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    islands AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                           ) AS island_id
      FROM marked
    ),
    spans AS (
      SELECT doc_id,
             CAST(MIN(s) AS BIGINT) AS span_start,
             CAST(MAX(e) AS BIGINT) AS span_end,
             CAST(MAX(e) - MIN(s) AS BIGINT) AS span_len,
             CAST(count(*) AS BIGINT) AS n_windows
      FROM islands GROUP BY doc_id, island_id
    )
"""


@query(
    "duplicated_token_spans",
    oracle=f"""
    WITH {_WIN8}
    SELECT doc_id, span_start, span_end, span_len, n_windows FROM spans
    """,
    tags=("dedup", "W3", "W4", "A3"),
    bench=True,
)
def duplicated_token_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span dedup: every 8-token window occurring ≥2 times
    corpus-wide marks its positions; marked windows merge into maximal
    per-document spans through the same island pipeline as the
    reference's character-offset coverage merge (coverages.py:36-139).
    Runs the DEFAULT hashed-key path (xxhash64 gram keys before the
    first exchange) — the oracle groups raw gram strings, so the gate
    doubles as the collision audit."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import duplicated_token_spans

    docs = spark.table("documents")
    return duplicated_token_spans(docs, "doc_id", "text", window=8)


@query(
    "cross_doc_duplicated_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
    wins AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS s,
             array_to_string(list_transform(t[i:i+7], x -> concat(len(x), ':', x)), chr(31)) AS gram
      FROM toks, unnest(range(1, len(t) - 6)) r(i)
      WHERE len(t) >= 8
    ),
    dup AS (
      SELECT gram FROM wins
      GROUP BY gram
      HAVING count(*) >= 2 AND count(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT doc_id, s, s + 8 AS e FROM wins JOIN dup USING (gram)),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) < s
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    islands AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                           ) AS island_id
      FROM marked
    )
    SELECT doc_id,
           CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) AS BIGINT) AS span_end,
           CAST(MAX(e) - MIN(s) AS BIGINT) AS span_len,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM islands GROUP BY doc_id, island_id
    """,
    tags=("dedup", "A10", "A3"),
)
def cross_doc_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr spans restricted to CROSS-document repeats
    (``min_docs=2`` — a doc quoting itself is stylistic, not
    contamination). Routes through the ``groupby_join`` count strategy
    (a per-key window COUNT cannot express distinct-document support),
    so this gate covers the strategy the skew-hardened path uses — the
    default ``window`` strategy is gated by `duplicated_token_spans`."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import duplicated_token_spans

    docs = spark.table("documents")
    return duplicated_token_spans(docs, "doc_id", "text", window=8, min_docs=2)


#: spans pipeline over an arbitrary docs CTE named ``src`` — the
#: parameterized twin of _WIN8 for the incremental-span oracle
def _spans_sql(name: str, src_filter: str) -> str:
    return f"""
    {name}_toks AS (
      SELECT doc_id, {_TOK} AS t FROM documents {src_filter}
    ),
    {name}_wins AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS s,
             array_to_string(list_transform(t[i:i+7], x -> concat(len(x), ':', x)), chr(31)) AS gram
      FROM {name}_toks, unnest(range(1, len(t) - 6)) r(i)
      WHERE len(t) >= 8
    ),
    {name}_dup AS (
      SELECT gram FROM {name}_wins GROUP BY gram HAVING count(*) >= 2
    ),
    {name}_hits AS (
      SELECT doc_id, s, s + 8 AS e FROM {name}_wins
      JOIN {name}_dup USING (gram)
    ),
    {name}_marked AS (
      SELECT doc_id, s, e,
             CASE WHEN COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) < s
                  THEN 1 ELSE 0 END AS brk
      FROM {name}_hits
    ),
    {name}_islands AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                           ) AS island_id
      FROM {name}_marked
    ),
    {name}_spans AS (
      SELECT doc_id,
             CAST(MIN(s) AS BIGINT) AS span_start,
             CAST(MAX(e) AS BIGINT) AS span_end,
             CAST(MAX(e) - MIN(s) AS BIGINT) AS span_len,
             CAST(count(*) AS BIGINT) AS n_windows
      FROM {name}_islands GROUP BY doc_id, island_id
    )
"""


@query(
    "span_dedup_delta",
    oracle=f"""
    WITH {_spans_sql("f", "")},
    {_spans_sql("b", "WHERE doc_id % 5 <> 0")[5:]},
    changed AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, span_start, span_end, span_len, n_windows
        FROM f_spans
        EXCEPT
        SELECT doc_id, span_start, span_end, span_len, n_windows
        FROM b_spans
      )
      UNION
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, span_start, span_end, span_len, n_windows
        FROM b_spans
        EXCEPT
        SELECT doc_id, span_start, span_end, span_len, n_windows
        FROM f_spans
      )
    )
    SELECT f_spans.* FROM f_spans JOIN changed USING (doc_id)
    """,
    tags=("dedup", "incremental", "A3"),
)
def span_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr — every 5th doc arrives as the ingest
    delta against materialized span_dedup_state tables; output is the
    span sets that CHANGED (all delta-doc spans + refreshed spans of
    affected base docs, span extension included). The oracle derives
    the changed-doc set independently, as the symmetric difference of
    the full-corpus and base-only batch pipelines — so the gate proves
    both that the incremental spans are right AND that the affected-doc
    detection is exactly complete (a missed or spurious doc
    hash-mismatches)."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        duplicated_token_spans_delta,
        span_dedup_state,
    )

    docs = spark.table("documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    windows, counts = span_dedup_state(base, "doc_id", "text", window=8)
    return duplicated_token_spans_delta(
        windows, counts, delta, "doc_id", "text", window=8
    )


@query(
    "span_dedup_doc_stats",
    oracle=f"""
    WITH {_WIN8},
    per_doc AS (
      SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
             CAST(count(*) AS BIGINT) AS n_spans
      FROM spans GROUP BY doc_id
    )
    SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(per_doc.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(per_doc.n_spans, 0) AS BIGINT) AS n_spans
    FROM toks LEFT JOIN per_doc USING (doc_id)
    """,
    tags=("dedup", "A-family"),
)
def span_dedup_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeated-span exposure (every doc, zeros for clean
    ones — the selection-bias-free form a curation sampler needs). The
    dup-token fraction is the trivial division left to the caller; the
    integer core is what the gate hashes."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import span_dedup_stats

    docs = spark.table("documents")
    return span_dedup_stats(docs, "doc_id", "text", window=8)


@query(
    "contaminated_token_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
    wins AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS s,
             array_to_string(list_transform(t[i:i+7], x -> concat(len(x), ':', x)), chr(31)) AS gram
      FROM toks, unnest(range(1, len(t) - 6)) r(i)
      WHERE len(t) >= 8
    ),
    bg AS (SELECT DISTINCT gram FROM wins WHERE doc_id % 10 = 0),
    hits AS (
      SELECT doc_id, s, s + 8 AS e FROM wins JOIN bg USING (gram)
      WHERE doc_id % 10 <> 0
    ),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) < s
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    islands AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                           ) AS island_id
      FROM marked
    )
    SELECT doc_id,
           CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) AS BIGINT) AS span_end,
           CAST(MAX(e) - MIN(s) AS BIGINT) AS span_len,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM islands GROUP BY doc_id, island_id
    """,
    tags=("decontamination", "dedup", "A3"),
)
def contaminated_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: maximal corpus spans whose 8-token
    windows occur in the benchmark set (every 10th doc — denser than
    `benchmark_contamination`'s 50th so the gate exercises multi-doc,
    multi-span output) — the surgical-mask policy, vs that
    query's whole-document counting. Benchmark gram keys are DISTINCT'd
    and broadcast; the corpus side reaches the island merge without a
    pre-join shuffle (left_semi broadcast join, plan-pinned in
    tests/test_plan_shapes.py)."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import contaminated_spans

    docs = spark.table("documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return contaminated_spans(corpus, bench, "doc_id", "text", window=8)


#: DuckDB twin of the stopword-ratio scorer over the shared tokenizer —
#: the 7-word DEFAULT_STOPWORDS list of functions/text.py; the score is
#: one division of exact integers, bit-identical across engines
_SCORED = f"""
    scored AS (
      SELECT CASE WHEN len(t) > 0 THEN
               CAST(len(list_filter(t, x -> x IN
                 ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(t)
             END AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
      FROM (SELECT {_TOK} AS t, lang FROM documents)
    ),
    per AS (
      SELECT score, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored WHERE score IS NOT NULL GROUP BY score
    ),
    cum AS (
      SELECT score, n, pos,
             CAST(SUM(pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
             CAST(SUM(n) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n
      FROM per
    ),
    tot AS (SELECT SUM(pos) AS p, SUM(n) AS t FROM per)
"""


@query(
    "quality_score_threshold_sweep",
    oracle=f"""
    WITH {_SCORED}
    SELECT score, n, pos, tp, cum_n - tp AS fp,
           CAST(p - tp AS BIGINT) AS fn,
           CAST(t - p - cum_n + tp AS BIGINT) AS tn
    FROM cum, tot
    """,
    tags=("evaluation", "W4", "A-family"),
    bench=True,
)
def quality_score_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation sweep: the stopword-ratio quality scorer
    (functions/text.py) against the lang='en' label, one confusion-
    matrix row per distinct score. Cumulatives run through the
    distributed two-pass prefix sum, never a single-task global window
    — score cardinality, not corpus size, bounds the sweep."""
    from hpc_hd_textreuse_etl_spark.functions.text import stopword_ratio
    from hpc_hd_textreuse_etl_spark.operators.evaluation import threshold_sweep

    # spread before the scorer: the stopword-regex passes are the
    # corpus-scale CPU and run under the first exchange — serialized on
    # one core for a single-row-group input (§2.5); no-op on split inputs
    docs = spread_small_input(
        spark.table("documents").select("text", "lang")
    ).select(
        stopword_ratio("text").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return threshold_sweep(docs, "score", "label")


@query(
    "quality_score_roc_auc",
    oracle=f"""
    WITH {_SCORED},
    rank2 AS (
      SELECT SUM(pos) AS p, SUM(n) - SUM(pos) AS q,
             SUM(pos * (2 * ((SELECT t FROM tot) - cum_n) + n + 1)) AS r2
      FROM cum
    )
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(q AS BIGINT) AS n_neg,
           CAST(r2 - p * (p + 1) AS BIGINT) AS auc_num2,
           CASE WHEN p > 0 AND q > 0
                THEN CAST(r2 - p * (p + 1) AS DOUBLE) / (2.0 * p * q)
           END AS auc
    FROM rank2
    """,
    tags=("evaluation", "A-family"),
)
def quality_score_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC (Mann-Whitney rank-sum form) of the
    stopword-ratio scorer vs the lang='en' label. The integer core
    ``auc_num2 = 2*R_pos - P*(P+1)`` is what the gate hashes; the final
    ``auc`` double is one division of exact integers (IEEE-identical in
    both engines)."""
    from hpc_hd_textreuse_etl_spark.functions.text import stopword_ratio
    from hpc_hd_textreuse_etl_spark.operators.evaluation import roc_auc

    docs = spark.table("documents").select(
        stopword_ratio("text").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return roc_auc(docs, "score", "label")


def _budget_mixture_oracle(rounds: int = 20, max_epochs: float = 4.0) -> str:
    """DuckDB SQL recomputing the WHOLE token-budget planning chain:
    BPE-segmented token counts per source (the gated 4-merge replay,
    _bpe_oracle_rounds), suffix-derived target weights, the
    water-filling cap cascade of budget_mixture_rates unrolled
    ``rounds`` times (the cascade stabilizes in ≤ #sources rounds;
    extra rounds are no-ops, and the final zf over the stable free set
    is exactly the Python loop's last-round zf), and the
    mixture_sample draw (floor + fractional hash gate, per-copy
    explode). Every float in the cascade is either integer-valued in
    double (budget, remaining, 4.0·n — exact regardless of order) or
    computed by the same sequential fold order as the Python dict
    (sorted source), so rates — and therefore thresholds and the drawn
    row set — are bit-identical. Every cascade CTE is MATERIALIZED:
    each round references the previous one several times, and inlined
    re-planning would blow up 3^rounds (the curated-corpus lesson)."""
    me = max_epochs
    parts = [f""", tb0 AS MATERIALIZED (
      SELECT d.source, CAST(SUM(len(string_split(c.t, ' '))) AS BIGINT) AS n
      FROM c{_BPE_MERGES} c JOIN documents d ON c.id = d.doc_id
      GROUP BY 1
    ), tb AS MATERIALIZED (
      SELECT source, n,
             CAST(CAST(substr(source, 4) AS INT) + 1 AS DOUBLE) AS wraw
      FROM tb0
    ), zt AS MATERIALIZED (
      SELECT list_sum(list(wraw ORDER BY source)) AS z,
             CAST(3 * SUM(n) AS DOUBLE) AS budget
      FROM tb
    ), r0 AS MATERIALIZED (
      SELECT source, n, wraw / (SELECT z FROM zt) AS w, FALSE AS capped
      FROM tb
    ), rm0 AS MATERIALIZED (SELECT (SELECT budget FROM zt) AS rem)"""]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f""", z{i} AS MATERIALIZED (
      SELECT list_sum(list(w ORDER BY source)) AS zf
      FROM r{p} WHERE NOT capped AND w > 0
    ), o{i} AS MATERIALIZED (
      SELECT source FROM r{p}
      WHERE NOT capped AND w > 0
        AND ((SELECT rem FROM rm{p}) * w) / (SELECT zf FROM z{i}) > {me} * n
    ), r{i} AS MATERIALIZED (
      SELECT source, n, w,
             capped OR source IN (SELECT source FROM o{i}) AS capped
      FROM r{p}
    ), rm{i} AS MATERIALIZED (
      SELECT (SELECT rem FROM rm{p})
             - COALESCE((SELECT SUM({me} * n) FROM r{p}
                         WHERE source IN (SELECT source FROM o{i})), 0.0) AS rem
    )""")
    h = _DUCK_H.format(x="'budget-v1|' || CAST(d.doc_id AS VARCHAR)")
    parts.append(f""", zfin AS MATERIALIZED (
      SELECT list_sum(list(w ORDER BY source)) AS zf
      FROM r{rounds} WHERE NOT capped AND w > 0
    ), rates AS MATERIALIZED (
      SELECT source, n,
             CASE WHEN capped THEN {me}
                  ELSE (((SELECT rem FROM rm{rounds}) * w)
                        / (SELECT zf FROM zfin)) / n END AS rate
      FROM r{rounds}
    ), gate AS MATERIALIZED (
      SELECT d.doc_id, d.source,
             CAST(trunc(r.rate) AS BIGINT) AS fl,
             CAST(trunc((r.rate - trunc(r.rate)) * 1152921504606846976.0)
                  AS BIGINT) AS thr,
             {h} AS h
      FROM documents d JOIN rates r USING (source)
    ), cps AS MATERIALIZED (
      SELECT doc_id, source,
             fl + (CASE WHEN h < thr THEN 1 ELSE 0 END) AS copies
      FROM gate
    )
    SELECT doc_id, source, CAST(unnest(range(1, copies + 1)) AS INT) AS copy
    FROM cps WHERE copies > 0
    """)
    return "".join(parts)


@query(
    "token_budget_mixture",
    oracle=_bpe_oracle_rounds(_BPE_MERGES) + _budget_mixture_oracle(),
    tags=("sampling-mixture", "budget-planning", "bpe-training",
          "beyond-parity"),
)
def token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan and DRAW an N-token training mixture end to end: BPE
    token counts per source (the engine's own gated 4-merge
    segmentation — real counts, not caller-supplied numbers) →
    budget_mixture_rates (target weights ∝ source-suffix + 1, budget =
    3× the corpus, max_epochs = 4 — parameters chosen so the
    water-filling cap cascade actually fires and redistributes) →
    mixture_sample (deterministic hash gate + per-copy explode). The
    DuckDB oracle recomputes token counts, weights, the full cascade,
    the per-source epochs, the fractional thresholds, and the drawn
    (doc, copy) set."""
    from hpc_hd_textreuse_etl_spark.operators.bpe import bpe_train
    from hpc_hd_textreuse_etl_spark.operators.sampling import (
        budget_mixture_rates,
        mixture_sample,
    )

    docs = spark.table("documents")
    _, seg = bpe_train(docs, "doc_id", "text", _BPE_MERGES)
    counts_rows = (
        seg.select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("n"))
        .collect()
    )
    # sorted source order everywhere: the float folds inside
    # budget_mixture_rates run in dict-insertion order, and the oracle
    # mirrors them with list(... ORDER BY source)
    token_counts = {
        r["source"]: int(r["n"])
        for r in sorted(counts_rows, key=lambda r: r["source"])
    }
    weights = {s: float(int(s[3:]) + 1) for s in token_counts}
    budget = 3 * sum(token_counts.values())
    rates = budget_mixture_rates(
        token_counts, weights, budget, max_epochs=4.0
    )
    return mixture_sample(
        docs, "source", rates, ["doc_id"], salt="budget-v1"
    ).select("doc_id", "source", "copy")
