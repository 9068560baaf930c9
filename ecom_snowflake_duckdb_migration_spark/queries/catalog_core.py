"""Core relational catalog: SURVEY §2 operator inventory ported onto the
driver's TPC-H-ish testdata (see FIXTURES.md "Driver testdata mapping").

Every query documents which SURVEY §2 operators it certifies and the
reference model it mirrors (citations relative to /root/reference).

Float-parity convention (SURVEY §7 "hard parts" #1): aggregates over DOUBLE
columns are never compared as raw double sums — summation order differs
between engines and occasionally straddles a rounding boundary. Instead each
element is converted to an exact integer fixed-point value before SUM:

- ``dsum``: SUM(CAST(FLOOR(x * 1e4 + 0.5) AS BIGINT)) / 1e4 -> DOUBLE.
  Source doubles carry <= 4 true decimal digits (prices/discounts are
  2-decimal money values; price*(1-disc) products have 4), so the "basis
  point" integer recovers the element exactly; BIGINT sums are associative
  and order-independent, so both engines produce the identical integer, and
  the final int64->double divide is IEEE-identical on both sides.
- ``davg``: (bp sum / 1e4) / count, round 6 (identical double input to
  round() on both engines; engine round(x, 6) agrees on this domain).

Performance rationale: DECIMAL accumulation (the previous convention) forces
Spark's >18-precision BigDecimal buffer path — measured 2.2x slower than
BIGINT sums on the flagship shape; BIGINT stays inside whole-stage codegen
with primitive longs. Exactness is unchanged on <=4-decimal money values.

Scale bound: int64 holds +-9.2e18 bp = $922 trillion per output group —
headroom for any real dataset, but TPC-H money columns at ~sf40k exceed it.
Past that, set ``BP = 100`` (cents: 100x headroom, still exact for 2-decimal
sources) or sum a DECIMAL(27,6) cast on both sides (exact at any scale,
BigDecimal cost).

Scale notes:
- Dimension tables (region, nation, derived lookups) are broadcast — no
  shuffle for the dim side of J1-style joins at any scale.
- Fact-fact joins (orders x lineitem) shuffle on the join key; AQE picks the
  physical strategy + skew mitigation at real scale.
- All expressions are built-in Catalyst functions: whole-stage codegen,
  predicate pushdown, and column pruning stay intact (SURVEY §2.10: the
  reference needs zero UDFs, so do we).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import align_union, incremental_filter, upsert_delete_insert
from . import load, register, run_sql

BP = 10_000  # fixed-point scale: 4 decimal digits ("basis points")


def to_bp(c: Column) -> Column:
    """Exact integer fixed-point form of a <=4-decimal money double.

    floor(x*1e4 + 0.5) rather than round(): Spark's round(double) detours
    through BigDecimal per element, floor stays primitive. Both engines
    evaluate the identical IEEE expression, so the results agree bit-for-bit
    even where x*1e4 sits an ulp off an integer.
    """
    return F.floor(c * BP + F.lit(0.5)).cast("long")


def o_bp(expr: str) -> str:
    return f"CAST(floor(({expr}) * {BP} + 0.5) AS BIGINT)"


def dsum(c: Column) -> Column:
    """Exact money SUM via BIGINT basis points; see module docstring."""
    return (F.sum(to_bp(c)) / F.lit(float(BP))).cast("double")


def o_dsum(expr: str) -> str:
    # DuckDB sum(BIGINT) -> HUGEINT; cast back before the double divide so
    # both engines run the identical int64 -> double conversion.
    return f"CAST(CAST(sum({o_bp(expr)}) AS BIGINT) / {BP}.0 AS DOUBLE)"


def s_dsum(expr: str) -> str:
    """Spark-SQL twin of ``dsum``: identical int64/IEEE operation sequence
    (floor(x*1e4+0.5) -> BIGINT sum -> double divide), so results are
    bit-identical to the DataFrame form. ``0.5D``/``10000.0D`` force DOUBLE
    literals — a bare ``10000.0`` parses as DECIMAL in Spark SQL and would
    silently switch the divide to BigDecimal semantics."""
    return (
        f"CAST(sum(CAST(floor(({expr}) * {BP} + 0.5D) AS BIGINT))"
        f" / {BP}.0D AS DOUBLE)"
    )


def s_davg(expr: str) -> str:
    """Spark-SQL twin of ``davg`` (same caveats as ``s_dsum``)."""
    return (
        f"round((sum(CAST(floor(({expr}) * {BP} + 0.5D) AS BIGINT))"
        f" / {BP}.0D) / count({expr}), 6)"
    )


def davg(c: Column) -> Column:
    """Average from the exact bp sum (identical double input on both sides)."""
    return F.round((F.sum(to_bp(c)) / F.lit(float(BP))) / F.count(c), 6)


def o_davg(expr: str) -> str:
    return (
        f"round((CAST(sum({o_bp(expr)}) AS BIGINT) / {BP}.0) / count({expr}), 6)"
    )


# ---------------------------------------------------------------------------
# Flagship + aggregation family
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum('l_quantity')}                                  AS sum_qty,
           {o_dsum('l_extendedprice')}                             AS sum_base_price,
           {o_dsum('l_extendedprice * (1 - l_discount)')}          AS sum_disc_price,
           {o_davg('l_quantity')}                                  AS avg_qty,
           {o_davg('l_extendedprice')}                             AS avg_price,
           {o_davg('l_discount')}                                  AS avg_disc,
           count(*)                                                AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship. A2 sum/avg/count, A7 derived ratios, F16 round; mirrors "
    "fct_sales_by_date.sql aggregate shape (dbt/dbt_duckdb/models/ecom_marts/"
    "sales/fct_sales_by_date.sql:7-14). Filter pushes down to the parquet scan.",
    tags=("A2", "A7", "F16", "P1"),
)
def q01_pricing_summary(spark, sf_dir):
    return run_sql(spark, sf_dir, Q01_SQL)


Q01_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           {s_dsum('l_quantity')}                         AS sum_qty,
           {s_dsum('l_extendedprice')}                    AS sum_base_price,
           {s_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {s_davg('l_quantity')}                         AS avg_qty,
           {s_davg('l_extendedprice')}                    AS avg_price,
           {s_davg('l_discount')}                         AS avg_disc,
           count(*)                                       AS count_order
    FROM {{lineitem}}
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


def q01_pricing_summary_df(spark, sf_dir):
    """DataFrame twin of Q01_SQL (same plan; tests pin exact equality)."""
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q02_revenue_by_nation",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           count(DISTINCT c.c_custkey)                        AS n_customers
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="J3 inner-join chain + A1 COUNT(DISTINCT) + broadcast dims; mirrors "
    "fct_order_details join fan (dbt/dbt_duckdb/models/ecom_marts/sales/"
    "fct_order_details.sql:40-51). nation/region broadcast — zero dim shuffle.",
    tags=("J1", "J3", "A1", "A2"),
)
def q02_revenue_by_nation(spark, sf_dir):
    # customer's broadcast rides the same 64 MB dim gate as every other
    # explicit hint (at sf16 its 25 MB broadcast saves re-shuffling the
    # 2.4M-row per-customer rollup; at 100 TB the gate refuses and AQE
    # owns the decision).
    return run_sql(
        spark, sf_dir,
        Q02_SQL_RAWJOIN.replace("__HINTS__", _broadcast_hints(sf_dir, ("customer", "c"))),
    )


# SHUFFLE_HASH the RAW projected lineitem rows against orders and aggregate
# straight to o_custkey: shuffling |lineitem| 2-long rows costs more bytes
# than a per-order rollup would ship, but skips two 1.5M-entry hash
# aggregations (measured 0.80 -> 0.61 s at sf1). On the orderkey-bucketed
# facts the same join is a merge join over co-located buckets, so the only
# shuffle left is the o_custkey aggregation. The oracle's
# COUNT(DISTINCT c_custkey) is a plain COUNT over the per-customer rollup,
# and integer bp sums are associative, so the result is bit-identical to
# the single-pass dsum the oracle runs.
Q02_SQL_RAWJOIN = f"""
    WITH lraw AS (
        SELECT l_orderkey,
               CAST(floor((l_extendedprice * (1 - l_discount)) * {BP} + 0.5D) AS BIGINT) AS _rev
        FROM {{bkt_lineitem}}
    ),
    per_cust AS (
        SELECT /*+ SHUFFLE_HASH(o) */ o.o_custkey, sum(_rev) AS _crev
        FROM {{bkt_orders}} o JOIN lraw ON lraw.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey
    )
    SELECT __HINTS__/*+ BROADCAST(n), BROADCAST(r) */
           r.r_name, n.n_name,
           CAST(sum(_crev) / {BP}.0D AS DOUBLE) AS revenue,
           count(*)                             AS n_customers
    FROM per_cust pc
    JOIN {{customer}} c ON pc.o_custkey = c.c_custkey
    JOIN {{nation}} n   ON n.n_nationkey = c.c_nationkey
    JOIN {{region}} r   ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
"""


def q02_revenue_by_nation_df(spark, sf_dir):
    # Raw-row shuffled-hash join, no pre-aggregation (see Q02_SQL_RAWJOIN).
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lraw = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        to_bp(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    per_cust = (
        o.hint("shuffle_hash")
        .join(lraw, F.col("l_orderkey") == o.o_orderkey, "inner")
        .groupBy("o_custkey")
        .agg(F.sum("_rev").alias("_crev"))
    )
    c = _maybe_broadcast(
        load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
        sf_dir,
        "customer",
    )
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey, "inner")
        .join(n, n.n_nationkey == c.c_nationkey, "inner")
        .join(r, r.r_regionkey == n.n_regionkey, "inner")
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum("_crev") / F.lit(float(BP))).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


def _parquet_bytes(sf_dir: str, table: str) -> int:
    import glob
    import os

    path = f"{sf_dir}/{table}.parquet"
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/*.parquet"))


_BROADCAST_GATE_BYTES = 64 * 1024 * 1024  # matches session autoBroadcastJoinThreshold


def _broadcast_hints(sf_dir: str, *tables: tuple[str, str]) -> str:
    """Explicit BROADCAST hints, gated on the dim's actual on-disk size.

    A hint overrides AQE, so an ungated ``BROADCAST(p)`` would force a
    broadcast of part (sf x 200k rows) at 100x bench scale where AQE would
    correctly refuse. Emitting the hint only while the dim parquet is under
    the session broadcast threshold keeps the bench-scale plan shape and
    hands the decision back to the optimizer as data grows."""
    hints = [
        f"BROADCAST({alias})"
        for table, alias in tables
        if _parquet_bytes(sf_dir, table) < _BROADCAST_GATE_BYTES
    ]
    return f"/*+ {', '.join(hints)} */ " if hints else ""


def _maybe_broadcast(df, sf_dir: str, table: str):
    """DataFrame-side twin of ``_broadcast_hints``: same size gate."""
    if _parquet_bytes(sf_dir, table) < _BROADCAST_GATE_BYTES:
        return F.broadcast(df)
    return df


@register(
    "q03_top_parts_by_revenue",
    oracle=f"""
    SELECT p.p_partkey, p.p_name,
           {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           {o_dsum('l.l_quantity')}                           AS total_qty
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_partkey, p.p_name
    ORDER BY revenue DESC, p_partkey
    LIMIT 10
    """,
    doc="J6 fan-out join then aggregate + O1 deterministic top-k "
    "(fct_product_performance.sql:15-17 join-then-groupBy shape). Ordering on "
    "the exact decimal revenue makes the top-k fully deterministic.",
    tags=("J6", "O1", "A2"),
)
def q03_top_parts_by_revenue(spark, sf_dir):
    return run_sql(
        spark, sf_dir, Q03_SQL.replace("__HINTS__", _broadcast_hints(sf_dir, ("part", "p")))
    )


# Aggregate lineitem by l_partkey BEFORE touching part: the group-by
# shrinks the fact to one narrow row per part (map-side partial agg does
# most of it pre-shuffle), so the join probes |part| rows instead of
# |lineitem| and p_name never rides through the aggregate. This is the
# 100 TB shape unconditionally — at any scale the post-agg join input is
# the smaller relation. The part hint stays size-gated (_broadcast_hints):
# past the gate AQE picks the join strategy on the 200k x sf-row join.
# Top-k BELOW the join: the ordering key (revenue, partkey) is computable
# before part is joined (p_partkey == the join key), so only 10 rows ever
# reach the dimension join — TakeOrderedAndProject runs per-partition top-k
# on the aggregate output and the join probes 10 rows instead of |parts|.
# The outer ORDER BY re-asserts the result order after the join.
# The oracle's INNER join drops partkeys with no part row BEFORE ranking,
# so the pre-join top-k must rank only FK-matching keys: the inner join
# against part's DISTINCT key column makes the rewrite exact on ANY data,
# not just FK-clean data. It is deliberately an INNER join and not a semi
# (IN subquery): Catalyst pushes left-semi joins BELOW aggregates when the
# semi key is the grouping key, which at broadcast sizes is free but past
# the broadcast gate turns into a |lineitem|-row shuffle probe — the
# post-agg inner join keeps the probe at |partkeys| rows at every scale.
# No DISTINCT on the key scan: p_partkey is the reference schema's
# declared PRIMARY KEY (dbt schema tests pin uniqueness), and a dedup
# aggregate would cost the exact exchange this shape exists to avoid.
# On the partkey-bucketed lineitem copy the per-partkey aggregate (the
# whole query's dominant shuffle) runs exchange-free.
Q03_SQL = f"""
    SELECT __HINTS__
           p.p_partkey, p.p_name,
           CAST(la.rev_bp / {BP}.0D AS DOUBLE) AS revenue,
           CAST(la.qty_bp / {BP}.0D AS DOUBLE) AS total_qty
    FROM (
        SELECT la0.l_partkey, rev_bp, qty_bp FROM (
            SELECT l_partkey,
                   sum(CAST(floor((l_extendedprice * (1 - l_discount)) * {BP} + 0.5D) AS BIGINT)) AS rev_bp,
                   sum(CAST(floor(l_quantity * {BP} + 0.5D) AS BIGINT))                           AS qty_bp
            FROM {{bkt_lineitem_pk}}
            GROUP BY l_partkey
        ) la0
        JOIN (SELECT p_partkey AS pk_key FROM {{part}}) pk
          ON pk.pk_key = la0.l_partkey
        ORDER BY rev_bp DESC, la0.l_partkey
        LIMIT 10
    ) la
    JOIN {{part}} p ON p.p_partkey = la.l_partkey
    ORDER BY revenue DESC, p_partkey
    LIMIT 10
"""


def q03_top_parts_by_revenue_df(spark, sf_dir):
    # Top-k below the join (see Q03_SQL's comment): only 10 rows reach part.
    # Inner-join against DISTINCT part keys BEFORE the top-k so FK-orphan
    # partkeys can't displace real top-10 rows (oracle joins first, then
    # ranks); inner, not semi, so Catalyst can't push the probe below the
    # aggregate onto the raw fact (see Q03_SQL's comment).
    pk = load(spark, sf_dir, "part").select(F.col("p_partkey").alias("pk_key"))
    la = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(to_bp(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_bp"),
            F.sum(to_bp(F.col("l_quantity"))).alias("qty_bp"),
        )
        .join(_maybe_broadcast(pk, sf_dir, "part"),
              F.col("l_partkey") == F.col("pk_key"), "inner")
        .drop("pk_key")
        .orderBy(F.desc("rev_bp"), F.asc("l_partkey"))
        .limit(10)
    )
    p = _maybe_broadcast(load(spark, sf_dir, "part"), sf_dir, "part")
    return (
        la.join(p, la.l_partkey == p.p_partkey, "inner")
        .select(
            "p_partkey",
            "p_name",
            (F.col("rev_bp") / F.lit(float(BP))).cast("double").alias("revenue"),
            (F.col("qty_bp") / F.lit(float(BP))).cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(10)
    )


@register(
    "q04_semi_join_large_parts",
    oracle=f"""
    SELECT l_returnflag,
           count(*)                     AS n_items,
           {o_dsum('l_extendedprice')}  AS total_price
    FROM lineitem
    WHERE l_partkey IN (SELECT DISTINCT p_partkey FROM part WHERE p_size > 40)
    GROUP BY l_returnflag
    """,
    doc="J4 existence check as LEFT SEMI join — exact equivalent of the "
    "reference's DISTINCT+INNER validation join (dbt/dbt_duckdb/models/"
    "ecom_intermediate/transactions/order_items.sql:13-25).",
    tags=("J4",),
)
def q04_semi_join_large_parts(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") > 40).select("p_partkey").distinct()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice")).alias("total_price"),
        )
    )


@register(
    "q05_nation_trade_roles",
    oracle=f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           count(*)                                           AS n_lines,
           {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS volume
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN customer c  ON c.c_custkey = o.o_custkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
    JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
    JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
    GROUP BY cn.n_name, sn.n_name
    """,
    doc="J5 one dim joined twice under two roles (shipping vs billing "
    "address double-join, dbt/dbt_duckdb/models/ecom_intermediate/"
    "transactions/orders.sql:21-24).",
    tags=("J5", "J3"),
)
def q05_nation_trade_roles(spark, sf_dir):
    return run_sql(
        spark, sf_dir,
        Q05_SQL.replace(
            "__HINTS__",
            # cn/sn ride fixed hints in the outer 625-row select; only the
            # stream-side dims stay size-gated
            _broadcast_hints(sf_dir, ("customer", "c"), ("supplier", "s")),
        ),
    )


# supplier's hint is size-gated like q03's part; nation passes the gate at
# every TPC-H scale (fixed 25 rows). SHUFFLE_HASH(o) covers the one
# fact-fact join: past the broadcast sizes, sort-merge pays two full sorts
# of the largest relations for nothing (the downstream agg needs no order);
# hash join skips them (measured 1.33 -> 0.94 s at sf1). Build side is
# orders' 2-col projection, bounded per partition by scale-proportional
# shuffle sizing.
#
# The bp conversion happens IN the scan projection, before the join
# shuffle: one BIGINT crosses the exchange instead of two DOUBLEs
# (measured 0.71 -> 0.65 s at sf1, 0.34 -> 0.33 s at sf0.1 — strictly
# fewer bytes at any scale, same integer-exact math).
#
# Nation names join POST-AGG: the fact stream needs only c_nationkey /
# s_nationkey — integers already sitting on customer/supplier — so the
# per-row work drops from four broadcast probes + a two-STRING group key
# to two probes + a two-INT key; the nation-name joins run on the 625
# aggregated rows instead of |lineitem|. Measured interleaved-A/B at
# sf16: 3.93 -> 2.83 s (DuckDB 1.65 s -> ratio 1.71x, under the 2x
# letter); strictly fewer per-row ops at any scale, so no gate needed.
Q05_SQL = f"""
    WITH agg AS (
        SELECT /*+ SHUFFLE_HASH(o) */ __HINTS__
               c.c_nationkey AS ck, s.s_nationkey AS sk,
               count(*)                       AS n_lines,
               CAST(sum(l._rev) AS BIGINT)    AS rev
        FROM (SELECT l_orderkey, l_suppkey,
                     CAST(floor((l_extendedprice * (1 - l_discount)) * {BP} + 0.5D) AS BIGINT) AS _rev
              FROM {{bkt_lineitem}}) l
        JOIN {{bkt_orders}} o ON o.o_orderkey = l.l_orderkey
        JOIN {{customer}} c ON c.c_custkey = o.o_custkey
        JOIN {{supplier}} s ON s.s_suppkey = l.l_suppkey
        GROUP BY c.c_nationkey, s.s_nationkey
    )
    SELECT /*+ BROADCAST(cn), BROADCAST(sn) */
           cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           n_lines, CAST(rev / {BP}.0D AS DOUBLE) AS volume
    FROM agg
    JOIN {{nation}} cn ON cn.n_nationkey = agg.ck
    JOIN {{nation}} sn ON sn.n_nationkey = agg.sk
"""


def q05_nation_trade_roles_df(spark, sf_dir):
    # bp conversion in the scan projection — one BIGINT crosses the join
    # exchange instead of two DOUBLEs; nation names join POST-AGG on the
    # 625-row result (see Q05_SQL's comment).
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        to_bp(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    o = load(spark, sf_dir, "orders").hint("shuffle_hash")
    c = _maybe_broadcast(load(spark, sf_dir, "customer"), sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    agg = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(_maybe_broadcast(s, sf_dir, "supplier"), l.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("ck"), F.col("s_nationkey").alias("sk")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("_rev").cast("long").alias("rev"),
        )
    )
    cn = F.broadcast(n.alias("cn"))
    sn = F.broadcast(n.alias("sn"))
    return (
        agg.join(cn, F.col("ck") == F.col("cn.n_nationkey"))
        .join(sn, F.col("sk") == F.col("sn.n_nationkey"))
        .select(
            F.col("cn.n_name").alias("cust_nation"),
            F.col("sn.n_name").alias("supp_nation"),
            "n_lines",
            (F.col("rev") / F.lit(float(BP))).cast("double").alias("volume"),
        )
    )


@register(
    "q06_multikey_min_price_join",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey, min(l_extendedprice) AS min_price
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT l.l_suppkey,
           count(*)                                                     AS n_lines,
           count(CASE WHEN l.l_extendedprice = ps.min_price THEN 1 END) AS n_at_min
    FROM lineitem l
    JOIN ps ON ps.l_partkey = l.l_partkey AND ps.l_suppkey = l.l_suppkey
    GROUP BY l.l_suppkey
    """,
    doc="J2 multi-key equi-join (USING (a,b)-style) — mirrors composite "
    "category+subcategory join (dbt/dbt_duckdb/models/ecom_intermediate/"
    "entities/products_enriched.sql:54-56) + A3 conditional count. MIN of a "
    "double is an exact element copy, so the equality probe is engine-stable. "
    "Spark plan: the oracle's aggregate+self-join is algebraically a window "
    "MIN over the same keys — one shuffle instead of two plus a join; at "
    "100 TB that halves the dominant cost.",
    tags=("J2", "A3"),
)
def q06_multikey_min_price_join(spark, sf_dir):
    return run_sql(spark, sf_dir, Q06_SQL)


# On the (partkey, suppkey)-clustered+sorted lineitem copy the window's
# required distribution is satisfied by the bucket hash and its required
# sort by the bucket sort order: the window runs with no exchange and no
# sort before it.
Q06_SQL = """
    SELECT l_suppkey,
           count(*)                                               AS n_lines,
           count(CASE WHEN l_extendedprice = min_price THEN 1 END) AS n_at_min
    FROM (
        SELECT l_suppkey, l_extendedprice,
               min(l_extendedprice) OVER (PARTITION BY l_partkey, l_suppkey) AS min_price
        FROM (SELECT l_partkey, l_suppkey, l_extendedprice FROM {bkt_lineitem_pk})
    )
    GROUP BY l_suppkey
"""


def q06_multikey_min_price_join_df(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey", "l_suppkey")
    return (
        l.withColumn("min_price", F.min("l_extendedprice").over(w))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(F.when(F.col("l_extendedprice") == F.col("min_price"), 1)).alias("n_at_min"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup / window family
# ---------------------------------------------------------------------------


@register(
    "q07_dedup_keep_newest",
    oracle="""
    SELECT user_id, event_id, event_type, value, ts
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="A11 per-PK dedup keep-newest via row_number window — the ingest "
    "dedup (src/pipeline/ingest_latest_synthetic_data.py:163-194). Raw "
    "columns pass through bit-identically, no normalization needed.",
    tags=("A11", "W1"),
)
def q07_dedup_keep_newest(spark, sf_dir):
    return run_sql(spark, sf_dir, Q07_SQL)


# max_by over (ts, event_id) instead of a row_number window: a hash
# aggregate partial-combines map-side (each task keeps one candidate row
# per user before the shuffle) and never sorts, while the window must
# shuffle EVERY raw row and sort each partition. Identical keep-newest
# semantics: the struct comparator is lexicographic (ts, then event_id),
# matching ORDER BY ts DESC, event_id DESC with rn = 1. At 100 TB the
# map-side combine is the difference between shuffling |rows| and
# shuffling ~|users|. On the user_id-bucketed events copy (the
# PK-co-located ingest layout) the groupBy(user_id) reads co-located
# buckets and plans with ZERO exchanges: one stage at any scale.
Q07_SQL = """
    SELECT picked.user_id, picked.event_id, picked.event_type,
           picked.value, picked.ts
    FROM (
        SELECT max_by(
                 named_struct('user_id', user_id, 'event_id', event_id,
                              'event_type', event_type, 'value', value, 'ts', ts),
                 struct(ts, event_id)) AS picked
        FROM {bkt_events_user} GROUP BY user_id
    )
"""


def q07_dedup_keep_newest_df(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    picked = (
        e.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("user_id", "event_id", "event_type", "value", "ts"),
                F.struct("ts", "event_id"),
            ).alias("picked")
        )
        .select("picked.*")
    )
    return picked.select("user_id", "event_id", "event_type", "value", "ts")


@register(
    "q08_first_value_latest",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(value) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS latest_value
    FROM events
    """,
    doc="W1 FIRST_VALUE(...) OVER (PARTITION BY ... ORDER BY ... DESC) + outer "
    "DISTINCT — the reference's only window function (dbt/dbt_duckdb/models/"
    "ecom_intermediate/transactions/order_items.sql:28-37).",
    tags=("W1",),
)
def q08_first_value_latest(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("latest_value", F.first("value").over(w))
        .select("user_id", "latest_value")
        .distinct()
    )


@register(
    "q09_upsert_delete_insert",
    oracle=f"""
    WITH updates AS (
        SELECT event_id, ts, user_id, event_type, value * 2 AS value, props
        FROM events WHERE event_id >= 7000 AND event_id < 9000
    ),
    target AS (SELECT * FROM events WHERE event_id < 8000),
    merged AS (
        SELECT * FROM target WHERE event_id NOT IN (SELECT event_id FROM updates)
        UNION ALL
        SELECT * FROM updates
    )
    SELECT event_type, count(*) AS n_rows, {o_dsum('value')} AS total_value
    FROM merged GROUP BY event_type
    """,
    doc="S8 PK upsert (delete+insert) as anti-join + unionByName — the "
    "reference's staged delete/insert load (src/pipeline/"
    "ingest_latest_synthetic_data.py:536-575). At scale this becomes Delta "
    "MERGE; the anti-join rewrite is the storage-agnostic equivalent.",
    tags=("S8", "U3"),
)
def q09_upsert_delete_insert(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    updates = (
        e.filter((F.col("event_id") >= 7000) & (F.col("event_id") < 9000))
        .withColumn("value", F.col("value") * 2)
    )
    target = e.filter(F.col("event_id") < 8000)
    merged = upsert_delete_insert(target, updates, ["event_id"])
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("value")).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Set operations / unions
# ---------------------------------------------------------------------------


@register(
    "q10_union_distinct_dates",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS activity_day FROM orders
    UNION
    SELECT CAST(ts AS DATE) AS activity_day FROM events
    """,
    doc="U2 UNION (distinct) of order dates + event dates — dim_dates "
    "(dbt/dbt_duckdb/models/ecom_marts/core/dim_dates.sql:13-19).",
    tags=("U2", "F13"),
)
def q10_union_distinct_dates(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select(F.to_date("o_orderdate").alias("activity_day"))
    e = load(spark, sf_dir, "events").select(F.to_date("ts").alias("activity_day"))
    return o.union(e).distinct()


@register(
    "q11_schema_align_union",
    oracle=f"""
    WITH historic AS (
        SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ),
    latest AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    ),
    unioned AS (SELECT * FROM historic UNION ALL SELECT * FROM latest)
    SELECT coalesce(o_orderpriority, 'UNKNOWN') AS priority,
           count(*) AS n_orders,
           {o_dsum('o_totalprice')} AS total
    FROM unioned GROUP BY 1
    """,
    doc="P8/U3 schema-align union (missing columns -> NULL) + A9 GROUP BY "
    "ordinal in the oracle — historic+latest concat (src/pipeline/"
    "ingest_latest_synthetic_data.py:810-821) via unionByName("
    "allowMissingColumns=True).",
    tags=("P8", "U3", "A9", "F3"),
)
def q11_schema_align_union(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp")
    historic = o.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    latest = o.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    unioned = align_union(historic, latest)
    return unioned.groupBy(
        F.coalesce("o_orderpriority", F.lit("UNKNOWN")).alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total"),
    )


@register(
    "q12_string_agg_nations",
    oracle="""
    SELECT r.r_name,
           string_agg(DISTINCT n.n_name, ', ' ORDER BY n.n_name) AS nations,
           count(DISTINCT n.n_name)                              AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="A6 ordered-distinct STRING_AGG via array_join(array_sort(collect_set)) "
    "(dbt/dbt_duckdb/models/ecom_marts/core/dim_categories.sql:7-18).",
    tags=("A6", "A1"),
)
def q12_string_agg_nations(spark, sf_dir):
    from ..functions import string_agg_distinct_ordered

    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            string_agg_distinct_ordered("n_name").alias("nations"),
            F.countDistinct("n_name").alias("n_nations"),
        )
    )


# ---------------------------------------------------------------------------
# Conditional aggregates
# ---------------------------------------------------------------------------


@register(
    "q13_conditional_activity",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS day,
           count(CASE WHEN event_type = 'purchase' THEN 1 END)                AS purchases,
           count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS purchasers,
           count(CASE WHEN event_type = 'click' THEN 1 END)                   AS clicks,
           count(DISTINCT user_id)                                            AS active_users,
           {o_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")}
               AS purchase_value
    FROM events GROUP BY 1
    """,
    doc="A3 conditional count + A4 conditional COUNT(DISTINCT CASE ...) — "
    "fct_customer_activity (dbt/dbt_duckdb/models/ecom_marts/customer/"
    "fct_customer_activity.sql:12-24) and fct_product_interactions:9-12.",
    tags=("A3", "A4", "A1", "F13"),
)
def q13_conditional_activity(spark, sf_dir):
    return run_sql(spark, sf_dir, Q13_SQL_BITMAP)


# Both DISTINCTs range over user_id — a NON-NEGATIVE INTEGER — so the same
# bitmap-word rewrite as q22 applies: per (day, user_id div 63) word, OR
# each user's bit into an "active" bitmap and (purchase-only) a "purchaser"
# bitmap, with the plain counts/sums riding the same aggregate; then
# SUM(bit_count(word)) per day. Key cardinality drops 63x vs the (day,
# user) cascade (|days| x |users|/63), partials combine map-side into tiny
# hash tables, and the worst case (sparse user ids, one user per word)
# degenerates to exactly the cascade's volume — so this is the universal
# shape, no size gate (measured 0.34 -> 0.28 s at sf1, 0.19 -> 0.18 s at
# sf0.1; the former shapes — multi-distinct Expand, (day,user) cascade,
# REPARTITION(day) daypart — all lose to it at every scale tried). 63-bit
# words keep every word a positive BIGINT (DuckDB raises on 1<<63).
# On the day-clustered events copy (stored day = to_date(ts), bucketed on
# it) HashPartitioning(day) satisfies ClusteredDistribution for BOTH
# aggregate levels ([day, w] and [day]), so the whole cascade runs
# exchange-free in one stage. That is the bench-scale layout (see
# sources/bucketed.py for the |days|-parallelism trade); the raw read
# stays the 100 TB shape.
Q13_SQL_BITMAP = f"""
    WITH words AS (
        SELECT day, user_id div 63 AS w,
               CASE WHEN event_type = 'purchase'
                    THEN shiftleft(1L, CAST(user_id % 63 AS INT)) ELSE 0L END AS pbit,
               shiftleft(1L, CAST(user_id % 63 AS INT)) AS abit,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END    AS is_c,
               CAST(floor((CASE WHEN event_type = 'purchase' THEN value ELSE 0D END) * {BP} + 0.5D) AS BIGINT) AS val_bp
        FROM {{bkt_events_day}}
    ),
    perword AS (
        SELECT day, w, bit_or(pbit) AS pbits, bit_or(abit) AS abits,
               sum(is_p) AS n_purch, sum(is_c) AS n_click, sum(val_bp) AS val_bp
        FROM words GROUP BY day, w
    )
    SELECT day,
           CAST(sum(n_purch) AS BIGINT)           AS purchases,
           CAST(sum(bit_count(pbits)) AS BIGINT)  AS purchasers,
           CAST(sum(n_click) AS BIGINT)           AS clicks,
           CAST(sum(bit_count(abits)) AS BIGINT)  AS active_users,
           CAST(sum(val_bp) / {BP}.0D AS DOUBLE)  AS purchase_value
    FROM perword
    GROUP BY day
"""


def q13_conditional_activity_df(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    ubit = F.expr("shiftleft(1L, CAST(user_id % 63 AS INT))")
    perword = (
        e.select(
            F.to_date("ts").alias("day"),
            F.expr("user_id div 63").alias("w"),
            F.when(is_purchase, ubit).otherwise(F.lit(0).cast("long")).alias("pbit"),
            ubit.alias("abit"),
            F.when(is_purchase, 1).otherwise(0).alias("is_p"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_c"),
            to_bp(F.when(is_purchase, F.col("value")).otherwise(0)).alias("val_bp"),
        )
        .groupBy("day", "w")
        .agg(
            F.bit_or("pbit").alias("pbits"),
            F.bit_or("abit").alias("abits"),
            F.sum("is_p").alias("n_purch"),
            F.sum("is_c").alias("n_click"),
            F.sum("val_bp").alias("val_bp"),
        )
    )
    return perword.groupBy("day").agg(
        F.sum("n_purch").cast("long").alias("purchases"),
        F.sum(F.bit_count("pbits")).cast("long").alias("purchasers"),
        F.sum("n_click").cast("long").alias("clicks"),
        F.sum(F.bit_count("abits")).cast("long").alias("active_users"),
        (F.sum("val_bp") / F.lit(float(BP))).cast("double").alias("purchase_value"),
    )


@register(
    "x14_bool_or_big_orders",
    oracle="""
    SELECT o_custkey,
           bool_or(o_totalprice > 300000) AS has_big_order,
           count(*)                       AS n_orders
    FROM orders GROUP BY o_custkey
    """,
    doc="A5 BOOL_OR aggregate (Snowflake BOOLOR_AGG -> DuckDB bool_or, "
    "dbt/dbt_duckdb/models/ecom_intermediate/transactions/orders.sql:13).",
    tags=("A5",),
)
def q14_bool_or_big_orders(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.bool_or(F.col("o_totalprice") > 300000).alias("has_big_order"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Scalar-function family
# ---------------------------------------------------------------------------


@register(
    "x15_surrogate_keys",
    oracle="""
    SELECT c_custkey,
           md5(coalesce(CAST(c_custkey AS VARCHAR), '') || '-' ||
               coalesce(c_mktsegment, '') || '-' ||
               coalesce(CAST(c_nationkey AS VARCHAR), '')) AS customer_sk
    FROM customer
    """,
    doc="F6 dbt_utils.generate_surrogate_key parity: md5 of '-'-joined "
    "''-coalesced varchar casts (dbt/dbt_duckdb/models/ecom_intermediate/"
    "entities/locations.sql:53; packages.yml:2-3).",
    tags=("F6",),
)
def q15_surrogate_keys(spark, sf_dir):
    from ..functions import surrogate_key

    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        surrogate_key("c_custkey", "c_mktsegment", "c_nationkey").alias("customer_sk"),
    )


@register(
    "q16_customer_status",
    oracle="""
    WITH last_orders AS (
        SELECT o_custkey, CAST(max(o_orderdate) AS DATE) AS last_order_day
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_order_day,
           CASE WHEN last_order_day >= DATE '2001-08-01' - INTERVAL 3 MONTH THEN 'Active'
                WHEN last_order_day >= DATE '2001-08-01' - INTERVAL 12 MONTH THEN 'At Risk'
                ELSE 'Churned' END AS customer_status,
           CAST(date_diff('day', last_order_day, DATE '2001-08-01') AS INT) AS days_since_order
    FROM last_orders
    """,
    doc="F5 CASE ladder + F11 add_months + F12 date_diff with injected run "
    "date (F10 determinism) — dim_customers customer_status "
    "(dbt/dbt_duckdb/models/ecom_marts/core/dim_customers.sql:29-34).",
    tags=("F5", "F11", "F12", "F10"),
)
def q16_customer_status(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    run_date = F.lit("2001-08-01").cast("date")  # injectable run_ts (F10)
    last = o.groupBy("o_custkey").agg(F.max("o_orderdate").cast("date").alias("last_order_day"))
    return last.select(
        "o_custkey",
        "last_order_day",
        F.when(F.col("last_order_day") >= F.add_months(run_date, -3), "Active")
        .when(F.col("last_order_day") >= F.add_months(run_date, -12), "At Risk")
        .otherwise("Churned")
        .alias("customer_status"),
        F.datediff(run_date, F.col("last_order_day")).alias("days_since_order"),
    )


@register(
    "q17_date_dimension",
    oracle="""
    SELECT DISTINCT CAST(o_orderdate AS DATE)                AS day,
           CAST(year(o_orderdate) AS INT)                    AS year,
           CAST(month(o_orderdate) AS INT)                   AS month,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS day_of_week,
           last_day(CAST(o_orderdate AS DATE))               AS month_end,
           dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)    AS is_weekend
    FROM orders
    """,
    doc="F7/F8/F9/F13 date dimension with the DuckDB DOW convention "
    "(Sunday=0): Spark dayofweek()-1 (dbt/dbt_duckdb/models/ecom_marts/"
    "core/dim_dates.sql:8-12).",
    tags=("F8", "F9", "F13", "U2"),
)
def q17_date_dimension(spark, sf_dir):
    from ..functions import dow_sunday0

    o = load(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate")
    return o.select(
        day.alias("day"),
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
        dow_sunday0(day).alias("day_of_week"),
        F.last_day(day).alias("month_end"),
        dow_sunday0(day).isin(0, 6).alias("is_weekend"),
    ).distinct()


@register(
    "x18_trim_filter_brands",
    oracle=f"""
    SELECT trim(p_brand) AS brand,
           count(*)      AS n_parts,
           {o_davg('p_retailprice')} AS avg_price
    FROM part
    WHERE p_brand IS NOT NULL AND trim(p_brand) != ''
    GROUP BY trim(p_brand)
    """,
    doc="P3 NULL+empty-string predicates + F1 TRIM — brands model filter "
    "(dbt/dbt_duckdb/models/ecom_intermediate/entities/brands.sql:3-6).",
    tags=("P3", "F1"),
)
def q18_trim_filter_brands(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_brand").isNotNull() & (F.trim("p_brand") != ""))
        .groupBy(F.trim("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            davg(F.col("p_retailprice")).alias("avg_price"),
        )
    )


@register(
    "x19_coalesce_nullif",
    oracle=f"""
    SELECT l_returnflag,
           {o_davg('coalesce(nullif(l_discount, 0.0), 0.05)')}          AS avg_eff_discount,
           count(CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 1 END)  AS n_zero_discount
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="F3 COALESCE + F4 NULLIF (dbt/dbt_duckdb/models/ecom_marts/core/"
    "dim_customers.sql:25; customers_enriched.sql:36-44).",
    tags=("F3", "F4"),
)
def q19_coalesce_nullif(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    eff = F.nullif(F.col("l_discount"), F.lit(0.0))
    return l.groupBy("l_returnflag").agg(
        davg(F.coalesce(eff, F.lit(0.05))).alias("avg_eff_discount"),
        F.count(F.when(eff.isNull(), 1)).alias("n_zero_discount"),
    )


@register(
    "x20_split_part_names",
    oracle="""
    SELECT split_part(p_name, ' ', 1)  AS first_word,
           split_part(p_name, ' ', -1) AS last_word,
           split_part(p_name, ' ', 5)  AS fifth_word,
           count(*)                    AS n_parts
    FROM part
    GROUP BY 1, 2, 3
    """,
    doc="F2 SPLIT_PART incl. negative index and out-of-range -> '' "
    "(dbt/dbt_duckdb/models/ecom_intermediate/entities/addresses.sql:4-8) "
    "+ A9 GROUP BY ordinals in the oracle.",
    tags=("F2", "A9"),
)
def q20_split_part_names(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return (
        p.select(
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(-1)).alias("last_word"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(5)).alias("fifth_word"),
        )
        .groupBy("first_word", "last_word", "fifth_word")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@register(
    "x21_group_by_ordinal",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*)                 AS n_orders,
           {o_dsum('o_totalprice')} AS total
    FROM orders GROUP BY 1, 2
    """,
    doc="A9 GROUP BY ordinal resolved to names at build time "
    "(dbt/dbt_duckdb/models/ecom_intermediate/entities/"
    "categories_enriched.sql:12).",
    tags=("A9", "A2"),
)
def q21_group_by_ordinal(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total"),
    )


@register(
    "q22_count_distinct_quirk",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_quantity) AS review_count_quirk,
           count(DISTINCT l_partkey)  AS n_parts,
           count(DISTINCT l_suppkey)  AS n_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="A10 the reference's COUNT(DISTINCT review_score)-as-review-count "
    "quirk, replicated verbatim (dbt/dbt_duckdb/models/ecom_marts/sales/"
    "fct_product_performance.sql:13) + A1 multiple distincts.",
    tags=("A10", "A1"),
)
def q22_count_distinct_quirk(spark, sf_dir):
    # Below ~64 MB the fact is page-cache-resident and three cheap scans
    # beat exploding 3x|rows| struct triples (measured sf0.1: union3
    # 0.246 vs onescan 0.290 s); past it scan bandwidth dominates and the
    # single-scan explode wins (sf1: 0.365 vs 0.381; sf16: 1.56 vs
    # 2.40 s). Same bitmap partials either way — results bit-identical.
    if _parquet_bytes(sf_dir, "lineitem") < _BROADCAST_GATE_BYTES:
        return run_sql(spark, sf_dir, Q22_SQL_BITMAP_UNION3)
    return run_sql(spark, sf_dir, Q22_SQL_BITMAP)


# Bitmap-word distinct counting. Every distinct key here is a NON-NEGATIVE
# INTEGER (TPC-H part/supp keys are dense 1..N; quantities are integral
# 1..50 — the domain precondition for this rewrite), so COUNT(DISTINCT key)
# per flag becomes: group keys into 64-bit words (key div 64), OR each
# key's bit into its word (bit_or aggregate — partial-combines map-side),
# then SUM(bit_count(word)).
#
# Shuffle envelope vs the alternatives, per map task:
# - Expand multi-distinct ships 3x|rows|;
# - per-branch dedup cascade ships |local distinct keys|;
# - bitmap ships |local distinct words| <= min(|local distinct keys|,
#   max_key/64) — NEVER worse than the cascade, 64x less on dense domains.
# That bound is data-independent (sparse domains degenerate to one key per
# word = exactly the cascade's volume), so unlike the Expand-vs-cascade
# trade this shape needs no size gate: it is the 100 TB plan and the bench
# plan (measured: 0.72 -> 0.36 s at sf1, 0.44 -> 0.26 s at sf0.1).
# Non-integer / unbounded key domains fall back to the per-branch dedup
# cascade (SELECT flag, key GROUP BY 1,2 -> count per flag), which this
# replaced and which tests/test_property_parity.py still covers via the
# generic dedup operators.
# Single scan, not three: the three distinct branches used to be a
# 3-branch UNION of (flag, word) aggregates, each re-scanning lineitem
# (Spark does not CSE identical scans across a UNION). One posexplode
# into (branch, word, bit) rows keeps the IDENTICAL map-side bit_or
# partial volume — the explode fan-out collapses in the in-stage hash
# agg before anything ships — while reading the fact once. Measured
# interleaved A/B: sf16 2.40 -> 1.56 s (DuckDB 1.50 — even), sf1 0.365
# vs 0.381 (wins); BELOW the 64 MB gate the page-cached re-scans are
# cheaper than the explode (sf0.1 0.246 vs 0.290) and the q22 gate picks
# Q22_SQL_BITMAP_UNION3 instead.
Q22_SQL_BITMAP = """
    WITH triples AS (
        SELECT l_returnflag, t.br, t.w, t.b
        FROM {lineitem}
        LATERAL VIEW explode(array(
            named_struct('br', 'q', 'w', CAST(l_quantity AS BIGINT) div 64,
                         'b', shiftleft(1L, CAST(l_quantity AS BIGINT) % 64)),
            named_struct('br', 'p', 'w', l_partkey div 64,
                         'b', shiftleft(1L, l_partkey % 64)),
            named_struct('br', 's', 'w', l_suppkey div 64,
                         'b', shiftleft(1L, l_suppkey % 64)))) t AS t
    ),
    agg AS (
        SELECT l_returnflag, br, w, bit_or(b) AS bits
        FROM triples GROUP BY 1, 2, 3
    )
    SELECT l_returnflag,
           CAST(sum(CASE WHEN br = 'q' THEN bit_count(bits) END) AS BIGINT) AS review_count_quirk,
           CAST(sum(CASE WHEN br = 'p' THEN bit_count(bits) END) AS BIGINT) AS n_parts,
           CAST(sum(CASE WHEN br = 's' THEN bit_count(bits) END) AS BIGINT) AS n_suppliers
    FROM agg GROUP BY l_returnflag
"""

# the page-cache-scale variant (see the q22 gate comment): identical
# bitmap partials, three scans instead of an explode
Q22_SQL_BITMAP_UNION3 = """
    WITH words AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) div 64 AS qw,
               shiftleft(1L, CAST(l_quantity AS BIGINT) % 64) AS qb,
               l_partkey div 64 AS pw, shiftleft(1L, l_partkey % 64) AS pb,
               l_suppkey div 64 AS sw, shiftleft(1L, l_suppkey % 64) AS sb
        FROM {lineitem}
    ),
    agg AS (
        SELECT l_returnflag, qw AS w, bit_or(qb) AS bits, 'q' AS br FROM words GROUP BY 1, 2
        UNION ALL
        SELECT l_returnflag, pw AS w, bit_or(pb) AS bits, 'p' AS br FROM words GROUP BY 1, 2
        UNION ALL
        SELECT l_returnflag, sw AS w, bit_or(sb) AS bits, 's' AS br FROM words GROUP BY 1, 2
    )
    SELECT l_returnflag,
           CAST(sum(CASE WHEN br = 'q' THEN bit_count(bits) END) AS BIGINT) AS review_count_quirk,
           CAST(sum(CASE WHEN br = 'p' THEN bit_count(bits) END) AS BIGINT) AS n_parts,
           CAST(sum(CASE WHEN br = 's' THEN bit_count(bits) END) AS BIGINT) AS n_suppliers
    FROM agg GROUP BY l_returnflag
"""


def q22_count_distinct_quirk_df(spark, sf_dir):
    # Single-scan posexplode twin of Q22_SQL_BITMAP (see its comment).
    l = load(spark, sf_dir, "lineitem")

    def triple(tag: str, key: str) -> Column:
        # Shift/mask, not float division: exact integer ops at any key width
        # (F.shiftleft takes a literal shift, so the variable shift is an
        # expr fragment).
        k = f"CAST({key} AS BIGINT)"
        return F.struct(
            F.lit(tag).alias("br"),
            F.expr(f"shiftright({k}, 6)").alias("w"),
            F.expr(f"shiftleft(1L, CAST({k} % 64 AS INT))").alias("b"),
        )

    triples = l.select(
        "l_returnflag",
        F.explode(
            F.array(
                triple("q", "l_quantity"),
                triple("p", "l_partkey"),
                triple("s", "l_suppkey"),
            )
        ).alias("t"),
    ).select("l_returnflag", "t.br", "t.w", "t.b")
    agg = triples.groupBy("l_returnflag", "br", "w").agg(F.bit_or("b").alias("bits"))
    return agg.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("br") == "q", F.bit_count("bits"))).cast("long").alias("review_count_quirk"),
        F.sum(F.when(F.col("br") == "p", F.bit_count("bits"))).cast("long").alias("n_parts"),
        F.sum(F.when(F.col("br") == "s", F.bit_count("bits"))).cast("long").alias("n_suppliers"),
    )


@register(
    "x23_limit_preview",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders ORDER BY o_orderkey LIMIT 5
    """,
    doc="O1 LIMIT preview with deterministic ordering "
    "(src/sample_ecom_raw_query_duckdb.py:40).",
    tags=("O1",),
)
def q23_limit_preview(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey")
        .limit(5)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "q24_grouped_column_reuse",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice,
           CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
               // nullif(count(DISTINCT l.l_partkey), 0) AS price_cents_per_part
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
    doc="A8 grouped column reused inside the aggregate expression "
    "(dbt/dbt_duckdb/models/ecom_marts/customer/fct_customer_orders.sql:13). "
    "The ratio is computed in integer cents: double division rounded at a "
    "half-way point diverges between engines (Spark rounds the shortest "
    "decimal repr, DuckDB the true binary value).",
    tags=("A8", "F4", "J3"),
)
def q24_grouped_column_reuse(spark, sf_dir):
    return run_sql(spark, sf_dir, Q24_SQL)


# SHUFFLE_HASH(o): orders is too big to broadcast cheaply (the single-thread
# hash build costs more than a parallel shuffle at bench scale, and at real
# scale broadcasting a fact side is impossible anyway). The join and the
# downstream group-by share one distribution (HashPartitioning(o_orderkey)
# satisfies both), so the group-by adds no shuffle; on the orderkey-bucketed
# facts neither adds one.
Q24_SQL = """
    SELECT /*+ SHUFFLE_HASH(o) */
           o.o_orderkey, o.o_totalprice,
           CAST(round(o_totalprice * 100, 0) AS BIGINT)
               div nullif(count(DISTINCT l.l_partkey), 0) AS price_cents_per_part
    FROM (SELECT o_orderkey, o_totalprice FROM {bkt_orders}) o
    JOIN (SELECT l_orderkey, l_partkey FROM {bkt_lineitem}) l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
"""


def q24_grouped_column_reuse_df(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        o.hint("shuffle_hash")
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.expr(
                "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
                " div nullif(count(DISTINCT l_partkey), 0)"
            ).alias("price_cents_per_part")
        )
        .select("o_orderkey", "o_totalprice", "price_cents_per_part")
    )


@register(
    "q25_json_flatten",
    oracle=f"""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
           count(*)           AS n_events,
           {o_dsum('value')}  AS total_value
    FROM events GROUP BY 1
    """,
    doc="F15/S2 semi-structured JSON column flattening — the S3 JSON envelope "
    "parse (src/pipeline/ingest_latest_synthetic_data.py:131-146, 246-276).",
    tags=("F15", "S2"),
)
def q25_json_flatten(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (
        e.select(F.get_json_object("props", "$.k").cast("int").alias("k"), "value")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "q26_incremental_append",
    oracle="""
    WITH target AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-10-01 00:00:00'),
    increment AS (
        SELECT * FROM events
        WHERE (SELECT max(ts) FROM target) IS NULL OR ts > (SELECT max(ts) FROM target)
    ),
    merged AS (SELECT * FROM target UNION ALL SELECT * FROM increment)
    SELECT event_type, count(*) AS n_rows, max(ts) AS latest_ts
    FROM merged GROUP BY event_type
    """,
    doc="S11 incremental materialization semantics: filter source rows past "
    "max(ts) of the sink, append (dbt/dbt_duckdb/models/ecom_marts/customer/"
    "fct_customer_orders.sql:18-20); an empty sink passes every row (first "
    "run).",
    tags=("S11", "U3"),
)
def q26_incremental_append(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-10-01 00:00:00").cast("timestamp")
    target = e.filter(F.col("ts") < cutoff)
    # the operator the incremental materializer runs: a broadcast join on
    # the sink's 1-row high-water mark, no driver collect
    merged = target.unionByName(incremental_filter(e, target, "ts"))
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("ts").alias("latest_ts"),
    )


@register(
    "x27_lineage_and_format",
    oracle="""
    SELECT o_orderkey,
           'historic'                                    AS data_source,
           'batch-0000'                                  AS batch_id,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')    AS order_date_str
    FROM orders WHERE o_orderkey < 1000
    """,
    doc="P5 lineage metadata columns + P6/F14 datetime-to-string "
    "normalization (src/pipeline/0_ingest_historic_synthetic_data.py:121-123; "
    "ingest_latest_synthetic_data.py:213-220).",
    tags=("P5", "P6", "F14"),
)
def q27_lineage_and_format(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey",
        F.lit("historic").alias("data_source"),
        F.lit("batch-0000").alias("batch_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("order_date_str"),
    )


@register(
    "x28_typed_projection",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR)                  AS customer_id,
           CAST(c_name AS VARCHAR)                     AS customer_name,
           CAST(c_nationkey AS INT)                    AS nation_key,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS account_balance,
           TRY_CAST(c_mktsegment AS INT)               AS segment_as_int
    FROM customer
    """,
    doc="P1 typed projection + P2 TRY_CAST (error->NULL): the staging cast "
    "contract — ids forced to VARCHAR (src/pipeline/"
    "ingest_latest_synthetic_data.py:428-429; dbt/dbt_duckdb/models/"
    "ecom_staging/stg_customers.sql:5-26).",
    tags=("P1", "P2"),
)
def q28_typed_projection(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").cast("string").alias("customer_id"),
        F.col("c_name").cast("string").alias("customer_name"),
        F.col("c_nationkey").cast("int").alias("nation_key"),
        # decimal cast demonstrates the typed-projection contract; the final
        # double cast keeps the driver hash repr-stable (no Decimal('x.00')).
        F.col("c_acctbal").cast("decimal(12,2)").cast("double").alias("account_balance"),
        # explicit try_cast works under both ANSI modes: 'BUILDING' -> NULL
        F.expr("try_cast(c_mktsegment AS INT)").alias("segment_as_int"),
    )


# --------------------------------------------------------------------------
# Multi-level / windowed OLAP surfaces (round 7, session 2).
#
# The reference's BI layer slices the marts along the region -> nation
# hierarchy and by calendar buckets (dbt/dbt_duckdb/models/ecom_marts/sales/
# fct_order_details.sql aggregates; src/sample_ecom_mart_query_duckdb.py
# pivots by month in pandas). These four entries certify the engine-side
# forms a migrating user reaches for: ROLLUP subtotals, PIVOT
# cross-tabulation, LAG month-over-month deltas, and sliding window-frame
# aggregates. All money math rides the bp fixed point so every value is
# integer-exact cross-engine; window frames aggregate BIGINTs only
# (DuckDB's segment-tree sliding-frame accumulation reorders double sums,
# integers are immune).
# --------------------------------------------------------------------------


@register(
    "x101_rollup_revenue",
    oracle=f"""
    SELECT CASE WHEN GROUPING(r.r_name) = 1 THEN 'ALL' ELSE r.r_name END AS region_name,
           CASE WHEN GROUPING(n.n_name) = 1 THEN 'ALL' ELSE n.n_name END AS nation_name,
           CAST(GROUPING(r.r_name) AS INT)      AS region_total,
           CAST(GROUPING(n.n_name) AS INT)      AS nation_total,
           {o_dsum('o.o_totalprice')}           AS revenue,
           count(*)                             AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey  = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
    doc="ROLLUP over the region -> nation hierarchy with GROUPING() "
    "indicators: one Expand pass emits nation rows, region subtotals, and "
    "the grand total in a single aggregation (no 3-scan UNION). Subtotal "
    "labels are derived from GROUPING(), not NULL-ness, so NULL-named "
    "dimensions can never be mistaken for totals. Scale: Expand triples "
    "the pre-shuffle row volume but partial aggregation collapses it "
    "map-side; the shuffled key space is |nations| + |regions| + 1.",
    tags=("A2", "A9"),
)
def x101_rollup_revenue(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    # q02 pattern: collapse orders to the join key BEFORE the customer
    # join (bp sums are associative, so the rollup over per-customer
    # partials is bit-identical) — the join then moves |customers| rows
    # instead of |orders| (measured sf16: 1.98 -> 1.03 s; DuckDB streams
    # this in-process either way).
    o_pre = o.groupBy("o_custkey").agg(
        F.sum(to_bp(F.col("o_totalprice"))).alias("bp"),
        F.count(F.lit(1)).alias("n"),
    )
    joined = (
        o_pre.join(c.select("c_custkey", "c_nationkey").hint("shuffle_hash"),
                   o_pre.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg((F.sum("bp") / F.lit(float(BP))).cast("double").alias("revenue"),
             F.sum("n").cast("long").alias("n_orders"),
             F.grouping("r_name").cast("int").alias("region_total"),
             F.grouping("n_name").cast("int").alias("nation_total"))
        .select(
            F.when(F.col("region_total") == 1, F.lit("ALL"))
            .otherwise(F.col("r_name")).alias("region_name"),
            F.when(F.col("nation_total") == 1, F.lit("ALL"))
            .otherwise(F.col("n_name")).alias("nation_name"),
            "region_total", "nation_total", "revenue", "n_orders",
        )
    )


@register(
    "x102_pivot_priority_quarter",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(CAST(sum({o_bp('o_totalprice')}) FILTER (WHERE quarter(o_orderdate) = 1)
                AS BIGINT) / {BP}.0 AS DOUBLE) AS q1_revenue,
           CAST(CAST(sum({o_bp('o_totalprice')}) FILTER (WHERE quarter(o_orderdate) = 2)
                AS BIGINT) / {BP}.0 AS DOUBLE) AS q2_revenue,
           CAST(CAST(sum({o_bp('o_totalprice')}) FILTER (WHERE quarter(o_orderdate) = 3)
                AS BIGINT) / {BP}.0 AS DOUBLE) AS q3_revenue,
           CAST(CAST(sum({o_bp('o_totalprice')}) FILTER (WHERE quarter(o_orderdate) = 4)
                AS BIGINT) / {BP}.0 AS DOUBLE) AS q4_revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="PIVOT cross-tab: order revenue by priority x calendar quarter, "
    "explicit value list [1..4] so the plan needs no distinct-values "
    "pre-pass (Spark otherwise runs a collect() for the pivot domain — "
    "the 100 TB rule is: always pass the value list). Empty cells are "
    "NULL on both engines (DuckDB FILTER over zero rows -> NULL sum).",
    tags=("A2", "A3"),
)
def x102_pivot_priority_quarter(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    piv = (
        o.select("o_orderpriority",
                 F.quarter("o_orderdate").alias("q"),
                 to_bp(F.col("o_totalprice")).alias("bp"))
        .groupBy("o_orderpriority")
        .pivot("q", [1, 2, 3, 4])
        .agg((F.sum("bp") / F.lit(float(BP))).cast("double"))
    )
    return piv.select(
        "o_orderpriority",
        F.col("1").alias("q1_revenue"),
        F.col("2").alias("q2_revenue"),
        F.col("3").alias("q3_revenue"),
        F.col("4").alias("q4_revenue"),
    )


@register(
    "x103_mom_revenue_growth",
    oracle="""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS bp
        FROM orders
        GROUP BY 1
    )
    SELECT month,
           CAST(bp / 10000.0 AS DOUBLE)                                   AS revenue,
           CAST((bp - lag(bp) OVER (ORDER BY month)) / 10000.0 AS DOUBLE) AS delta,
           round(CAST(bp AS DOUBLE) / lag(bp) OVER (ORDER BY month), 6)   AS growth
    FROM monthly
    """,
    doc="Month-over-month revenue growth via LAG over an ordered monthly "
    "rollup. The lag/division runs on the exact bp BIGINTs (never on "
    "re-summed doubles) so delta is exact and growth is an identical "
    "IEEE divide on both engines; the first month's delta/growth are "
    "NULL by LAG's default. Scale: the windowed input is |months| rows — "
    "a single-partition window over an already-aggregated frame is the "
    "correct shape (the window never sees fact rows).",
    tags=("A2", "W1", "F7"),
)
def x103_mom_revenue_growth(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(F.sum(to_bp(F.col("o_totalprice"))).alias("bp"))
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        (F.col("bp") / F.lit(float(BP))).cast("double").alias("revenue"),
        ((F.col("bp") - F.lag("bp").over(w)) / F.lit(float(BP)))
        .cast("double").alias("delta"),
        F.round(F.col("bp").cast("double") / F.lag("bp").over(w), 6).alias("growth"),
    )


@register(
    "x104_trailing_7d_stats",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS bp,
               count(*) AS n_orders
        FROM orders
        GROUP BY 1
    )
    SELECT day,
           CAST(bp / 10000.0 AS DOUBLE) AS revenue,
           CAST(CAST(sum(bp) OVER w AS BIGINT) / 10000.0 AS DOUBLE)  AS sum_7d,
           round(CAST(CAST(sum(bp) OVER w AS BIGINT) AS DOUBLE)
                 / (count(*) OVER w * CAST(10000.0 AS DOUBLE)), 2)   AS avg_7d,
           CAST(max(bp) OVER w / 10000.0 AS DOUBLE)                  AS max_7d,
           CAST(count(*) OVER w AS BIGINT)                           AS n_days_7d
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc="Sliding 7-day trailing window over the daily revenue series: "
    "SUM/MAX/COUNT with ROWS BETWEEN 6 PRECEDING AND CURRENT ROW. The "
    "frame aggregates bp BIGINTs only — DuckDB evaluates sliding frames "
    "with a segment tree whose double-summation order differs from "
    "Spark's running accumulation, so integer frames are the only "
    "bit-stable form (module docstring convention). Scale: like x103 the "
    "window input is the |days| rollup, not fact rows; partition the "
    "window by a series key when the series count grows.",
    tags=("A2", "W1"),
)
def x104_trailing_7d_stats(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(to_bp(F.col("o_totalprice"))).alias("bp"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        (F.col("bp") / F.lit(float(BP))).cast("double").alias("revenue"),
        (F.sum("bp").over(w) / F.lit(float(BP))).cast("double").alias("sum_7d"),
        F.round(F.sum("bp").over(w).cast("double")
                / (F.count(F.lit(1)).over(w) * F.lit(float(BP))), 2).alias("avg_7d"),
        (F.max("bp").over(w) / F.lit(float(BP))).cast("double").alias("max_7d"),
        F.count(F.lit(1)).over(w).alias("n_days_7d"),
    )


@register(
    "x106_balance_quantiles",
    # Both sides compute discrete quantiles with the IDENTICAL rank
    # arithmetic (rank ceil(p*n) over the (balance, custkey) total order,
    # in pure integers) rather than each engine's quantile function —
    # interpolating quantiles differ by an ulp across engines
    # ((1-f)*lo + f*hi vs lo + f*(hi-lo)), exact rank selection cannot.
    oracle="""
    WITH ranked AS (
        SELECT c_mktsegment,
               c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS rn,
               count(*)    OVER (PARTITION BY c_mktsegment)      AS n
        FROM customer
    )
    SELECT c_mktsegment,
           CAST(max(n) AS BIGINT)                                AS n_customers,
           min(c_acctbal)                                        AS min_bal,
           max(CASE WHEN rn = (n + 3)     // 4 THEN c_acctbal END) AS p25,
           max(CASE WHEN rn = (n + 1)     // 2 THEN c_acctbal END) AS p50,
           max(CASE WHEN rn = (3 * n + 3) // 4 THEN c_acctbal END) AS p75,
           max(c_acctbal)                                        AS max_bal
    FROM ranked
    GROUP BY c_mktsegment
    """,
    doc="Exact per-group discrete quantiles (p25/p50/p75 of account "
    "balance by market segment) via rank selection: row_number over a "
    "total order + one conditional aggregate — the exact complement to "
    "the mergeable histogram-sketch quantiles (x70). Scale: one window "
    "shuffle on the group key; for skewed groups prefer the sketch — "
    "this is the small-group exact path a finance reconciliation needs.",
    tags=("W1", "A2", "A8"),
)
def x106_balance_quantiles(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    wseg = Window.partitionBy("c_mktsegment")
    w = wseg.orderBy("c_acctbal", "c_custkey")
    ranked = c.select(
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wseg).alias("n"),
    )

    def at(target):
        return F.max(F.when(F.col("rn") == target, F.col("c_acctbal")))

    return ranked.groupBy("c_mktsegment").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        at(F.expr("(n + 3) div 4")).alias("p25"),
        at(F.expr("(n + 1) div 2")).alias("p50"),
        at(F.expr("(3 * n + 3) div 4")).alias("p75"),
        F.max("c_acctbal").alias("max_bal"),
    )


@register(
    "x107_day_set_ops",
    oracle="""
    SELECT day, 'both' AS membership FROM (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders
        INTERSECT
        SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
    )
    UNION ALL
    SELECT day, 'orders_only' AS membership FROM (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders
        EXCEPT
        SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
    )
    UNION ALL
    SELECT day, 'events_only' AS membership FROM (
        SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        EXCEPT
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders
    )
    """,
    doc="INTERSECT / EXCEPT completion of the set-op family (U1-U3 cover "
    "UNION only; SURVEY §2.7 notes the reference never uses these — a "
    "migrating user still will): calendar days partitioned into "
    "both/orders-only/events-only membership. Spark plans INTERSECT and "
    "EXCEPT as left-semi / left-anti joins over pre-aggregated "
    "distincts, so each branch is one shuffle on the day key.",
    tags=("U1", "U2"),
)
def x107_day_set_ops(spark, sf_dir):
    o_days = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date").alias("day"))
        .distinct()
    )
    e_days = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"))
        .distinct()
    )

    def tag(df, label):
        return df.select("day", F.lit(label).alias("membership"))

    if _parquet_bytes(sf_dir, "events") < _BROADCAST_GATE_BYTES:
        # literal INTERSECT/EXCEPT surface (the coverage point): three
        # semi/anti joins, but Spark does NOT CSE identical scans across
        # a UNION, so each branch re-reads both tables — fine while the
        # facts are page-cache small.
        return (
            tag(o_days.intersect(e_days), "both")
            .unionByName(tag(o_days.subtract(e_days), "orders_only"))
            .unionByName(tag(e_days.subtract(o_days), "events_only"))
        )
    # scale shape, bit-identical results (same q22-style size gate): one
    # scan per table + one |days|-row full outer join derives all three
    # memberships from null-ness — measured sf16 3.95 -> 0.48 s.
    o_tag = o_days.select("day", F.lit(1).alias("_o"))
    e_tag = e_days.select(F.col("day").alias("e_day"), F.lit(1).alias("_e"))
    # eqNullSafe: INTERSECT/EXCEPT (and the oracle) treat NULL = NULL as
    # equal, so a NULL day must classify as "both", not as two singles.
    return o_tag.join(e_tag, o_tag.day.eqNullSafe(e_tag.e_day), "full_outer").select(
        F.coalesce("day", "e_day").alias("day"),
        F.when(F.col("_o").isNotNull() & F.col("_e").isNotNull(), "both")
        .when(F.col("_o").isNotNull(), "orders_only")
        .otherwise("events_only")
        .alias("membership"),
    )


@register(
    "x108_corr_discount_qty",
    # Correlation/regression from raw integer moments, never F.corr /
    # corr(): both engines accumulate the six moments as exact integers
    # (quantity is integer-valued, discount is 2-decimal -> bp), combine
    # them in DECIMAL(38,0) (DuckDB's HUGEINT sums are already exact),
    # and only then convert to DOUBLE for one shared IEEE
    # divide/sqrt — conversions of identical exact integers are
    # correctly rounded in both engines, and sqrt/divide are
    # IEEE-determined, so the unrounded doubles match bit-for-bit.
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               count(*)                                                   AS n,
               sum(CAST(l_quantity AS BIGINT))                            AS sx,
               sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))       AS sy,
               sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
               sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)
                   * CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))     AS syy,
               sum(CAST(l_quantity AS BIGINT)
                   * CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))     AS sxy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_items,
           CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                       * CAST(n * syy - sy * sy AS DOUBLE)) AS DOUBLE)  AS corr_qty_disc,
           CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) AS DOUBLE)          AS slope_bp,
           CAST((CAST(sy AS DOUBLE)
                 - CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS DOUBLE) AS intercept_bp
    FROM m
    """,
    doc="Distributed Pearson correlation + least-squares slope/intercept "
    "(discount-bp ~ quantity per return flag) from six integer moments "
    "in ONE map-combinable groupBy — the moments pattern every "
    "distributed regression reduces to. Built-in corr()/regr_slope() "
    "accumulate doubles whose summation order is engine- and "
    "partition-dependent; integer moments are associative, so the "
    "result is bit-stable cross-engine AND run-to-run at any "
    "parallelism. DECIMAL(38,0) combine bounds: exact past 1e9 rows "
    "per group where BIGINT n*sxy would overflow.",
    tags=("A2", "A7", "F16"),
)
def x108_corr_discount_qty(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_discount") * 10_000 + F.lit(0.5)).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    d38 = "decimal(38,0)"
    n, sx, sy = [F.col(c).cast(d38) for c in ("n", "sx", "sy")]
    sxx, syy, sxy = [F.col(c).cast(d38) for c in ("sxx", "syy", "sxy")]
    cov_n = (n * sxy - sx * sy).cast("double")
    var_x = (n * sxx - sx * sx).cast("double")
    var_y = (n * syy - sy * sy).cast("double")
    slope = cov_n / var_x
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_items"),
        (cov_n / F.sqrt(var_x * var_y)).cast("double").alias("corr_qty_disc"),
        slope.cast("double").alias("slope_bp"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).cast("double").alias("intercept_bp"),
    )


_X109_MAX_BLOCK = 1000  # block-purging cap: pairs/block <= 500k, one task


@register(
    "x109_entity_match_pairs",
    # Length joins the block key: same-length strings at lev <= 1 differ
    # by exactly one SUBSTITUTION (any insert/delete changes the length),
    # and the first 16 chars are block-equal — so lev(a, b) equals the
    # count of differing suffix positions, verified without the full DP.
    # The oracle keeps literal levenshtein (same value by the argument
    # above) and applies the identical block-size cap.
    oracle=f"""
    WITH blocked AS (
        SELECT c_custkey, c_name, c_nationkey,
               substr(c_name, 1, 16) AS blk,
               length(c_name)        AS ln
        FROM customer
    ),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY c_nationkey, blk, ln) AS bsz
        FROM blocked
    )
    SELECT a.c_custkey AS custkey_a,
           b.c_custkey AS custkey_b,
           a.c_name    AS name_a,
           b.c_name    AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_distance
    FROM sized a
    JOIN sized b
      ON b.blk = a.blk AND b.c_nationkey = a.c_nationkey AND b.ln = a.ln
     AND b.c_custkey > a.c_custkey
    WHERE a.bsz <= {_X109_MAX_BLOCK}
      AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="Entity-resolution candidate pairs (the MDM/dedupe staple): block "
    "customers on (nation, 16-char name prefix, LENGTH). SEMANTICS NOTE "
    "(round-8 change, by design): this is SUBSTITUTION-ONLY ER — the "
    "equal-length band excludes lev-1 pairs arising from a single "
    "insert/delete (their lengths differ by 1), and blocks larger than "
    "the purge cap emit nothing; both narrowings are applied to the "
    "oracle in lockstep and differ from the round-7 unbanded "
    "definition. Purge blocks larger than the documented cap "
    f"({_X109_MAX_BLOCK} rows — JedAI-style block purging: a pathological "
    "exact-duplicate storm is bounded, never quadratic-unbounded), then "
    "DEDUPE-BEFORE-VERIFY: Levenshtein runs once per distinct NAME pair "
    "within a block, and qualifying name pairs fan their custkey lists "
    "out by pure explode — exact-duplicate groups (the dominant mass at "
    "scale) emit distance-0 pairs with no verify at all. sf16: 2.4 s vs "
    "137 s for the per-custkey-pair verify and >570 s for the blocked "
    "self-join (same 238M output rows, 15x faster than DuckDB's 37 s).",
    tags=("J3", "F1", "LLM"),
)
def x109_entity_match_pairs(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey",
        F.substring("c_name", 1, 16).alias("blk"),
        F.length("c_name").alias("ln"),
    )
    per_name = c.groupBy("c_nationkey", "blk", "ln", "c_name").agg(
        F.sort_array(F.collect_list("c_custkey")).alias("keys")
    )
    blocks = (
        per_name.groupBy("c_nationkey", "blk", "ln")
        .agg(F.sort_array(F.collect_list(F.struct("c_name", "keys"))).alias("names"))
        .withColumn("nrows", F.expr("aggregate(names, 0, (acc, x) -> acc + size(x.keys))"))
        .filter(F.col("nrows").between(2, _X109_MAX_BLOCK))
        # blocks are few and small post-agg; AQE would coalesce the
        # explosion below onto too few tasks — spread it explicitly
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # exact-duplicate groups: every sorted-custkey pair, distance 0,
    # no verification needed (names equal by grouping)
    sn = (
        blocks.select(F.explode("names").alias("n"))
        .select(F.col("n.c_name").alias("nm"), F.col("n.keys").alias("keys"))
        .filter(F.size("keys") >= 2)
    )
    sn_pairs = (
        sn.select("nm", "keys", F.posexplode("keys").alias("i", "ka"))
        .select("nm", "ka", F.explode(F.expr("slice(keys, i + 2, size(keys))")).alias("kb"))
        .select(
            F.col("ka").alias("custkey_a"), F.col("kb").alias("custkey_b"),
            F.col("nm").alias("name_a"), F.col("nm").alias("name_b"),
            F.lit(0).alias("edit_distance"),
        )
    )
    # distinct-name pairs: one banded-DP Levenshtein per NAME pair (block
    # names are distinct, so a surviving pair has distance exactly 1),
    # then fan out the custkey lists; orientation by least/greatest key
    np_ = (
        blocks.select("names", F.posexplode("names").alias("i", "a"))
        .select("a", F.explode(F.expr("slice(names, i + 2, size(names))")).alias("b"))
        .filter(F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 1) >= 0)
        .select(
            F.col("a.c_name").alias("na"), F.col("a.keys").alias("keys_a"),
            F.col("b.c_name").alias("nb"), F.col("b.keys").alias("keys_b"),
        )
    )
    a_first = F.col("ka") < F.col("kb")
    cross = (
        np_.select("na", "nb", "keys_b", F.explode("keys_a").alias("ka"))
        .select("na", "nb", "ka", F.explode("keys_b").alias("kb"))
        .select(
            F.least("ka", "kb").alias("custkey_a"),
            F.greatest("ka", "kb").alias("custkey_b"),
            F.when(a_first, F.col("na")).otherwise(F.col("nb")).alias("name_a"),
            F.when(a_first, F.col("nb")).otherwise(F.col("na")).alias("name_b"),
            F.lit(1).alias("edit_distance"),
        )
    )
    return sn_pairs.unionByName(cross)


_X115_SCORE_MIN = 600_000  # weighted-score keep threshold (e6)


@register(
    "x115_entity_match_scored",
    # Multi-field MDM scoring over x109's block machinery: within a
    # (nation, 16-prefix, length) block — substitution-only ER, see x109
    # — every custkey pair at banded levenshtein <= 2 is scored on THREE
    # fields: name similarity (ln - lev)/ln, market-segment equality,
    # and account-balance proximity (<= $500 on bp fixed-point), folded
    # 60/25/15 in e6 integers. Oracle keeps literal levenshtein + the
    # identical block-size cap and score arithmetic.
    oracle=f"""
    WITH blocked AS (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_bp,
               substr(c_name, 1, 16) AS blk,
               length(c_name)        AS ln
        FROM customer
    ),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY c_nationkey, blk, ln) AS bsz
        FROM blocked
    ),
    pairs AS (
        SELECT a.c_custkey AS custkey_a,
               b.c_custkey AS custkey_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_distance,
               a.ln AS ln,
               CASE WHEN a.c_mktsegment = b.c_mktsegment
                    THEN 1 ELSE 0 END AS same_segment,
               CASE WHEN abs(a.bal_bp - b.bal_bp) <= 50000
                    THEN 1 ELSE 0 END AS bal_close
        FROM sized a
        JOIN sized b
          ON b.blk = a.blk AND b.c_nationkey = a.c_nationkey AND b.ln = a.ln
         AND b.c_custkey > a.c_custkey
        WHERE a.bsz <= {_X109_MAX_BLOCK}
          AND levenshtein(a.c_name, b.c_name) <= 2
    ),
    scored AS (
        SELECT custkey_a, custkey_b, edit_distance,
               CAST((ln - edit_distance) * 1000000 // ln AS BIGINT)
                   AS name_sim_e6,
               CAST(same_segment AS INT) AS same_segment,
               CAST(bal_close AS INT) AS bal_close,
               CAST((60 * ((ln - edit_distance) * 1000000 // ln)
                     + 25000000 * same_segment
                     + 15000000 * bal_close) // 100 AS BIGINT) AS score_e6
        FROM pairs
    )
    SELECT * FROM scored WHERE score_e6 >= {_X115_SCORE_MIN}
    """,
    doc="Weighted multi-field entity resolution (the MDM match step "
    "x109's candidate generation feeds): same substitution-only blocks "
    "(nation, 16-char prefix, length band; purge cap "
    f"{_X109_MAX_BLOCK}), banded levenshtein widened to <= 2, and each "
    "candidate pair scored 60% name similarity + 25% market-segment "
    "equality + 15% balance proximity (<= $500, bp fixed-point) in e6 "
    "integer arithmetic — kept at score >= 0.6 (an exact-name pair "
    "qualifies alone; a lev-2 pair needs a corroborating field). "
    "DEDUPE-BEFORE-VERIFY carries over: levenshtein runs once per "
    "distinct NAME pair; segment/balance scoring fans out per custkey "
    "pair via explode (per-pair O(1) expressions, never per-pair DP).",
    tags=("J3", "F1", "LLM"),
)
def x115_entity_match_scored(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        F.expr("CAST(floor(c_acctbal * 100 + 0.5D) AS BIGINT)").alias("bal_bp"),
        F.substring("c_name", 1, 16).alias("blk"),
        F.length("c_name").alias("ln"),
    )
    per_name = c.groupBy("c_nationkey", "blk", "ln", "c_name").agg(
        F.sort_array(
            F.collect_list(F.struct("c_custkey", "c_mktsegment", "bal_bp"))
        ).alias("rows")
    )
    blocks = (
        per_name.groupBy("c_nationkey", "blk", "ln")
        .agg(F.sort_array(F.collect_list(F.struct("c_name", "rows"))).alias("names"))
        .withColumn(
            "nrows", F.expr("aggregate(names, 0, (acc, x) -> acc + size(x.rows))")
        )
        .filter(F.col("nrows").between(2, _X109_MAX_BLOCK))
        # blocks are few and small post-agg; AQE would coalesce the
        # explosion below onto too few tasks — spread it explicitly
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def score(lev, ln, ra, rb):
        name_sim = F.expr(f"CAST(({ln} - {lev}) * 1000000 div {ln} AS BIGINT)")
        seg = F.when(
            F.col(f"{ra}.c_mktsegment") == F.col(f"{rb}.c_mktsegment"), 1
        ).otherwise(0)
        bal = F.when(
            F.abs(F.col(f"{ra}.bal_bp") - F.col(f"{rb}.bal_bp")) <= 50000, 1
        ).otherwise(0)
        return [
            F.least(F.col(f"{ra}.c_custkey"), F.col(f"{rb}.c_custkey")).alias("custkey_a"),
            F.greatest(F.col(f"{ra}.c_custkey"), F.col(f"{rb}.c_custkey")).alias("custkey_b"),
            F.expr(lev).cast("int").alias("edit_distance"),
            name_sim.alias("name_sim_e6"),
            seg.cast("int").alias("same_segment"),
            bal.cast("int").alias("bal_close"),
            (
                (F.lit(60) * name_sim
                 + F.lit(25_000_000) * seg
                 + F.lit(15_000_000) * bal)
                - (F.lit(60) * name_sim
                   + F.lit(25_000_000) * seg
                   + F.lit(15_000_000) * bal) % 100
            ).cast("long").alias("_score_scaled"),
        ]

    # exact-duplicate name groups: every sorted pair, lev 0, no verify
    sn = (
        blocks.select(F.col("ln").alias("_ln"), F.explode("names").alias("n"))
        .select("_ln", F.col("n.rows").alias("rows"))
        .filter(F.size("rows") >= 2)
    )
    sn_pairs = (
        sn.select("_ln", "rows", F.posexplode("rows").alias("i", "ra"))
        .select("_ln", "ra", F.explode(F.expr("slice(rows, i + 2, size(rows))")).alias("rb"))
        .select(*score("0", "_ln", "ra", "rb"))
    )
    # distinct-name pairs: one banded-DP levenshtein per NAME pair, then
    # fan the per-customer field scoring out by pure explode
    np_ = (
        blocks.select(F.col("ln").alias("_ln"), "names",
                      F.posexplode("names").alias("i", "a"))
        .select("_ln", "a", F.explode(F.expr("slice(names, i + 2, size(names))")).alias("b"))
        .withColumn("_lev", F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 2))
        .filter(F.col("_lev") >= 0)
    )
    cross = (
        np_.select("_ln", "_lev", F.col("b.rows").alias("rows_b"),
                   F.explode("a.rows").alias("ra"))
        .select("_ln", "_lev", "ra", F.explode("rows_b").alias("rb"))
        .select(*score("_lev", "_ln", "ra", "rb"))
    )
    out = sn_pairs.unionByName(cross)
    return (
        out.withColumn("score_e6", (F.col("_score_scaled") / 100).cast("long"))
        .drop("_score_scaled")
        .filter(F.col("score_e6") >= _X115_SCORE_MIN)
    )
