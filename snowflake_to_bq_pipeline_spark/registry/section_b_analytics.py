"""SURVEY §2-B — analytical views: budgets, rollups, sessions, pivots, dashboards.

Split from the monolithic registry.py (r9); every query body is
unchanged — registration still flows through registry._core.query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from ..catalog import load_table
from ..operators import asof, scd
from ..plans import bom, budget, dashboard, engagement, enrichment
from ..streaming import incremental, joins as stream_joins
from ._core import query, standing_index


#: Shared (order, contributor)-grain rollup of the entry-line fact per
#: corpus snapshot — the budget family (budget_vs_actual,
#: individual_budget_tracking, budget_fallback_allocation,
#: contributor_utilization_rollup) all coarsen this one cube, so the fact
#: is scanned/shuffled ONCE per snapshot instead of once per query. At
#: 100 TB these are full fact scans; the persisted cube is a narrow
#: integer-partials table at pair grain. Same single-live-snapshot
#: lifecycle as _ASSIGN_CACHE (section_e_similarity); exact re-aggregation
#: proofs live on plans/budget.line_rollup and the *_from consumers.
@standing_index("lineitem")
def _budget_rollup_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return budget.line_rollup(load_table(spark, sf_dir, "lineitem"))


_BUDGET_ROLLUP_CACHE = _budget_rollup_for.cache


# ---------------------------------------------------------------------------
# §2-B  Analytical views
# ---------------------------------------------------------------------------

_NET = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"


@query(
    "budget_vs_actual",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey,
             CAST(ROUND(SUM({_NET}), 2) AS DOUBLE) AS actual_amount,
             CAST(ROUND(SUM(CASE WHEN l_tax > 0 THEN {_NET}
                                 ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE)
               AS billable_amount,
             CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS actual_qty,
             COUNT(*) AS entry_count,
             COUNT(DISTINCT l_suppkey) AS unique_contributors,
             MIN(l_shipdate) AS first_entry_date,
             MAX(l_shipdate) AS last_entry_date
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT
      o.o_orderkey AS order_key,
      o.o_orderstatus AS order_status,
      o.o_orderpriority AS order_priority,
      o.o_orderdate AS order_date,
      CAST(ROUND(o.o_totalprice, 2) AS DOUBLE) AS budget_amount,
      CAST(ROUND(COALESCE(li.actual_amount, 0.0), 2) AS DOUBLE) AS actual_amount,
      COALESCE(li.billable_amount, 0.0) AS billable_amount,
      COALESCE(li.actual_qty, 0.0) AS actual_qty,
      COALESCE(li.entry_count, 0) AS entry_count,
      COALESCE(li.unique_contributors, 0) AS unique_contributors,
      li.first_entry_date,
      li.last_entry_date,
      CAST(ROUND(ROUND(o.o_totalprice, 2) - COALESCE(li.actual_amount, 0.0), 2)
           AS DOUBLE) AS variance_amount,
      CASE WHEN ROUND(o.o_totalprice, 2) > 0 THEN
        CAST(ROUND(COALESCE(li.actual_amount, 0.0) / ROUND(o.o_totalprice, 2) * 100,
                   2) AS DOUBLE)
      END AS utilization_pct,
      CASE
        WHEN ROUND(o.o_totalprice, 2) > 0
             AND COALESCE(li.actual_amount, 0.0) > ROUND(o.o_totalprice, 2)
          THEN 'OVER_BUDGET'
        WHEN ROUND(o.o_totalprice, 2) > 0
             AND COALESCE(li.actual_amount, 0.0) > ROUND(o.o_totalprice, 2) * 0.8
          THEN 'APPROACHING_BUDGET'
        WHEN ROUND(o.o_totalprice, 2) > 0 THEN 'WITHIN_BUDGET'
        ELSE 'NO_BUDGET_SET'
      END AS budget_status,
      o.o_orderdate + INTERVAL 30 DAY AS due_date,
      CASE
        WHEN o.o_orderdate + INTERVAL 30 DAY < TIMESTAMP '1998-06-17 00:00:00'
             AND o.o_orderstatus <> 'F' THEN 'OVERDUE'
        WHEN o.o_orderdate + INTERVAL 30 DAY
               <= TIMESTAMP '1998-06-17 00:00:00' + INTERVAL 3 DAY
             AND o.o_orderstatus <> 'F' THEN 'DUE_SOON'
        ELSE 'ON_TRACK'
      END AS schedule_status,
      COALESCE(o.o_orderdate + INTERVAL 30 DAY < TIMESTAMP '1998-06-17 00:00:00'
               AND o.o_orderstatus <> 'F', FALSE) AS is_overdue
    FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    """,
)
def budget_vs_actual_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order budget vs actual (ref: v4 view). Rides the shared
    _budget_rollup_for cube with the rest of the budget family."""
    return budget.budget_vs_actual_from(
        load_table(spark, sf_dir, "orders"), _budget_rollup_for(spark, sf_dir)
    )


@query(
    "individual_budget_tracking",
    oracle=f"""
    WITH alloc AS (
      SELECT l_orderkey, l_suppkey,
             CAST(ROUND(SUM({_NET}), 2) AS DOUBLE) AS ind_budget_amount,
             CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS ind_budget_qty,
             COUNT(*) AS allocation_count
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY l_orderkey, l_suppkey
    ),
    time_ AS (
      SELECT l_orderkey, l_suppkey,
             CAST(ROUND(SUM({_NET}), 2) AS DOUBLE) AS ind_actual_amount,
             CAST(ROUND(SUM(CASE WHEN l_tax > 0 THEN {_NET}
                                 ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE)
               AS ind_billable_amount,
             CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS ind_actual_qty,
             COUNT(*) AS time_entry_count,
             MIN(l_shipdate) AS first_entry_date,
             MAX(l_shipdate) AS last_entry_date
      FROM lineitem WHERE l_returnflag = 'N'
      GROUP BY l_orderkey, l_suppkey
    ),
    contributors AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM (
        SELECT l_orderkey, l_suppkey FROM alloc
        UNION ALL
        SELECT l_orderkey, l_suppkey FROM time_
      )
    )
    SELECT
      c.l_orderkey AS order_key,
      c.l_suppkey AS contributor_key,
      o.o_orderstatus AS order_status,
      o.o_orderpriority AS order_priority,
      CAST(ROUND(o.o_totalprice, 2) AS DOUBLE) AS order_budget_total,
      COALESCE(a.ind_budget_amount, 0.0) AS ind_budget_amount,
      COALESCE(a.ind_budget_qty, 0.0) AS ind_budget_qty,
      COALESCE(a.allocation_count, 0) AS allocation_count,
      COALESCE(t.ind_actual_amount, 0.0) AS ind_actual_amount,
      COALESCE(t.ind_billable_amount, 0.0) AS ind_billable_amount,
      COALESCE(t.ind_actual_qty, 0.0) AS ind_actual_qty,
      COALESCE(t.time_entry_count, 0) AS time_entry_count,
      t.first_entry_date,
      t.last_entry_date,
      CAST(ROUND(COALESCE(a.ind_budget_amount, 0.0)
                 - COALESCE(t.ind_actual_amount, 0.0), 2) AS DOUBLE)
        AS ind_variance_amount,
      CASE WHEN COALESCE(a.ind_budget_amount, 0.0) > 0 THEN
        CAST(ROUND(COALESCE(t.ind_actual_amount, 0.0)
                   / COALESCE(a.ind_budget_amount, 0.0) * 100, 2) AS DOUBLE)
      END AS ind_utilization_pct,
      CASE
        WHEN COALESCE(a.ind_budget_amount, 0.0) > 0
             AND COALESCE(t.ind_actual_amount, 0.0)
                 > COALESCE(a.ind_budget_amount, 0.0)
          THEN 'OVER_BUDGET'
        WHEN COALESCE(a.ind_budget_amount, 0.0) > 0
             AND COALESCE(t.ind_actual_amount, 0.0)
                 > COALESCE(a.ind_budget_amount, 0.0) * 0.8
          THEN 'APPROACHING_BUDGET'
        WHEN COALESCE(a.ind_budget_amount, 0.0) > 0 THEN 'WITHIN_BUDGET'
        ELSE 'NO_BUDGET_SET'
      END AS ind_budget_status,
      CASE WHEN a.ind_budget_amount IS NOT NULL THEN 'INDIVIDUAL_BUDGET'
           ELSE 'NO_BUDGET' END AS budget_source,
      a.ind_budget_amount IS NOT NULL AS has_individual_budget,
      t.ind_actual_amount IS NOT NULL AS has_time_logged,
      o.o_orderdate + INTERVAL 30 DAY AS order_due_date,
      CASE
        WHEN o.o_orderdate + INTERVAL 30 DAY < TIMESTAMP '1998-06-17 00:00:00'
             AND o.o_orderstatus <> 'F' THEN 'OVERDUE'
        WHEN o.o_orderdate + INTERVAL 30 DAY
               <= TIMESTAMP '1998-06-17 00:00:00' + INTERVAL 3 DAY
             AND o.o_orderstatus <> 'F' THEN 'DUE_SOON'
        ELSE 'ON_TRACK'
      END AS order_schedule_status,
      COALESCE(o.o_orderdate + INTERVAL 30 DAY < TIMESTAMP '1998-06-17 00:00:00'
               AND o.o_orderstatus <> 'F', FALSE) AS is_order_overdue
    FROM contributors c
    LEFT JOIN alloc a ON c.l_orderkey = a.l_orderkey AND c.l_suppkey = a.l_suppkey
    LEFT JOIN time_ t ON c.l_orderkey = t.l_orderkey AND c.l_suppkey = t.l_suppkey
    LEFT JOIN orders o ON c.l_orderkey = o.o_orderkey
    """,
)
def individual_budget_tracking_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(order, contributor) budget vs actual — flagship (ref: v5 view).
    Rides the shared _budget_rollup_for cube (which IS this view's grain)."""
    return budget.individual_budget_tracking_from(
        load_table(spark, sf_dir, "orders"), _budget_rollup_for(spark, sf_dir)
    )


@query(
    "work_item_enriched",
    oracle="""
    SELECT
      o.o_orderkey AS order_key,
      o.o_orderdate AS order_date,
      o.o_orderstatus AS order_status,
      o.o_orderpriority AS order_priority,
      CAST(ROUND(o.o_totalprice, 2) AS DOUBLE) AS budget_amount,
      c.c_custkey AS customer_key,
      c.c_name AS customer_name,
      c.c_mktsegment AS market_segment,
      c.c_acctbal AS customer_acctbal,
      n.n_name AS nation_name,
      r.r_name AS region_name
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def work_item_enriched_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact × dimension-chain enrichment (ref: v5 view joins L422-450)."""
    return enrichment.work_item_enriched(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@query(
    "utilization_rollup",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, SUM({_NET}) AS actual_dec
      FROM lineitem GROUP BY l_orderkey
    ),
    g AS (
      SELECT r.r_name AS region_name, n.n_name AS nation_name,
             COUNT(*) AS order_count,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS budget_total,
             CAST(ROUND(SUM(COALESCE(li.actual_dec, 0)), 2) AS DOUBLE)
               AS actual_total
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      LEFT JOIN li ON o.o_orderkey = li.l_orderkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region_name, nation_name, order_count, budget_total, actual_total,
           CAST(ROUND(budget_total - actual_total, 2) AS DOUBLE) AS variance_total,
           CASE WHEN budget_total > 0
                THEN ROUND(actual_total / budget_total * 100, 2)
           END AS utilization_pct
    FROM g
    """,
)
def utilization_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region/nation budget-vs-actual rollup (ref: dashboard aggregations).
    Derives the per-order actual from the shared _budget_rollup_for cube."""
    return enrichment.utilization_rollup(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        li_rollup=_budget_rollup_for(spark, sf_dir),
    )


_PIVOT_YEAR = 1998


@query(
    "monthly_hours_pivot",
    oracle="\n".join(
        ["SELECT li.l_suppkey AS contributor_key, s.s_name AS contributor_name,"]
        + [
            f"  ROUND(SUM(CASE WHEN EXTRACT(YEAR FROM l_shipdate) = {_PIVOT_YEAR}"
            f" AND EXTRACT(MONTH FROM l_shipdate) = {m} THEN l_quantity"
            f" ELSE 0.0 END), 2) AS qty_m{m:02d},"
            for m in range(1, 13)
        ]
        + [
            f"  COUNT(CASE WHEN EXTRACT(YEAR FROM l_shipdate) = {_PIVOT_YEAR}"
            " THEN 1 END) AS entries_in_year",
            "FROM lineitem li LEFT JOIN supplier s ON li.l_suppkey = s.s_suppkey",
            "GROUP BY li.l_suppkey, s.s_name",
        ]
    ),
)
def monthly_hours_pivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-contributor monthly pivot (ref: v5 hours_logged_* L23-34)."""
    return enrichment.monthly_pivot(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        _PIVOT_YEAR,
    )


@query(
    "client_budget_rollup",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, SUM({_NET}) AS actual_dec
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT c.c_custkey AS client_key, c.c_name AS client_name,
           COUNT(*) AS order_count,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_budgeted,
           CAST(ROUND(SUM(COALESCE(li.actual_dec, 0)), 2) AS DOUBLE)
             AS total_actual
    FROM orders o
    LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def client_budget_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-client budget/actual totals (ref: dashboard/main.py L1660-1678).
    Rides the shared _budget_rollup_for cube with the budget family."""
    return dashboard.client_budget_rollup_from(
        load_table(spark, sf_dir, "orders"),
        _budget_rollup_for(spark, sf_dir),
        load_table(spark, sf_dir, "customer"),
    )


@query(
    "contributor_utilization_rollup",
    oracle=f"""
    WITH per AS (
      SELECT l_suppkey AS contributor_key,
             COUNT(DISTINCT l_orderkey) AS orders_contributed,
             CAST(ROUND(SUM(CASE WHEN l_returnflag IN ('A', 'R')
                                 THEN {_NET} END), 2) AS DOUBLE) AS alloc_n,
             CAST(ROUND(SUM(CASE WHEN l_returnflag = 'N'
                                 THEN {_NET} END), 2) AS DOUBLE) AS actual_n,
             CAST(ROUND(SUM(CASE WHEN l_returnflag = 'N' AND l_tax > 0
                                 THEN {_NET} END), 2) AS DOUBLE) AS billable_n,
             COUNT(CASE WHEN l_returnflag IN ('A', 'R') THEN 1 END)
               AS allocation_count,
             COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END)
               AS time_entry_count,
             MIN(CASE WHEN l_returnflag = 'N' THEN l_shipdate END)
               AS first_entry_date,
             MAX(CASE WHEN l_returnflag = 'N' THEN l_shipdate END)
               AS last_entry_date
      FROM lineitem GROUP BY l_suppkey
    ),
    en AS (
      SELECT p.*, d.s_name, d.n_name,
             COALESCE(p.alloc_n, 0.0) AS alloc_amount,
             COALESCE(p.actual_n, 0.0) AS actual_amount,
             CASE WHEN COALESCE(p.alloc_n, 0.0) > 0 THEN
               CAST(ROUND(COALESCE(p.actual_n, 0.0)
                          / COALESCE(p.alloc_n, 0.0) * 100, 2) AS DOUBLE)
             END AS util
      FROM per p
      LEFT JOIN (
        SELECT s.s_suppkey, s.s_name, n.n_name
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      ) d ON p.contributor_key = d.s_suppkey
    )
    SELECT contributor_key, s_name AS contributor_name, n_name AS team_name,
           orders_contributed, alloc_amount, actual_amount,
           COALESCE(billable_n, 0.0) AS billable_amount,
           allocation_count, time_entry_count,
           first_entry_date, last_entry_date,
           util AS utilization_pct,
           CASE WHEN alloc_amount <= 0 THEN 'NO_BUDGET'
                WHEN util > 100 THEN 'OVER_ALLOCATED'
                WHEN util >= 80 THEN 'HIGH'
                WHEN util >= 50 THEN 'HEALTHY'
                ELSE 'UNDER_UTILIZED'
           END AS utilization_bucket
    FROM en
    """,
)
def contributor_utilization_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-member utilization with team attributes (ref: dashboard/main.py
    member/team grain tables; v5 view's primary dashboard consumer).
    Rides the shared _budget_rollup_for cube with the budget family."""
    return dashboard.contributor_utilization_rollup_from(
        _budget_rollup_for(spark, sf_dir),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@query(
    "view_variance_detection",
    oracle=f"""
    WITH per AS (
      SELECT l_suppkey AS contributor_key,
             CAST(ROUND(SUM({_NET}), 2) AS DOUBLE) AS view_a_total,
             CAST(ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN {_NET} END), 2)
                  AS DOUBLE) AS view_b_total_n,
             COUNT(*) AS view_a_entries,
             COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END) AS view_b_entries
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT contributor_key, view_a_total,
           COALESCE(view_b_total_n, 0.0) AS view_b_total,
           view_a_entries, view_b_entries,
           CAST(ROUND(view_a_total - COALESCE(view_b_total_n, 0.0), 2) AS DOUBLE)
             AS variance_amount,
           ROUND(view_a_total - COALESCE(view_b_total_n, 0.0), 2) != 0.0
             AS has_variance
    FROM per
    """,
)
def view_variance_detection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-view totals variance per contributor (ref:
    TIME_ENTRY_VARIANCE_ANALYSIS.md). Rides the shared
    _budget_rollup_for cube with the budget family."""
    return dashboard.view_variance_detection_from(
        _budget_rollup_for(spark, sf_dir)
    )


@query(
    "event_sessions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s2 AS (
      SELECT *, CAST(SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
      ) AS BIGINT) AS session_seq
      FROM s
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS total_value
    FROM s2 GROUP BY user_id, session_seq
    """,
)
def event_sessions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute silence boundary)."""
    return dashboard.event_sessions(load_table(spark, sf_dir, "events"))


@query(
    "user_running_totals",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS running_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER w, 4) AS DOUBLE)
             AS running_value
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
    )
    """,
)
def user_running_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-user totals — batch twin of the streaming stateful
    operator (streaming/stateful.py)."""
    return dashboard.user_running_totals(load_table(spark, sf_dir, "events"))


@query(
    "sales_rollup_sets",
    oracle=f"""
    WITH base AS (
      SELECT r.r_name AS region_name, n.n_name AS nation_name,
             {_NET} AS net
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    )
    SELECT region_name, nation_name,
           CAST(ROUND(SUM(net), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS line_count,
           CAST(GROUPING(region_name, nation_name) AS BIGINT) AS grouping_level
    FROM base GROUP BY ROLLUP(region_name, nation_name)
    """,
)
def sales_rollup_sets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue ROLLUP over (region, nation) — drill-down totals in one pass."""
    return dashboard.sales_rollup_sets(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@query(
    "user_activity_trend",
    oracle="""
    WITH base AS (
      SELECT user_id,
             FLOOR((epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id))
                   / 1000000.0) AS x,
             value AS y
      FROM events
    ),
    agg AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             SUM(CAST(x AS BIGINT)) AS sx,
             SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS sxx,
             SUM(CAST(y AS DECIMAL(18,6))) AS sy,
             SUM(CAST(x AS DECIMAL(12,0)) * CAST(y AS DECIMAL(18,6))) AS sxy
      FROM base GROUP BY user_id
    )
    SELECT user_id, n_events,
           CASE WHEN CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) != 0
                THEN ROUND((CAST(n_events AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * 3600.0, 6)
           END AS value_trend_per_hour
    FROM agg
    """,
)
def user_activity_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value trend from exact sufficient statistics."""
    return dashboard.user_activity_trend(load_table(spark, sf_dir, "events"))


@query(
    "asof_join_last_purchase",
    oracle="""
    WITH clicks AS (
      SELECT event_id, ts, user_id, value FROM events
      WHERE event_type = 'click'
    ),
    purch0 AS (
      SELECT event_id, ts, user_id, value FROM events
      WHERE event_type = 'purchase'
    ),
    purch AS (
      SELECT user_id, ts, event_id, value FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, ts ORDER BY event_id DESC
        ) AS rn FROM purch0
      ) WHERE rn = 1
    )
    SELECT c.event_id, c.ts, c.user_id, c.value,
           p.event_id AS asof_event_id,
           p.value AS asof_value,
           p.ts AS asof_ts
    FROM clicks c
    ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click annotated with the user's newest purchase at
    or before it — the point-in-time operator Spark lacks natively,
    expressed as union + carry-forward (one shuffle, no range explosion)."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    return asof.asof_join(
        clicks, purchases, ["user_id"], "ts", "ts", ["event_id", "value", "ts"]
    )


@query(
    "event_session_stats",
    # Islands oracle for native session windows. Spark merges an event
    # into the open session when ts <= prev + gap INCLUSIVE — probed on
    # this engine build: two events exactly 30 minutes apart land in ONE
    # window whose end is last_ts + gap (tests/test_chunk_zipf_overlap.
    # test_session_window_gap_is_inclusive pins it) — so the new-session
    # condition is diff STRICTLY > gap. (The previous >= convention could
    # never mismatch on µs-grain synthetic data, but an exact-boundary
    # gap would have split a session Spark merges.)
    oracle="""
    WITH m AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS session_value
    FROM s GROUP BY user_id, sid
    """,
)
def event_session_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization (batch twin of the streaming
    op in streaming/sessions.py; the oracle derives the same sessions
    with the islands algorithm)."""
    from ..streaming import sessions

    return sessions.session_stats_batch(load_table(spark, sf_dir, "events"))


@query(
    "scd2_status_history",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey)
           - ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
                                ORDER BY o_orderdate, o_orderkey) AS island
      FROM orders
    ),
    i AS (
      SELECT o_custkey, o_orderstatus, island,
             MIN(o_orderdate) AS valid_from,
             MIN(ROW(o_orderdate, o_orderkey)) AS first_key,
             COUNT(*) AS n_observations
      FROM r GROUP BY o_custkey, o_orderstatus, island
    )
    SELECT o_custkey, o_orderstatus, valid_from,
           LEAD(valid_from) OVER (PARTITION BY o_custkey
                                  ORDER BY first_key) AS valid_to,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY first_key) AS INT) AS version,
           n_observations,
           LEAD(valid_from) OVER (PARTITION BY o_custkey
                                  ORDER BY first_key) IS NULL AS is_current
    FROM i
    """,
)
def scd2_status_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history of each customer's order status: the validity
    intervals a warehouse dimension would keep, derived from the change
    stream the reference's full-refresh dimension sync discards
    (client_dimension_sync_full/main.py overwrites current state)."""
    return scd.scd2_history(
        load_table(spark, sf_dir, "orders"),
        key_cols=["o_custkey"],
        attr_col="o_orderstatus",
        ts_col="o_orderdate",
        tiebreak_cols=["o_orderkey"],
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT f.cohort_week, e.user_id,
             CAST(datediff('day', f.cohort_week,
                           CAST(date_trunc('week', e.ts) AS DATE)) // 7
                  AS BIGINT) AS week_offset
      FROM events e JOIN f USING (user_id)
    ),
    s AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM f GROUP BY cohort_week)
    SELECT a.cohort_week, a.week_offset,
           COUNT(DISTINCT a.user_id) AS n_active, s.cohort_size,
           ROUND(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE)
                 / CAST(s.cohort_size AS DOUBLE), 6) AS retention_rate
    FROM a JOIN s USING (cohort_week)
    WHERE a.week_offset <= 12
    GROUP BY a.cohort_week, a.week_offset, s.cohort_size
    """,
)
def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the event stream (do synced users
    come back) — the engagement counterpart of the reference's KPI
    dashboard rollups."""
    return engagement.retention_cohorts(load_table(spark, sf_dir, "events"))


@query(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY e.user_id
    ),
    c AS (
      SELECT 1 AS stage_idx, 'view' AS stage, COUNT(*) AS n_users FROM s1
      UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
      UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3
    )
    SELECT stage_idx, stage, n_users,
           ROUND(CAST(n_users AS DOUBLE)
                 / CAST(FIRST_VALUE(n_users) OVER (ORDER BY stage_idx)
                        AS DOUBLE), 6) AS conv_from_first,
           ROUND(CAST(n_users AS DOUBLE)
                 / CAST(COALESCE(LAG(n_users) OVER (ORDER BY stage_idx),
                                 n_users) AS DOUBLE), 6) AS conv_from_prev
    FROM c
    """,
)
def funnel_conversion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase ordered funnel: min-timestamp chain,
    per-stage reach and conversion rates."""
    return engagement.funnel_conversion(load_table(spark, sf_dir, "events"))


@query(
    "rolling_revenue_7d",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT day,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(SUM(rev) OVER w, 2) AS DOUBLE) AS revenue_7d,
           CAST(COUNT(*) OVER w AS BIGINT) AS days_in_window,
           FLOOR(CAST(SUM(rev) OVER w AS DOUBLE)
                 / CAST(COUNT(*) OVER w AS DOUBLE) * 100 + 0.5) / 100
             AS avg_daily_7d
    FROM d
    WINDOW w AS (ORDER BY datediff('day', DATE '1970-01-01', day)
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_revenue_7d_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue with calendar-aware 7-day trailing sum/average (the
    dashboard trend smoothing)."""
    return dashboard.rolling_revenue_7d(load_table(spark, sf_dir, "orders"))


@query(
    "click_attribution",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           c.event_id AS click_id,
           c.ts AS click_ts,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_micros,
           CAST(ROUND(CAST(p.value AS DECIMAL(18,6)), 4) AS DOUBLE)
             AS purchase_value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def click_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click->purchase attribution pairs within a 30-minute lookback —
    batch twin of the watermarked stream-stream join
    (streaming/joins.py)."""
    return stream_joins.attribution_batch(load_table(spark, sf_dir, "events"))


@query(
    "budget_fallback_allocation",
    oracle=f"""
    WITH sup AS (
      SELECT l_orderkey AS order_key, l_suppkey AS contributor_key,
             CAST(SUM({_NET}) * 1000000 AS BIGINT) AS sup_mic,
             CAST(ROUND(SUM({_NET}), 2) AS DOUBLE) AS time_amount
      FROM lineitem WHERE l_returnflag = 'N'
      GROUP BY 1, 2
    ),
    ord AS (
      SELECT order_key, CAST(SUM(sup_mic) AS BIGINT) AS ord_mic
      FROM sup GROUP BY order_key
    ),
    alloc AS (
      SELECT l_orderkey AS order_key, l_suppkey AS contributor_key,
             CAST(ROUND(SUM({_NET}), 2) AS DOUBLE) AS ind_budget
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY 1, 2
    )
    SELECT s.order_key, s.contributor_key,
           s.time_amount,
           ROUND(CASE WHEN o2.ord_mic > 0
                      THEN CAST(s.sup_mic AS DOUBLE)
                           / CAST(o2.ord_mic AS DOUBLE) END, 6)
             AS time_share,
           a.ind_budget IS NOT NULL AS has_individual_budget,
           a.ind_budget AS ind_budget_amount,
           CASE WHEN a.ind_budget IS NULL THEN
             FLOOR(o.o_totalprice
                   * (CASE WHEN o2.ord_mic > 0
                           THEN CAST(s.sup_mic AS DOUBLE)
                                / CAST(o2.ord_mic AS DOUBLE) END)
                   * 100 + 0.5) / 100
           END AS fallback_budget_amount,
           CASE WHEN a.ind_budget IS NOT NULL THEN a.ind_budget
                ELSE FLOOR(o.o_totalprice
                   * (CASE WHEN o2.ord_mic > 0
                           THEN CAST(s.sup_mic AS DOUBLE)
                                / CAST(o2.ord_mic AS DOUBLE) END)
                   * 100 + 0.5) / 100
           END AS effective_budget,
           CASE WHEN a.ind_budget IS NOT NULL THEN 'individual'
                ELSE 'fallback_distributed' END AS budget_source
    FROM sup s
    JOIN ord o2 USING (order_key)
    LEFT JOIN alloc a USING (order_key, contributor_key)
    JOIN orders o ON o.o_orderkey = s.order_key
    """,
)
def budget_fallback_allocation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v5 FALLBACK view: per-contributor budget with work-item-level
    proportional distribution when no individual allocation exists.
    Rides the shared _budget_rollup_for cube with the budget family."""
    return budget.budget_fallback_allocation_from(
        load_table(spark, sf_dir, "orders"),
        _budget_rollup_for(spark, sf_dir),
    )


@query(
    "open_orders_by_day",
    oracle="""
    WITH cl AS (
      SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_day
      FROM lineitem GROUP BY 1
    ),
    o AS (
      SELECT CAST(o_orderdate AS DATE) AS open_day,
             COALESCE(cl.close_day, CAST(o_orderdate AS DATE)) AS close_day
      FROM orders LEFT JOIN cl ON cl.l_orderkey = o_orderkey
    ),
    d AS (
      SELECT open_day AS day, 1 AS delta, 1 AS opened, 0 AS closed FROM o
      UNION ALL
      SELECT close_day + 1, -1, 0, 1 FROM o
    ),
    g AS (
      SELECT day, CAST(SUM(delta) AS BIGINT) AS delta,
             CAST(SUM(opened) AS BIGINT) AS n_opened,
             CAST(SUM(closed) AS BIGINT) AS n_closed
      FROM d GROUP BY day
    )
    SELECT day, n_opened, n_closed,
           CAST(SUM(delta) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS open_intervals
    FROM g
    """,
)
def open_orders_by_day_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog trend: orders open per day (open = orderdate, close = last
    shipment) via the sweep-line delta fold — two rows per order, never a
    day-spine cross join."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    close = lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max(F.to_date("l_shipdate")).alias("close_day")
    )
    iv = orders.join(close, "o_orderkey", "left").select(
        F.to_date("o_orderdate").alias("open_day"),
        F.coalesce(F.col("close_day"), F.to_date("o_orderdate")).alias(
            "close_day"
        ),
    )
    from ..operators import ranges

    return ranges.open_intervals_by_day(iv, "open_day", "close_day")


@query(
    "customer_revenue_deciles",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS customer_key,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                  AS DOUBLE) AS revenue
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT customer_key, revenue,
             ROW_NUMBER() OVER (ORDER BY revenue DESC, customer_key) AS rn,
             COUNT(*) OVER () AS n
      FROM cust
    ),
    p AS (
      SELECT customer_key, revenue,
             CAST((rn - 1) * 10 // n AS INT) + 1 AS decile
      FROM r
    ),
    t AS (SELECT SUM(CAST(revenue AS DECIMAL(18,6))) AS grand FROM p)
    SELECT decile, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(revenue AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS revenue_total,
           ROUND(CAST(ROUND(SUM(CAST(revenue AS DECIMAL(18,6))), 2)
                      AS DOUBLE) / CAST(t.grand AS DOUBLE), 6)
             AS revenue_share
    FROM p CROSS JOIN t
    GROUP BY decile, t.grand
    """,
)
def customer_revenue_deciles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer revenue deciles via the two-phase distributed ranking
    (no single-partition NTILE sort) with per-decile revenue shares."""
    return dashboard.customer_revenue_deciles(load_table(spark, sf_dir, "orders"))


@query(
    "event_lateness_profile",
    oracle="""
    WITH l AS (
      SELECT event_type,
             CAST(epoch_us(MAX(ts) OVER (PARTITION BY user_id
                                         ORDER BY event_id
                                         ROWS UNBOUNDED PRECEDING))
                  - epoch_us(ts) AS DOUBLE) / 1000000.0 AS late
      FROM events
    )
    SELECT event_type, COUNT(*) AS n,
           ROUND(quantile_cont(late, 0.5), 6) AS late_p50_s,
           ROUND(quantile_cont(late, 0.95), 6) AS late_p95_s,
           ROUND(quantile_cont(late, 0.99), 6) AS late_p99_s,
           ROUND(MAX(late), 6) AS late_max_s,
           CAST(CEIL(quantile_cont(late, 0.99)) AS BIGINT)
             AS suggested_watermark_s
    FROM l GROUP BY event_type
    """,
)
def event_lateness_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed out-of-orderness per event type with a suggested
    watermark — turns streaming watermark choice into a query."""
    return incremental.event_lateness_profile(
        load_table(spark, sf_dir, "events")
    )


@query(
    "reporting_lag_analysis",
    oracle="""
    WITH per AS (
      SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS last_entry,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS hours_dec,
             COUNT(*) AS records
      FROM lineitem WHERE l_returnflag = 'N'
      GROUP BY l_orderkey, l_suppkey
    ),
    j AS (
      SELECT p.*, o.o_orderdate + INTERVAL 30 DAY AS due
      FROM per p JOIN orders o ON p.l_orderkey = o.o_orderkey
    )
    SELECT due AS reporting_date,
           COUNT(*) AS pair_count,
           CAST(SUM(records) AS BIGINT) AS total_records,
           CAST(ROUND(SUM(hours_dec), 2) AS DOUBLE) AS total_hours,
           ROUND(CAST(SUM(DATEDIFF('day', last_entry, due)) AS DOUBLE)
                 / COUNT(*), 6) AS avg_reporting_lag_days,
           CAST(MAX(DATEDIFF('day', last_entry, due)) AS BIGINT)
             AS max_reporting_lag_days,
           COUNT(DISTINCT l_orderkey) AS unique_orders,
           COUNT(DISTINCT l_suppkey) AS unique_contributors
    FROM j GROUP BY due
    """,
)
def reporting_lag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reporting-lag profile (ref: dashboard/main.py:1846 date-timing
    analysis): staleness of recognized work at each reporting date."""
    return dashboard.reporting_lag_analysis(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


@query(
    "bom_per_case_consumption",
    oracle="""
    WITH yields AS (
      SELECT l_orderkey AS batch_key,
             CAST(l_quantity AS DOUBLE) AS batch_yield
      FROM lineitem WHERE l_linenumber = 1
    ),
    consumed AS (
      SELECT l_orderkey AS batch_key, l_partkey AS material_key,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS total_consumed
      FROM lineitem WHERE l_linenumber > 1
      GROUP BY l_orderkey, l_partkey
    )
    SELECT c.batch_key, c.material_key, p.p_name AS material_name,
           c.total_consumed, y.batch_yield,
           ROUND(CAST(c.total_consumed AS DOUBLE) / y.batch_yield, 6)
             AS per_case_qty
    FROM consumed c
    JOIN yields y USING (batch_key)
    JOIN part p ON c.material_key = p.p_partkey
    WHERE y.batch_yield > 0
      AND ROUND(CAST(c.total_consumed AS DOUBLE) / y.batch_yield, 6) > 0
    """,
)
def bom_per_case_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOM import rows: per-case material consumption per production
    batch (ref: Kelvin BOM creater/Code.gs:352 — totalConsumed /
    batchYield at 6dp). Batch = order; line 1 = finished-good yield."""
    return bom.bom_per_case(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )
