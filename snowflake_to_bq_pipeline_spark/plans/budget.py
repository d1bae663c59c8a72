"""Budget-vs-actual analytical views — the reference's flagship queries.

Reference parity:
- ``budget_vs_actual``: work_item_budget_time_tracking_view_v4.sql — per
  work item, budget vs aggregated time entries, variance, utilization %,
  OVER/APPROACHING/WITHIN/NO_BUDGET status buckets.
- ``individual_budget_tracking``:
  work_item_individual_budget_time_tracking_view_v5.sql — per
  (work item, user): budget-allocation aggregate FULL-OUTER-unioned with
  time-entry aggregate so contributors with time but no budget (and budget
  but no time) all appear; work-item-level totals joined alongside;
  utilization/variance/status at the individual grain.

Data mapping onto the test star schema: ``orders`` ≈ work items,
``lineitem`` ≈ entry lines, ``l_suppkey`` ≈ the individual contributor.
Return-flagged lines ('A'/'R') play the role of budget allocations;
'N' lines play logged time — giving the same two-sided union semantics the
v5 view fixes (users on one side only must still appear).

Scale: two partial aggregations on (orderkey, suppkey) — map-side combined,
one shuffle each on the same key so AQE/exchange-reuse co-locates them; the
contributor-key union is a cheap distinct on already-shuffled keys; the
order-level join broadcasts when the order dim is small and shuffle-joins
on o_orderkey otherwise. No window functions, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import (
    DEC,
    budget_status,
    is_overdue,
    money,
    money_from_micros_sum,
    money_micros,
    net_price,
    schedule_status,
)

APPROACH_FRAC = 0.8

# Schedule-status mapping (v5 view L376-382, IS_WORK_ITEM_OVERDUE L179):
# a work item is due DUE_DAYS after it opens; completed items (status 'F')
# are never overdue. "Now" is a fixed as-of timestamp so results are
# deterministic and oracle-comparable — production would bind it to the
# run's logical date.
DUE_DAYS = 30
DUE_SOON_DAYS = 3
SCHEDULE_AS_OF = "1998-06-17 00:00:00"


def _due_date(order_date):
    return F.timestamp_add("DAY", F.lit(DUE_DAYS), order_date)


def _schedule_now():
    return F.lit(SCHEDULE_AS_OF).cast("timestamp_ntz")


def line_rollup(lineitem: DataFrame) -> DataFrame:
    """Shared (order, contributor)-grain rollup of the entry-line fact —
    the single scan behind the whole budget family.

    The four budget views (order-grain flagship, individual v5 flagship,
    fallback allocation, contributor utilization) each need conditional
    aggregates of the SAME fact at grains that are all coarsenings of
    (l_orderkey, l_suppkey). Building this cube once per corpus snapshot
    (fingerprint-memoized and persisted by the registry) replaces four
    full fact scans with one; every consumer re-aggregates the cube,
    which is far smaller than the fact in bytes even where its row count
    is comparable.

    Exactness: every money measure is an exact long-micros partial sum
    (functions.money_micros; integer partials re-aggregate exactly at any
    coarser grain), quantity additionally as an exact decimal partial for
    the flagship's decimal-sum path, and the conditional measures use the
    IDENTICAL null-preserving ``when`` conditions as the standalone
    plans — so each ``*_from`` consumer below is provably bit-identical
    to its one-pass twin for ANY input (tests/test_budget_rollup.py
    asserts row-identical output on skewed/null-edge data).

    Scale: one map-side-combined shuffle on (l_orderkey, l_suppkey);
    groups are bounded by one order's line count, so micros longs can't
    overflow. Coarser re-aggregates sum the integer partials as
    decimal(38,0)-safe longs (per-consumer grain audits below).
    """
    from ..functions import dec

    net_mic = money_micros(
        net_price(F.col("l_extendedprice"), F.col("l_discount"))
    )
    qty_mic = money_micros(F.col("l_quantity"))
    is_alloc = F.col("l_returnflag").isin("A", "R")
    is_time = F.col("l_returnflag") == "N"
    return lineitem.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(net_mic).alias("net_mic"),
        F.sum(
            F.when(F.col("l_tax") > 0, net_mic).otherwise(F.lit(0).cast("long"))
        ).alias("bill_mic"),
        F.sum(F.when(is_alloc, net_mic)).alias("alloc_mic"),
        F.sum(F.when(is_time, net_mic)).alias("time_mic"),
        F.sum(
            F.when(is_time & (F.col("l_tax") > 0), net_mic)
        ).alias("time_bill_mic"),
        F.sum(dec(F.col("l_quantity"))).alias("qty_dec"),
        F.sum(F.when(is_alloc, qty_mic)).alias("alloc_qty_mic"),
        F.sum(F.when(is_time, qty_mic)).alias("time_qty_mic"),
        F.count(F.lit(1)).alias("cnt"),
        F.count(F.when(is_alloc, F.lit(1))).alias("alloc_cnt"),
        F.count(F.when(is_time, F.lit(1))).alias("time_cnt"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.min(F.when(is_time, F.col("l_shipdate"))).alias("time_min_ship"),
        F.max(F.when(is_time, F.col("l_shipdate"))).alias("time_max_ship"),
    )


def budget_vs_actual(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Per-order budget vs actual with variance/utilization/status."""
    # Long-micros money sums: per-order groups are bounded by one order's
    # line count, so the micros long can't overflow (functions.money_micros).
    net_mic = money_micros(
        net_price(F.col("l_extendedprice"), F.col("l_discount"))
    )
    li = lineitem.groupBy("l_orderkey").agg(
        money_from_micros_sum(F.sum(net_mic)).alias("actual_amount"),
        money_from_micros_sum(
            F.sum(
                F.when(F.col("l_tax") > 0, net_mic).otherwise(F.lit(0).cast("long"))
            )
        ).alias("billable_amount"),
        money(F.sum("l_quantity")).alias("actual_qty"),
        F.count(F.lit(1)).alias("entry_count"),
        # size(collect_set) == count(distinct) but avoids the Expand
        # operator's row duplication — ~20% faster on this aggregate; safe
        # because contributors-per-order is small and bounded.
        F.size(F.collect_set("l_suppkey")).cast("long").alias("unique_contributors"),
        F.min("l_shipdate").alias("first_entry_date"),
        F.max("l_shipdate").alias("last_entry_date"),
    )
    return _order_grain_select(orders, li)


def budget_vs_actual_from(orders: DataFrame, rollup: DataFrame) -> DataFrame:
    """Per-order budget vs actual derived from the shared
    :func:`line_rollup` cube — identical output to
    :func:`budget_vs_actual` for any input.

    Exactness at the order coarsening: integer micros partials sum
    exactly; the quantity re-aggregates the exact DECIMAL partials (the
    flagship's own sum path, associative by construction); contributors
    count the cube's (order, contributor) rows with a null-skipping
    ``count(l_suppkey)`` == ``count(distinct l_suppkey)`` at this grain.
    Grain audit: per-order sums stay bounded by one order's line mass —
    fine-grain, no salted decimal needed.
    """
    li = rollup.groupBy("l_orderkey").agg(
        money_from_micros_sum(F.sum("net_mic")).alias("actual_amount"),
        money_from_micros_sum(F.sum("bill_mic")).alias("billable_amount"),
        money(F.sum("qty_dec")).alias("actual_qty"),
        F.sum("cnt").alias("entry_count"),
        F.count(F.col("l_suppkey")).alias("unique_contributors"),
        F.min("min_ship").alias("first_entry_date"),
        F.max("max_ship").alias("last_entry_date"),
    )
    return _order_grain_select(orders, li)


def _order_grain_select(orders: DataFrame, li: DataFrame) -> DataFrame:
    """Shared finalize for the order-grain flagship (both build paths)."""
    joined = orders.join(li, orders.o_orderkey == li.l_orderkey, "left")

    budget = money(F.col("o_totalprice"))
    actual = F.coalesce(F.col("actual_amount"), F.lit(0.0))
    return joined.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_orderpriority").alias("order_priority"),
        F.col("o_orderdate").alias("order_date"),
        budget.alias("budget_amount"),
        money(actual).alias("actual_amount"),
        F.coalesce(F.col("billable_amount"), F.lit(0.0)).alias("billable_amount"),
        F.coalesce(F.col("actual_qty"), F.lit(0.0)).alias("actual_qty"),
        F.coalesce(F.col("entry_count"), F.lit(0).cast("long")).alias("entry_count"),
        F.coalesce(F.col("unique_contributors"), F.lit(0).cast("long")).alias(
            "unique_contributors"
        ),
        F.col("first_entry_date"),
        F.col("last_entry_date"),
        money(budget - actual).alias("variance_amount"),
        F.when(budget > 0, money(actual / budget * 100)).alias("utilization_pct"),
        budget_status(budget, actual, APPROACH_FRAC).alias("budget_status"),
        _due_date(F.col("o_orderdate")).alias("due_date"),
        schedule_status(
            _due_date(F.col("o_orderdate")),
            F.col("o_orderstatus") == "F",
            _schedule_now(),
            DUE_SOON_DAYS,
        ).alias("schedule_status"),
        is_overdue(
            _due_date(F.col("o_orderdate")),
            F.col("o_orderstatus") == "F",
            _schedule_now(),
        ).alias("is_overdue"),
    )


def individual_budget_tracking(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Per-(order, contributor) budget vs actual — the v5 flagship.

    Contributors appearing only on the budget side or only on the time side
    are both kept (the exact bug the reference's v5 rewrite fixed, v5 view
    L111-136). The reference unions two per-side aggregates and joins each
    back; here both sides fold into ONE conditional aggregation over
    (order, contributor) — a single scan and a single shuffle, with a
    side's columns naturally NULL when that side has no rows. Same result,
    one-third the shuffles.
    """
    # Long-micros money sums (functions.money_micros): per-(order,
    # contributor) groups are bounded by one order's line count, so the
    # micros long can't overflow, and the primitive aggregation buffer is
    # ~40% faster than the decimal one on this 9-aggregate groupBy.
    net_mic = money_micros(
        net_price(F.col("l_extendedprice"), F.col("l_discount"))
    )
    qty_mic = money_micros(F.col("l_quantity"))
    is_alloc = F.col("l_returnflag").isin("A", "R")
    is_time = F.col("l_returnflag") == "N"
    grouped = (
        lineitem.filter(is_alloc | is_time)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            money_from_micros_sum(F.sum(F.when(is_alloc, net_mic))).alias(
                "ind_budget_amount"
            ),
            money_from_micros_sum(F.sum(F.when(is_alloc, qty_mic))).alias(
                "ind_budget_qty"
            ),
            F.count(F.when(is_alloc, F.lit(1))).alias("allocation_count_nz"),
            money_from_micros_sum(F.sum(F.when(is_time, net_mic))).alias(
                "ind_actual_amount"
            ),
            money_from_micros_sum(
                F.sum(F.when(is_time & (F.col("l_tax") > 0), net_mic))
            ).alias("ind_billable_amount_n"),
            money_from_micros_sum(F.sum(F.when(is_time, qty_mic))).alias(
                "ind_actual_qty"
            ),
            F.count(F.when(is_time, F.lit(1))).alias("time_entry_count_nz"),
            F.min(F.when(is_time, F.col("l_shipdate"))).alias("first_entry_date"),
            F.max(F.when(is_time, F.col("l_shipdate"))).alias("last_entry_date"),
        )
        .withColumn(
            "allocation_count",
            F.when(F.col("allocation_count_nz") > 0, F.col("allocation_count_nz")),
        )
        .withColumn(
            "time_entry_count",
            F.when(F.col("time_entry_count_nz") > 0, F.col("time_entry_count_nz")),
        )
        .withColumn(
            # billable is 0 (not NULL) whenever the time side exists.
            "ind_billable_amount",
            F.when(
                F.col("time_entry_count_nz") > 0,
                F.coalesce(F.col("ind_billable_amount_n"), F.lit(0.0)),
            ),
        )
    )
    return _individual_select(orders, grouped)


def individual_budget_tracking_from(
    orders: DataFrame, rollup: DataFrame
) -> DataFrame:
    """Per-(order, contributor) flagship derived from the shared
    :func:`line_rollup` cube — identical output to
    :func:`individual_budget_tracking` for any input.

    The cube grain IS this view's grain, so no re-aggregation happens at
    all: the cube's null-preserving conditional partials map 1:1 onto the
    one-pass plan's aggregates (alloc_mic == sum(when(is_alloc, net_mic))
    etc.), and rows with neither an allocation nor a time line are
    filtered exactly as the one-pass plan's returnflag filter does.
    """
    grouped = (
        rollup.filter((F.col("alloc_cnt") > 0) | (F.col("time_cnt") > 0))
        .select(
            "l_orderkey",
            "l_suppkey",
            money_from_micros_sum(F.col("alloc_mic")).alias(
                "ind_budget_amount"
            ),
            money_from_micros_sum(F.col("alloc_qty_mic")).alias(
                "ind_budget_qty"
            ),
            F.col("alloc_cnt").alias("allocation_count_nz"),
            money_from_micros_sum(F.col("time_mic")).alias(
                "ind_actual_amount"
            ),
            money_from_micros_sum(F.col("time_bill_mic")).alias(
                "ind_billable_amount_n"
            ),
            money_from_micros_sum(F.col("time_qty_mic")).alias(
                "ind_actual_qty"
            ),
            F.col("time_cnt").alias("time_entry_count_nz"),
            F.col("time_min_ship").alias("first_entry_date"),
            F.col("time_max_ship").alias("last_entry_date"),
        )
        .withColumn(
            "allocation_count",
            F.when(F.col("allocation_count_nz") > 0, F.col("allocation_count_nz")),
        )
        .withColumn(
            "time_entry_count",
            F.when(F.col("time_entry_count_nz") > 0, F.col("time_entry_count_nz")),
        )
        .withColumn(
            "ind_billable_amount",
            F.when(
                F.col("time_entry_count_nz") > 0,
                F.coalesce(F.col("ind_billable_amount_n"), F.lit(0.0)),
            ),
        )
    )
    return _individual_select(orders, grouped)


def _individual_select(orders: DataFrame, grouped: DataFrame) -> DataFrame:
    """Shared finalize for the individual flagship (both build paths)."""
    # No broadcast hint: orders is a fact table (not broadcastable at
    # 100 TB); AQE picks broadcast automatically when it is small enough.
    joined = grouped.join(
        orders.select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice",
            "o_orderdate",
        ),
        grouped.l_orderkey == F.col("o_orderkey"),
        "left",
    )

    ind_budget = F.coalesce(F.col("ind_budget_amount"), F.lit(0.0))
    ind_actual = F.coalesce(F.col("ind_actual_amount"), F.lit(0.0))
    return joined.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_suppkey").alias("contributor_key"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_orderpriority").alias("order_priority"),
        money(F.col("o_totalprice")).alias("order_budget_total"),
        ind_budget.alias("ind_budget_amount"),
        F.coalesce(F.col("ind_budget_qty"), F.lit(0.0)).alias("ind_budget_qty"),
        F.coalesce(F.col("allocation_count"), F.lit(0).cast("long")).alias(
            "allocation_count"
        ),
        ind_actual.alias("ind_actual_amount"),
        F.coalesce(F.col("ind_billable_amount"), F.lit(0.0)).alias(
            "ind_billable_amount"
        ),
        F.coalesce(F.col("ind_actual_qty"), F.lit(0.0)).alias("ind_actual_qty"),
        F.coalesce(F.col("time_entry_count"), F.lit(0).cast("long")).alias(
            "time_entry_count"
        ),
        F.col("first_entry_date"),
        F.col("last_entry_date"),
        money(ind_budget - ind_actual).alias("ind_variance_amount"),
        F.when(ind_budget > 0, money(ind_actual / ind_budget * 100)).alias(
            "ind_utilization_pct"
        ),
        budget_status(ind_budget, ind_actual, APPROACH_FRAC).alias("ind_budget_status"),
        F.when(F.col("ind_budget_amount").isNotNull(), F.lit("INDIVIDUAL_BUDGET"))
        .otherwise(F.lit("NO_BUDGET"))
        .alias("budget_source"),
        F.col("ind_budget_amount").isNotNull().alias("has_individual_budget"),
        F.col("ind_actual_amount").isNotNull().alias("has_time_logged"),
        _due_date(F.col("o_orderdate")).alias("order_due_date"),
        schedule_status(
            _due_date(F.col("o_orderdate")),
            F.col("o_orderstatus") == "F",
            _schedule_now(),
            DUE_SOON_DAYS,
        ).alias("order_schedule_status"),
        is_overdue(
            _due_date(F.col("o_orderdate")),
            F.col("o_orderstatus") == "F",
            _schedule_now(),
        ).alias("is_order_overdue"),
    )


def budget_fallback_allocation(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """v5 FALLBACK view: distribute order-level budget when no individual
    allocation exists (work_item_individual_budget_time_tracking_view_v5
    _fallback.sql — "falls back to work item level budgets distributed
    among users who actually logged time").

    One row per (order, contributor-with-time): if the contributor has
    individual budget rows (returnflag A/R), that budget is used;
    otherwise the order's total budget is split proportional to the
    contributor's share of the order's time-entry amount. Shares divide
    exact long micros cast to double (both exact below 2^53, correctly
    rounded division — engine-identical), and the allocated amount
    rounds via floor(x*100+0.5)/100, the tie-free half-up on doubles.

    Scale: ONE scan of the fact table and ONE wide shuffle — the time
    (N) and allocation (A/R) sums share a single conditional aggregate
    at (order, contributor) grain (the same fold the flagship uses,
    plans/budget.py:176); contributors with only A/R rows and no time
    drop out via the ``__sup_mic IS NOT NULL`` filter, reproducing the
    old sup_time-base/alloc-left-join shape. The order grain then
    re-aggregates the already-tiny contributor table, and orders joins
    last; no window functions.
    """
    is_time = F.col("l_returnflag") == "N"
    net_mic = money_micros(
        net_price(F.col("l_extendedprice"), F.col("l_discount"))
    )
    per_contrib = (
        lineitem.filter(F.col("l_returnflag").isin("N", "A", "R"))
        .groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_suppkey").alias("contributor_key"),
        )
        .agg(
            F.sum(F.when(is_time, net_mic)).alias("__sup_mic"),
            money_from_micros_sum(
                F.sum(F.when(~is_time, net_mic))
            ).alias("__ind_budget"),
        )
    )
    return _fallback_select(orders, per_contrib)


def budget_fallback_allocation_from(
    orders: DataFrame, rollup: DataFrame
) -> DataFrame:
    """Fallback allocation derived from the shared :func:`line_rollup`
    cube — identical output to :func:`budget_fallback_allocation` for any
    input: the cube grain is this view's grain, time_mic/alloc_mic carry
    the exact same null-preserving conditional sums (the one-pass plan's
    N/A/R pre-filter is subsumed by the downstream ``__sup_mic IS NOT
    NULL`` filter both plans share), and the order-grain share
    re-aggregation runs identically downstream.
    """
    per_contrib = rollup.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_suppkey").alias("contributor_key"),
        F.col("time_mic").alias("__sup_mic"),
        money_from_micros_sum(F.col("alloc_mic")).alias("__ind_budget"),
    )
    return _fallback_select(orders, per_contrib)


def _fallback_select(orders: DataFrame, per_contrib: DataFrame) -> DataFrame:
    """Shared finalize for the fallback view (both build paths)."""
    sup_time = per_contrib.filter(F.col("__sup_mic").isNotNull())
    ord_time = sup_time.groupBy("order_key").agg(
        F.sum("__sup_mic").alias("__ord_mic")
    )
    share = F.when(
        F.col("__ord_mic") > 0,
        F.col("__sup_mic").cast("double") / F.col("__ord_mic").cast("double"),
    )
    fallback = (
        F.floor(F.col("o_totalprice") * share * 100 + F.lit(0.5)).cast(
            "double"
        )
        / 100
    )
    has_ind = F.col("__ind_budget").isNotNull()
    return (
        sup_time.join(ord_time, "order_key")
        .join(
            orders.select(
                F.col("o_orderkey").alias("order_key"), "o_totalprice"
            ),
            "order_key",
        )
        .select(
            "order_key",
            "contributor_key",
            money_from_micros_sum(F.col("__sup_mic")).alias("time_amount"),
            F.round(share, 6).alias("time_share"),
            has_ind.alias("has_individual_budget"),
            F.col("__ind_budget").alias("ind_budget_amount"),
            F.when(~has_ind, fallback).alias("fallback_budget_amount"),
            F.when(has_ind, F.col("__ind_budget"))
            .otherwise(fallback)
            .alias("effective_budget"),
            F.when(has_ind, F.lit("individual"))
            .otherwise(F.lit("fallback_distributed"))
            .alias("budget_source"),
        )
    )
