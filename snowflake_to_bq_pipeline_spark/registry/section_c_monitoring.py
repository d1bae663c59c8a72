"""SURVEY §2-C — monitoring, data quality, anomaly and alerting queries.

Split from the monolithic registry.py (r9); every query body is
unchanged — registration still flows through registry._core.query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from ..catalog import load_table
from ..operators import alerts as alerts_op, anomaly, quality, semistructured, skew
from ._core import query, standing_index


# ---------------------------------------------------------------------------
# §2-C  Monitoring / data quality
# ---------------------------------------------------------------------------

@query(
    "row_count_by_day",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS row_count
    FROM events GROUP BY CAST(ts AS DATE), event_type
    """,
)
def row_count_by_day_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day per-type volume counts (ref: pipeline_monitoring.sql)."""
    return quality.row_count_by_day(
        load_table(spark, sf_dir, "events"), "ts", "event_type"
    )


_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)


@query(
    "data_quality_metrics",
    oracle="\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name, COUNT(*) AS row_count,
               COUNT({c}) AS non_null_count,
               COUNT(*) - COUNT({c}) AS null_count,
               COUNT(DISTINCT {c}) AS distinct_count
        FROM orders
        """
        for c in _PROFILE_COLS
    ),
)
def data_quality_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null/distinct profile (ref: data_quality_agent.py)."""
    return quality.profile_columns(
        load_table(spark, sf_dir, "orders"), _PROFILE_COLS
    )


@query(
    "volume_anomaly",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS event_count
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    stats AS (
      SELECT COUNT(*) AS n, SUM(event_count) AS s,
             SUM(event_count * event_count) AS ss
      FROM daily
    ),
    derived AS (
      SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) AS msq
      FROM stats
    ),
    d2 AS (
      SELECT n, mean,
             SQRT(GREATEST((msq - mean * mean)
                  * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)), 0.0)) AS sd
      FROM derived
    ),
    flagged AS (
      SELECT day, event_count, mean, sd,
             CASE WHEN n > 1 AND sd > 0
                  THEN ROUND((CAST(event_count AS DOUBLE) - mean) / sd, 4)
             END AS z
      FROM daily CROSS JOIN d2
    )
    SELECT day, event_count,
           ROUND(mean, 4) AS mean_count,
           ROUND(sd, 4) AS stddev_count,
           z AS z_score,
           COALESCE(ABS(z) > 2.0, FALSE) AS is_anomaly
    FROM flagged
    """,
)
def volume_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume z-score anomalies (ref: anomaly_detection_agent.py)."""
    return anomaly.volume_anomaly(load_table(spark, sf_dir, "events"), "ts")


@query(
    "volume_anomaly_dow",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS event_count
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    d2 AS (
      SELECT day, event_count, CAST(dayofweek(day) AS INT) AS dow FROM daily
    ),
    stats AS (
      SELECT dow, COUNT(*) AS n, SUM(event_count) AS s,
             SUM(event_count * event_count) AS ss
      FROM d2 GROUP BY dow
    ),
    derived AS (
      SELECT dow, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) AS msq
      FROM stats
    ),
    d3 AS (
      SELECT dow, n, mean,
             SQRT(GREATEST((msq - mean * mean)
                  * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)), 0.0)) AS sd
      FROM derived
    ),
    z AS (
      SELECT day, d2.dow, event_count, mean, sd,
             CASE WHEN n > 1 AND sd > 0
                  THEN ROUND((CAST(event_count AS DOUBLE) - mean) / sd, 4)
             END AS z_score
      FROM d2 JOIN d3 USING (dow)
    )
    SELECT day, dow, event_count,
           ROUND(mean, 4) AS mean_count,
           ROUND(sd, 4) AS stddev_count,
           z_score,
           COALESCE(ABS(z_score) > 2.0, FALSE) AS is_anomaly
    FROM z
    """,
)
def volume_anomaly_dow_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware volume anomalies — each day vs its own weekday's
    history (ref: anomaly_detection_agent.py:109-110,223 features
    sync_day_of_week before flagging)."""
    return anomaly.volume_anomaly_dow(
        load_table(spark, sf_dir, "events"), "ts"
    )


@query(
    "multivariate_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS event_count,
             SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS vm,
             SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS hs
      FROM events GROUP BY 1, 2
    ),
    feats AS (
      SELECT event_type, day, event_count,
             ROUND(CAST(vm AS DOUBLE) / CAST(event_count AS DOUBLE)
                   / 1000000.0, 6) AS avg_value,
             ROUND(CAST(hs AS DOUBLE) / CAST(event_count AS DOUBLE), 6)
               AS avg_hour
      FROM daily
    ),
    stats AS (
      SELECT event_type, COUNT(*) AS nd,
             SUM(CAST(CAST(event_count AS DOUBLE) AS DECIMAL(38,12))) AS s1,
             SUM(CAST(avg_value AS DECIMAL(38,12))) AS s2,
             SUM(CAST(avg_hour AS DECIMAL(38,12))) AS s3,
             SUM(CAST(CAST(event_count AS DOUBLE) * CAST(event_count AS DOUBLE)
                 AS DECIMAL(38,12))) AS s11,
             SUM(CAST(CAST(event_count AS DOUBLE) * avg_value
                 AS DECIMAL(38,12))) AS s12,
             SUM(CAST(CAST(event_count AS DOUBLE) * avg_hour
                 AS DECIMAL(38,12))) AS s13,
             SUM(CAST(avg_value * avg_value AS DECIMAL(38,12))) AS s22,
             SUM(CAST(avg_value * avg_hour AS DECIMAL(38,12))) AS s23,
             SUM(CAST(avg_hour * avg_hour AS DECIMAL(38,12))) AS s33
      FROM feats GROUP BY event_type
    ),
    means AS (
      SELECT event_type, nd,
             CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE) AS m1,
             CAST(s2 AS DOUBLE) / CAST(nd AS DOUBLE) AS m2,
             CAST(s3 AS DOUBLE) / CAST(nd AS DOUBLE) AS m3,
             CAST(s11 AS DOUBLE) / CAST(nd AS DOUBLE) AS e11,
             CAST(s12 AS DOUBLE) / CAST(nd AS DOUBLE) AS e12,
             CAST(s13 AS DOUBLE) / CAST(nd AS DOUBLE) AS e13,
             CAST(s22 AS DOUBLE) / CAST(nd AS DOUBLE) AS e22,
             CAST(s23 AS DOUBLE) / CAST(nd AS DOUBLE) AS e23,
             CAST(s33 AS DOUBLE) / CAST(nd AS DOUBLE) AS e33
      FROM stats
    ),
    cov AS (
      SELECT event_type, nd, m1, m2, m3,
             e11 - m1 * m1 AS c11, e12 - m1 * m2 AS c12,
             e13 - m1 * m3 AS c13, e22 - m2 * m2 AS c22,
             e23 - m2 * m3 AS c23, e33 - m3 * m3 AS c33
      FROM means
    ),
    covd AS (
      SELECT *,
             c11 * (c22 * c33 - c23 * c23)
             - c12 * (c12 * c33 - c13 * c23)
             + c13 * (c12 * c23 - c13 * c22) AS det
      FROM cov
    ),
    scored AS (
      SELECT f.event_type, f.day, f.event_count, f.avg_value, f.avg_hour,
             c.nd,
             CASE WHEN c.nd > 3 AND ABS(c.det) > 1e-9 THEN
               ((CAST(f.event_count AS DOUBLE) - c.m1)
                  * (CAST(f.event_count AS DOUBLE) - c.m1)
                  * (c.c22 * c.c33 - c.c23 * c.c23)
                + (f.avg_value - c.m2) * (f.avg_value - c.m2)
                  * (c.c11 * c.c33 - c.c13 * c.c13)
                + (f.avg_hour - c.m3) * (f.avg_hour - c.m3)
                  * (c.c11 * c.c22 - c.c12 * c.c12)
                + 2.0 * (CAST(f.event_count AS DOUBLE) - c.m1)
                  * (f.avg_value - c.m2) * (c.c13 * c.c23 - c.c12 * c.c33)
                + 2.0 * (CAST(f.event_count AS DOUBLE) - c.m1)
                  * (f.avg_hour - c.m3) * (c.c12 * c.c23 - c.c13 * c.c22)
                + 2.0 * (f.avg_value - c.m2) * (f.avg_hour - c.m3)
                  * (c.c12 * c.c13 - c.c11 * c.c23)) / c.det
             END AS md2
      FROM feats f JOIN covd c USING (event_type)
    ),
    dist AS (
      SELECT event_type, day, event_count, avg_value, avg_hour, nd,
             CASE WHEN md2 IS NOT NULL
                  THEN ROUND(SQRT(GREATEST(md2, 0.0)), 6) END AS mahalanobis
      FROM scored
    ),
    ranked AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY mahalanobis DESC NULLS LAST, day
             ) AS BIGINT) AS md_rank
      FROM dist
    )
    SELECT event_type, day, event_count, avg_value, avg_hour, mahalanobis,
           md_rank,
           mahalanobis IS NOT NULL
             AND md_rank <= GREATEST(CAST(1 AS BIGINT),
                   CAST(FLOOR(0.1 * CAST(nd AS DOUBLE)) AS BIGINT))
             AS is_anomaly
    FROM ranked
    """,
)
def multivariate_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream multivariate (Mahalanobis) daily outlier score — the
    deterministic engine form of the reference's per-table IsolationForest
    anomaly models (anomaly_detection_agent.py:124-156, contamination
    0.1): full-covariance joint distance over (volume, mean value, mean
    hour) so correlation-breaking days flag even when every single feature
    stays in range."""
    return anomaly.multivariate_anomaly(load_table(spark, sf_dir, "events"))


@query(
    "freshness_check",
    oracle="""
    WITH per_type AS (
      SELECT event_type, MAX(ts) AS last_event_ts, COUNT(*) AS row_count
      FROM events GROUP BY event_type
    ),
    g AS (SELECT MAX(ts) AS gmax FROM events)
    SELECT event_type, last_event_ts, row_count,
           CAST(FLOOR((epoch_us(gmax) - epoch_us(last_event_ts)) / 1000000)
                AS BIGINT) AS lag_seconds,
           CAST(FLOOR((epoch_us(gmax) - epoch_us(last_event_ts)) / 1000000)
                AS BIGINT) > 86400 AS is_stale
    FROM per_type CROSS JOIN g
    """,
)
def freshness_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream staleness vs global watermark (ref:
    pipeline_fallback_monitor.py)."""
    return quality.freshness_check(
        load_table(spark, sf_dir, "events"), "ts", "event_type"
    )


@query(
    "row_count_compare",
    oracle="""
    WITH s AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS source_count
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    t AS (
      SELECT CAST(l_shipdate AS DATE) AS day, COUNT(*) AS target_count
      FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
    )
    SELECT COALESCE(s.day, t.day) AS day,
           COALESCE(s.source_count, 0) AS source_count,
           COALESCE(t.target_count, 0) AS target_count,
           COALESCE(s.source_count, 0) - COALESCE(t.target_count, 0) AS count_diff,
           COALESCE(s.source_count, 0) = COALESCE(t.target_count, 0) AS counts_match
    FROM s FULL OUTER JOIN t ON s.day = t.day
    """,
)
def row_count_compare_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-target day-level count reconciliation (ref:
    validate_snowflake_data.py)."""
    return quality.row_count_compare(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        "o_orderdate",
        "l_shipdate",
    )


#: Shared oracle CTE chain building the unified alert dataset — consumed
#: by both pipeline_alerts (the dataset) and alert_digest (its severity
#: rollup), so the two oracles can never drift apart.
_ALERTS_SQL_CTES = """daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS event_count
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    stats AS (
      SELECT COUNT(*) AS n, SUM(event_count) AS s,
             SUM(event_count * event_count) AS ss
      FROM daily
    ),
    derived AS (
      SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) AS msq
      FROM stats
    ),
    d2 AS (
      SELECT n, mean,
             SQRT(GREATEST((msq - mean * mean)
                  * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)), 0.0)) AS sd
      FROM derived
    ),
    flagged AS (
      SELECT d, event_count,
             CASE WHEN n > 1 AND sd > 0
                  THEN ROUND((CAST(event_count AS DOUBLE) - mean) / sd, 4)
             END AS z
      FROM daily CROSS JOIN d2
    ),
    per_type AS (
      SELECT event_type, MAX(ts) AS last_ts FROM events GROUP BY event_type
    ),
    g AS (SELECT MAX(ts) AS gmax FROM events),
    fresh AS (
      SELECT event_type,
             CAST(FLOOR((epoch_us(gmax) - epoch_us(last_ts)) / 1000000)
                  AS BIGINT) AS lag_s
      FROM per_type CROSS JOIN g
    ),
    dup AS (
      SELECT user_id, event_type, value, COUNT(*) AS dup_count FROM events
      GROUP BY user_id, event_type, value HAVING COUNT(*) > 1
    ),
    s AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS source_count
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS target_count
      FROM lineitem GROUP BY 1
    ),
    recon AS (
      SELECT COALESCE(s.d, t.d) AS d, COALESCE(s.source_count, 0) AS sc,
             COALESCE(t.target_count, 0) AS tc
      FROM s FULL OUTER JOIN t ON s.d = t.d
    ),
    unioned AS (
      SELECT 'volume' AS alert_source, CAST(d AS VARCHAR) AS entity,
             'daily_volume_z' AS metric, ABS(z) AS observed,
             CAST(2.0 AS DOUBLE) AS threshold,
             CASE WHEN ABS(z) > 3.0 THEN 'CRITICAL' ELSE 'WARNING' END AS severity
      FROM flagged WHERE COALESCE(ABS(z) > 2.0, FALSE)
      UNION ALL
      SELECT 'freshness', event_type, 'watermark_lag_seconds',
             CAST(lag_s AS DOUBLE), CAST(1800.0 AS DOUBLE),
             CASE WHEN lag_s > 3600 THEN 'CRITICAL' ELSE 'WARNING' END
      FROM fresh WHERE lag_s > 1800
      UNION ALL
      SELECT 'dedup',
             CAST(user_id AS VARCHAR) || '|' || event_type || '|'
               || CAST(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS VARCHAR),
             'duplicate_key_count', CAST(dup_count AS DOUBLE), CAST(1.0 AS DOUBLE),
             CASE WHEN dup_count > 2 THEN 'CRITICAL' ELSE 'WARNING' END
      FROM dup
      UNION ALL
      SELECT 'reconciliation', CAST(d AS VARCHAR), 'day_count_drift',
             CAST(ABS(sc - tc) AS DOUBLE), CAST(0.0 AS DOUBLE),
             CASE WHEN CAST(ABS(sc - tc) AS DOUBLE) > 0.5 * CAST(sc AS DOUBLE)
                  THEN 'CRITICAL' ELSE 'WARNING' END
      FROM recon WHERE sc != tc
    ),
    alerts AS (
      SELECT *,
             CASE
               WHEN alert_source = 'freshness' AND severity = 'CRITICAL'
                 THEN 'trigger_fallback_sync'
               WHEN alert_source = 'freshness' THEN 'schedule_catchup_sync'
               WHEN alert_source = 'volume' AND severity = 'CRITICAL'
                 THEN 'trigger_full_resync'
               WHEN alert_source = 'volume' THEN 'flag_for_review'
               WHEN alert_source = 'dedup' THEN 'run_dedup_cleanup'
               WHEN severity = 'CRITICAL' THEN 'backfill_date_window'
               ELSE 'flag_for_review'
             END AS recommended_action,
             CASE
               WHEN alert_source = 'freshness'
                 THEN entity || '_fallback_daily_sync'
               WHEN alert_source = 'volume' THEN 'events_full_sync'
               WHEN alert_source = 'dedup' THEN 'dedup_reconciliation_sync'
               ELSE 'daily_incremental_sync'
             END AS target_pipeline
      FROM unioned
    )"""


#: Unified alert dataset per corpus snapshot — shared by pipeline_alerts
#: (the dataset) and alert_digest (its severity rollup), so the four
#: monitor scans behind it (daily volume, per-type watermarks, dup keys,
#: day-level reconciliation) run ONCE per snapshot instead of once per
#: consuming query. At 100 TB these are full fact scans; the dataset
#: itself is violation-sized, so persisting it is O(alerts), not
#: O(corpus). Same single-live-snapshot lifecycle as _ASSIGN_CACHE
#: (section_e_similarity).
@standing_index("events", "orders", "lineitem")
def _alerts_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return alerts_op.pipeline_alerts(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


_ALERTS_CACHE = _alerts_for.cache


@query(
    "pipeline_alerts",
    oracle=f"""
    WITH {_ALERTS_SQL_CTES}
    SELECT * FROM alerts
    """,
)
def pipeline_alerts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified severity-ranked alert dataset folding the four monitors
    (ref: pipeline_fallback_monitor.py main flow + slack_integration_agent
    payloads, minus the delivery transport). Rides the _alerts_for memo
    shared with alert_digest."""
    return _alerts_for(spark, sf_dir)


@query(
    "alert_digest",
    oracle=f"""
    WITH {_ALERTS_SQL_CTES},
    summary AS (
      SELECT alert_source, COUNT(*) AS alerts_total,
             COUNT(CASE WHEN severity = 'CRITICAL' THEN 1 END)
               AS critical_count,
             COUNT(CASE WHEN severity != 'CRITICAL' THEN 1 END)
               AS warning_count,
             COUNT(DISTINCT entity) AS distinct_entities
      FROM alerts GROUP BY alert_source
    ),
    worst AS (
      SELECT alert_source, entity AS worst_entity,
             observed AS worst_observed, severity AS worst_severity,
             ROW_NUMBER() OVER (PARTITION BY alert_source ORDER BY
               CASE WHEN severity = 'CRITICAL' THEN 0 ELSE 1 END,
               observed DESC, entity) AS rn
      FROM alerts
    ),
    acts AS (
      SELECT alert_source, recommended_action, COUNT(*) AS n
      FROM alerts GROUP BY alert_source, recommended_action
    ),
    top_act AS (
      SELECT alert_source, recommended_action AS top_action,
             ROW_NUMBER() OVER (PARTITION BY alert_source
               ORDER BY n DESC, recommended_action) AS rn
      FROM acts
    )
    SELECT s.alert_source, s.alerts_total, s.critical_count,
           s.warning_count, s.distinct_entities, w.worst_entity,
           w.worst_observed, w.worst_severity, t.top_action
    FROM summary s
    JOIN worst w ON s.alert_source = w.alert_source AND w.rn = 1
    JOIN top_act t ON s.alert_source = t.alert_source AND t.rn = 1
    """,
)
def alert_digest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Severity-rolled alert digest — the reference's report-assembly step
    (pipeline_fallback_monitor.py:247, data_quality_agent.py:244 build
    severity-ranked digests) as a dataset: per monitor section, alert
    counts by severity, worst offender, dominant recommended action.
    Rides the _alerts_for memo shared with pipeline_alerts (the memoized
    dataset is persisted, which also serves the digest's three internal
    consumers)."""
    return alerts_op.alert_digest_from(_alerts_for(spark, sf_dir))


@query(
    "distribution_drift_psi",
    oracle="""
    WITH c AS (SELECT MAX(o_orderdate) - INTERVAL 30 DAY AS cut FROM orders),
    tgt AS (SELECT o.* FROM orders o CROSS JOIN c WHERE o.o_orderdate < cut),
    bins(bin_id, bin_lo, bin_hi) AS (VALUES
      (0, 0.0, 25000.0), (1, 25000.0, 50000.0), (2, 50000.0, 75000.0),
      (3, 75000.0, 100000.0), (4, 100000.0, 150000.0),
      (5, 150000.0, 200000.0), (6, 200000.0, 300000.0),
      (7, 300000.0, NULL)),
    sb AS (
      SELECT b.bin_id, b.bin_lo, COUNT(o.o_orderkey) AS src_count
      FROM bins b LEFT JOIN orders o
        ON CAST(o.o_totalprice AS DOUBLE) >= b.bin_lo
       AND (b.bin_hi IS NULL OR CAST(o.o_totalprice AS DOUBLE) < b.bin_hi)
      GROUP BY b.bin_id, b.bin_lo
    ),
    tb AS (
      SELECT b.bin_id, COUNT(o.o_orderkey) AS tgt_count
      FROM bins b LEFT JOIN tgt o
        ON CAST(o.o_totalprice AS DOUBLE) >= b.bin_lo
       AND (b.bin_hi IS NULL OR CAST(o.o_totalprice AS DOUBLE) < b.bin_hi)
      GROUP BY b.bin_id
    ),
    tot AS (
      SELECT (SELECT COUNT(*) FROM orders) AS st,
             (SELECT COUNT(*) FROM tgt) AS tt
    )
    SELECT sb.bin_id, CAST(sb.bin_lo AS DOUBLE) AS bin_lo,
           sb.src_count, tb.tgt_count,
           ROUND((GREATEST(CAST(sb.src_count AS DOUBLE) / st, 1e-6)
                  - GREATEST(CAST(tb.tgt_count AS DOUBLE) / tt, 1e-6))
                 * LN(GREATEST(CAST(sb.src_count AS DOUBLE) / st, 1e-6)
                      / GREATEST(CAST(tb.tgt_count AS DOUBLE) / tt, 1e-6)),
                 8) AS psi_term
    FROM sb JOIN tb USING (bin_id) CROSS JOIN tot
    """,
)
def distribution_drift_psi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between the full source and the
    incremental-lag target over fixed money bins — the shape-sensitive
    extension of the count/value monitors (row counts and min/max can
    both survive a re-scaling bug; PSI cannot)."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = orders.agg(
        F.timestamp_add("DAY", F.lit(-30), F.max("o_orderdate")).alias("__c")
    )
    target = (
        orders.crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate") < F.col("__c"))
        .drop("__c")
    )
    return quality.distribution_drift_psi(orders, target, "o_totalprice")


@query(
    "status_flap_audit",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev
      FROM events
    ),
    per AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             CAST(SUM(CASE WHEN prev IS NOT NULL AND event_type != prev
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
             COUNT(DISTINCT event_type) AS n_distinct_statuses
      FROM seq GROUP BY user_id
    )
    SELECT user_id, n_events, n_transitions, n_distinct_statuses,
           ROUND(CAST(n_transitions AS DOUBLE)
                 / GREATEST(n_events - 1, 1), 6) AS churn_ratio,
           n_transitions > GREATEST(n_distinct_statuses - 1, 1)
             * {quality.FLAP_FACTOR} AS is_flappy
    FROM per
    """,
)
def status_flap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key status flip-flop audit (the reference's sync-war symptom
    — conflicting writers toggling state — as a first-class monitor)."""
    return quality.status_flap_audit(load_table(spark, sf_dir, "events"))


@query(
    "dup_key_audit",
    oracle="""
    SELECT user_id, event_type, value, COUNT(*) AS dup_count
    FROM events GROUP BY user_id, event_type, value
    HAVING COUNT(*) > 1
    """,
)
def dup_key_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business keys violating uniqueness (ref:
    verify_view_deduplication.sql)."""
    return quality.dup_key_audit(
        load_table(spark, sf_dir, "events"), ["user_id", "event_type", "value"]
    )


@query(
    "key_skew_profile",
    oracle="""
    WITH c AS (
      SELECT CAST(l_suppkey AS VARCHAR) AS key_value, COUNT(*) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(n_rows) AS DOUBLE) AS total,
             CAST(COUNT(*) AS DOUBLE) AS n_keys
      FROM c
    ),
    r AS (
      SELECT key_value, n_rows,
             ROW_NUMBER() OVER (ORDER BY n_rows DESC, key_value) AS key_rank
      FROM c
    )
    SELECT r.key_value, r.n_rows, CAST(r.key_rank AS INT) AS key_rank,
           ROUND(CAST(n_rows AS DOUBLE) / t.total, 6) AS share,
           ROUND(CAST(n_rows AS DOUBLE) / (t.total / t.n_keys), 4)
             AS skew_vs_mean
    FROM r CROSS JOIN t WHERE r.key_rank <= 20
    """,
)
def key_skew_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of lineitem's supplier key — the diagnostic
    that decides whether a join needs salting/AQE skew handling."""
    return skew.key_skew_profile(
        load_table(spark, sf_dir, "lineitem"), "l_suppkey", top_k=20
    )


@query(
    "json_props_profile",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS n_with_field,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS field_sum,
           MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS field_min,
           MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS field_max,
           COUNT(DISTINCT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS field_distinct
    FROM events GROUP BY event_type
    """,
)
def json_props_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-extraction profile of the semi-structured props payload —
    the VARIANT-flattening readiness check (JVM-side get_json_object,
    one hash aggregation)."""
    return semistructured.props_profile(load_table(spark, sf_dir, "events"))


@query(
    "robust_value_stats",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS plo,
             quantile_cont(value, 0.95) AS phi
      FROM events GROUP BY event_type
    ),
    j AS (
      SELECT e.event_type, e.value, b.plo, b.phi
      FROM events e JOIN b USING (event_type)
    )
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_all,
           ROUND(MIN(plo), 6) AS p_lo,
           ROUND(MIN(phi), 6) AS p_hi,
           COUNT(*) FILTER (WHERE value >= plo AND value <= phi) AS n_kept,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                        FILTER (WHERE value >= plo AND value <= phi)
                      AS DOUBLE)
                 / COUNT(*) FILTER (WHERE value >= plo AND value <= phi),
                 6) AS trimmed_mean,
           ROUND(CAST(SUM(CAST(LEAST(GREATEST(value, plo), phi)
                               AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS winsorized_mean
    FROM j GROUP BY event_type
    """,
)
def robust_value_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed + winsorized per-event-type value means — contamination-
    robust baselines for the anomaly monitors."""
    return quality.robust_value_stats(
        load_table(spark, sf_dir, "events"), "event_type", "value"
    )


@query(
    "mad_outlier_profile",
    oracle="""
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS dev
      FROM events e JOIN m USING (event_type)
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n, MIN(med) AS median,
             quantile_cont(dev, 0.5) AS mad
      FROM d GROUP BY 1
    )
    SELECT d.event_type, s.n,
           ROUND(s.median, 6) AS median,
           ROUND(s.mad, 6) AS mad,
           CAST(SUM(CASE WHEN d.dev > 3.0 * 1.4826 * s.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(CAST(SUM(CASE WHEN d.dev > 3.0 * 1.4826 * s.mad
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(s.n AS DOUBLE), 6) AS outlier_frac
    FROM d JOIN s USING (event_type)
    GROUP BY d.event_type, s.n, s.median, s.mad
    """,
)
def mad_outlier_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier profile per event type — the
    breakdown-resistant twin of the z-score volume monitors."""
    return quality.mad_outlier_stats(
        load_table(spark, sf_dir, "events"), "event_type", "value"
    )


@query(
    "event_interarrival_profile",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY event_type ORDER BY ts) AS gap_us
      FROM events
    )
    SELECT event_type,
           COUNT(gap_us) AS n_gaps,
           ROUND(CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 1000000.0, 6)
             AS mean_gap_s,
           ROUND(CAST(MIN(gap_us) AS DOUBLE) / 1000000.0, 6) AS min_gap_s,
           ROUND(CAST(MAX(gap_us) AS DOUBLE) / 1000000.0, 6) AS max_gap_s,
           ROUND(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_gap_s,
           ROUND(quantile_cont(gap_us, 0.95) / 1000000.0, 6) AS p95_gap_s
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def event_interarrival_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream inter-arrival cadence statistics (exact integer-micros
    gaps; the observed-cadence baseline a freshness alert should derive
    its threshold from instead of a hardcoded N hours)."""
    return quality.interarrival_profile(load_table(spark, sf_dir, "events"))
