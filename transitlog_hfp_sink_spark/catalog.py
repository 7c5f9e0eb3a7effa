"""SQL-surface catalog — the psql-parity entry point.

The reference's users query the sink through SQL (`vehicles` hypertable +
TimescaleDB functions over it; run/init.sql:26-85). Spark's equivalent is
`spark.sql(...)` over registered views and functions; this module performs
that registration in one call so a user of the reference can point their
SQL at the engine unchanged:

    from transitlog_hfp_sink_spark.catalog import register_catalog
    register_catalog(spark, sf_dir="/root/testdata/sf0.001")
    spark.sql("SELECT route_id, count(*) FROM vehicles "
              "WHERE is_ongoing GROUP BY 1").show()

Registered surface:
- the ten driver testdata tables as temp views (when ``sf_dir`` given);
- ``vehicles`` — a stored sink table (``vehicles_path``, the production
  shape: partitioned parquet written by the pipeline) or, for fixtures,
  the synthesized stream transformed through the REAL engine transform;
- ``vehicles_dedup`` — the M3 idempotent read view (natural-key dedup);
- ``vehicles_geo`` — vehicles plus the geohash-5 spatial bucketing
  column (functions/geo.py, pure expressions — a view, not a UDF);
- ``vehicles_headways`` / ``vehicles_bunching`` — the transit-operations
  headway metric family (per-route consecutive-vehicle gaps and the
  under-half-median bunching flag) as pure SQL views over
  ``vehicles_dedup`` (round 5);
- ``vehicles_otp`` — per-journey start delay + early/on_time/late
  punctuality classification (round 5);
- ``vehicles_latest`` — last-known position per vehicle (TimescaleDB
  ``last(col, tst)`` parity via ``max_by``, one mergeable hash-agg — the
  live-map query; round 5);
- ``vehicles_speed_histogram`` — per-route speed distribution
  (TimescaleDB ``histogram()`` parity: width_bucket counts assembled to
  one array per group, Timescale's under/overflow bucket layout;
  round 5);
- ``vehicles_odo_delta`` — reset-aware odometer distance per vehicle/day
  (TimescaleDB Toolkit ``counter_agg``/``rate`` parity: negative steps
  are counter resets; decimal-exact delta sums; round 5);
- ``vehicles_hourly_gapfill`` — dense hourly rollup per route
  (``time_bucket_gapfill`` + ``locf`` + ``interpolate`` for SQL users:
  counts zero-filled, mean speed carried through gap hours and, as
  ``avg_spd_interp``, linearly interpolated — both UNROUNDED, since the
  decimal-sum/count division is bit-identical cross-engine and round()
  itself is the divergence risk; backed by operators/gapfill.py;
  rounds 5-6);
- SQL functions: ``haversine_km`` (the lat/long distance workload Q4
  serves), ``geometric_mean`` (UDAF surface), and ``time_bucket``
  (TimescaleDB's most-used hypertable query function, run/init.sql:70-73
  workload) — a pure SQL scalar function (Spark 4 ``CREATE FUNCTION ...
  RETURN``), JVM-side, no Python UDF: epoch-aligned arbitrary-width
  bucketing, ``time_bucket(3600, ts)`` == ``date_trunc('hour', ts)``.

Views are session-scoped metadata only — no data is materialized.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

from transitlog_hfp_sink_spark.functions.geo import geohash_encode
from transitlog_hfp_sink_spark.functions.udfs import register_udfs
from transitlog_hfp_sink_spark.sources.files import TABLES, read_table

log = logging.getLogger(__name__)

VEHICLES_VIEW = "vehicles"
DEDUP_VIEW = "vehicles_dedup"

#: last registration's view parameters per live application, so a
#: re-registration that silently RESETS a user's custom-parameter views
#: (e.g. the transit_analytics registry entry registering the defaults)
#: can warn instead of surprising them (round 8, VERDICT r7 #3 / ADVICE r7)
_LAST_PARAMS: dict[str, tuple] = {}


def register_catalog(
    spark: SparkSession,
    sf_dir: str | None = None,
    vehicles_path: str | None = None,
    materialize_dedup: bool = False,
    histogram_bounds: tuple[float, float, int] = (0.0, 30.0, 15),
    gapfill_count_fill: str = "zero",
) -> list[str]:
    """Register views + SQL functions; returns the registered view names.

    ``materialize_dedup=True`` localCheckpoints the dedup view ONCE at
    registration (one job) so every dependent view — headways, bunching,
    OTP, latest, histogram, odo-delta, gapfill — reads the materialized
    blocks instead of re-deriving vehicles->transform->dedup per query
    (VERDICT r6 #4: the seven transit_analytics legs re-derived the same
    scan+dedup seven times). Default False keeps registration pure
    metadata (no job). The blocks live for the session (the registration
    memo's lifecycle); on a real cluster the equivalent is reading the
    partitioned sink, which IS the materialized dedup input.

    Re-registration REPLACES every view: a later call with different
    ``histogram_bounds``/``gapfill_count_fill`` (including the
    transit_analytics registry entry, which registers the defaults)
    wins — re-run this function with your parameters to get them back
    (a warning log line names both parameter sets when that happens)."""
    app_id = spark.sparkContext.applicationId
    params = (tuple(histogram_bounds), gapfill_count_fill)
    registered: list[str] = []
    if sf_dir is not None:
        for t in TABLES:
            read_table(spark, sf_dir, t).createOrReplaceTempView(t)
            registered.append(t)
    if vehicles_path is not None:
        vehicles = spark.read.parquet(vehicles_path)
    elif sf_dir is not None:
        from transitlog_hfp_sink_spark.queries.hfp import synth_vehicles

        vehicles = synth_vehicles(spark, sf_dir)
    else:
        vehicles = None
    if vehicles is not None:
        vehicles.createOrReplaceTempView(VEHICLES_VIEW)
        registered.append(VEHICLES_VIEW)
        from transitlog_hfp_sink_spark.transform import dedup_vehicles

        dedup = dedup_vehicles(vehicles)
        if materialize_dedup:
            # round 11 (measured, interleaved A/B at sf0.1): the plain
            # row checkpoint BEATS both a columnar persist() (2.51 vs
            # 3.97 s transit exec — InMemoryTableScan decompression
            # costs more than the 40-col row reads save) and a
            # repartition(defaultParallelism) checkpoint (2.51 vs
            # 3.05 s — the leg stages already run concurrently as
            # broadcast/subquery futures, so extra partitions only add
            # scheduling). Left as-is deliberately.
            dedup = dedup.localCheckpoint(eager=True)
        dedup.createOrReplaceTempView(DEDUP_VIEW)
        registered.append(DEDUP_VIEW)
        vehicles.withColumn(
            "geohash5", geohash_encode("lat", "long", precision=5)
        ).createOrReplaceTempView("vehicles_geo")
        registered.append("vehicles_geo")
        register_headway_views(spark)
        registered += ["vehicles_headways", "vehicles_bunching"]
        register_otp_view(spark)
        registered.append("vehicles_otp")
        register_latest_view(spark)
        registered.append("vehicles_latest")
        register_histogram_view(spark, bounds=histogram_bounds)
        registered.append("vehicles_speed_histogram")
        register_counter_view(spark)
        registered.append("vehicles_odo_delta")
        register_gapfill_view(spark, count_fill=gapfill_count_fill)
        registered.append("vehicles_hourly_gapfill")
        # warn + memo only AFTER the parameterized views actually
        # (re-)registered: a validation error above must not poison the
        # memo with bounds that never produced a view, and a tables-only
        # call (no vehicles source) must not suppress the next warning
        prev = _LAST_PARAMS.get(app_id)
        if prev is not None and prev != params:
            log.warning(
                "register_catalog: replaced this session's views registered "
                "with histogram_bounds=%s, gapfill_count_fill=%r by "
                "histogram_bounds=%s, gapfill_count_fill=%r — re-run "
                "register_catalog with your parameters to restore them",
                prev[0], prev[1], params[0], params[1],
            )
        _LAST_PARAMS.clear()  # one live application at a time (memo hygiene)
        _LAST_PARAMS[app_id] = params
    register_udfs(spark)
    register_time_bucket(spark)
    return registered


def register_headway_views(spark: SparkSession) -> None:
    """Headway / bunching analysis — the classic transit-operations
    workload users run over the vehicles hypertable (the public
    Transitlog UI's core metric family; pure SQL over the sink, parity
    with what a psql user computes from run/init.sql's table).

    ``vehicles_headways``: per (route, direction) the gap between
    consecutive DISTINCT vehicles' first ongoing observation on the
    route — each vehicle's ``min(tst)`` is its entry proxy (raw 1 Hz
    telemetry rows would measure the emit interval, not headway; the
    fixture's synthetic event mix is too sparse for a per-event-type
    anchor, and entry order is event-type-agnostic anyway), then one ``lag``
    window per route+direction ordered by entry time: the dispatch-
    headway form of the metric (a stop-anchored variant is the same
    query with ``next_stop_id`` added to the keys). Exact integer
    microseconds (``headway_us``) so twins hash bit-identically.

    ``vehicles_bunching``: headways under half the per-(route,direction)
    median — the standard "bunched" flag. ``median`` is exact (not
    approx) in both Spark 4 and DuckDB with the same even-count
    interpolation.

    Both are metadata-only views over ``vehicles_dedup`` (the idempotent
    read surface, so replayed micro-batches can't fake short headways).
    At scale the window partitions by (route, direction) — high
    cardinality, no skewed giant partition — and the arrivals CTE is a
    partial-agg-friendly min()."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW vehicles_headways AS
        WITH arrivals AS (
            SELECT route_id, direction_id, unique_vehicle_id,
                   min(tst) AS arrival_tst
            FROM vehicles_dedup
            WHERE is_ongoing
              AND route_id IS NOT NULL
            GROUP BY 1, 2, 3
        )
        SELECT route_id, direction_id, unique_vehicle_id,
               arrival_tst,
               unix_micros(arrival_tst)
                 - unix_micros(lag(arrival_tst) OVER w) AS headway_us,
               lag(unique_vehicle_id) OVER w AS leader_vehicle_id
        FROM arrivals
        WINDOW w AS (PARTITION BY route_id, direction_id
                     ORDER BY arrival_tst, unique_vehicle_id)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW vehicles_bunching AS
        WITH h AS (
            SELECT * FROM vehicles_headways WHERE headway_us IS NOT NULL
        ),
        med AS (
            SELECT route_id, direction_id,
                   median(headway_us) AS med_headway_us
            FROM h GROUP BY 1, 2
        )
        SELECT h.*, med.med_headway_us
        FROM h
        JOIN med ON h.route_id = med.route_id
                AND h.direction_id <=> med.direction_id
        WHERE h.headway_us < 0.5 * med.med_headway_us
        """
    )


def register_latest_view(spark: SparkSession) -> None:
    """``vehicles_latest`` — last-known position per vehicle, the live-map
    query every Transitlog consumer runs first (TimescaleDB idiom:
    ``last(lat, tst), last(long, tst), ...`` over the hypertable;
    run/init.sql's table serves it from the (unique_vehicle_id, tst)
    index). Spark's ordered-aggregate twins are ``max_by(col, tst)`` —
    JVM-side, partial-agg mergeable (each partition keeps one candidate
    per vehicle, the merge keeps the later), so the query is ONE
    hash-agg pass at any scale, never a window sort.

    Ties on tst: the dedup view's natural key is
    ``schema.VEHICLES_DEDUP_KEY`` (transform.py:dedup_vehicles), so a
    vehicle may legally hold several rows at one tst (different event
    type, or journey vs deadrun). The max_by ordering key packs the FULL
    remaining natural key, ``struct(tst, event_type, journey_type)``, so
    the pick is deterministic and both engines choose the same row.

    NULL semantics (measured, round 5): Spark's ``max_by`` is
    ROW-faithful — it returns the chosen row's value even when NULL —
    while DuckDB's ``arg_max`` skips NULL values (it would return a
    stale non-null lat from an older row). Row-faithful is the correct
    live-map semantics (a DOO event with no GPS fix is still the
    latest state); the test twin therefore derives via row_number, not
    arg_max."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW vehicles_latest AS
        SELECT unique_vehicle_id,
               max(tst) AS tst,
               max_by(event_type, struct(tst, event_type, journey_type)) AS event_type,
               max_by(route_id,   struct(tst, event_type, journey_type)) AS route_id,
               max_by(lat,        struct(tst, event_type, journey_type)) AS lat,
               max_by(long,       struct(tst, event_type, journey_type)) AS long,
               max_by(spd,        struct(tst, event_type, journey_type)) AS spd,
               max_by(odo,        struct(tst, event_type, journey_type)) AS odo
        FROM vehicles_dedup
        WHERE is_ongoing
        GROUP BY unique_vehicle_id
        """
    )


def register_gapfill_view(spark: SparkSession, count_fill: str = "zero") -> None:
    """``vehicles_hourly_gapfill`` — the chart-ready hourly rollup with no
    missing buckets, for SQL users (TimescaleDB
    ``time_bucket_gapfill('1 hour', tst) ... locf(avg(spd))`` parity;
    the DataFrame operator is operators/gapfill.py, registered here so
    ``spark.sql`` reaches it): per route, every hour between the route's
    first and last ongoing observation, event counts zero-filled, mean
    speed BOTH carried forward through gap hours (``avg_spd``, locf) and
    linearly interpolated between the surrounding observed hours
    (``avg_spd_interp`` — TimescaleDB's ``interpolate()``; round 6,
    VERDICT r5 #5 surfaced the already-tested operator policy to SQL).
    The mean is decimal-exact before the final double cast (house
    idiom) and stays UNROUNDED: the division and the interpolation are
    evaluated in the identical op order on both engines, so the raw
    doubles are bit-identical, while round() itself diverges at repr-tie
    boundaries; lazy view — nothing materializes until queried.

    ``count_fill`` (round 7, VERDICT r6 #8) selects the gap-row policy
    for ``n_events`` — any of operators/gapfill.FILL_POLICIES ('zero'
    default, the charting convention; 'null' is TimescaleDB's raw
    ``time_bucket_gapfill`` behavior without a fill function; 'locf'
    carries the last observed count)."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.gapfill import gapfill_buckets

    base = spark.table(DEDUP_VIEW).where(
        F.col("is_ongoing") & F.col("route_id").isNotNull()
    )
    bucketed = base.groupBy(
        F.col("route_id"), F.date_trunc("hour", "tst").alias("bucket")
    ).agg(
        F.count("*").alias("n_events"),
        # guarded: a bucket whose every spd is NULL yields NULL (not a
        # divide-by-zero Infinity), and locf then carries the previous
        # hour's speed straight through it
        F.when(
            F.count(F.col("spd")) > 0,
            F.sum(F.col("spd").cast("decimal(30,12)")).cast("double")
            / F.count(F.col("spd")),
        ).alias("avg_spd"),
    # same observed mean twice: one copy per fill policy (the operator
    # maps column -> policy, so exposing locf AND interpolate over the
    # same aggregate needs two input columns)
    ).withColumn("avg_spd_interp", F.col("avg_spd"))
    gapfill_buckets(
        bucketed,
        bucket_col="bucket",
        width_s=3600,
        series_cols=["route_id"],
        fill={
            "n_events": count_fill,
            "avg_spd": "locf",
            "avg_spd_interp": "interpolate",
        },
        # UNROUNDED on purpose: both engines evaluate the identical
        # pv + (nv-pv)*(t-pt)/(nt-pt) double expression, so the raw
        # values are bit-identical — while round() itself DIVERGES at
        # repr-tie boundaries (Spark rounds the shortest decimal repr
        # via BigDecimal.valueOf, DuckDB rounds the binary value;
        # measured round 6: 128.83031249999999 -> .313 vs .312)
        round_interpolated=None,
    ).createOrReplaceTempView("vehicles_hourly_gapfill")


def register_counter_view(spark: SparkSession) -> None:
    """``vehicles_odo_delta`` — TimescaleDB Toolkit ``counter_agg``/
    ``rate`` parity over the odometer: per (vehicle, oday) the distance
    actually travelled, RESET-AWARE. The odometer is a monotonically
    increasing counter that restarts near zero when the device resets;
    naive ``max(odo) - min(odo)`` under-counts across a reset. The
    counter_agg rule per consecutive pair: a non-negative step counts as
    the step, a negative step is a reset and counts the new value (the
    counter restarted from ~0).

    One lag window per (vehicle, oday) ordered by the full natural key,
    then a hash-agg; deltas sum as DECIMAL so both engines agree exactly
    (double group-sums are partial-merge order-dependent in Spark).
    NULLS FIRST is EXPLICIT on the nullable order keys: Spark's ASC
    default is nulls-first but DuckDB's is nulls-last, so an implicit
    ordering silently diverges the lag sequence the first time a NULL
    event_type lands on the same second as a non-NULL one (found by the
    round-8 sf1 sweep — the gate fixtures never sampled that tie). At
    scale this partitions by vehicle+day — high cardinality, bounded
    per-key state."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW vehicles_odo_delta AS
        WITH steps AS (
            SELECT unique_vehicle_id, oday,
                   odo - lag(odo) OVER w AS step,
                   odo
            FROM vehicles_dedup
            WHERE is_ongoing AND odo IS NOT NULL AND oday IS NOT NULL
            WINDOW w AS (PARTITION BY unique_vehicle_id, oday
                         ORDER BY tst, event_type NULLS FIRST,
                                  journey_type NULLS FIRST)
        )
        SELECT unique_vehicle_id, oday,
               count(*) AS n_obs,
               CAST(sum(CASE WHEN step IS NULL THEN CAST(0 AS DECIMAL(30,12))
                             WHEN step >= 0 THEN CAST(step AS DECIMAL(30,12))
                             ELSE CAST(odo AS DECIMAL(30,12)) END)
                    AS DOUBLE) AS odo_delta,
               sum(CASE WHEN step < 0 THEN 1 ELSE 0 END) AS n_resets
        FROM steps
        GROUP BY unique_vehicle_id, oday
        """
    )


def register_histogram_view(
    spark: SparkSession, bounds: tuple[float, float, int] = (0.0, 30.0, 15)
) -> None:
    """``vehicles_speed_histogram`` — TimescaleDB ``histogram(spd, lo,
    hi, nbuckets)`` parity: per route, the speed distribution as
    ``width_bucket`` counts assembled into one array per group
    (bucket 0 = below lo, bucket nbuckets+1 = at/above hi, exactly
    Timescale's layout). Two hash-aggs — (route, bucket) counts, then
    per-route array assembly via sorted collect of (bucket, n) structs
    densified against a static bucket spine — both partial-agg
    mergeable; the array is nbuckets+2 elements, so state per group is
    O(nbuckets) regardless of row count. ``bounds`` = (lo, hi, nbuckets)
    — exactly TimescaleDB's ``histogram()`` arguments (round 7, VERDICT
    r6 #8); the [0, 30) m/s x 15 default (2 m/s per bucket) is the
    transit speed range."""
    import math

    lo, hi, nbuckets = bounds
    lo, hi, nbuckets = float(lo), float(hi), int(nbuckets)
    # isfinite: inf > -inf passes the ordering check but {lo!r}D renders
    # as the invalid SQL literal 'infD' and fails with a confusing parse
    # error from the view DDL (ADVICE r7); NaN already fails hi > lo
    if not (math.isfinite(lo) and math.isfinite(hi) and hi > lo and nbuckets >= 1):
        raise ValueError(
            f"invalid histogram bounds {bounds!r}: need finite hi > lo, nbuckets >= 1"
        )
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY VIEW vehicles_speed_histogram AS
        WITH b AS (
            SELECT route_id,
                   CAST(width_bucket(spd, {lo!r}D, {hi!r}D, {nbuckets}) AS INT) AS bucket
            FROM vehicles_dedup
            WHERE is_ongoing AND spd IS NOT NULL AND NOT isnan(spd)
              AND route_id IS NOT NULL
        ),
        counts AS (
            SELECT route_id, bucket, count(*) AS n FROM b GROUP BY 1, 2
        ),
        dense AS (
            SELECT r.route_id, s.bucket, coalesce(c.n, 0) AS n
            FROM (SELECT DISTINCT route_id FROM counts) r
            CROSS JOIN (SELECT explode(sequence(0, {nbuckets + 1})) AS bucket) s
            LEFT JOIN counts c
              ON c.route_id = r.route_id AND c.bucket = s.bucket
        )
        SELECT route_id,
               transform(array_sort(collect_list(struct(bucket, n))),
                         x -> x.n) AS histogram,
               sum(n) AS n_obs
        FROM dense GROUP BY route_id
        """
    )


def register_otp_view(spark: SparkSession) -> None:
    """On-time performance — the punctuality metric the Transitlog family
    exists to answer ("was the 08:15 on route X on time?"), as one SQL
    view over the sink.

    Per journey (oday, route, direction, scheduled start, vehicle):
    ``start_delay_us`` = first ongoing observation minus the scheduled
    start instant. The scheduled instant is built ARITHMETICALLY —
    ``oday`` midnight plus the "HH:mm" start split into integer
    seconds — not via timestamp parsing, because the canonical TIME
    string allows single-digit hours (SURVEY §1.2) and engines disagree
    on lenient format parsing; integer math is bit-identical everywhere.
    ``punctuality`` buckets the delay with the common transit-ops
    convention: early < -60 s, on_time <= +300 s, late beyond
    (thresholds documented here, not configurable — users needing other
    bands can query start_delay_us directly).

    Same scale shape as the headway views: one partial-agg-friendly
    min() groupBy, then pure row-local expressions. Built in DataFrame
    form (the vehicles_geo pattern) so the HH:mm->seconds law lives ONLY
    in functions/timeparse.time_to_seconds — the SQL surface and the
    Column API cannot drift apart."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.functions.timeparse import time_to_seconds

    journeys = (
        spark.table(DEDUP_VIEW)
        .where(
            F.col("is_ongoing")
            & F.col("oday").isNotNull()
            & F.col("journey_start_time").isNotNull()
            & F.col("route_id").isNotNull()
        )
        .groupBy(
            "oday", "route_id", "direction_id", "journey_start_time",
            "unique_vehicle_id",
        )
        .agg(F.min("tst").alias("first_observed"))
    )
    scheduled_us = (
        F.unix_micros(F.col("oday").cast("timestamp"))
        + time_to_seconds("journey_start_time").cast("bigint") * 1_000_000
    )
    delays = journeys.withColumn(
        "start_delay_us", F.unix_micros("first_observed") - scheduled_us
    )
    delays.withColumn(
        "punctuality",
        F.when(F.col("start_delay_us") < -60_000_000, "early")
        .when(F.col("start_delay_us") <= 300_000_000, "on_time")
        .otherwise("late"),
    ).createOrReplaceTempView("vehicles_otp")


def register_time_bucket(spark: SparkSession) -> None:
    """TimescaleDB ``time_bucket(width, ts)`` parity as a pure SQL scalar
    function: floor ts to an epoch-aligned bucket of ``width_seconds``
    (TimescaleDB aligns sub-week buckets to the epoch origin; weeks'
    2000-01-03 alignment and timezone-origin variants are out of scope).
    Integer-truncating div, so pre-1970 timestamps bucket toward zero —
    documented deviation, irrelevant for telemetry data."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION time_bucket(
            width_seconds BIGINT, ts TIMESTAMP
        ) RETURNS TIMESTAMP
        RETURN timestamp_micros(
            (unix_micros(ts) div (width_seconds * 1000000))
            * width_seconds * 1000000
        )
        """
    )
