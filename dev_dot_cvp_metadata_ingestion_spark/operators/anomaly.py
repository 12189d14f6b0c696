"""Windowed count-anomaly detection over event counts — shared by the
``events_window_anomaly`` query and the persisted window-count
layout's probes.

The detector is the classic three-sigma rule on per-window event
counts, computed WITHOUT any floating point: for an event type with
``m`` windows, window-count sum ``s`` and sum of squares ``v``, the
population z-score of a window with count ``n`` satisfies

    z^2 = (m*n - s)^2 / (m*v - s^2)

so ``|z| > 3``  iff  ``(m*n - s)^2 > 9*(m*v - s^2)`` — an exact BIGINT
predicate both engines evaluate identically (no sqrt, no libm, no
float summation order). ``z2_milli`` exposes the magnitude as
``floor(1000 * z^2)`` for ranking/thresholding consumers; it is NULL
when the variance is zero (all windows equal — nothing can be
anomalous, and the flag is 0 by the same predicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def window_counts(
    events: DataFrame, ts_col: str = "ts", type_col: str = "event_type"
) -> DataFrame:
    """(window_start, event_type, n_events) per tumbling hour — one
    shuffle with map-side combine; the shared front half of batch and
    streaming anomaly detection. ``window_start`` crosses the engine
    boundary as a formatted string (repo determinism rule: never raw
    timestamps). Production monitoring serves every detector from the
    PERSISTED form of this relation instead of recomputing it per
    detector — sources/catalog.py:write_window_counts (r11: probe ≡
    in-query pinned for all seven detectors; one corpus pass total)."""
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", ts_col), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.col(type_col).alias("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def window_anomalies_from_counts(wc: DataFrame) -> DataFrame:
    """Per-window three-sigma anomaly report from a
    (window_start, event_type, n_events) count relation.

    Scale shape: the per-type moment relation is |event_types| rows —
    broadcast back onto the window counts (never a shuffle of the
    window relation, never a window function: the stats join is the
    whole detector). Everything stays BIGINT; at 100 TB the only
    growth is the window-count relation itself, which is
    |types| x |hours| — already aggregated, orders of magnitude below
    the raw events.

    Output columns: window_start, event_type, n_events, mean_milli
    (floor(1000 * per-type mean)), z2_milli (floor(1000 * z^2), NULL at
    zero variance), is_anomaly (0/1 BIGINT).
    """
    return _three_sigma(wc, ["event_type"])


def seasonal_anomalies_from_counts(wc: DataFrame) -> DataFrame:
    """Hour-of-day seasonal three-sigma anomalies: each window is
    scored against the baseline of windows sharing its (event_type,
    hour-of-day) — the deseasonalized detector. A nightly batch job
    that makes 02:00 traffic 10× the daily mean trips the global
    detector every single night; against the 02:00-only baseline it is
    ordinary, while a genuinely unusual 02:00 window still fires.

    hod is derived from the formatted window_start string
    (substring, positions 12-13) so both engines slice the identical
    bytes — no timezone-sensitive hour() extraction. The baseline key
    just widens from |types| to |types|×24 rows; the broadcast-moments
    scale shape of ``window_anomalies_from_counts`` is unchanged.

    Output: window_start, event_type, n_events, hod, mean_milli,
    z2_milli, is_anomaly (NULL z2 at zero seasonal variance)."""
    wc = wc.withColumn("hod", F.substring("window_start", 12, 2))
    return _three_sigma(wc, ["event_type", "hod"])


def _three_sigma(
    wc: DataFrame, keys: list[str], val_col: str = "n_events"
) -> DataFrame:
    """Shared exact-integer three-sigma core: group ``wc`` by ``keys``,
    broadcast the (m, s, v) moments of ``val_col`` back, and score
    every row with the all-DECIMAL z² predicate. Returns wc's columns
    (in order) + mean_milli, z2_milli, is_anomaly. Also the fence
    behind operators/similarity.py:kmeans_outliers (val_col =
    scaled centroid distance)."""
    # the count relation feeds both the moment aggregate and the final
    # join; materialize once so the tokenize/scan lineage above it runs
    # a single time (same device as operators/drift.py)
    wc = wc.localCheckpoint()
    # Squared-deviation arithmetic is lifted to exact DECIMAL(38,0)
    # (ADVICE r9): dev^2 * 1000 wraps int64 once m*n_events reaches
    # ~1e8 (a year of hourly windows at ~11k events/hour), and the
    # n_events^2 / s^2 moments wrap on their own past n ~ 3e9. One
    # cast at the aggregate propagates decimal through dev/varm; the
    # FINAL quotients (z2_milli <= 1000*m, mean_milli) stay far inside
    # int64, which is the Spark decimal-`div` exactness condition
    # (decimal div == DuckDB HUGEINT // whenever the quotient fits
    # int64; the oracle mirrors with HUGEINT casts). Headroom is now
    # bounded by DECIMAL(38,0) itself: |dev| < ~3e17.
    out_cols = list(wc.columns)
    st = wc.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(val_col).alias("s"),
        F.sum(
            F.col(val_col).cast("decimal(38,0)") * F.col(val_col)
        ).alias("v"),
    )
    j = wc.join(F.broadcast(st), keys)
    dev = F.col("m").cast("decimal(38,0)") * F.col(val_col) - F.col("s")
    varm = (
        F.col("m") * F.col("v")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    return j.select(
        *out_cols,
        F.expr("CAST(s AS DECIMAL(38,0)) * 1000 div m").alias("mean_milli"),
        (dev * dev * F.lit(1000)).alias("_num"),
        varm.alias("_varm"),
    ).select(
        *out_cols,
        "mean_milli",
        F.expr("_num div nullif(_varm, 0)").alias("z2_milli"),
        (F.col("_num") > F.lit(9000) * F.col("_varm")).cast("long").alias(
            "is_anomaly"
        ),
    )


def cusum_from_counts(
    wc: DataFrame, allow_den: int = 2, h_mean_mult: int = 5
) -> DataFrame:
    """One-sided CUSUM change-point detection per event type over a
    (window_start, event_type, n_events) count relation — the
    level-SHIFT detector that complements the three-sigma spike
    detectors: a sustained small elevation never trips a z-test but
    accumulates in S_t = max(0, S_{t-1} + (x_t - mean - allowance)).

    The recurrence's max(0, ...) floor looks iterative but is exactly
    window-expressible via the reflection identity
        S_t = P_t - min(0, min_{j<=t} P_j),   P_t = prefix sum of
    deviations — so the whole detector is a cumulative sum plus a
    running min over the bounded type-partitioned count relation (the
    same rare windowed-form-is-the-scale-answer case as the rolling
    anomaly: a partition is |hours-in-retention| rows regardless of
    event volume). Everything BIGINT milli-units: deviation
    d_t = n_t*1000 - mean_milli - allowance, allowance =
    mean_milli div ``allow_den``, alarm when S_t > ``h_mean_mult`` *
    mean_milli. Zero-mean degenerate types alarm only on any positive
    deviation sum, deterministically.

    Returns (window_start, event_type, n_events, cusum_milli,
    is_alarm), one row per input window, UNORDERED. Headroom:
    |P_t| <= m * max(n)*1000 — int64-safe to ~9e15 window-deviation
    mass; the moments join reuses the DECIMAL-lifted mean from the
    same broadcast relation shape as window_anomalies_from_counts."""
    from pyspark.sql import Window as W

    wc = wc.localCheckpoint()
    st = wc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"), F.sum("n_events").alias("s")
    )
    j = wc.join(F.broadcast(st), "event_type").select(
        "window_start",
        "event_type",
        "n_events",
        F.expr("CAST(s AS DECIMAL(38,0)) * 1000 div m").alias("mean_milli"),
    )
    dev = (
        F.col("n_events") * F.lit(1000)
        - F.col("mean_milli")
        - F.expr(f"mean_milli div {allow_den}")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p = F.sum(dev).over(w)
    return (
        j.select(
            "window_start",
            "event_type",
            "n_events",
            "mean_milli",
            p.alias("_p"),
        )
        .select(
            "window_start",
            "event_type",
            "n_events",
            "mean_milli",
            (
                F.col("_p")
                - F.least(F.lit(0).cast("long"), F.min("_p").over(w))
            ).alias("cusum_milli"),
        )
        .select(
            "window_start",
            "event_type",
            "n_events",
            "cusum_milli",
            (
                F.col("cusum_milli")
                > F.lit(h_mean_mult).cast("long") * F.col("mean_milli")
            )
            .cast("long")
            .alias("is_alarm"),
        )
    )


def mad_anomalies_from_counts(wc: DataFrame) -> DataFrame:
    """Robust (median/MAD) anomaly detection per event type over a
    (window_start, event_type, n_events) count relation — the
    outlier-resistant complement of the three-sigma detector: a single
    extreme spike inflates the mean AND the variance enough to mask
    both itself (z² caps at m-1) and everything else, while the median
    and the median-absolute-deviation barely move.

    All-integer: med = per-type lower median (the value at sorted
    position (m+1) div 2, ties broken by window_start — exactly
    quantile_disc(0.5)); a = |n - med|; mad = lower median of a; flag
    when a * 10000 > 44478 * mad (3·1.4826·MAD, the normal-consistent
    scaled-MAD fence, in tenth-milli fixed point). Degenerate mad = 0
    (over half the windows sit exactly at the median) falls back to
    flagging any a > 0 — deterministic, documented, mirrored in the
    oracle. Headroom: a ≤ max(n), a*10000 wraps only past ~9e14
    events/window — far beyond the hourly-count domain.

    Scale shape: both medians are row_number picks over the bounded
    type-partitioned count relation (|hours-in-retention| rows per
    partition regardless of event volume — the cusum argument); the
    |types|-row med/mad relations broadcast back. Returns
    (window_start, event_type, n_events, med, mad, is_anomaly),
    UNORDERED."""
    from pyspark.sql import Window as W

    wc = wc.localCheckpoint()
    m_rel = wc.groupBy("event_type").agg(F.count(F.lit(1)).alias("m"))
    j = wc.join(F.broadcast(m_rel), "event_type")
    w_n = W.partitionBy("event_type").orderBy("n_events", "window_start")
    med_rel = (
        j.withColumn("_rn", F.row_number().over(w_n))
        .filter(F.col("_rn") == F.expr("(m + 1) div 2"))
        .select("event_type", F.col("n_events").alias("med"))
    )
    a = j.join(F.broadcast(med_rel), "event_type").withColumn(
        "a", F.abs(F.col("n_events") - F.col("med"))
    )
    w_a = W.partitionBy("event_type").orderBy("a", "window_start")
    mad_rel = (
        a.withColumn("_rn", F.row_number().over(w_a))
        .filter(F.col("_rn") == F.expr("(m + 1) div 2"))
        .select("event_type", F.col("a").alias("mad"))
    )
    return a.join(F.broadcast(mad_rel), "event_type").select(
        "window_start",
        "event_type",
        "n_events",
        "med",
        "mad",
        F.when(
            F.col("mad") > 0,
            (F.col("a") * F.lit(10000) > F.lit(44478) * F.col("mad")),
        )
        .otherwise(F.col("a") > 0)
        .cast("long")
        .alias("is_anomaly"),
    )


def trend_from_counts(wc: DataFrame) -> DataFrame:
    """Per-type ordinary-least-squares trend over the hourly window
    counts: slope and intercept of n_events regressed on the window's
    per-type time index (0, 1, 2, … by window_start) — the "is error
    volume drifting up?" primitive that complements the point
    detectors (a slope is visible long before any single window trips
    a fence).

    Closed-form OLS on exact integer moments, DECIMAL(38,0)-lifted:
        slope     = (m·Σxy − Σx·Σy) / (m·Σx² − (Σx)²)
        intercept = (Σy·Σx² − Σx·Σxy) / (m·Σx² − (Σx)²)
    exposed as slope_micro / intercept_milli fixed-point quotients.
    Negative slopes are exact: Spark decimal ``div`` and DuckDB
    HUGEINT ``//`` BOTH truncate toward zero (verified -7/2 → -3 on
    both), so no sign-splitting is needed. m = 1 (or any degenerate
    zero x-variance) yields NULL via nullif. Headroom: Σx² ≤ m³ and
    the cross-products sit inside DECIMAL(38,0) to m ~ 1e9 windows.

    Scale shape: the x index is a row_number over the bounded
    type-partitioned count relation (the cusum argument); everything
    after is one |types|-row aggregate. Returns (event_type, m,
    slope_micro, intercept_milli), one row per type."""
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy("window_start")
    d = wc.withColumn("x", (F.row_number().over(w) - 1).cast("long"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    st = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("n_events").alias("sy"),
        F.sum(dec("x") * F.col("n_events")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
    )
    return st.select(
        "event_type",
        "m",
        (dec("m") * F.col("sxy") - dec("sx") * F.col("sy")).alias("_num"),
        (dec("sy") * F.col("sxx") - dec("sx") * F.col("sxy")).alias("_inum"),
        (dec("m") * F.col("sxx") - dec("sx") * F.col("sx")).alias("_den"),
    ).select(
        "event_type",
        "m",
        F.expr("CAST((_num * 1000000) div nullif(_den, 0) AS BIGINT)").alias(
            "slope_micro"
        ),
        F.expr("CAST((_inum * 1000) div nullif(_den, 0) AS BIGINT)").alias(
            "intercept_milli"
        ),
    )


def acf_from_counts(wc: DataFrame, max_lag: int = 3) -> DataFrame:
    """Autocorrelation of the per-type hourly count series at lags
    1..``max_lag`` — "does this hour predict the next?" / "is there a
    daily echo?", the series-memory diagnostic that tells a monitoring
    consumer which baseline the anomaly family should use (white noise
    → global moments; strong lag-24 → the seasonal detector).

    Exact integer throughout: with full-series m, S = Σy, V = Σy²
    (the mean ȳ = S/m never materializes), the lag-ℓ sample
    autocorrelation r_ℓ = Σ_t (y_t−ȳ)(y_{t+ℓ}−ȳ) / Σ_t (y_t−ȳ)²
    clears to the all-integer form

        r_ppm = 1e6 · (m²·P_ℓ − m·S·(A_ℓ+B_ℓ) + (m−ℓ)·S²)
                div (m · (m·V − S²))

    where P_ℓ = Σ y_t·y_{t+ℓ}, A_ℓ/B_ℓ the left/right sums over the
    m−ℓ pairs — DECIMAL(38,0)-lifted, truncating div on both engines,
    NULL at zero variance via nullif. The series index is a
    row_number over the bounded type-partitioned count relation (the
    cusum argument: |hours| rows per partition regardless of event
    volume), and gaps in the hour grid are treated as consecutive
    observations — the same regular-series assumption as
    ``seasonal_decompose_counts``.

    Scale shape: one corpus-sized window-count aggregate upstream
    (shared — see ``write_window_counts``); the lag pairing is an
    equi-join of the bounded count relation with itself on
    (type, t+ℓ), the lag dimension a broadcast ≤ max_lag rows.
    Returns (event_type, lag, m, n_pairs, r_ppm), one row per type
    and lag with at least one pair (ℓ < m)."""
    from pyspark.sql import Window as W

    spark = wc.sparkSession
    w = W.partitionBy("event_type").orderBy("window_start")
    d = wc.select(
        "event_type",
        F.col("n_events").alias("y"),
        (F.row_number().over(w) - 1).cast("long").alias("x"),
    ).localCheckpoint()
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    st = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("y").alias("s"),
        F.sum(dec("y") * F.col("y")).alias("v"),
    )
    lags = spark.range(1, max_lag + 1).select(F.col("id").alias("lag"))
    left = d.crossJoin(F.broadcast(lags))
    right = d.select(
        F.col("event_type").alias("event_type_r"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    pairs = left.join(
        right,
        (F.col("event_type") == F.col("event_type_r"))
        & (F.col("x") + F.col("lag") == F.col("x2")),
    )
    agg = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(dec("y") * F.col("y2")).alias("p"),
        F.sum("y").alias("a"),
        F.sum("y2").alias("b"),
    )
    return (
        agg.join(F.broadcast(st), "event_type")
        .select(
            "event_type",
            "lag",
            "m",
            "n_pairs",
            (
                dec("m") * F.col("m") * F.col("p")
                - dec("m") * F.col("s") * (dec("a") + F.col("b"))
                + dec("n_pairs") * F.col("s") * F.col("s")
            ).alias("_num"),
            (dec("m") * (dec("m") * F.col("v") - dec("s") * F.col("s"))).alias(
                "_den"
            ),
        )
        .select(
            "event_type",
            "lag",
            "m",
            "n_pairs",
            F.expr(
                "CAST((_num * 1000000) div nullif(_den, 0) AS BIGINT)"
            ).alias("r_ppm"),
        )
    )


def forecast_next_window(wc: DataFrame) -> DataFrame:
    """One-step-ahead forecast of each type's next hourly count — the
    capacity-planning compose of the family's two baseline models:
    OLS trend extrapolated one index past the series end plus the
    hour-of-day seasonal index (per-(type, hod) mean minus the type's
    global mean), all in exact floor-milli integers:

        forecast_milli = intercept_milli + slope_micro·m div 1000
                         + hod_mean_milli(next hod) − mean_milli

    The next window is the last window + 1 hour (timestamp arithmetic
    on the formatted string — UTC is pinned by the session, so both
    engines roll the hour identically, midnight wrap included). A next
    hod never observed in the history leaves the seasonal index NULL
    and the forecast NULL (propagated, not invented). Degenerate
    series (m = 1, zero x-variance) propagate the trend family's NULL.

    Scale shape: everything derives from the bounded count relation —
    one |types|-row moment aggregate (trend), one |types|×24 seasonal
    relation, one |types|-row as-of pick of the last window. Returns
    (event_type, next_window, m, forecast_milli)."""
    wc = wc.localCheckpoint()
    tr = trend_from_counts(wc)
    mean_expr = (
        "CAST(CAST(sum(n_events) AS DECIMAL(38,0)) * 1000 div count(*)"
        " AS BIGINT)"
    )
    glob = wc.groupBy("event_type").agg(
        F.expr(mean_expr).alias("mean_milli")
    )
    hod_means = (
        wc.withColumn("hod", F.substring("window_start", 12, 2))
        .groupBy("event_type", "hod")
        .agg(F.expr(mean_expr).alias("hod_mean_milli"))
    )
    last = wc.groupBy("event_type").agg(
        F.max("window_start").alias("last_ws")
    )
    nxt = last.select(
        "event_type",
        F.date_format(
            F.to_timestamp("last_ws") + F.expr("INTERVAL 1 HOUR"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("next_window"),
    ).withColumn("hod", F.substring("next_window", 12, 2))
    return (
        nxt.join(F.broadcast(tr), "event_type")
        .join(F.broadcast(glob), "event_type")
        .join(F.broadcast(hod_means), ["event_type", "hod"], "left")
        .select(
            "event_type",
            "next_window",
            "m",
            (
                F.col("intercept_milli")
                + F.expr(
                    "CAST(CAST(slope_micro AS DECIMAL(38,0)) * m div 1000"
                    " AS BIGINT)"
                )
                + F.col("hod_mean_milli")
                - F.col("mean_milli")
            ).alias("forecast_milli"),
        )
    )


def seasonal_decompose_counts(wc: DataFrame, period: int = 24) -> DataFrame:
    """Classical additive seasonal decomposition of the per-type hourly
    count series — count = trend + seasonal + residual — the
    "subtract the predictable parts, alert on what's left" monitoring
    primitive (the moving-average decomposition behind STL, kept to
    its exact-integer classical form).

    All milli fixed point, engine-exact: trend = centered ±period/2
    moving average (NULL until the frame is full — no half-window
    estimates at the series edges), detrended = n·1000 − trend,
    seasonal = per-(type, hour-of-day) floor mean of the non-NULL
    detrended values (negative means truncate toward zero identically
    on both engines), residual = detrended − seasonal. hod slices the
    formatted window_start string, as ``seasonal_anomalies_from_counts``
    does.

    Scale shape: one ±period/2 ROWS frame over the bounded
    type-partitioned count relation (the cusum argument), one
    |types|×period seasonal relation broadcast back. Returns
    (window_start, event_type, n_events, trend_milli, seasonal_milli,
    resid_milli), one row per window; the three parts are NULL in the
    edge windows where the trend frame is incomplete."""
    from pyspark.sql import Window as W

    half = period // 2
    frame = 2 * half + 1
    wc = wc.localCheckpoint()
    w = (
        W.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-half, half)
    )
    # trend: full-frame centered moving average in milli (floor);
    # NULL at the series edges where fewer than `frame` rows exist
    d = wc.select(
        "window_start",
        "event_type",
        "n_events",
        F.substring("window_start", 12, 2).alias("hod"),
        F.when(
            F.count(F.lit(1)).over(w) == frame,
            F.expr(
                f"(sum(n_events) OVER (PARTITION BY event_type"
                f" ORDER BY window_start"
                f" ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING))"
                f" * 1000 div {frame}"
            ),
        ).alias("trend_milli"),
    ).withColumn(
        "detrended", F.col("n_events") * F.lit(1000) - F.col("trend_milli")
    )
    seas = d.filter(F.col("detrended").isNotNull()).groupBy(
        "event_type", "hod"
    ).agg(
        F.sum("detrended").alias("sd"), F.count(F.lit(1)).alias("cd")
    ).select(
        "event_type",
        "hod",
        F.expr("sd div cd").alias("seasonal_milli"),
    )
    return d.join(F.broadcast(seas), ["event_type", "hod"], "left").select(
        "window_start",
        "event_type",
        "n_events",
        "trend_milli",
        F.when(
            F.col("trend_milli").isNotNull(), F.col("seasonal_milli")
        ).alias("seasonal_milli"),
        (F.col("detrended") - F.col("seasonal_milli")).alias("resid_milli"),
    )


def theil_sen_from_counts(wc: DataFrame) -> DataFrame:
    """Theil-Sen ROBUST trend per event type: the median of all
    pairwise slopes over the hourly count series, in exact micro
    fixed point — the MAD-vs-sigma story applied to trends. OLS
    (``trend_from_counts``) minimizes squared error, so one
    backfill/outage hour drags the fitted slope arbitrarily far;
    the pairwise-slope median has a 29.3% breakdown point — a third
    of the hours can be garbage before the trend lies.

    Exactness convention: each pair contributes the INTEGRAL slope
    ``(Δcount · 1e6) div Δx`` (the family's micro fixed point,
    truncation toward zero on both engines), and the reported value
    is the LOWER MEDIAN of those integers under a total order with
    pair-id tiebreaks — every step integer, hash-exact, no floats.

    Scale shape: the count relation is config-scale (hours × types),
    so the O(h²) pair join is bounded — 10 years of hourly buckets is
    ~88k rows/type → ~4e9 pairs ONLY if a type's full history is
    kept; the operating convention is a bounded trend window (the
    rolling detectors' device), which callers enforce by filtering
    ``wc`` before calling. Returns (event_type, n_pairs,
    slope_micro), one row per type with ≥ 2 hours, unordered."""
    from pyspark.sql.window import Window

    d = wc.select(
        "event_type",
        "n_events",
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("window_start")
            )
            - 1
        ).cast("long").alias("x"),
    ).localCheckpoint()
    a = d.select(
        "event_type",
        F.col("x").alias("x1"),
        F.col("n_events").alias("y1"),
    )
    # pinned shuffle join (r15): the planner broadcasts the count
    # relation, which funnels the O(h²) slope generation into one
    # task; the pinned join parallelizes it per type
    b = d.hint("shuffle_hash").select(
        "event_type",
        F.col("x").alias("x2"),
        F.col("n_events").alias("y2"),
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("x1") < F.col("x2"))
        .select(
            "event_type",
            "x1",
            "x2",
            F.expr("((y2 - y1) * 1000000L) div (x2 - x1)").alias(
                "slope_micro"
            ),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope_micro", "x1", "x2")
    ranked = slopes.select(
        "event_type",
        "slope_micro",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n_pairs"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n_pairs + 1) div 2")
    ).select(
        "event_type",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("slope_micro").cast("long").alias("slope_micro"),
    )
