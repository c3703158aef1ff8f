"""Time-series operators over event streams: trailing EWMA and
z-score anomaly flagging.

A true EWMA is a recursive fold over the whole history — not a window
aggregate.  The scale-honest form here is the TRUNCATED EWMA over the
trailing ``span`` rows: weights below (1-alpha)^span are dropped (for
alpha=0.3, span=20 the dropped tail carries < 0.1% of the mass), and
the state per row is a bounded collect_list over a ROWS window — no
unbounded state, no Python, and the exact same expression runs on the
DuckDB oracle (list() window aggregate + list_transform/pow).

Weighting: the frame's collect_list is ordered oldest -> newest, so
element p (1-based) of an L-element list gets weight (1-alpha)^(L-p);
the result is normalized by the weight sum (the "adjust=True" form of
pandas ewm, which is also what a fresh stream restart computes — no
dependence on pre-window history).

The hourly-grid detectors (seasonal z, robust z, CUSUM, dispersion,
trend) all read one persisted dense grid; ``detector_consensus``
composes them lazily, with no driver action at build time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def trailing_ewma(value_list: Column, alpha: float) -> Column:
    """Normalized EWMA of an array ordered oldest->newest."""
    size = F.size(value_list)
    decay = F.lit(1.0 - alpha)
    weighted = F.transform(
        value_list, lambda x, i: x * F.pow(decay, (size - 1 - i).cast("double"))
    )
    weights = F.transform(
        value_list, lambda x, i: F.pow(decay, (size - 1 - i).cast("double"))
    )
    tot = F.aggregate(weighted, F.lit(0.0), lambda a, x: a + x)
    wsum = F.aggregate(weights, F.lit(0.0), lambda a, x: a + x)
    return tot / wsum


def ewma_zscore(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    span: int = 20,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Per-key trailing EWMA + anomaly z-score.

    One shuffle (the per-key window sort); every expression is codegen
    array arithmetic.  The z-score compares each value against the
    EWMA and plain stddev of the PRECEDING ``span`` rows (excluding the
    current row, so a spike can't mask itself); rows with fewer than 3
    trailing observations are unflagged (insufficient history).
    """
    order = [ts_col, "event_id"] if "event_id" in events.columns else [ts_col]
    trail = (
        W.partitionBy(key_col).orderBy(*order).rowsBetween(-span, -1)
    )
    vals = F.collect_list(value_col).over(trail)
    n = F.size(vals)
    ewma = trailing_ewma(vals, alpha)
    mean = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x) / n
    var = F.aggregate(vals, F.lit(0.0), lambda a, x: a + (x - mean) * (x - mean)) / (n - 1)
    std = F.sqrt(var)
    z = (F.col(value_col) - ewma) / std
    return events.select(
        key_col,
        ts_col,
        value_col,
        n.cast("long").alias("n_trailing"),
        F.when(n >= 3, F.round(ewma + F.lit(1e-9), 4)).alias("ewma"),
        F.when((n >= 3) & (std > 0), F.round(z + F.lit(1e-9), 4)).alias("zscore"),
        F.when((n >= 3) & (std > 0), F.abs(z) > F.lit(z_threshold))
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


def sessionize(
    events: DataFrame,
    gap_ms: int = 1_800_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    carry: tuple[str, ...] = ("event_id", "event_type", "value"),
) -> DataFrame:
    """Shared sessionization: the lag+cumsum idiom (gap > ``gap_ms``
    starts a new session) producing one row per event with a
    ``session_id`` column — the single definition of "session" that
    session_sequences and session_affinity both build on.  Orders by
    (ts, event_id) when an event_id column exists, by ts alone
    otherwise (the ewma_zscore degradation convention)."""
    carry = tuple(c for c in carry if c in events.columns)
    order = [ts_col, "event_id"] if "event_id" in events.columns else [ts_col]
    w = W.partitionBy(user_col).orderBy(*order)
    gap = F.unix_millis(F.col(ts_col)) - F.unix_millis(F.lag(ts_col).over(w))
    flagged = events.select(
        user_col,
        ts_col,
        *carry,
        F.when(gap > gap_ms, 1)
        .when(F.lag(ts_col).over(w).isNull(), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    return flagged.select(
        user_col,
        ts_col,
        *carry,
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_id"),
    )


def session_sequences(
    events: DataFrame,
    gap_ms: int = 1_800_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Behavioral-sequence dataset construction: sessionize each user's
    event stream (gap > ``gap_ms`` starts a new session — the same
    lag+cumsum idiom as p07) and materialize one TRAINING EXAMPLE per
    session: the ordered event-type sequence, its length, duration,
    and value total.  This is the batch form of turning a clickstream
    into sequence-model training data.

    Scale shape: one per-user window pass for the boundaries
    (``sessionize``), one grouped aggregate per session; the sequence
    is assembled with an ordered in-group sort (array_sort over
    (ts, id) structs), bounded by session length — no global sort,
    no self-join."""
    sessions = sessionize(events, gap_ms, user_col, ts_col)
    seq = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(ts_col, "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
    )
    return sessions.groupBy(user_col, "session_id").agg(
        F.count("*").alias("n_events"),
        seq.alias("sequence"),
        (F.unix_millis(F.max(ts_col)) - F.unix_millis(F.min(ts_col)))
        .cast("long")
        .alias("duration_ms"),
        F.round(F.sum("value") + F.lit(1e-9), 2).alias("total_value"),
    )


def session_affinity(
    events: DataFrame,
    gap_ms: int = 1_800_000,
    min_sessions: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Within-session event-type affinity (market-basket association
    over sessions): for every unordered pair of event types, the
    number of sessions containing both, its support, and its LIFT
    (support / product of marginals — >1 means the types co-occur
    more than independence predicts).  The recommendation/affinity
    rollup next to x72's sequence construction.

    Scale shape: ONE log pass (the shared ``sessionize`` window) into
    the per-session type-set frame, which is persisted and feeds all
    three derivations — pair expansion (vocabulary-bounded, via the
    shared helper), per-type session counts (explode of the already-
    aggregated sets), and the scalar session total (broadcast).  No
    self-join of the event log and no second sessionization pass."""
    from .dedup import unordered_pairs_expr

    from ..cache import tracked_persist

    st = sessionize(events, gap_ms, user_col, ts_col, carry=("event_id", type_col))
    sess_types = tracked_persist(
        st.groupBy(user_col, "session_id")
        .agg(F.array_sort(F.collect_set(type_col)).alias("types"))
    )
    n_sessions = sess_types.agg(F.count("*").alias("n"))
    singles = (
        sess_types.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_t"))
    )
    pairs = (
        sess_types.select(
            F.explode(
                unordered_pairs_expr(
                    F.col("types"),
                    inner=lambda x, y: F.struct(
                        x.alias("type_a"), y.alias("type_b")
                    ),
                )
            ).alias("p")
        )
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_sessions)
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(sa, "type_a")
        .join(sb, "type_b")
        .crossJoin(F.broadcast(n_sessions))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n") + F.lit(1e-9), 4).alias("support"),
            F.round(
                F.col("n_ab") * F.col("n") / (F.col("n_a") * F.col("n_b"))
                + F.lit(1e-9),
                4,
            ).alias("lift"),
        )
    )


def sparse_hourly_counts(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """The ONE event-log pass under every hourly analytic here: counts
    per (hour, type) — columns (h, t, cnt).  Output cardinality is
    hours x active types, tiny regardless of event volume."""
    return events.groupBy(
        F.date_trunc("hour", ts_col).alias("h"), F.col(type_col).alias("t")
    ).agg(F.count("*").alias("cnt"))


def densify_hourly(sparse: DataFrame) -> DataFrame:
    """Zero-fill a sparse (h, t, cnt) frame over the DENSE hour grid
    spanning the observed range: hours with no events appear with
    cnt=0 instead of being absent.  Zero hours are exactly what outage
    detection and honest cross-correlation need — a sparse
    (only-active-hours) series silently hides complete outages and
    biases Pearson toward co-active hours.

    BOTH the input and the result are persisted via ``tracked_persist``
    (release with ``cache.unpersist_tracked``): the sparse frame feeds
    three derivations here (bounds, type vocabulary, left join) and
    the dense result is multi-consumed by every caller (both sides of
    the xcorr lag join; the slot baseline and the scoring join of the
    seasonal detector) — without the persist, each consumer re-derives
    the FULL event-log scan + groupBy, which at 100 TB is the entire
    query cost paid 4-5x.  Cached state is hours x types — KBs."""
    from ..cache import tracked_persist

    sparse = tracked_persist(sparse)
    bounds = sparse.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        bounds.select(
            F.explode(
                F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
            ).alias("h")
        )
        .crossJoin(sparse.select("t").distinct())
    )
    return tracked_persist(
        grid.join(sparse, ["h", "t"], "left").select(
            "h", "t", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt")
        )
    )


def dense_hourly_counts(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Hourly counts per type over the DENSE hour grid (see
    ``densify_hourly``): one log pass into the persisted sparse frame,
    then grid assembly over the tiny aggregate only."""
    return densify_hourly(sparse_hourly_counts(events, ts_col, type_col))


def resample_ffill(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    round_to: int = 2,
    max_grid_hours: int | None = None,
) -> DataFrame:
    """Per-key hourly resample with gap fill: a dense per-key hourly
    grid (sequence + explode — no driver loop) left-joined to the
    actual hourly aggregate, missing buckets forward-filled with an
    IGNORE-NULLS running last.  The grid generation is a projection of
    the per-key bounds aggregate, so the whole plan is two shuffles
    (bounds agg + the grid-to-hourly join on well-spread keys).

    SCALE NOTE — the grid has TWO growth axes (VERDICT r10 item 3):
    grid rows = keys x per-key span-hours.  The scale record's
    amplifier grows KEYS at fixed span, and the query is near-linear
    there because its cost is OUTPUT-proportional (the grid itself is
    the output, 10x keys -> 10x rows materialized).  But a corpus
    with 10x the TIME SPAN grows the grid 10x with ZERO new input
    rows — a cost cliff invisible to input-size accounting (measured
    in SPAN_PROBE.json: span-stretched events, identical row count).
    ``max_grid_hours`` is the loud cap for that axis — the dedup
    family's ``max_block_size`` discipline applied to grid
    generation: when set, each key's grid is clamped to its FIRST
    ``max_grid_hours`` hours and the output gains a per-key
    ``grid_truncated`` provenance flag; when unset (default) the
    schema and results are the uncapped exact form — truncation is
    explicit opt-in, never silent."""
    if max_grid_hours is not None and int(max_grid_hours) < 1:
        # fail at call time: 0 would build "INTERVAL -1 HOURS", making
        # t1 < t0, and F.sequence's positive step then dies mid-job
        # with an opaque executor error (ADVICE r11)
        raise ValueError("max_grid_hours must be >= 1")
    bounds = events.groupBy(key_col).agg(
        F.date_trunc("hour", F.min(ts_col)).alias("t0"),
        F.date_trunc("hour", F.max(ts_col)).alias("t1"),
    )
    passthrough = [key_col]
    if max_grid_hours is not None:
        cap_end = F.col("t0") + F.expr(
            f"INTERVAL {int(max_grid_hours) - 1} HOURS"
        )
        bounds = bounds.select(
            key_col,
            "t0",
            F.least("t1", cap_end).alias("t1"),
            (F.col("t1") > cap_end).alias("grid_truncated"),
        )
        passthrough.append("grid_truncated")
    grid = bounds.select(
        *passthrough,
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    hourly = events.groupBy(
        key_col, F.date_trunc("hour", ts_col).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum(value_col) + F.lit(1e-9), round_to).alias("sum_value"),
    )
    w = (
        W.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return grid.join(hourly, [key_col, "bucket"], "left").select(
        *passthrough,
        "bucket",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_ffill"),
    )


def leadlag_xcorr(
    events: DataFrame,
    max_lag_hours: int = 3,
    min_hours: int = 10,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Lead-lag cross-correlation between event-type time series:
    DENSE hourly counts per type (quiet hours are zeros, not gaps),
    then Pearson correlation of every type pair at every lag in
    [-max_lag, +max_lag] hours — a positive peak at lag L means
    type_a's activity leads type_b's by L hours.  Computing over the
    zero-filled grid matters: an inner join of sparse series would
    correlate only co-active hours, reporting a strong true
    anti-correlation (B quiet when A busy) as absent.

    Scale shape: ONE pass over the event log to the tiny hours x
    types grid; every join/corr after that runs on the aggregated
    series only."""
    hourly = dense_hourly_counts(events, ts_col, type_col)
    lags = F.explode(
        F.sequence(F.lit(-max_lag_hours), F.lit(max_lag_hours))
    ).alias("lag_hours")
    a = hourly.select(
        F.col("t").alias("type_a"), F.col("h").alias("ha"), F.col("cnt").alias("ca")
    ).crossJoin(F.broadcast(events.sparkSession.range(1).select(lags)))
    b = hourly.select(
        F.col("t").alias("type_b"), F.col("h").alias("hb"), F.col("cnt").alias("cb")
    )
    joined = a.join(
        b,
        (F.col("hb") == F.col("ha") + F.make_interval(hours=F.col("lag_hours")))
        & (F.col("type_a") < F.col("type_b")),
    )
    return (
        joined.groupBy("type_a", "type_b", "lag_hours")
        .agg(F.count("*").alias("n_hours"), F.corr("ca", "cb").alias("xc"))
        .filter((F.col("n_hours") >= min_hours) & F.col("xc").isNotNull())
        .select(
            "type_a",
            "type_b",
            "lag_hours",
            "n_hours",
            F.round(F.col("xc") + F.lit(1e-9), 4).alias("xcorr"),
        )
    )


def seasonal_anomalies(
    events: DataFrame,
    z_threshold: float = 2.0,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Seasonality-aware anomaly detection over the DENSE hourly grid:
    every hour — including zero-count OUTAGE hours, the most extreme
    anomaly a sparse series silently hides — is judged against its
    own hour-of-day slot with a LEAVE-ONE-OUT baseline (mean/stddev
    of the OTHER observations in the slot), so a spike cannot mask
    itself by inflating the very baseline it is scored against (the
    same exclusion principle as ewma_zscore's lagged window; with
    self-inclusion a slot of n observations mathematically caps |z|
    at (n-1)/sqrt(n) and small slots can never fire).

    The slot sums are exact integers (counts), so the derived
    mean/variance doubles are bit-identical in Spark and the DuckDB
    oracle.  One log pass; everything else runs on the 24 x |types|
    baseline and the tiny grid."""
    return seasonal_scores_from_dense(
        dense_hourly_counts(events, ts_col, type_col), z_threshold
    )


def seasonal_scores_from_dense(
    dense: DataFrame, z_threshold: float = 2.0
) -> DataFrame:
    """Scoring tail of ``seasonal_anomalies``, factored out so the
    STREAMING view (an incrementally-maintained sparse hourly rollup,
    densified at read time) scores through the identical plan as the
    batch operator — the merged-view-equals-batch guarantee is then a
    structural property, not a reimplementation kept in sync by hand.
    Input: a dense zero-filled (h, t, cnt) frame (multi-consumed here:
    slot baseline + scoring join — callers persist it;
    ``densify_hourly`` already does)."""
    joined, mu_loo, z = _seasonal_z_parts(dense)
    return joined.filter(
        (F.col("n") >= 3) & z.isNotNull() & (F.abs(z) > z_threshold)
    ).select(
        F.col("t").alias("event_type"),
        F.col("h").alias("hour"),
        "cnt",
        F.round(mu_loo + F.lit(1e-9), 4).alias("seasonal_mean"),
        F.round(z + F.lit(1e-9), 4).alias("z_score"),
    )


def _seasonal_z_parts(dense: DataFrame):
    """Unfiltered leave-one-out seasonal scoring core shared by the
    anomaly report (which keeps only |z| > threshold) and the detector
    consensus (which needs EVERY hour's z).  Returns the joined frame
    plus the mu/z column expressions to evaluate against it."""
    hourly = dense.withColumn("hod", F.hour("h"))
    slot = hourly.groupBy("t", "hod").agg(
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
        F.count("*").alias("n"),
    )
    x = F.col("cnt").cast("double")
    mu_loo = (F.col("s1") - x) / (F.col("n") - 1)
    var_loo = (
        F.col("s2") - x * x - (F.col("s1") - x) * (F.col("s1") - x) / (F.col("n") - 1)
    ) / (F.col("n") - 2)
    # a CONSTANT baseline (var_loo == 0) with any deviation is the
    # clearest possible anomaly (infinite z) — report it with the
    # +/-9999 sentinel instead of dividing by zero or dropping it
    z = F.when(
        var_loo > 0, (x - mu_loo) / F.sqrt(var_loo)
    ).otherwise(F.when(x > mu_loo, F.lit(9999.0)).when(x < mu_loo, F.lit(-9999.0)))
    return hourly.join(slot, ["t", "hod"]), mu_loo, z


def touch_attribution(
    events: DataFrame,
    conv_type: str = "purchase",
    touch_types: tuple = ("click", "view"),
    window_ms: int = 86_400_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """First-/last-touch conversion attribution: for every conversion
    event, which touchpoint type opened the journey and which closed
    it within the attribution window — the channel-credit report
    behind marketing and funnel-debugging decisions.

    Single-pass design: touches encode as ms*10 + type_code (codes
    follow ``touch_types`` order, so a same-millisecond tie breaks to
    the earlier-listed type for first touch and the later-listed for
    last touch — deterministic on both engines); one user-keyed RANGE
    window [-window_ms, -1ms] computes min/max code per event, and
    only conversion rows keep them.  No self-join of the event log —
    the classic per-conversion correlated lookup is a window frame.
    Revenue sums quantize to cents BIGINTs and gap means to exact ms
    sums (order-independent).

    Output per (first_touch, last_touch) pair — 'none' when no touch
    preceded: n_conversions, total_value, mean_gap_sec (conversion
    minus LAST touch)."""
    from pyspark.sql import Window as W

    ms = F.unix_millis(F.col(ts_col))
    e = events.select(
        F.col(user_col).alias("u"),
        ms.alias("ms"),
        F.col(type_col).alias("et"),
        F.col(value_col).alias("val"),
    ).withColumn(
        "touch_code",
        F.when(
            F.col("et").isin(*touch_types),
            F.col("ms") * 10
            + F.array_position(F.array(*[F.lit(t) for t in touch_types]), F.col("et")),
        ),
    )
    w = W.partitionBy("u").orderBy("ms").rangeBetween(-window_ms, -1)
    conv = (
        e.withColumn("fc", F.min("touch_code").over(w))
        .withColumn("lc", F.max("touch_code").over(w))
        .filter(F.col("et") == conv_type)
    )

    def decode(c):
        out = F.lit("none")
        for i, t in enumerate(touch_types, start=1):
            out = F.when(c % 10 == i, F.lit(t)).otherwise(out)
        return F.when(c.isNull(), F.lit("none")).otherwise(out)

    per_conv = conv.select(
        decode(F.col("fc")).alias("first_touch"),
        decode(F.col("lc")).alias("last_touch"),
        (F.col("val") * 100).cast("long").alias("cents"),
        F.when(
            F.col("lc").isNotNull(),
            F.col("ms") - F.floor(F.col("lc") / 10).cast("long"),
        ).alias("gap_ms"),
    )
    return per_conv.groupBy("first_touch", "last_touch").agg(
        F.count("*").alias("n_conversions"),
        (
            F.round(F.sum("cents") / F.lit(100.0) + F.lit(1e-9), 2) + F.lit(0.0)
        ).alias("total_value"),
        (
            F.round(
                F.sum("gap_ms") / F.lit(1000.0) / F.count("gap_ms") + F.lit(1e-9), 2
            )
            + F.lit(0.0)
        ).alias("mean_gap_sec"),
    )


def cusum_changepoints(
    events: DataFrame,
    slack: float = 0.5,
    threshold: float = 5.0,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Two-sided CUSUM level-shift detection per event type over the
    DENSE hourly grid (zero-filled outage hours included — a rate that
    silently drops to zero is exactly the shift CUSUM must see).

    The textbook recursion S+_i = max(0, S+_{i-1} + y_i - k) is NOT a
    window aggregate — but it rewrites exactly to one: with
    a_i = y_i - k and prefix sums P_i = sum(a_1..a_i),
    S+_i = P_i - min(0, min_{j<=i} P_j).  Both the prefix sum and the
    prefix min are plain ROWS UNBOUNDED PRECEDING windows, so the
    whole detector is codegen — no recursion, no Python, and the
    identical rewrite runs on the DuckDB oracle.

    Float discipline: the per-type mean/sigma derive from exact
    integer (n, sum, sum-of-squares) aggregates, and the standardized
    residuals are trunc-quantized to BIGINT micro-units BEFORE the
    cumulative sums, so every running statistic is exact integer
    arithmetic in both engines (same discipline as srm_check).

    Scale shape: ONE event-log pass (the sparse hourly aggregate
    inside dense_hourly_counts); all windows run on the tiny
    hours x types grid.  Types with a constant series (sigma == 0)
    are excluded — there is no scale to standardize against.
    """
    return cusum_scores_from_dense(
        dense_hourly_counts(events, ts_col, type_col), slack, threshold
    )


def cusum_scores_from_dense(
    dense: DataFrame, slack: float = 0.5, threshold: float = 5.0
) -> DataFrame:
    """Scoring tail of ``cusum_changepoints``, factored out (like
    ``seasonal_scores_from_dense``) so the STREAMING view over the
    incrementally-maintained hourly rollup scores through the
    IDENTICAL plan as the batch operator.  Input: a dense zero-filled
    (h, t, cnt) frame; callers persist it (``densify_hourly`` does) —
    it feeds both the per-type stats and the scoring join."""
    stats = dense.groupBy("t").agg(
        F.count("*").alias("n"),
        F.sum("cnt").cast("long").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("s2"),
    )
    n = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    mu = s1d / n
    var = (F.col("s2").cast("double") - s1d * s1d / n) / (n - F.lit(1.0))
    scored = dense.join(F.broadcast(stats), "t").filter(
        (F.col("n") >= 3) & (var > 0)
    )
    y = (F.col("cnt").cast("double") - mu) / F.sqrt(var)
    q = F.lit(1000000.0)
    scored = scored.select(
        "t",
        "h",
        "cnt",
        ((y - F.lit(slack)) * q).cast("long").alias("aq"),
        ((-y - F.lit(slack)) * q).cast("long").alias("bq"),
    )
    run = W.partitionBy("t").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    prefixed = scored.select(
        "t",
        "h",
        "cnt",
        F.sum("aq").over(run).alias("pp"),
        F.sum("bq").over(run).alias("pn"),
    )
    sp = F.col("pp") - F.least(F.min("pp").over(run), F.lit(0).cast("long"))
    sn = F.col("pn") - F.least(F.min("pn").over(run), F.lit(0).cast("long"))
    thr = int(threshold * 1000000)
    return prefixed.select(
        F.col("t").alias("event_type"),
        F.col("h").alias("hour"),
        "cnt",
        (F.round(sp / q + F.lit(1e-9), 4) + F.lit(0.0)).alias("cusum_up"),
        (F.round(sn / q + F.lit(1e-9), 4) + F.lit(0.0)).alias("cusum_down"),
        (sp > F.lit(thr)).alias("shift_up"),
        (sn > F.lit(thr)).alias("shift_down"),
    )


def _median2_by_type(dense: DataFrame, value_col: str) -> DataFrame:
    """2x the exact per-type median of an integer column, computed
    WITHOUT sorting the data: a (t, value) count histogram gets
    cumulative counts via a window over the HISTOGRAM only, and the
    two middle order statistics are min-over-threshold aggregates.
    Returns (t, med2) with med2 = lower-middle + upper-middle — an
    exact integer, so downstream arithmetic never touches a .5."""
    hist = dense.groupBy("t", F.col(value_col).alias("v")).agg(
        F.count("*").alias("k")
    )
    wc = W.partitionBy("t").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.select("t", "v", "k", F.sum("k").over(wc).alias("c"))
    tot = hist.groupBy("t").agg(F.sum("k").cast("long").alias("n"))
    j = cum.join(F.broadcast(tot), "t")
    lo_k = F.expr("(n + 1) div 2")
    hi_k = F.expr("n div 2 + 1")
    return j.groupBy("t").agg(
        (
            F.min(F.when(F.col("c") >= lo_k, F.col("v")))
            + F.min(F.when(F.col("c") >= hi_k, F.col("v")))
        ).alias("med2")
    )


def robust_outliers(
    events: DataFrame,
    z_threshold: float = 3.5,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Robust outlier detection on the dense hourly grid: each hour's
    count scored against its type's MEDIAN and MAD (median absolute
    deviation) — the estimator family that keeps working when the
    series itself is contaminated by the outliers being hunted (a few
    spike hours shift a mean/stddev baseline but not the median).
    z = (x - med) / (1.4826 * MAD), the normal-consistent scaling.

    Both medians are exact, computed from count HISTOGRAMS with
    cumulative counts — never a corpus sort (same rewrite family as
    quantile_normalized_selection); deviations are doubled so every
    median is an exact integer (med2 = lo+hi), and the final ratio
    composes identically on the DuckDB oracle's native median().
    A zero MAD (over half the hours at the median) degrades to the
    same +/-9999 sentinel convention as seasonal_anomalies."""
    return robust_scores_from_dense(
        dense_hourly_counts(events, ts_col, type_col), z_threshold
    )


def robust_scores_from_dense(
    dense: DataFrame, z_threshold: float = 3.5
) -> DataFrame:
    """Scoring tail of ``robust_outliers``, factored out (like the
    seasonal/CUSUM splits) so the STREAMING view over the hourly
    rollup scores through the IDENTICAL plan as the batch operator."""
    med = _median2_by_type(dense, "cnt")
    devs = dense.join(F.broadcast(med), "t").select(
        "t",
        "h",
        "cnt",
        "med2",
        F.abs(F.lit(2) * F.col("cnt") - F.col("med2")).cast("long").alias("d2"),
    )
    mad = _median2_by_type(
        devs.select("t", F.col("d2").alias("cnt")), "cnt"
    ).select("t", (F.col("med2") / F.lit(2.0)).alias("md2"))
    s = (F.lit(2) * F.col("cnt") - F.col("med2")).cast("double")
    z = (
        F.when(F.col("md2") > 0, s / (F.lit(1.4826) * F.col("md2")))
        .when(s > 0, F.lit(9999.0))
        .when(s < 0, F.lit(-9999.0))
        .otherwise(F.lit(0.0))
    )
    return devs.join(F.broadcast(mad), "t").select(
        F.col("t").alias("event_type"),
        F.col("h").alias("hour"),
        "cnt",
        (F.col("med2") / F.lit(2.0)).alias("median_cnt"),
        (F.round(z + F.lit(1e-9), 4) + F.lit(0.0)).alias("robust_z"),
        (F.abs(z) > F.lit(z_threshold)).alias("is_outlier"),
    )


def km_survival(
    events: DataFrame,
    start_type: str = "view",
    event_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-event: days from each
    user's first ``start_type`` to their first subsequent
    ``event_type``, right-CENSORED at the observation end for users
    who never convert — the estimator that uses censored users
    correctly (they count in the risk set up to their censor time)
    instead of dropping them (biased fast) or treating them as
    converted-at-end (biased slow).

    S(d) = prod over event days e <= d of (n_e - d_e)/n_e, with n_e =
    users still at risk entering day e and d_e = conversions on day e.

    Scale shape: one log pass into per-user (duration, converted)
    rows; the curve itself runs on the DURATION HISTOGRAM (bounded by
    distinct day counts) — risk sets from cumulative counts, never a
    data sort.  The product is exp of a prefix sum of per-day
    log-factors trunc-quantized to BIGINT nano-units, so the running
    statistic is exact integer arithmetic; only the per-day ln/exp
    calls touch floats (the same trust boundary as x32's logprob).
    """
    ev = events.select(
        F.col(user_col).alias("u"), F.col(ts_col).alias("t"), F.col(type_col).alias("et")
    )
    firsts = ev.filter(F.col("et") == start_type).groupBy("u").agg(
        F.min("t").alias("t0")
    )
    conv = (
        ev.filter(F.col("et") == event_type)
        .join(firsts, "u")
        .filter(F.col("t") >= F.col("t0"))
        .groupBy("u")
        .agg(F.min("t").alias("tp"))
    )
    horizon = ev.agg(F.max("t").alias("tmax"))
    per_user = (
        firsts.join(conv, "u", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(F.coalesce("tp", "tmax"), F.col("t0")).alias("dur"),
            F.col("tp").isNotNull().cast("long").alias("converted"),
        )
    )
    hist = per_user.groupBy("dur").agg(
        F.sum("converted").cast("long").alias("d_e"),
        F.count("*").cast("long").alias("c_all"),
    )
    wcum = W.orderBy("dur").rowsBetween(W.unboundedPreceding, 0)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    staged = hist.select(
        "dur",
        "d_e",
        (
            F.sum("c_all").over(wall) - (F.sum("c_all").over(wcum) - F.col("c_all"))
        ).alias("n_risk"),
    )
    # a day where EVERYONE remaining converts has factor 0: encode it
    # as a -1e18 sentinel so the prefix sum drives exp() to exactly
    # 0.0 in both engines (ln(0) is null in Spark, an ERROR in DuckDB)
    lt = (
        F.when(
            (F.col("d_e") > 0) & (F.col("n_risk") > F.col("d_e")),
            (
                F.log(
                    (F.col("n_risk") - F.col("d_e")).cast("double")
                    / F.col("n_risk").cast("double")
                )
                * F.lit(1000000000.0)
            ).cast("long"),
        )
        .when(F.col("d_e") > 0, F.lit(-1000000000000000000))
        .otherwise(F.lit(0).cast("long"))
    )
    curve = staged.select(
        "dur", "d_e", "n_risk", F.sum(lt).over(wcum).alias("lsum")
    )
    return curve.filter(F.col("d_e") > 0).select(
        F.col("dur").alias("duration_days"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d_e").alias("n_events"),
        (
            F.round(
                F.exp(F.col("lsum") / F.lit(1000000000.0)) + F.lit(1e-9), 6
            )
            + F.lit(0.0)
        ).alias("survival"),
    )


def dispersion_scores_from_dense(
    dense: DataFrame, threshold: float = 1.5
) -> DataFrame:
    """Fano factor (variance-to-mean dispersion index) per event type
    over a dense (h, t, cnt) grid: a Poisson-like arrival process has
    F ~ 1; F >> 1 means bursty/clumped traffic (retry storms, batch
    jobs, thundering herds) and F << 1 means over-regular (throttled
    or synthetic) — the single-number burstiness screen run before
    trusting per-hour capacity planning.  Population moments from
    exact BIGINT sums over the tiny grid (never the event log); the
    zero-filled grid matters — sparse series hide the quiet hours
    that make bursts bursts.  All-quiet types report NULL."""
    per = dense.groupBy("t").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("cnt").cast("long").alias("total_events"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sum_sq"),
    )
    nd = F.col("n_hours").cast("double")
    mean = F.col("total_events").cast("double") / nd
    var = F.col("sum_sq").cast("double") / nd - mean * mean
    fano = var / mean
    return per.select(
        F.col("t").alias("event_type"),
        "n_hours",
        "total_events",
        (F.round(mean + F.lit(1e-9), 6) + F.lit(0.0)).alias("mean_per_hour"),
        F.when(
            F.col("total_events") > 0,
            F.round(fano + F.lit(1e-9), 6) + F.lit(0.0),
        ).alias("fano"),
        F.when(F.col("total_events") > 0, fano > F.lit(threshold)).alias(
            "overdispersed"
        ),
    )


def dispersion_index(
    events: DataFrame,
    threshold: float = 1.5,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Burstiness (Fano factor) per event type on the dense hourly
    grid — see ``dispersion_scores_from_dense``."""
    return dispersion_scores_from_dense(
        dense_hourly_counts(events, ts_col, type_col), threshold
    )


def mann_kendall_from_dense(dense: DataFrame, z_crit: float = 1.96) -> DataFrame:
    """Mann-Kendall monotonic-trend test + Sen's slope per event type
    over a dense (h, t, cnt) grid — the distribution-free 'is this
    series drifting?' screen that complements the point detectors
    (seasonal z / CUSUM / robust outliers / dispersion): it answers
    about the WHOLE series, is immune to outliers (rank-based), and
    Sen's slope gives a robust events-per-hour drift rate.

    S = sum over hour pairs i<j of sgn(cnt_j - cnt_i); Var(S) carries
    the standard tie correction; z applies the +-1 continuity
    correction.  Sen's slope is the MEDIAN of all pairwise slopes
    (cnt_j - cnt_i)/(hours between) — exact interpolated median, the
    same quantile semantics as q31.

    Scale shape: the pair self-join is over the AGGREGATED grid only —
    cost is C(n_hours, 2) per type, bounded by the time window, never
    by event volume (a year grid is ~38M pairs/type; cap the window or
    sample hours for multi-year spans).  S and the tie correction are
    exact BIGINT sums; pairwise slopes are exact-int divisions, so the
    doubles entering the median are bit-identical across engines."""
    dense = dense.withColumn("hs", F.unix_timestamp("h").cast("long"))
    a = dense.select(
        F.col("t"), F.col("hs").alias("ha"), F.col("cnt").alias("ca")
    )
    b = dense.select(
        F.col("t"), F.col("hs").alias("hb"), F.col("cnt").alias("cb")
    )
    pairs = a.join(b, "t").where(F.col("ha") < F.col("hb"))
    diff = F.col("cb") - F.col("ca")
    slope = diff.cast("double") / (
        (F.col("hb") - F.col("ha")).cast("double") / F.lit(3600.0)
    )
    per = pairs.groupBy("t").agg(
        F.sum(F.signum(diff.cast("double")).cast("long")).cast("long").alias("s_stat"),
        F.percentile(slope, 0.5).alias("sen_raw"),
    )
    n = dense.groupBy("t").agg(F.count("*").cast("long").alias("n_hours"))
    # tie correction: sum over distinct cnt values of t_k(t_k-1)(2t_k+5)
    tk = F.col("tk")
    ties = (
        dense.groupBy("t", "cnt")
        .agg(F.count("*").cast("long").alias("tk"))
        .groupBy("t")
        .agg(
            F.sum(tk * (tk - 1) * (2 * tk + 5)).cast("long").alias("tie_corr")
        )
    )
    j = per.join(n, "t").join(ties, "t")
    nn = F.col("n_hours")
    var_s = (
        (nn * (nn - 1) * (2 * nn + 5) - F.col("tie_corr")).cast("double")
        / F.lit(18.0)
    )
    s = F.col("s_stat").cast("double")
    z = (
        F.when(F.col("s_stat") > 0, (s - 1) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (s + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        F.col("t").alias("event_type"),
        "n_hours",
        "s_stat",
        (F.round(var_s + F.lit(1e-9), 4) + F.lit(0.0)).alias("var_s"),
        F.when(
            var_s > 0, F.round(z + F.lit(1e-9), 4) + F.lit(0.0)
        ).alias("z"),
        F.when(var_s <= 0, F.lit("flat"))
        .when(z > F.lit(z_crit), F.lit("increasing"))
        .when(z < F.lit(-z_crit), F.lit("decreasing"))
        .otherwise(F.lit("no trend"))
        .alias("trend"),
        (F.round(F.col("sen_raw") + F.lit(1e-9), 6) + F.lit(0.0)).alias("sen_slope"),
    )


def mann_kendall_trend(
    events: DataFrame,
    z_crit: float = 1.96,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Mann-Kendall trend + Sen's slope per event type on the dense
    hourly grid — the fifth detector on the ONE shared rollup (see
    ``mann_kendall_from_dense``): the event log is read once into the
    persisted sparse frame; everything else runs on hours x types."""
    return mann_kendall_from_dense(
        dense_hourly_counts(events, ts_col, type_col), z_crit
    )


def event_transitions(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: P(next event type | current event type), plus the row
    entropy in bits — the 'how predictable is the next step' number
    that powers next-action recommendation baselines and detects
    degenerate bot loops (near-zero entropy rows).

    One per-key window (lag) over the event log -> transition pair
    counts (k^2 rows, k = |event types|) -> row-normalized
    probabilities.  The k^2 cell frame is PERSISTED — it feeds the
    margins, the entropy fold, and the output; without the persist
    every consumer re-runs the full log window pass.  Entropy terms
    are trunc-quantized to pico-units per (prev, next) cell BEFORE
    the per-row sum, so the k-way double sum is order-independent
    across engines."""
    from ..cache import tracked_persist

    order = [ts_col, "event_id"] if "event_id" in events.columns else [ts_col]
    w = W.partitionBy(key_col).orderBy(*order)
    trans = tracked_persist(
        events.select(
            F.col(type_col).alias("next_type"),
            F.lag(type_col).over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").cast("long").alias("n_trans"))
    )
    tot = trans.groupBy("prev_type").agg(
        F.sum("n_trans").cast("long").alias("n_from")
    )
    p = F.col("n_trans").cast("double") / F.col("n_from").cast("double")
    cells = trans.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n_trans",
        "n_from",
        (-p * F.log2(p) * F.lit(1e12)).cast("long").alias("hq"),
    )
    ent = cells.groupBy("prev_type").agg(
        F.sum("hq").cast("long").alias("hq_sum")
    )
    return cells.join(F.broadcast(ent), "prev_type").select(
        "prev_type",
        "next_type",
        "n_trans",
        (
            F.round(
                F.col("n_trans").cast("double") / F.col("n_from").cast("double")
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("prob"),
        (
            F.round(F.col("hq_sum").cast("double") / F.lit(1e12) + F.lit(1e-9), 6)
            + F.lit(0.0)
        ).alias("row_entropy_bits"),
    )


def acf_from_dense(
    dense: DataFrame, max_lag_hours: int = 24, min_hours: int = 10
) -> DataFrame:
    """Autocorrelation function per event type over a dense (h, t,
    cnt) grid: Pearson correlation of the series with itself at lags
    1..max_lag — the 'what periodicity does this stream actually
    have?' diagnostic (a daily cycle shows as an ACF peak at 24) that
    tells the seasonal detector whether its hour-of-day slots are the
    right season length.  x84's machinery pointed at a single type:
    the lag join runs over the AGGREGATED grid only, and the
    zero-filled grid matters for the same reason (sparse series
    overstate correlation by skipping quiet hours).

    The Pearson r composes from exact BIGINT moment SUMS (counts are
    integers; sum(ca*cb) <= n_hours * maxcnt^2 stays under BIGINT
    through ~1e7 events/hour on multi-year grids); the n*sxx and
    sx*sx PRODUCTS are formed in DECIMAL(38,0) — on a multi-year grid
    sx^2 ~ (26k hours * rate)^2 exceeds int64 at only ~1e5
    events/hour (silent wrap, or ANSI throw), while naive double
    products lose r to catastrophic cancellation (n*sxx and sx^2
    agree to ~12 digits; their ~1e6-sized difference inherits the
    ~4e3 ulp error of 1e19-scale doubles — measured 0.3% ACF error).
    Decimal keeps the cancellation EXACT through ~1e9 events/hour on
    century-long grids, and only the final ratio drops to double.  An
    explicit zero-variance guard makes a constant overlapping window
    report no row instead of an ANSI divide-by-zero inside corr()."""
    spark = dense.sparkSession
    lags = F.explode(F.sequence(F.lit(1), F.lit(max_lag_hours))).alias("lag_hours")
    a = dense.select(
        F.col("t"), F.col("h").alias("ha"), F.col("cnt").alias("ca")
    ).crossJoin(F.broadcast(spark.range(1).select(lags)))
    b = dense.select(F.col("t"), F.col("h").alias("hb"), F.col("cnt").alias("cb"))
    joined = a.join(
        b,
        ["t"],
    ).where(F.col("hb") == F.col("ha") + F.make_interval(hours=F.col("lag_hours")))
    per = joined.groupBy("t", "lag_hours").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("ca").cast("long").alias("sx"),
        F.sum("cb").cast("long").alias("sy"),
        F.sum(F.col("ca") * F.col("ca")).cast("long").alias("sxx"),
        F.sum(F.col("cb") * F.col("cb")).cast("long").alias("syy"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("sxy"),
    )
    n = F.col("n_hours")
    # products in DECIMAL(38,0): exact where int64 wraps (~1e5
    # events/hour) and double cancels (0.3% measured ACF error); the
    # n*s and s*s products stay under 38 digits through ~1e9
    # events/hour on century-long grids
    dec = "decimal(38,0)"
    nd = n.cast(dec)
    sx, sy = F.col("sx").cast(dec), F.col("sy").cast(dec)
    sxx, syy = F.col("sxx").cast(dec), F.col("syy").cast(dec)
    sxy = F.col("sxy").cast(dec)
    den_x = (nd * sxx - sx * sx).cast("double")
    den_y = (nd * syy - sy * sy).cast("double")
    r = (nd * sxy - sx * sy).cast("double") / F.sqrt(den_x * den_y)
    return (
        per.filter((n >= min_hours) & (den_x > 0) & (den_y > 0))
        .select(
            F.col("t").alias("event_type"),
            F.col("lag_hours").cast("long").alias("lag_hours"),
            "n_hours",
            F.round(r + F.lit(1e-9), 4).alias("acf"),
        )
    )


def autocorrelation(
    events: DataFrame,
    max_lag_hours: int = 24,
    min_hours: int = 10,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """ACF per event type on the dense hourly grid — the sixth
    consumer of the ONE shared rollup; see ``acf_from_dense``."""
    return acf_from_dense(
        dense_hourly_counts(events, ts_col, type_col), max_lag_hours, min_hours
    )


def consensus_from_dense(
    dense: DataFrame,
    seasonal_crit: float = 2.0,
    robust_crit: float = 3.5,
) -> DataFrame:
    """The monitoring DASHBOARD row: every hour-level detector on the
    shared grid evaluated side by side — seasonal leave-one-out z,
    robust median/MAD z, CUSUM shift state — plus the per-type
    context columns (Fano burstiness, Mann-Kendall trend), and a
    consensus vote: how many of the three hour-level detectors flag
    this hour.  Detectors disagree by design (seasonal sees slot
    deviations, robust sees contamination-proof point outliers, CUSUM
    sees sustained shifts); n_flags >= 2 is the page-worthy subset,
    and single-detector rows explain WHICH failure mode fired.

    One event-log pass (callers densify once — the dense grid is
    persisted and feeds all five detectors); every join here runs on
    hours x types or k-row frames."""
    joined, _mu, zc = _seasonal_z_parts(dense)
    sz = joined.select(
        "t",
        "h",
        "cnt",
        F.when((F.col("n") >= 3) & zc.isNotNull(), F.round(zc + F.lit(1e-9), 4))
        .alias("seasonal_z"),
        F.coalesce(
            (F.col("n") >= 3) & zc.isNotNull() & (F.abs(zc) > F.lit(seasonal_crit)),
            F.lit(False),
        ).alias("seasonal_flag"),
    )
    rb = robust_scores_from_dense(dense, robust_crit).select(
        F.col("event_type").alias("t"),
        F.col("hour").alias("h"),
        "robust_z",
        F.col("is_outlier").alias("robust_flag"),
    )
    cs = cusum_scores_from_dense(dense).select(
        F.col("event_type").alias("t"),
        F.col("hour").alias("h"),
        "cusum_up",
        "cusum_down",
        (F.col("shift_up") | F.col("shift_down")).alias("cusum_flag"),
    )
    disp = dispersion_scores_from_dense(dense).select(
        F.col("event_type").alias("t"), "fano"
    )
    trend = mann_kendall_from_dense(dense).select(
        F.col("event_type").alias("t"), "trend"
    )
    out = (
        sz.join(rb, ["t", "h"])
        .join(cs, ["t", "h"], "left")
        .join(F.broadcast(disp), "t", "left")
        .join(F.broadcast(trend), "t", "left")
    )
    n_flags = (
        F.col("seasonal_flag").cast("int")
        + F.col("robust_flag").cast("int")
        + F.coalesce(F.col("cusum_flag"), F.lit(False)).cast("int")
    )
    return out.select(
        F.col("t").alias("event_type"),
        F.col("h").alias("hour"),
        "cnt",
        "seasonal_z",
        "robust_z",
        "cusum_up",
        "cusum_down",
        "fano",
        "trend",
        n_flags.cast("int").alias("n_flags"),
        (n_flags >= 2).alias("consensus"),
    )


def detector_consensus(
    events: DataFrame, ts_col: str = "ts", type_col: str = "event_type"
) -> DataFrame:
    """All five hourly-grid detectors composed into one dashboard
    frame — see ``consensus_from_dense``.

    A LAZY composition: one event-log pass into the persisted dense
    grid, all five detectors readers of that cache, zero driver actions
    at build time.  The post-aggregate stages are grid-sized (hours x
    types rows) and run under the session's shuffle settings; AQE's
    partition coalescing shrinks their tiny exchanges at action time.
    Sizing those shuffles from a measured grid row count needs a
    count() and an eager checkpoint — two extra driver jobs on every
    cold build, a net loss at bench scale (driver protocol: 1.79s lazy
    vs 2.92s eager; VERDICT r12 item 1)."""
    return consensus_from_dense(dense_hourly_counts(events, ts_col, type_col))


def holt_winters_from_dense(
    dense: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    season: int = 24,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) per event
    type over the dense hourly grid: level + trend + a ``season``-slot
    seasonal profile updated hour by hour, reporting the fitted state,
    the NEXT-hour forecast, and the in-sample one-step RMSE — the
    classical forecasting recurrence, run entirely as a CODEGEN ARRAY
    FOLD (F.aggregate over the per-type series array): no Python, no
    driver loop, no iterative jobs.

    Initialization (standard): level = mean of the first season,
    trend = (mean of season 2 - mean of season 1) / season, seasonal
    profile = first-season deviations from its mean; the recurrence
    then runs from hour ``season`` on, scoring each step's one-step
    forecast BEFORE updating state.  Types shorter than two full
    seasons are reported with NULL fits.

    Scale shape: one event-log pass to the persisted grid; each
    type's whole series (hours-bounded, KBs) folds inside ONE row —
    at a year of hours this is an 8760-step in-row fold, independent
    of event volume.  Every step is fixed-order IEEE double
    arithmetic, so the DuckDB recursive-CTE oracle replays it
    bit-identically (the x80 discipline)."""
    from .text import let_expr

    m = season
    a, b, g = float(alpha), float(beta), float(gamma)
    ca, cb, cg = 1.0 - a, 1.0 - b, 1.0 - g
    series = dense.groupBy("t").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "cnt"))),
            lambda s: s["cnt"].cast("double"),
        ).alias("xs"),
    )
    first = F.slice(F.col("xs"), 1, m)
    second = F.slice(F.col("xs"), m + 1, m)
    mean1 = F.aggregate(first, F.lit(0.0), lambda acc, v: acc + v) / F.lit(float(m))
    mean2 = F.aggregate(second, F.lit(0.0), lambda acc, v: acc + v) / F.lit(float(m))

    def fold(l0):
        seas0 = F.transform(first, lambda v: v - l0)
        b0 = (mean2 - l0) / F.lit(float(m))
        init = F.struct(
            l0.alias("lv"),
            b0.alias("tr"),
            seas0.alias("seas"),
            F.lit(m).alias("idx"),
            F.lit(0.0).alias("sse"),
        )

        def step(acc, x):
            pos = F.pmod(acc["idx"], F.lit(m))
            stm = F.element_at(acc["seas"], pos + 1)
            fc = acc["lv"] + acc["tr"] + stm
            err = x - fc
            new_l = F.lit(a) * (x - stm) + F.lit(ca) * (acc["lv"] + acc["tr"])
            new_b = F.lit(b) * (new_l - acc["lv"]) + F.lit(cb) * acc["tr"]
            new_s = F.lit(g) * (x - new_l) + F.lit(cg) * stm
            seas2 = F.concat(
                F.slice(acc["seas"], 1, pos),
                F.array(new_s),
                F.slice(acc["seas"], pos + 2, F.lit(m) - pos - 1),
            )
            return F.struct(
                new_l.alias("lv"),
                new_b.alias("tr"),
                seas2.alias("seas"),
                (acc["idx"] + 1).alias("idx"),
                (acc["sse"] + err * err).alias("sse"),
            )

        return F.aggregate(
            F.slice(F.col("xs"), m + 1, F.size("xs") - m), init, step
        )

    fit = let_expr(mean1, fold)
    nfit = (F.col("n_hours") - m).cast("double")
    out = series.select(
        F.col("t").alias("event_type"),
        "n_hours",
        F.when(F.col("n_hours") >= 2 * m + 1, fit).alias("f"),
    )
    fc_next = (
        F.col("f")["lv"]
        + F.col("f")["tr"]
        + F.element_at(F.col("f")["seas"], F.pmod(F.col("f")["idx"], F.lit(m)) + 1)
    )
    return out.select(
        "event_type",
        "n_hours",
        F.round(F.col("f")["lv"] + F.lit(1e-9), 4).alias("level"),
        F.round(F.col("f")["tr"] + F.lit(1e-9), 4).alias("trend"),
        F.round(fc_next + F.lit(1e-9), 4).alias("forecast_next"),
        F.round(F.sqrt(F.col("f")["sse"] / nfit) + F.lit(1e-9), 4).alias(
            "rmse"
        ),
    )


def holt_winters(
    events: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    season: int = 24,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Additive Holt-Winters forecast per event type on the dense
    hourly grid — see ``holt_winters_from_dense``."""
    return holt_winters_from_dense(
        dense_hourly_counts(events, ts_col, type_col), alpha, beta, gamma, season
    )


def session_ngrams(
    events: DataFrame,
    n: int = 3,
    top_k: int = 20,
    gap_ms: int = 1_800_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Sequential-pattern mining, the bounded-contiguous form: the
    top-k event-type n-grams by SESSION SUPPORT (sessions containing
    the pattern at least once) — the 'what do journeys actually look
    like' report that the transition matrix (x142, memoryless) can't
    answer: a Markov chain sees A->B and B->C but not whether A->B->C
    happens as one journey.

    One sessionize window pass -> per-session ordered sequence
    (in-group sort, bounded by session length) -> contiguous n-grams
    per session, DISTINCT within a session so support counts sessions
    once -> vocabulary-bounded gram counts -> TakeOrderedAndProject
    top-k (cnt desc, gram tiebreak)."""
    from ..cache import tracked_persist

    sessions = sessionize(events, gap_ms, user_col, ts_col)
    # mirror sessionize's degradation convention: event_id is the
    # deterministic same-timestamp tiebreak when present, optional
    # otherwise (frames without it must not fail analysis)
    sort_cols = (
        [ts_col, "event_id"] if "event_id" in events.columns else [ts_col]
    )
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct(*sort_cols, type_col))),
        lambda s: s[type_col],
    )
    # persisted: the per-session frame feeds BOTH the support
    # denominator and the gram counts — without it each consumer
    # re-runs the full sessionize window pass
    per_session = tracked_persist(
        sessions.groupBy(user_col, "session_id").agg(seq.alias("seq"))
    )
    # Spark's sequence(1, stop) DESCENDS when stop < 1, so sessions
    # shorter than n need an explicit empty-index guard
    idx = F.when(
        F.size("seq") >= n, F.sequence(F.lit(1), F.size("seq") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("seq"), i + j) for j in range(n)]
            ),
        )
    )
    n_sessions = per_session.agg(F.count("*").cast("long").alias("n_total"))
    counts = (
        per_session.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").cast("long").alias("n_sessions"))
    )
    ranked = (
        counts.crossJoin(F.broadcast(n_sessions))
        .orderBy(F.col("n_sessions").desc(), "ngram")
        .limit(top_k)
    )
    w = W.orderBy(F.col("n_sessions").desc(), "ngram")
    return ranked.select(
        "ngram",
        "n_sessions",
        (
            F.round(
                F.col("n_sessions").cast("double") / F.col("n_total").cast("double")
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("support"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


def active_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """DAU / WAU / MAU + stickiness per day — the product-analytics
    rollup (stickiness = DAU/MAU, the 'how habitual is usage' number)
    computed without three separate sliding-distinct passes: ONE
    distinct (user, day) frame (persisted — it feeds the day bounds
    and the range join), ONE range join onto the dense day grid with
    conditional distinct counts for all three windows.

    Scale shape: the corpus reduces to user x active-day rows first;
    the 28x grid expansion and the distinct counts run on that
    aggregate, never the raw log.  Quiet days appear with dau = 0
    (the dense grid matters for honest stickiness curves)."""
    from ..cache import tracked_persist

    ud = tracked_persist(
        events.select(
            F.col(user_col).alias("u"),
            F.date_trunc("day", ts_col).alias("day"),
        ).distinct()
    )
    bounds = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = bounds.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("d")
    )
    j = grid.join(
        ud,
        (F.col("day") <= F.col("d"))
        & (F.col("day") >= F.col("d") - F.expr("INTERVAL 27 DAY")),
        "left",
    )
    per = j.groupBy("d").agg(
        F.count_distinct(
            F.when(F.col("day") == F.col("d"), F.col("u"))
        ).cast("long").alias("dau"),
        F.count_distinct(
            F.when(
                F.col("day") >= F.col("d") - F.expr("INTERVAL 6 DAY"), F.col("u")
            )
        ).cast("long").alias("wau"),
        F.count_distinct("u").cast("long").alias("mau"),
    )
    return per.select(
        F.col("d").alias("day"),
        "dau",
        "wau",
        "mau",
        F.when(
            F.col("mau") > 0,
            F.round(
                F.col("dau").cast("double") / F.col("mau").cast("double")
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0),
        ).alias("stickiness"),
    )
