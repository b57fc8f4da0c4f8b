"""Keyed streaming state: native streaming aggregations where a
built-in aggregate computes the fold exactly, ``applyInPandasWithState``
otherwise.

For operators the built-in window/dedup state machines can't express:
arbitrary per-key accumulators updated each micro-batch.  Every twin
here maintains MERGE-SAFE state (commutative/associative folds —
counts, sums, min/max, set unions, bottom-k under a total order), so
the final state converges EXACTLY to its batch operator under any
micro-batch split, and each is pinned by an equivalence test against
the batch grain.

Three counting twins are NATIVE streaming aggregations (``groupBy``
+ ``count``/``sum``/``min``/``max`` in Spark's own state store, no
Python worker per micro-batch): ``streaming_user_lifetime``,
``streaming_hour_error_counts`` and ``streaming_day_type_mix``.  The
rest run a pandas fold under ``applyInPandasWithState``.  Two of them
must: ``running_user_profile``'s double sum and the z-score twin's
Welford fold are not exact under the re-association a native
aggregate is free to apply.

- ``running_user_profile`` — per-user count/sum/last-seen (the
  feature-store updater shape).
- ``streaming_anomaly_zscore`` — Welford baseline, O(1) state/key.
- ``streaming_ewma_smooth`` — bounded K-value ring, fold-order exact.
- ``streaming_funnel`` — first-occurrence funnel stage timestamps.
- ``streaming_bot_flags`` — per-type counts + active-day set census.
- ``streaming_user_lifetime`` — first/last/count, percentile rollup
  (native).
- ``streaming_reservoir_per_group`` — deterministic bottom-k-by-hash
  sample, exact twin of ``sample_reservoir_per_group``.
- ``streaming_active_days`` — distinct active-day set, the substrate
  of ``events_growth_accounting``'s lifecycle census.
- ``streaming_hour_error_counts`` — per-hour (events, errors) counts
  with the cross-multiplied breach flag, the substrate of
  ``events_error_rate_slo``'s daily SLO report (native).
- ``streaming_day_type_mix`` — per-(day, event-type) counts, the
  substrate of ``agg_entropy_categorical``'s daily mix/entropy report
  (native).
- ``streaming_seasonality_grid`` — per-(dow, hour) count/cents/user
  cells over the fixed 168-cell grid, the substrate of
  ``events_seasonality_profile``'s load-shape profile.
- ``streaming_seasonality_grid_hll`` — the same grid with distinct
  users as a fixed 4-KiB HyperLogLog sketch per cell (SplitMix64
  hashing, no RNG) — the exact-set twin's documented scale path.
- ``streaming_sessionize`` — per-user gap sessions as an ORDER-FREE
  interval merge with event-time-timeout eviction, the exact twin of
  ``events_sessionize`` and the only twin exercising state timeouts.
- ``streaming_cms_sketch`` — the count-min sketch as VECTOR state
  (one ``array<long>`` counter row per depth), the exact twin of
  ``cms_cells`` and the only twin whose TOTAL state is constant in
  both stream length and key cardinality.
- ``streaming_hourly_ohlc`` — per-hour open/high/low/close with the
  ordering keys carried in state, making the "first/last value"
  fold commutative.
- ``streaming_asof_enrich`` — the as-of JOIN as keyed state (fact
  buffer + watermark-pruned dim version list per user), the exact
  twin of ``pipeline.join_asof`` and the only twin correlating TWO
  streams.

State sizes scale with the key domain (users, languages), the
calendar, a fixed sketch geometry, or the watermark horizon — never
with stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _epoch_days(ts_series):
    """Epoch-day numbers matching Spark's
    ``unix_micros(...) div 86400000000`` EXACTLY: integer division
    truncating toward zero.  Python's ``//`` floors instead, so a
    pre-1970 timestamp (negative micros with a nonzero remainder)
    would land one day earlier than the batch operators' ``div`` and
    silently break the streaming twins' exact-equivalence contract."""
    import pandas as pd

    # Explicit [us] normalization (ADVICE r17): .astype("int64") on a
    # datetime Series yields whatever unit the Arrow->pandas hop chose
    # (ns today; a future PySpark/pandas combination may deliver us),
    # which would silently rescale the day math.  Pin the unit first.
    us = pd.to_datetime(ts_series).astype("datetime64[us]").astype("int64")
    d = 86_400_000_000
    q = us // d
    q[(us < 0) & (us % d != 0)] += 1
    return q

_OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double, last_ts timestamp_ntz"
_STATE_SCHEMA = "n long, s double, last timestamp_ntz"


def _update_profile(key, pdf_iter, state: GroupState):
    import pandas as pd

    n, s, last = state.get if state.exists else (0, 0.0, None)
    for pdf in pdf_iter:
        n += len(pdf)
        s += float(pdf["value"].sum())
        batch_max = pdf["ts"].max()
        last = batch_max if last is None or batch_max > last else last
    state.update((n, s, last))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "last_ts": [last]}
    )


def running_user_profile(stream: DataFrame) -> DataFrame:
    """Per-user running aggregate maintained across micro-batches.

    Emits the refreshed profile for every user touched by each
    micro-batch (update semantics). State is per-key and compact
    (three scalars), so it scales horizontally with the shuffle
    partitioning of user_id.
    """
    return (
        stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming anomaly scoring (Welford state per key)
# ---------------------------------------------------------------------------

_ZSCORE_OUTPUT_SCHEMA = (
    "user_id long, event_id long, value double, z double, is_anomaly boolean"
)
#: Welford accumulator: count, mean, M2 (sum of squared deviations).
_ZSCORE_STATE_SCHEMA = "n long, mean double, m2 double"

#: Minimum prior observations before a z-score is emitted.
_MIN_BASELINE = 5


def _update_zscore(key, pdf_iter, state: GroupState):
    """Score each event against the user's *prior* running baseline,
    then fold it in (Welford's online update — the streaming analog of
    the batch operator's trailing-frame exclusion of the current row).
    """
    import math

    import pandas as pd

    n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
    out = {"user_id": [], "event_id": [], "value": [], "z": [], "is_anomaly": []}
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])
        for event_id, value in zip(pdf["event_id"], pdf["value"]):
            v = float(value)
            if n >= _MIN_BASELINE and m2 > 0:
                sd = math.sqrt(m2 / (n - 1))
                z = (v - mean) / sd
                out["user_id"].append(key[0])
                out["event_id"].append(int(event_id))
                out["value"].append(v)
                out["z"].append(z)
                out["is_anomaly"].append(abs(z) > 3.0)
            n += 1
            delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
    state.update((n, mean, m2))
    yield pd.DataFrame(out)


def streaming_anomaly_zscore(stream: DataFrame) -> DataFrame:
    """Per-user streaming z-score anomaly flags with O(1) state.

    The batch twin (``operators.streaming_batch.events_anomaly_zscore``)
    keeps a 20-row trailing frame; the streaming form compresses the
    baseline to a three-scalar Welford accumulator per user — constant
    memory per key regardless of stream length, the textbook shape for
    fleet-wide metric monitoring. Each event is scored against the
    baseline *before* being folded in, so a burst of outliers cannot
    mask itself.
    """
    return (
        stream.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_zscore,
            outputStructType=_ZSCORE_OUTPUT_SCHEMA,
            stateStructType=_ZSCORE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming truncated EWMA (bounded ring state per key)
# ---------------------------------------------------------------------------

_EWMA_OUTPUT_SCHEMA = "user_id long, event_id long, value double, ewma double"
#: Bounded state: the last K observed values, oldest first.
_EWMA_STATE_SCHEMA = "vals array<double>"

#: Mirrors operators.streaming_batch._EWMA_ALPHA / _EWMA_K — the batch
#: twin the equivalence test compares against.
_EWMA_ALPHA = 0.2
_EWMA_K = 16


def _update_ewma(key, pdf_iter, state: GroupState):
    """Fold each event into a ≤K-element value ring and emit the
    truncated-window EWMA INCLUDING the current event — exactly the
    batch twin's ``rowsBetween(-K+1, 0)`` frame semantics."""
    import pandas as pd

    (vals,) = state.get if state.exists else ([],)
    vals = list(vals)
    decay = 1.0 - _EWMA_ALPHA
    out = {"user_id": [], "event_id": [], "value": [], "ewma": []}
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])
        for event_id, value in zip(pdf["event_id"], pdf["value"]):
            v = float(value)
            vals.append(v)
            if len(vals) > _EWMA_K:
                vals.pop(0)
            n = len(vals)
            # oldest-first weighted sum, the batch kernel's fold order
            num = 0.0
            for i, x in enumerate(vals):
                num += x * decay ** (n - 1 - i)
            denom = (1.0 - decay**n) / _EWMA_ALPHA
            out["user_id"].append(key[0])
            out["event_id"].append(int(event_id))
            out["value"].append(v)
            out["ewma"].append(num / denom)
    state.update((vals,))
    yield pd.DataFrame(out)


def streaming_ewma_smooth(stream: DataFrame) -> DataFrame:
    """Per-user streaming EWMA with BOUNDED state: a ≤K-element value
    ring per key, the streaming lift of
    ``operators.streaming_batch.events_ewma_smooth`` (same truncation,
    same finite-window normalizer, same fold order — the equivalence
    test pins stream == batch recomputation).  State is K doubles per
    user regardless of stream length; keys scale with the shuffle
    partitioning of user_id."""
    return (
        stream.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_ewma,
            outputStructType=_EWMA_OUTPUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming conversion funnel (first-occurrence state per key)
# ---------------------------------------------------------------------------

_FUNNEL_OUTPUT_SCHEMA = (
    "user_id long, viewed boolean, clicked_after_view boolean,"
    " purchased_after_click boolean"
)
#: First observed timestamp of each funnel stage (null = not yet seen).
_FUNNEL_STATE_SCHEMA = (
    "t_view timestamp_ntz, t_click timestamp_ntz, t_purchase timestamp_ntz"
)

_FUNNEL_STAGES = ("view", "click", "purchase")


def _update_funnel(key, pdf_iter, state: GroupState):
    """Fold per-stage first-occurrence minima and emit the refreshed
    ordered-funnel flags (view → click strictly after first view →
    purchase strictly after first qualifying click).  Because the
    flags depend only on per-stage MINIMA, the result is independent
    of arrival order across micro-batches — late or shuffled events
    converge to the same state the batch operator computes."""
    import pandas as pd

    tv, tc, tp = state.get if state.exists else (None, None, None)
    firsts = {"view": tv, "click": tc, "purchase": tp}
    for pdf in pdf_iter:
        for stage in _FUNNEL_STAGES:
            sub = pdf.loc[pdf["event_type"] == stage, "ts"]
            if len(sub):
                m = sub.min()
                if firsts[stage] is None or m < firsts[stage]:
                    firsts[stage] = m
    state.update((firsts["view"], firsts["click"], firsts["purchase"]))
    tv, tc, tp = firsts["view"], firsts["click"], firsts["purchase"]
    viewed = tv is not None
    clicked = bool(viewed and tc is not None and tc > tv)
    purchased = bool(clicked and tp is not None and tp > tc)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "viewed": [viewed],
            "clicked_after_view": [clicked],
            "purchased_after_click": [purchased],
        }
    )


def streaming_funnel(stream: DataFrame) -> DataFrame:
    """Per-user streaming conversion-funnel state, the lift of
    ``operators.streaming_batch.events_funnel``: three first-occurrence
    timestamps per key (O(1) state), refreshed flags emitted per
    micro-batch (update semantics).  The batch operator's global
    roll-up is a downstream 3-column aggregate over this relation."""
    return (
        stream.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_funnel,
            outputStructType=_FUNNEL_OUTPUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming bot-flag maintenance (merge-safe per-user behaviour state)
# ---------------------------------------------------------------------------

_BOT_OUTPUT_SCHEMA = (
    "user_id long, n_events long, max_type_count long, active_days long, "
    "rate_flag boolean, monotony_flag boolean"
)
#: Per-user state: parallel (type → count) arrays plus the distinct
#: active-day set.  Type cardinality is the event-type universe
#: (bounded); the day set is bounded by the observation window's
#: calendar days — both grow with the DOMAIN, not the event count.
_BOT_STATE_SCHEMA = (
    "types array<string>, counts array<long>, days array<long>"
)


def _update_bot_flags(key, pdf_iter, state: GroupState):
    import pandas as pd

    from parquet_stream_writer_spark.operators.staged4 import (
        _BOT_MONOTONY_DEN,
        _BOT_MONOTONY_NUM,
        _BOT_RATE_PER_DAY,
    )

    if state.exists:
        types, counts, days = state.get
        counts = dict(zip(types, counts))
        days = set(days)
    else:
        counts, days = {}, set()
    for pdf in pdf_iter:
        for t, c in pdf["event_type"].value_counts().items():
            counts[t] = counts.get(t, 0) + int(c)
        days.update(int(d) for d in _epoch_days(pdf["ts"]))
    ts = sorted(counts)
    state.update((ts, [counts[t] for t in ts], sorted(days)))
    n = sum(counts.values())
    mx = max(counts.values()) if counts else 0
    nd = len(days)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "max_type_count": [mx],
            "active_days": [nd],
            "rate_flag": [n > _BOT_RATE_PER_DAY * nd],
            "monotony_flag": [_BOT_MONOTONY_DEN * mx > _BOT_MONOTONY_NUM * n],
        }
    )


def streaming_bot_flags(stream: DataFrame) -> DataFrame:
    """Per-user streaming bot-flag state, the lift of
    ``operators.staged4.events_bot_detection_heuristic``: per-type
    counts + the distinct active-day set per key, refreshed flags
    emitted per micro-batch (update semantics).  Counts and set-unions
    are merge-safe and arrival-order-insensitive, so the maintained
    state converges to the batch answer exactly no matter how events
    are split across micro-batches; the batch operator's census is a
    4-column aggregate over this relation."""
    return (
        stream.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_bot_flags,
            outputStructType=_BOT_OUTPUT_SCHEMA,
            stateStructType=_BOT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------


def streaming_user_lifetime(stream: DataFrame) -> DataFrame:
    """Per-user streaming lifetime state, the lift of
    ``operators.staged4.events_user_lifetime``'s per-user grain:
    first-seen / last-seen / event count per key, refreshed span-days
    emitted per micro-batch (update semantics).

    A NATIVE streaming aggregation: ``count(1)``, ``min`` and ``max``
    of ``unix_micros(ts)`` per ``user_id`` in Spark's own state store,
    then ``span_days = (last_us - first_us) div 86400000000``.  Output
    is ``user_id long, n_events long, first_us long, last_us long,
    span_days long``; run it in ``update`` output mode.  min, max and
    count are merge-safe and arrival-order-insensitive, so the final
    state converges EXACTLY to the batch per_user relation no matter
    how events are split across micro-batches; the batch operator's
    nearest-rank percentile rollup is a bounded-cell aggregate over
    this relation (pinned by
    test_streaming_user_lifetime_matches_batch)."""
    from pyspark.sql import functions as F

    return (
        stream.select(
            "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("us").alias("first_us"),
            F.max("us").alias("last_us"),
        )
        .withColumn("span_days", F.expr("(last_us - first_us) div 86400000000"))
    )


# ---------------------------------------------------------------------------


_RESERVOIR_OUTPUT_SCHEMA = (
    "lang string, rk int, doc_id long, bucket long, n_seen long"
)
#: Per-lang state: the current bottom-k (hash-bucket, doc_id) pairs
#: plus a monotone seen-counter.  Bottom-k under a total order is
#: commutative and associative, so the reservoir is merge-safe under
#: any micro-batch split or arrival order — unlike a rand()-based
#: reservoir, re-runs and re-splits yield the SAME sample.
_RESERVOIR_STATE_SCHEMA = "hs array<long>, ids array<long>, n_seen long"


def _update_reservoir(key, pdf_iter, state: GroupState):
    import hashlib

    import pandas as pd

    from parquet_stream_writer_spark.operators.pipeline import (
        _N_BUCKETS,
        _RESERVOIR_K,
    )

    hs, ids, seen = state.get if state.exists else ([], [], 0)
    # Set-fold, not list-append (ADVICE r10 fix): a doc_id re-delivered
    # by at-least-once replay or overlapping input re-derives the SAME
    # (bucket, doc_id) pair, and the set union makes that a no-op —
    # otherwise one document could occupy two reservoir slots and evict
    # a legitimate one.  Bottom-k of a set union stays merge-safe AND
    # idempotent, matching the batch sample's distinct-doc grain.
    pool = set(zip(hs, ids))
    for pdf in pdf_iter:
        seen += len(pdf)
        for did in pdf["doc_id"]:
            d = int(did)
            h = int(hashlib.md5(str(d).encode()).hexdigest()[:4], 16)
            pool.add((h % _N_BUCKETS, d))
        pool = set(sorted(pool)[:_RESERVOIR_K])
    final = sorted(pool)
    state.update(([h for h, _ in final], [d for _, d in final], seen))
    yield pd.DataFrame(
        {
            "lang": key[0],
            "rk": pd.array(range(1, len(final) + 1), dtype="int32"),
            "doc_id": [d for _, d in final],
            "bucket": [h for h, _ in final],
            "n_seen": seen,
        }
    )


def streaming_reservoir_per_group(stream: DataFrame) -> DataFrame:
    """Per-lang streaming deterministic reservoir, the lift of
    ``operators.pipeline.sample_reservoir_per_group``: the k documents
    with the lowest (md5-hex4 mod 100, doc_id) rank per language,
    refreshed per micro-batch (update semantics; ``n_seen`` is the
    monotone emission counter a consumer uses to pick each key's final
    state).  Bottom-k by a deterministic content hash is merge-safe
    and arrival-order-insensitive, so the final reservoir converges
    EXACTLY to the batch sample no matter how documents are split
    across micro-batches (pinned by
    test_streaming_reservoir_matches_batch), and the set-fold makes a
    re-delivered doc_id a no-op, so at-least-once replay cannot seat
    one document in two slots (pinned by
    test_streaming_reservoir_redelivery_is_idempotent).  State is k
    (long, long) pairs per language — bounded regardless of stream
    length."""
    return (
        stream.select("lang", "doc_id")
        .groupBy("lang")
        .applyInPandasWithState(
            _update_reservoir,
            outputStructType=_RESERVOIR_OUTPUT_SCHEMA,
            stateStructType=_RESERVOIR_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------


_GROWTH_OUTPUT_SCHEMA = "user_id long, n_days long, days array<long>"
#: Per-user state: the distinct active-day set (sorted epoch days).
#: Set union is commutative and associative, so the state is
#: merge-safe under any micro-batch split or arrival order; size is
#: bounded by the calendar, not the event count.
_GROWTH_STATE_SCHEMA = "days array<long>"


def _update_active_days(key, pdf_iter, state: GroupState):
    import pandas as pd

    (days,) = state.get if state.exists else ([],)
    s = set(days)
    for pdf in pdf_iter:
        s.update(int(d) for d in _epoch_days(pdf["ts"]))
    days = sorted(s)
    state.update((days,))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_days": [len(days)], "days": [days]}
    )


def streaming_active_days(stream: DataFrame) -> DataFrame:
    """Per-user streaming active-day set, the substrate of
    ``operators.staged2.events_growth_accounting``: the distinct
    epoch days each user was active, refreshed per micro-batch
    (update semantics; ``n_days`` is the monotone counter a consumer
    uses to pick each key's final state).  Distinct-set union is
    merge-safe and arrival-order-insensitive, so the final relation
    converges EXACTLY to the batch (user, day) distinct no matter how
    events are split across micro-batches; the batch operator's
    new/returning/resurrected day-grain census is a lag-classify
    rollup over this relation (pinned by
    test_streaming_active_days_growth_rollup).  State is the user's
    active-day list — bounded by the calendar, never by event
    volume."""
    return (
        stream.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_active_days,
            outputStructType=_GROWTH_OUTPUT_SCHEMA,
            stateStructType=_GROWTH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming hourly error-share SLO substrate
# ---------------------------------------------------------------------------


def streaming_hour_error_counts(stream: DataFrame) -> DataFrame:
    """Per-hour streaming (events, errors) counts with the 30%
    error-share breach flag — the substrate of
    ``operators.staged5.events_error_rate_slo``: that operator's daily
    SLO report (n_hours, n_breached, worst hour by share) is a pure
    day-grain rollup over this relation's FINAL per-hour states
    (pinned by test_streaming_hour_errors_slo_rollup).

    A NATIVE streaming aggregation: ``groupBy(hr)`` with ``count(1)
    AS n`` and ``sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
    END) AS e`` (a NULL type counts as not-error, so ``e`` is never
    NULL), then the cross-multiplied integer test
    ``e * _SLO_DEN > n * _SLO_NUM`` — the exact predicate of
    ``events_error_rate_slo``, whose constants are imported so the
    twin can't drift.  Output is ``hr timestamp_ntz, n long, e long,
    breach boolean``; run it in ``update`` output mode.

    Counts are commutative sums, so the final state converges EXACTLY
    to the batch per-hour aggregate under any micro-batch split;
    ``n`` is monotone per key, so a consumer picks each hour's final
    state as its max-``n`` emission (update semantics re-emit an hour
    every time a micro-batch touches it).  Like the other counting
    twins (profile, z-score, lifetime), exactly-once source delivery
    is assumed — a replayed micro-batch would double-count, unlike
    the set-fold twins (reservoir, active-days) which are idempotent.
    State is two longs per calendar hour.
    """
    from pyspark.sql import functions as F

    from parquet_stream_writer_spark.operators.staged5 import (
        _SLO_DEN,
        _SLO_NUM,
    )

    return (
        stream.select(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hr"),
            "event_type",
        )
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("e"),
        )
        .withColumn("breach", F.col("e") * _SLO_DEN > F.col("n") * _SLO_NUM)
    )


# ---------------------------------------------------------------------------
# Streaming per-(day, type) mix substrate (entropy twin)
# ---------------------------------------------------------------------------


def streaming_day_type_mix(stream: DataFrame) -> DataFrame:
    """Per-(day, event_type) streaming counts — the substrate of
    ``operators.staged.agg_entropy_categorical``: that operator's daily
    mix report (n_events, n_types, entropy_bits, dominant type/share)
    is a pure day-grain rollup over this relation's FINAL cell states
    (pinned by ``test_streaming_day_mix_entropy_rollup``, which
    reproduces the batch operator's 1e-6-quantized c·log2(c) exactly —
    the round-13 integer-sum entropy convention, so the twin can't
    drift from the registered arithmetic).

    A NATIVE streaming aggregation (``groupBy(day, event_type)
    .agg(count(1))``), not a Python fold: Spark keeps the count in its
    own state store, so no Python worker runs per micro-batch.  Output
    is ``day timestamp_ntz, event_type string, c long``; run it in
    ``update`` output mode (``complete`` also works).  ``day`` is cast
    back to ``timestamp_ntz`` because ``date_trunc`` yields a session-
    zone timestamp (UTC in this repo's sessions).

    The count is a commutative sum, so the final state converges
    EXACTLY to the batch per-cell aggregate under any micro-batch
    split; ``c`` is monotone per key, so a consumer picks each cell's
    final state as its max-``c`` emission (update semantics re-emit a
    cell every time a micro-batch touches it).  Like the other
    counting twins (profile, z-score, lifetime, hour-errors),
    exactly-once source delivery is assumed — a replayed micro-batch
    would double-count, unlike the set-fold twins (reservoir,
    active-days) which are idempotent.  State is one long per
    (calendar day × observed event type) cell.
    """
    from pyspark.sql import functions as F

    return (
        stream.select(
            F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day"),
            "event_type",
        )
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )


# ---------------------------------------------------------------------------
# Streaming seasonality-grid substrate
# ---------------------------------------------------------------------------


_SEASON_OUTPUT_SCHEMA = (
    "dow long, hod long, n long, cents long, n_users long"
)
#: Per-(dow, hod) state: event count, 2-dp value sum in integer CENTS,
#: and the distinct-user id set.  Counts/sums are commutative and the
#: set union is commutative AND idempotent, so the state is merge-safe
#: under any micro-batch split; the key domain is the fixed 7×24 grid
#: and the set is bounded by users-per-cell, never stream length.
_SEASON_STATE_SCHEMA = "n long, cents long, users array<long>"


def _floored_cents(values, op_name: str):
    """Per-value exact integer cents of one micro-batch's 2-dp
    values: floor(v*100 + 0.5) per value — the exact cents the batch
    operator's pround(sum, 2) recovers from the 2-dp doubles — as an
    int64 array.  Fails loudly on NaN/inf FIRST: astype(int64) would
    otherwise map a null value to INT64_MIN and silently poison the
    cell state (the self-review r14 near-miss)."""
    import numpy as np

    floored = np.floor(values * 100 + 0.5)
    if not np.isfinite(floored).all():
        raise ValueError(f"{op_name}: null/NaN value")
    return floored.astype(np.int64)


def _batch_cents_sum(values, op_name: str) -> int:
    """Exact integer-cents sum of one micro-batch's 2-dp values,
    accumulated as int64, NOT float64 (a float64 sum of the floored
    cents silently loses exactness past 2^53, ADVICE r13).  One
    definition shared by the exact and HLL seasonality twins (and,
    via :func:`_floored_cents`, the sessionize twin) so a
    counting-state fix cannot land in only one of them (ADVICE
    r14)."""
    return int(_floored_cents(values, op_name).sum())


def _update_season_cell(key, pdf_iter, state: GroupState):
    import pandas as pd

    n, cents, users = state.get if state.exists else (0, 0, [])
    users = set(users)
    for pdf in pdf_iter:
        n += len(pdf)
        cents += _batch_cents_sum(
            pdf["value"].to_numpy(), "streaming_seasonality_grid"
        )
        users.update(int(u) for u in pdf["user_id"])
    state.update((n, cents, sorted(users)))
    yield pd.DataFrame(
        {
            "dow": [key[0]],
            "hod": [key[1]],
            "n": [n],
            "cents": [cents],
            "n_users": [len(users)],
        }
    )


def streaming_seasonality_grid(stream: DataFrame) -> DataFrame:
    """Per-(day-of-week, hour-of-day) streaming (count, cents,
    distinct-user) cells — the substrate of
    ``operators.streaming_batch.events_seasonality_profile``: that
    operator's full load-shape grid (n_events, n_users, 4-dp mean
    value) is a pure rollup over this relation's FINAL cell states
    (pinned by ``test_streaming_seasonality_rollup``).

    The bucket keys use the batch operator's exact integer-µs epoch
    arithmetic (``unix_micros div`` — day 0 = Monday), so the twin
    can never disagree with it on a bucket.  Counts are exact under
    any micro-batch split.  The cents sum matches the batch
    aggregate's ``floor(sum(value)·100 + 0.5)`` only while the batch
    FLOAT sum's accumulated error over a cell's 2-dp values stays
    under half a cent — the stream sums per-value exact cents, the
    batch floors one float sum, and the two readings agree because a
    decimal 2-dp total sits mid-grid with ~0.5-cent margin; a cell
    whose float-sum error approaches that margin (≳10^13 values at
    ~1-ulp error each) breaks the equality before either side
    overflows int64.  ``n`` is monotone per key, so a consumer
    picks each cell's final state as its max-``n`` emission (update
    semantics re-emit a cell every time a micro-batch touches it).
    Counting-twin caveat: exactly-once source delivery is assumed
    for n/cents (a replayed micro-batch double-counts), while the
    user-set fold is idempotent.  State is two longs + a
    users-per-cell id array across a fixed 168-cell key domain —
    bounded by the ACTIVE USER BASE, not stream length, but at
    extreme scale each of the 168 cells approaches the full user
    domain; the exact set exists for the test pin's bit-exact
    rollup, and the scale path would swap it for an HLL sketch
    (losing only the exactness of ``n_users``).
    """
    from pyspark.sql import functions as F

    us = "unix_micros(cast(ts as timestamp))"
    return (
        stream.select(
            F.expr(f"({us} div 86400000000 + 3) % 7").alias("dow"),
            F.expr(f"({us} div 3600000000) % 24").alias("hod"),
            "user_id",
            "value",
        )
        .groupBy("dow", "hod")
        .applyInPandasWithState(
            _update_season_cell,
            outputStructType=_SEASON_OUTPUT_SCHEMA,
            stateStructType=_SEASON_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming seasonality grid, HLL scale path (twelfth twin)
# ---------------------------------------------------------------------------

#: HLL precision: 2^12 = 4096 single-byte registers per cell — the
#: fixed ~4 KiB/cell state the exact-set twin's docstring names as its
#: scale path (ADVICE r13: the exact per-cell user set approaches the
#: full user domain at 100 TB; the sketch caps it at 168 × 4 KiB).
_HLL_P = 12
_HLL_M = 1 << _HLL_P

_SEASON_HLL_OUTPUT_SCHEMA = (
    "dow long, hod long, n long, cents long, est_users double"
)
#: Merge-safe by construction: n/cents are commutative sums and the
#: register vector folds by element-wise MAX (commutative, associative
#: AND idempotent — unlike the counting state, a replayed user id
#: cannot inflate the sketch).
_SEASON_HLL_STATE_SCHEMA = "n long, cents long, regs binary"


def _splitmix64(x):
    """Vectorized SplitMix64 over uint64 — the deterministic integer
    mixer (same family as stats_bootstrap_ci's replicate weights), so
    stream and batch hash identically with no RNG anywhere."""
    import numpy as np

    x = x.astype(np.uint64).copy()
    x += np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _hll_fold(regs, user_ids):
    """Fold user ids into the register vector (element-wise max)."""
    import numpy as np

    h = _splitmix64(user_ids.astype(np.uint64))
    idx = (h >> np.uint64(64 - _HLL_P)).astype(np.int64)
    rest = (h << np.uint64(_HLL_P)) >> np.uint64(_HLL_P)
    # rank = leading-zero count within the low 64-p bits, + 1,
    # computed via an exact integer bit-length (binary-search shifts)
    # — float log2 rounds UP across the integer for values just
    # below 2^49..2^52, off-by-one-ing the rank (self-review r14),
    # and would warn on the rest == 0 lane.
    v = rest.copy()
    bl = np.zeros(v.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        hi = v >= np.uint64(1 << s)
        bl[hi] += s
        v[hi] >>= np.uint64(s)
    bl += (v > 0).astype(np.int64)  # v is now 0 or 1
    rank = (64 - _HLL_P - bl + 1).astype(np.uint8)  # rest==0 -> max rank
    np.maximum.at(regs, idx, rank)
    return regs


def hll_estimate(regs) -> float:
    """Standard HLL estimator with the small-range linear-counting
    correction — deterministic given the registers, so stream and
    batch estimates agree bit-for-bit when the registers do."""
    import math

    import numpy as np

    m = _HLL_M
    alpha = 0.7213 / (1.0 + 1.079 / m)
    regs = np.frombuffer(bytes(regs), dtype=np.uint8)
    est = alpha * m * m / np.power(2.0, -regs.astype(np.float64)).sum()
    zeros = int((regs == 0).sum())
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return float(est)


def _update_season_hll(key, pdf_iter, state: GroupState):
    import numpy as np
    import pandas as pd

    if state.exists:
        n, cents, regs_raw = state.get
        regs = np.frombuffer(bytes(regs_raw), dtype=np.uint8).copy()
    else:
        n, cents = 0, 0
        regs = np.zeros(_HLL_M, dtype=np.uint8)
    for pdf in pdf_iter:
        n += len(pdf)
        cents += _batch_cents_sum(
            pdf["value"].to_numpy(), "streaming_seasonality_grid_hll"
        )
        regs = _hll_fold(regs, pdf["user_id"].to_numpy())
    state.update((n, cents, regs.tobytes()))
    yield pd.DataFrame(
        {
            "dow": [key[0]],
            "hod": [key[1]],
            "n": [n],
            "cents": [cents],
            "est_users": [hll_estimate(regs)],
        }
    )


def streaming_seasonality_grid_hll(stream: DataFrame) -> DataFrame:
    """The ``streaming_seasonality_grid`` scale path: identical
    (dow, hod) bucketing and exact n/cents state, but distinct users
    via a 2^12-register HyperLogLog sketch instead of the exact id
    set — state is a FIXED ~4 KiB per cell (168 cells total)
    regardless of the user domain, the property the exact twin
    documents as its 100 TB limitation.

    Determinism without RNG: user ids hash through SplitMix64, so the
    register vector — and therefore the estimate — is a pure function
    of the user SET.  The fold is idempotent (element-wise max), so
    unlike n/cents the user sketch survives replayed micro-batches.
    Pinned by ``test_streaming_seasonality_hll``: final stream
    registers equal a batch fold of the same ids bit-for-bit, and the
    estimate lands within the standard ~1.04/√m relative-error band
    of the exact distinct count."""
    from pyspark.sql import functions as F

    us = "unix_micros(cast(ts as timestamp))"
    return (
        stream.select(
            F.expr(f"({us} div 86400000000 + 3) % 7").alias("dow"),
            F.expr(f"({us} div 3600000000) % 24").alias("hod"),
            "user_id",
            "value",
        )
        .groupBy("dow", "hod")
        .applyInPandasWithState(
            _update_season_hll,
            outputStructType=_SEASON_HLL_OUTPUT_SCHEMA,
            stateStructType=_SEASON_HLL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming gap-sessionization (order-free interval merge + eviction)
# ---------------------------------------------------------------------------

#: Session gap in SECONDS — the same 30 minutes as the batch
#: ``streaming_batch.events_sessionize`` (its `_SESSION_GAP_MIN`).
#: The batch operator compares ``unix_timestamp`` differences, i.e.
#: TRUNCATED epoch seconds, so the twin's merge/eviction arithmetic
#: works in truncated seconds too — a µs-grain gap test would split
#: a pair the batch operator keeps together whenever the fractional
#: parts straddle the 1800 s boundary.
_SESSIONIZE_GAP_S = 30 * 60

_SESSIONIZE_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, cents long, closed boolean, rev long"
)
#: Per-user state: the user's LIVE sessions as parallel interval
#: arrays (start/end in epoch-µs, event count, exact integer cents),
#: plus a monotone revision counter so a consumer (and the pin test)
#: can pick each user's latest snapshot from an update-mode sink.
_SESSIONIZE_STATE_SCHEMA = (
    "starts array<long>, ends array<long>, ns array<long>, "
    "cs array<long>, rev long"
)


def _merge_intervals(iv, gap_s):
    """Gap-merge a list of (start_us, end_us, n, cents) interval
    summaries: sort by (start, end) and fold neighbours whose
    TRUNCATED-SECOND gap is <= gap_s (exactly the batch operator's
    ``unix_timestamp(ts) - unix_timestamp(lag(ts)) > gap`` test).
    Gap-sessionization is the connected components of the "within
    gap" relation on the time axis, so this fold is associative AND
    commutative over insertions — feeding events (width-0 intervals)
    in ANY order, across ANY micro-batch split, converges to the
    identical session set.  That order-freeness is what makes the
    twin exact under out-of-order file replay, where an incremental
    last-timestamp sessionizer would be wrong."""
    out = []
    for s in sorted(iv):
        if out and s[0] // 1_000_000 - out[-1][1] // 1_000_000 <= gap_s:
            p = out[-1]
            out[-1] = (p[0], max(p[1], s[1]), p[2] + s[2], p[3] + s[3])
        else:
            out.append(s)
    return out


def _update_sessionize(key, pdf_iter, state: GroupState):
    import pandas as pd

    gap_s = _SESSIONIZE_GAP_S
    if state.exists:
        starts, ends, ns, cs, rev = state.get
        sessions = list(zip(starts, ends, ns, cs))
    else:
        sessions, rev = [], 0
    rev += 1
    for pdf in pdf_iter:
        if not len(pdf):
            # Timeout invocations deliver one empty (object-dtype)
            # batch — nothing to fold, and the dtype would trip the
            # finite check.
            continue
        # Fail loudly on a null event time BEFORE the int64 view: NaT
        # would silently become INT64_MIN and poison the session list
        # (the same r14 near-miss _floored_cents guards for value).
        if pdf["ts"].isna().any():
            raise ValueError("streaming_sessionize: null ts")
        ts_us = (
            pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        )
        cents = _floored_cents(
            pdf["value"].to_numpy(), "streaming_sessionize"
        )
        sessions.extend(
            (int(t), int(t), 1, int(c)) for t, c in zip(ts_us, cents)
        )
    sessions = _merge_intervals(sessions, gap_s)
    # Eviction: once sec(end) + gap < sec(watermark), every future
    # event the watermark admits has ts >= wm, hence a truncated-
    # second gap > gap_s — the session can never be extended or
    # bridged again, so it is emitted CLOSED and leaves the state.
    # Per-user state is bounded by the user's live sessions inside
    # the watermark horizon, not the stream.
    wm_s = state.getCurrentWatermarkMs() // 1000
    closed = [s for s in sessions if s[1] // 1_000_000 + gap_s < wm_s]
    live = [s for s in sessions if s[1] // 1_000_000 + gap_s >= wm_s]
    if live:
        state.update(
            (
                [s[0] for s in live],
                [s[1] for s in live],
                [s[2] for s in live],
                [s[3] for s in live],
                rev,
            )
        )
        # Fire a timeout once the watermark passes the last live
        # session's horizon, so an idle user's state still drains.
        # (sec(end) + gap + 1 whole seconds is strictly above the
        # current watermark whenever the session is live.)
        state.setTimeoutTimestamp(
            (max(s[1] for s in live) // 1_000_000 + gap_s + 1) * 1000
        )
    else:
        # Drain to an O(1) TOMBSTONE (empty session lists + the rev
        # counter) instead of state.remove(): removal would restart a
        # revived user's rev at 1, and a max-rev consumer (the
        # documented snapshot-selection contract, used by the pin
        # tests) would then prefer the stale pre-drain emission over
        # every post-revival session (self-review r15).  The heavy
        # per-session state still drains; no new timeout is set, so a
        # permanently idle user costs one tombstone row, not a timer.
        state.update(([], [], [], [], rev))
    rows = [(s, True) for s in closed] + [(s, False) for s in live]
    if not rows:
        return
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(rows),
            "session_start": pd.to_datetime(
                [s[0] for s, _ in rows], unit="us"
            ),
            "session_end": pd.to_datetime(
                [s[1] for s, _ in rows], unit="us"
            ),
            "n_events": [s[2] for s, _ in rows],
            "cents": [s[3] for s, _ in rows],
            "closed": [c for _, c in rows],
            "rev": [rev] * len(rows),
        }
    )


def streaming_sessionize(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming twin of ``streaming_batch.events_sessionize`` (the
    30-min gap sessionizer): per-user LIVE sessions maintained as an
    order-free interval merge, with event-time-timeout EVICTION — the
    one stateful pattern the other twelve twins don't exercise.

    Exactness: a session is the connected component of events under
    the "within 30 min" relation, so the interval-merge fold is
    associative and commutative — the final session set (closed
    emissions plus each user's latest live snapshot) equals the batch
    operator's gaps-and-islands output EXACTLY under any micro-batch
    split and any arrival order the watermark admits; per-session
    value sums are exact integer cents (shared ``_floored_cents``
    kernel).  Pinned by ``test_streaming_sessionize_matches_batch``.
    Half-cent bound (ADVICE r15, same class as the seasonality twin):
    the batch operator's ``sum_value`` is ``pround(F.sum(value), 2)``
    — ONE floored float64 sum — while the twin accumulates per-row
    exact cents, so the pinned equality holds only while a session's
    float-sum error stays under the ~0.5-cent mid-grid margin of a
    decimal 2-dp total (broken only by ≳10^13 values at ~1-ulp error
    each, far past any real session).

    Scale: state per user is their live-session list inside the
    watermark horizon (evicted sessions leave state immediately;
    idle users drain via ``EventTimeTimeout`` to an O(1) revision
    tombstone that keeps the rev counter monotone across revivals),
    so the heavy state is bounded by the active-user working set,
    never stream length — the eviction the exact seasonality twin
    documents as its own 100 TB limitation."""
    from pyspark.sql import functions as F

    return (
        # Watermarks need TIMESTAMP; the events source reads ts as NTZ.
        # The session timezone is pinned UTC, so the cast is
        # value-preserving (the windows.py convention).
        stream.select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
        )
        .withWatermark("ts", watermark)
        .groupBy(F.col("user_id"))
        .applyInPandasWithState(
            _update_sessionize,
            outputStructType=_SESSIONIZE_OUTPUT_SCHEMA,
            stateStructType=_SESSIONIZE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming count-min sketch (vector state)
# ---------------------------------------------------------------------------

#: Twin-local copies of the batch sketch geometry and per-depth cell
#: hash (``operators.streaming_batch._CMS_DEPTH`` / ``_CMS_WIDTH`` /
#: ``_cms_cell_expr``) — replicated, not imported, because a
#: module-scope operators import would pull the whole registry (the
#: sessionize-gap convention); ``test_streaming_cms_sketch_constants``
#: pins them equal to the batch module's.
_CMS_TWIN_DEPTH = 3
_CMS_TWIN_WIDTH = 16


def _cms_twin_cell_expr(key_col: str, depth: int) -> str:
    """Spark-side cell index — the same md5-prefix hash the batch
    sketch uses, so the twin's cells are bit-identical to
    ``cms_cells``'s."""
    return (
        f"(cast(conv(substring(md5(concat({key_col}, '#{depth}')), 1, 4), 16, 10)"
        f" as bigint) % {_CMS_TWIN_WIDTH})"
    )


_CMS_SKETCH_OUTPUT_SCHEMA = "depth int, cells array<long>, n long"
#: Per-depth state: ONE sketch row — w cell counters plus the row's
#: total event count.  The counters fold by element-wise addition
#: (commutative + associative), so the final state is exact under any
#: micro-batch split; ``n`` is monotone per depth, so a consumer picks
#: each depth's final emission as its max-``n`` row.
_CMS_SKETCH_STATE_SCHEMA = "cells array<long>, n long"


def _update_cms_row(key, pdf_iter, state: GroupState):
    import numpy as np
    import pandas as pd

    if state.exists:
        cells_raw, n = state.get
        cells = np.asarray(cells_raw, dtype="int64")
    else:
        cells, n = np.zeros(_CMS_TWIN_WIDTH, dtype="int64"), 0
    for pdf in pdf_iter:
        if len(pdf):
            cells = cells + np.bincount(
                pdf["cell"].to_numpy(dtype="int64"),
                minlength=_CMS_TWIN_WIDTH,
            )
            n += len(pdf)
    cells_l = [int(c) for c in cells]
    state.update((cells_l, int(n)))
    yield pd.DataFrame(
        {"depth": [key[0]], "cells": [cells_l], "n": [int(n)]}
    )


def streaming_cms_sketch(
    stream: DataFrame, key_col: str = "event_type"
) -> DataFrame:
    """Streaming count-min sketch over ``key_col`` — the stateful twin
    of ``streaming_batch.cms_cells`` (the mergeable half of
    ``events_heavy_hitters_cms``), and the first twin with VECTOR
    state: each of the d sketch depths keeps its whole w-counter row
    as one ``array<long>`` state value, updated by element-wise
    ``bincount`` addition per micro-batch.

    Exactness: cell hashing happens JVM-side with the batch sketch's
    exact md5-prefix expression BEFORE the shuffle, and counter
    addition is commutative + associative, so each depth's final
    state equals the single-pass batch sketch row EXACTLY under any
    micro-batch split or arrival order (pinned by
    ``test_streaming_cms_sketch_matches_batch``).  Frequency
    estimates (min over the d cells a key hashes to) therefore also
    match the batch operator's.  Like the other counting twins,
    exactly-once source delivery is assumed — a replayed micro-batch
    would double-count.

    NULL keys (self-review r16): the twin sketches the NON-NULL key
    domain — NULL keys are filtered before hashing, because a NULL
    key's md5 cell is NULL and a vector state has no NULL index.
    This matches the batch OPERATOR's estimate semantics exactly
    (``events_heavy_hitters_cms`` probes join on cell values, so a
    NULL key's NULL cell never matches and drops out of the
    estimates); the only divergence from raw ``cms_cells`` output is
    its inert ``(depth, NULL, c)`` row, which no probe can reach.

    Scale: this is the sketch-state pattern a 100 TB stream wants —
    TOTAL state is d rows × (w + 1) longs (3 × 17 here, ~400 bytes)
    regardless of stream length OR key cardinality, the property that
    distinguishes it from every count-per-key twin whose state grows
    with the key domain.  The d-row key space does bound shuffle
    parallelism at d tasks; at production widths (w ~ 2^14+) the
    per-row bincount stays a few KiB of integer work per micro-batch,
    and a wider-parallelism variant would key on (depth, cell-block)
    at the cost of more state rows."""
    from pyspark.sql import functions as F

    case = F.expr(
        "CASE "
        + " ".join(
            f"WHEN depth = {d} THEN {_cms_twin_cell_expr(key_col, d)}"
            for d in range(_CMS_TWIN_DEPTH)
        )
        + " END"
    )
    depths = F.explode(
        F.array(*[F.lit(d) for d in range(_CMS_TWIN_DEPTH)])
    ).alias("depth")
    return (
        stream.where(F.col(key_col).isNotNull())
        .select(F.col(key_col), depths)
        .select("depth", case.cast("int").alias("cell"))
        .groupBy("depth")
        .applyInPandasWithState(
            _update_cms_row,
            outputStructType=_CMS_SKETCH_OUTPUT_SCHEMA,
            stateStructType=_CMS_SKETCH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming hourly OHLC (order-free open/close via (ts, event_id) carriers)
# ---------------------------------------------------------------------------


#: Kernel-internal output: each value aggregate travels as a
#: (double, isnan boolean) PAIR because the pandas→Arrow hop in the
#: applyInPandasWithState path collapses float64 NaN into NULL — a
#: NaN stored bare in state or output would silently come back as
#: NULL (self-review r17).  ``streaming_hourly_ohlc`` reconstitutes
#: real NaNs JVM-side and presents the public 6-column schema.
_OHLC_RAW_OUTPUT_SCHEMA = (
    "hr timestamp_ntz, open_v double, open_nan boolean, "
    "high_v double, high_nan boolean, low_v double, low_nan boolean, "
    "close_v double, close_nan boolean, n_events long"
)
#: Per-hour state: the OPEN carrier (its (µs, event_id) argmin key and
#: encoded value), the CLOSE carrier (argmax key and encoded value),
#: the running low/high (encoded), and the event count.  "First/last
#: value" is order-dependent as a stream fold, but under the batch
#: operator's TOTAL order (ts, event_id) it is an argmin/argmax — and
#: argmin/argmax over a total order ARE commutative + associative
#: folds once the state carries the ordering key alongside the value,
#: which is exactly what the two carriers do.  Encoding per aggregate:
#: (None, false) = absent/NULL, (None, true) = NaN, (x, false) = x.
_OHLC_STATE_SCHEMA = (
    "o_us long, o_eid long, o_val double, o_nan boolean, "
    "c_us long, c_eid long, c_val double, c_nan boolean, "
    "lo double, lo_nan boolean, hi double, hi_nan boolean, n long"
)


def _ohlc_min2(a, an, b, bn):
    """Spark ``F.min`` fold over the (value, isnan) encoding: absent
    (None, False) is ignored, NaN orders GREATER than every double so
    min prefers any real value."""
    if a is None and not an:
        return b, bn
    if b is None and not bn:
        return a, an
    if an:
        return (a, an) if bn else (b, bn)
    if bn:
        return a, an
    return (a, False) if a < b else (b, False)


def _ohlc_max2(a, an, b, bn):
    """Spark ``F.max`` fold over the (value, isnan) encoding: absent
    ignored, NaN greatest."""
    if a is None and not an:
        return b, bn
    if b is None and not bn:
        return a, an
    if an or bn:
        return None, True
    return (a, False) if a > b else (b, False)


def _update_hour_ohlc(key, pdf_iter, state: GroupState):
    import numpy as np
    import pandas as pd

    (
        o_us, o_eid, o_val, o_nan,
        c_us, c_eid, c_val, c_nan,
        lo, lo_nan, hi, hi_nan, n,
    ) = (
        state.get
        if state.exists
        else (None, None, None, False, None, None, None, False,
              None, False, None, False, 0)
    )
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        # Unit-pinned us (ADVICE r17): an assumed-ns //1000 would
        # collapse keys to ms if the hop ever delivered datetime64[us],
        # silently diverging the (ts, event_id) tie-break from batch.
        us = pd.to_datetime(pdf["ts"]).to_numpy().astype("datetime64[us]").astype("int64")
        eid = pdf["event_id"].to_numpy(dtype="int64")
        val = pdf["value"].to_numpy(dtype="float64")
        # NULL and NaN both surface as NaN in a float64 pandas column,
        # so the JVM-side vnull/visnan flags are the only way to keep
        # the batch operator's distinct NULL (ignored) vs NaN (sorts
        # greatest) aggregate semantics (self-review r17).
        vnull = pdf["vnull"].to_numpy(dtype=bool)
        visnan = pdf["visnan"].to_numpy(dtype=bool)
        order = np.lexsort((eid, us))  # ascending total order (us, eid)
        i, j = order[0], order[-1]
        if o_us is None or (int(us[i]), int(eid[i])) < (o_us, o_eid):
            o_us, o_eid = int(us[i]), int(eid[i])
            o_val = None if (vnull[i] or visnan[i]) else float(val[i])
            o_nan = bool(visnan[i])
        if c_us is None or (int(us[j]), int(eid[j])) > (c_us, c_eid):
            c_us, c_eid = int(us[j]), int(eid[j])
            c_val = None if (vnull[j] or visnan[j]) else float(val[j])
            c_nan = bool(visnan[j])
        real = val[~vnull & ~visnan]
        any_nan = bool(visnan.any())
        if len(real) or any_nan:
            b_lo, b_lo_nan = (
                (float(real.min()), False) if len(real) else (None, True)
            )
            b_hi, b_hi_nan = (
                (None, True) if any_nan else (float(real.max()), False)
            )
            lo, lo_nan = _ohlc_min2(lo, lo_nan, b_lo, b_lo_nan)
            hi, hi_nan = _ohlc_max2(hi, hi_nan, b_hi, b_hi_nan)
        n += len(pdf)
    state.update(
        (o_us, o_eid, o_val, o_nan, c_us, c_eid, c_val, c_nan,
         lo, lo_nan, hi, hi_nan, n)
    )
    yield pd.DataFrame(
        {
            "hr": [key[0]],
            "open_v": [o_val],
            "open_nan": [o_nan],
            "high_v": [hi],
            "high_nan": [hi_nan],
            "low_v": [lo],
            "low_nan": [lo_nan],
            "close_v": [c_val],
            "close_nan": [c_nan],
            "n_events": [n],
        }
    )


def streaming_hourly_ohlc(stream: DataFrame) -> DataFrame:
    """Per-hour streaming open/high/low/close of ``value`` — the
    stateful twin of ``streaming_batch.events_hourly_ohlc`` and the
    first twin whose state carries ORDERING-KEY/VALUE pairs: open and
    close look order-dependent ("first/last value of the hour"), but
    the batch operator defines them under the total order
    (ts, event_id), and an argmin/argmax over a total order is a
    commutative + associative fold once the state keeps the ordering
    key next to the value.  The hour's final state therefore equals
    the batch OHLC row EXACTLY under any micro-batch split or
    out-of-order replay (pinned by
    ``test_streaming_hourly_ohlc_matches_batch`` on the 4-file
    out-of-order fixture) — no buffering, no reordering, no window
    re-sort.  Every emitted value is an exact input double; no float
    arithmetic happens, so there is no rounding contract to mirror.

    NULL / NaN values (self-review r17): the batch aggregates treat
    them differently — F.min/F.max IGNORE NULLs while NaN orders
    GREATER than every double (so high picks NaN when present, low
    avoids it unless everything is NaN), and open/close carry the
    argmin/argmax row's value VERBATIM, NULL included.  A float64
    pandas column collapses NULL into NaN, so the twin ships a
    JVM-side ``vnull`` flag with each row and replicates the exact
    fold semantics in ``_ohlc_min2`` / ``_ohlc_max2`` — pinned by a
    NULL+NaN-bearing replay against the batch operator.

    ``n_events`` is monotone per hour, so a consumer picks each hour's
    final state as its max-``n_events`` emission (update semantics
    re-emit an hour whenever a micro-batch touches it).

    **At-least-once caveat — do NOT rely on ``n_events`` under
    replay.**  It is the ONLY non-idempotent scalar in this twin's
    state: min/max and the ordering-key carriers re-absorb a replayed
    row without change (folding the same (ts, event_id, value) twice
    is a no-op), but ``n`` increments per delivered row, so a source
    that re-delivers after a failure (at-least-once semantics)
    double-counts it.  Under exactly-once micro-batch delivery
    (checkpointed Structured Streaming, the foreachBatch bridge's
    contract) it equals the batch count; under anything weaker, treat
    ``n_events`` as a lower-bound-only diagnostic and the OHLC columns
    as the trustworthy surface — same contract as the other counting
    twins.

    Scale: state is nine scalars per CALENDAR HOUR (key domain is
    time, not users or events), watermark-evictable once an hour
    passes the lateness horizon; shuffle parallelism is bounded by
    the live-hour count, which is exactly the tumbling-window
    parallelism the batch operator's single hour-key shuffle has."""
    from pyspark.sql import functions as F

    raw = (
        stream.select(
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            "ts",
            "event_id",
            "value",
            F.col("value").isNull().alias("vnull"),
            F.coalesce(F.isnan("value"), F.lit(False)).alias("visnan"),
        )
        .groupBy("hr")
        .applyInPandasWithState(
            _update_hour_ohlc,
            outputStructType=_OHLC_RAW_OUTPUT_SCHEMA,
            stateStructType=_OHLC_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # Reconstitute real NaNs JVM-side (the pandas→Arrow hop collapsed
    # them to NULL in the raw output — see _OHLC_RAW_OUTPUT_SCHEMA).
    nan = F.lit(float("nan"))
    return raw.select(
        "hr",
        F.when(F.col("open_nan"), nan).otherwise(F.col("open_v")).alias("open_v"),
        F.when(F.col("high_nan"), nan).otherwise(F.col("high_v")).alias("high_v"),
        F.when(F.col("low_nan"), nan).otherwise(F.col("low_v")).alias("low_v"),
        F.when(F.col("close_nan"), nan)
        .otherwise(F.col("close_v"))
        .alias("close_v"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Streaming as-of enrichment (join-shaped state)
# ---------------------------------------------------------------------------

_ASOF_OUTPUT_SCHEMA = (
    "user_id long, event_id long, ts timestamp, "
    "o_orderkey long, o_orderdate timestamp, closed boolean, rev long"
)
#: Per-user join state: the order VERSION list (deduped to max okey per
#: timestamp, watermark-pruned) and the buffered not-yet-final events.
_ASOF_STATE_SCHEMA = (
    "o_ts array<long>, o_key array<long>, "
    "e_id array<long>, e_ts array<long>, rev long"
)


def _asof_match(o_ts, o_key, ts_us):
    """Latest order (t, okey) with t <= ts_us, else (None, None).
    ``o_ts`` is sorted ascending; linear scan is fine — the pruned
    version list is small by construction."""
    lo_t = lo_k = None
    for t, k in zip(o_ts, o_key):
        if t <= ts_us:
            lo_t, lo_k = t, k
        else:
            break
    return lo_t, lo_k


def _update_asof(key, pdf_iter, state: GroupState):
    import pandas as pd

    if state.exists:
        o_ts, o_key, e_id, e_ts, rev = state.get
        orders = dict(zip(o_ts, o_key))
        events = list(zip(e_id, e_ts))
    else:
        orders, events, rev = {}, [], 0
    rev += 1
    for pdf in pdf_iter:
        if not len(pdf):
            # Timeout invocations deliver one empty (object-dtype)
            # batch — nothing to fold.
            continue
        if pdf["t"].isna().any():
            raise ValueError("streaming_asof_enrich: null event time")
        # Unit-pinned us (the stateful-twin convention).
        t_us = pdf["t"].to_numpy().astype("datetime64[us]").astype("int64")
        kind = pdf["kind"].to_numpy(dtype="int64")
        rid = pdf["rid"].to_numpy(dtype="int64")
        for k, t, r in zip(kind, t_us, rid):
            if k == 0:
                # Dim version: dedup to max okey per timestamp, the
                # batch operator's pre-dedup (engine-defined as-of
                # tie-breaks otherwise).
                t, r = int(t), int(r)
                if orders.get(t, -1) < r:
                    orders[t] = r
            else:
                events.append((int(r), int(t)))
    o_sorted = sorted(orders.items())
    o_ts = [t for t, _ in o_sorted]
    o_key = [k for _, k in o_sorted]
    wm_us = state.getCurrentWatermarkMs() * 1000
    # FINAL: an event below the watermark can never be re-matched — any
    # future order the watermark admits has t >= wm > e.ts — so it is
    # emitted closed and leaves the buffer.
    final = [(e, t) for e, t in events if t < wm_us]
    live = [(e, t) for e, t in events if t >= wm_us]
    # Matches are computed BEFORE the dim prune (self-review r18): a
    # CLOSED event has ts < wm, so its correct match may be an order
    # version strictly older than the newest one at-or-below the
    # watermark — exactly the versions the prune drops.  (The pruned
    # list is sufficient only for matchers with ts >= wm.)
    rows = [(e, t, True) for e, t in final] + [
        (e, t, False) for e, t in live
    ]
    matches = [_asof_match(o_ts, o_key, t) for _, t, _ in rows]
    # Dim pruning (the Flink-temporal-join bound): drop every order
    # version strictly older than the newest one at-or-below the
    # watermark — all REMAINING matchers (live + future events) have
    # ts >= wm, so that newest-below-wm version dominates older ones.
    newest_le_wm = None
    for t in o_ts:
        if t <= wm_us:
            newest_le_wm = t
        else:
            break
    if newest_le_wm is not None:
        keep = [i for i, t in enumerate(o_ts) if t >= newest_le_wm]
        o_ts = [o_ts[i] for i in keep]
        o_key = [o_key[i] for i in keep]
    state.update(
        (o_ts, o_key, [e for e, _ in live], [t for _, t in live], rev)
    )
    if live:
        # Fire a timeout once the watermark passes the earliest
        # buffered event, so an idle user's buffer still finalizes.
        # (us//1000 + 1 ms is strictly above the current watermark
        # whenever the event is live: t >= wm_us => t//1000 >= wm_ms.)
        state.setTimeoutTimestamp(min(t for _, t in live) // 1000 + 1)
    if not rows:
        return
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(rows),
            "event_id": [e for e, _, _ in rows],
            "ts": pd.to_datetime([t for _, t, _ in rows], unit="us"),
            "o_orderkey": pd.array(
                [k for _, k in matches], dtype="Int64"
            ),
            "o_orderdate": pd.to_datetime(
                [t for t, _ in matches], unit="us"
            ),
            "closed": [c for _, _, c in rows],
            "rev": [rev] * len(rows),
        }
    )


def streaming_asof_enrich(
    events: DataFrame, orders: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming as-of ENRICHMENT — the stateful twin of
    ``operators.pipeline.join_asof`` (each event matched to the user's
    most recent order at-or-before its timestamp, ``>=`` semantics,
    max-okey tie-break among equal order timestamps) and the first
    twin with JOIN-SHAPED state: the fifteen prior twins fold ONE
    stream into per-key aggregates; this one correlates TWO streams
    (a fact stream and a dim-version stream) under one keyed state.

    Shape: orders (kind 0) and events (kind 1) are tagged and unioned
    onto a common (user, time) axis — the same union-then-correlate
    trick the batch operator uses, lifted to a stream — then one
    ``applyInPandasWithState`` per user keeps (a) the order VERSION
    list, deduped to max okey per timestamp like the batch pre-dedup,
    and (b) the buffered events not yet finalizable.

    Exactness under out-of-order replay: an event's match can only
    improve while an order with ``t <= e.ts`` can still arrive; once
    the watermark passes ``e.ts``, every admissible future row has
    event time ``>= wm > e.ts``, so the event's match is FINAL — it is
    emitted ``closed`` and leaves the buffer.  Events still above the
    watermark re-emit their provisional match each revision (update
    semantics); a consumer takes closed rows plus each user's max-rev
    snapshot, and that view equals the batch ``join_asof`` output
    EXACTLY under any micro-batch split or arrival interleaving the
    watermark admits (pinned by
    ``test_streaming_asof_enrich_matches_batch`` on interleaved
    out-of-order event and order files, plus a deterministic
    late-arriving-dim pin).

    Scale — the Flink-temporal-join state bound: per user the buffer
    holds only events inside the lateness horizon, and the version
    list only orders newer than the newest version at-or-below the
    watermark (that one dominates all older versions for every
    remaining matcher).  State is bounded by the per-key in-horizon
    traffic, never stream length; event-time timeouts finalize idle
    users' buffers.  The one deliberate residual: a user's final
    dominant order version is kept indefinitely (key-domain-sized,
    like the profile twins) so a user who goes quiet for a year still
    enriches correctly — the batch operator has no horizon either.
    """
    from pyspark.sql import functions as F

    order_side = orders.select(
        F.col("o_custkey").alias("user_id"),
        # Watermarks need TIMESTAMP; the session timezone is pinned
        # UTC, so the cast is value-preserving (windows.py convention).
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(0).alias("kind"),
        F.col("o_orderkey").alias("rid"),
    )
    event_side = events.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("rid"),
    )
    return (
        order_side.unionByName(event_side)
        .withWatermark("t", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_asof,
            outputStructType=_ASOF_OUTPUT_SCHEMA,
            stateStructType=_ASOF_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
