"""Temporal joins Spark lacks as built-ins: as-of join and range join.

Beyond-reference operators (SURVEY.md §2.C notes the reference has no
equi-join at all); both are implemented as compositions of shuffles Spark
already does well — no cross join, no broadcast-nested-loop — so they hold at
100 TB:

  * **as-of join** (merge-asof): for each left row, the latest right row with
    ``right.ts <= left.ts`` per key. Implemented as union + tag + running
    ``last(ignorenulls)`` window — ONE shuffle on (key), no range explosion.
    This is the standard distributed merge-asof; state per key is a single
    carried value, so skewed keys degrade to a window over one partition's
    rows, never to a quadratic join.

  * **range join**: pairs with ``|left.ts - right.ts| <= width``-style bands.
    A naive inequality join plans as BroadcastNestedLoopJoin (quadratic);
    instead both sides are bucketed to ``floor(ts / width)`` and equi-joined
    on (key, bucket) with the right side exploded to adjacent buckets, then
    refined by the exact predicate. Shuffle volume is rows × 2, never rows².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, *, on: str = "ts",
              by: str | None = None, value_col: str = "value",
              out_col: str = "asof_value") -> DataFrame:
    """For each left row, attach the last ``value_col`` from ``right`` at or
    before ``left[on]`` (DuckDB ``ASOF JOIN`` semantics: >=, ties take the
    right row at the same timestamp). Left rows with no prior right row get
    NULL.

    Same-timestamp right duplicates resolve to the MAX of ``value_col``
    (deterministic). r10: that tie-break rides the window's sort order
    instead of a separate pre-aggregation — right rows at one (by, on)
    instant sort by value ascending, so the carry-forward ``last`` sees
    the max non-null last; a pre-agg groupBy spent one extra exchange of
    the right side for the same answer (NULL-value rows are skipped by
    ``ignorenulls`` in both forms).
    """
    key_cols = [by] if by else []
    rights = (right.select(*key_cols, on,
                           F.col(value_col).alias(out_col))
              .withColumn("_is_r", F.lit(1)))
    lefts = left.withColumn("_is_r", F.lit(0)) \
                .withColumn(out_col, F.lit(None).cast(
                    rights.schema[out_col].dataType))
    unioned = lefts.unionByName(rights.select(*key_cols, on, out_col, "_is_r"),
                                allowMissingColumns=True)
    # at equal ts the right row must sort BEFORE the left row so the left
    # row sees it (>= semantics); among equal-ts right rows, value ASC
    # (nulls first) puts the max non-null value last — the pre-agg's
    # F.max, expressed as sort order
    w = (Window.partitionBy(*(key_cols or [F.lit(1)]))
         .orderBy(F.col(on).asc(), F.col("_is_r").desc(),
                  F.col(out_col).asc_nulls_first())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        unioned.withColumn(out_col,
                           F.last(out_col, ignorenulls=True).over(w))
        .filter(F.col("_is_r") == 0)
        .drop("_is_r")
    )


def bucketed_range_join(left: DataFrame, right: DataFrame, *,
                        on: str = "ts", by: str | None = None,
                        width_seconds: int = 600,
                        suffix: str = "_r") -> DataFrame:
    """All (left, right) pairs with ``left.ts - width <= right.ts <= left.ts``
    (same ``by`` key). Equi-join on (key, time bucket): each LEFT row probes
    its own bucket and the previous one — a band of exactly ``width`` spans at
    most two ``width``-sized buckets, so every qualifying pair shares a probe
    key — then the exact band predicate refines.

    Right columns are suffixed. Inner join: left rows with no partner drop
    out (wrap with a left join against the output to keep them).
    """
    l_ts, r_ts = F.col(on), F.col(f"{on}{suffix}")
    lower = l_ts - F.expr(f"INTERVAL {width_seconds} SECONDS")
    upper = l_ts

    bucket = lambda c: F.floor(F.unix_timestamp(c) / width_seconds)  # noqa: E731
    key_cols = [by] if by else []

    r = right.select(*key_cols,
                     *[F.col(c).alias(f"{c}{suffix}")
                       for c in right.columns if c not in key_cols])
    r = r.withColumn("_bucket", bucket(r_ts))
    # left probes its bucket and the one before (band spans at most 2 buckets
    # when the band width <= bucket width)
    l = left.withColumn(
        "_bucket", F.explode(F.array(bucket(l_ts), bucket(l_ts) - 1)))
    return (
        l.join(r, key_cols + ["_bucket"])
        .filter((r_ts >= lower) & (r_ts <= upper))
        .drop("_bucket")
    )


def ewma_by_key(events: DataFrame, *, key_col: str = "user_id",
                ts_col: str = "ts", order_col: str = "event_id",
                val_col: str = "value", alpha: float = 0.2) -> DataFrame:
    """Final exponentially-weighted moving average per key — the canonical
    loop-carried per-entity recursion (EWMA_n = α·x_n + (1−α)·EWMA_{n−1},
    which no window FRAME expresses) — as a JVM-side higher-order
    ``aggregate`` fold over the per-key ordered value array.

    Until round 10 this ran as a grouped-map ``applyInPandas`` fold; the
    round-10 A/B (OPTIMIZATION_r10.md, "Inherited state" and "Results")
    measured the Python boundary at 84% of the pillar wall (2.89 s →
    0.46 s at sf0.1, identical results), so the fold now stays in the
    JVM: ``collect_list(struct(ts, order, val))``
    under the same single entity-key shuffle, ``array_sort`` for the total
    (ts, order_col) order, and ``F.aggregate`` seeded with the first value
    — the IDENTICAL float operation sequence (α·x then (1−α)·acc then add,
    IEEE doubles), so results match the pandas fold and any engine's
    ordered list_reduce bit-for-bit.

    Scale shape: unchanged — ONE shuffle on the entity key, O(group) state
    per entity materialized as an array inside the aggregate (same bytes
    the Arrow batch held before, minus the JVM→Python→JVM round trip).
    The applyInPandas pattern remains the right tool when per-entity state
    is too rich for an expression fold (Kalman filters, model scoring);
    see asof_join_cogrouped below for the cogrouped exemplar.
    """
    seq = (events
           .select(key_col,
                   F.struct(F.col(ts_col), F.col(order_col),
                            F.col(val_col).alias("_v")).alias("_e"))
           .groupBy(key_col)
           .agg(F.array_sort(F.collect_list("_e")).alias("_seq")))
    fold = F.aggregate(
        F.slice("_seq", 2, F.greatest(F.size("_seq") - 1, F.lit(0))),
        F.element_at("_seq", 1)["_v"].cast("double"),
        lambda acc, e: (F.lit(alpha) * e["_v"].cast("double")
                        + F.lit(1.0 - alpha) * acc))
    return seq.select(key_col,
                      F.size("_seq").cast("long").alias("n_events"),
                      fold.alias("ewma"))


def asof_join_cogrouped(left: DataFrame, right: DataFrame, *, on: str = "ts",
                        by: str = "user_id", value_col: str = "value",
                        out_col: str = "asof_value") -> DataFrame:
    """:func:`asof_join` semantics via the cogrouped-pandas API
    (``groupBy(k).cogroup(...).applyInPandas`` + ``pd.merge_asof``) — the
    J-surface variant: both sides shuffle ONCE on the key, each key's two
    slices meet in a single Arrow batch, and the per-key merge is the
    textbook sorted backward-scan. Same contract as the window form (>=,
    same-ts right row visible, right deduped to MAX(value) per (by, on));
    oracle-checked against DuckDB's native ASOF JOIN by the
    ``events_asof_cogroup`` query.

    Per-key state is one pandas frame — the cogroup path suits FAT payloads
    (many carried columns) where the union+window trick would carry every
    column through the tag-sort; for a single carried value the window form
    does one shuffle of one column and wins. Both are O(n log n) per key.
    """
    import pandas as pd

    # the right side's ordering column gets a FRESH name: when both cogroup
    # children expose a same-named derived attribute (e.g. both sides' `ts`
    # normalized from the same parquet column), the cogroup exchange
    # resolved them to one attribute and the right-side frame arrived
    # WITHOUT its ts — observed on the nanos-normalized events table
    rts = f"_r_{on}"
    rights = (right.groupBy(F.col(by), F.col(on).alias(rts))
              .agg(F.max(value_col).alias(out_col)))
    left_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields)
    out_schema = f"{left_fields}, {out_col} double"

    def merge(ldf: "pd.DataFrame", rdf: "pd.DataFrame") -> "pd.DataFrame":
        ldf = ldf.sort_values(on, kind="mergesort")
        if rdf.empty:
            ldf[out_col] = pd.array([None] * len(ldf), dtype="Float64")
            return ldf
        rdf = rdf.sort_values(rts, kind="mergesort")
        merged = pd.merge_asof(ldf, rdf.drop(columns=[by]),
                               left_on=on, right_on=rts,
                               direction="backward",
                               allow_exact_matches=True)
        merged = merged.drop(columns=[rts])
        # nullable dtype: a plain float64 NaN would surface as Spark NaN,
        # not NULL, and break ASOF-left-join parity
        merged[out_col] = merged[out_col].astype("Float64")
        return merged

    return (left.groupBy(by).cogroup(rights.groupBy(by))
            .applyInPandas(merge, schema=out_schema))


def holt_by_key(events: DataFrame, *, key_col: str = "user_id",
                ts_col: str = "ts", order_col: str = "event_id",
                val_col: str = "value", alpha: float = 0.3,
                gamma: float = 0.1) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per key: level + trend
    state folded over the ordered value sequence —
    ``l' = α·x + (1−α)(l + b);  b' = γ(l' − l) + (1−γ)b`` seeded with
    ``l = x₀, b = 0`` — the one-step-ahead forecasting twin of
    :func:`ewma_by_key`, with the same grouped-map shape: ONE shuffle on
    the entity key, O(1) loop-carried state per entity, entities parallel
    across executors.

    Determinism matches the ewma contract: plain-Python float folds (IEEE
    doubles, same op sequence as a SQL recursive CTE evaluating the same
    literals), no Python-side rounding (banker's-rounding trap).
    """
    import pandas as pd
    from pyspark.sql import types as T

    key_type = events.schema[key_col].dataType
    out_schema = T.StructType([
        T.StructField(key_col, key_type),
        T.StructField("n_events", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
    ])
    one_minus_a, one_minus_g = 1.0 - alpha, 1.0 - gamma

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values([ts_col, order_col], kind="mergesort")
        level = trend = None
        for x in pdf[val_col]:
            x = float(x)
            if level is None:
                level, trend = x, 0.0
            else:
                new_level = alpha * x + one_minus_a * (level + trend)
                trend = gamma * (new_level - level) + one_minus_g * trend
                level = new_level
        return pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "n_events": [len(pdf)],
             "level": [level], "trend": [trend]})

    return (events.select(key_col, ts_col, order_col, val_col)
            .groupBy(key_col).applyInPandas(fold, out_schema))


def croston_by_key(demand: DataFrame, *, key_col: str, order_col: str,
                   qty_col: str, gap_col: str,
                   alpha: float = 0.2) -> DataFrame:
    """Croston's method (Croston 1972) for INTERMITTENT demand — the
    forecasting primitive for series that are mostly zeros (spare parts,
    long-tail SKUs), where plain EWMA collapses toward zero between
    demands.  Input is the DEMAND-EVENT table (zero periods already
    absent): per key, ordered events with quantity and the gap (periods
    since the previous demand; NULL/any value on the first row is
    ignored).  Fold: ``z₀ = q₀, p₀ = 1``; then per event
    ``z' = α·q + (1−α)·z;  p' = α·gap + (1−α)·p``.  The forecast per
    period is z/p, taken by the caller.

    Same grouped-map contract as :func:`holt_by_key`: one shuffle on the
    key, O(1) loop-carried state, plain-Python IEEE float folds with the
    exact op sequence a SQL recursive CTE evaluates — no Python-side
    rounding."""
    import pandas as pd
    from pyspark.sql import types as T

    key_type = demand.schema[key_col].dataType
    out_schema = T.StructType([
        T.StructField(key_col, key_type),
        T.StructField("n_demands", T.LongType()),
        T.StructField("size_level", T.DoubleType()),
        T.StructField("interval_level", T.DoubleType()),
    ])
    one_minus_a = 1.0 - alpha

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values([order_col], kind="mergesort")
        z = p = None
        for q, gap in zip(pdf[qty_col], pdf[gap_col]):
            if z is None:
                z, p = float(q), 1.0
            else:
                z = alpha * float(q) + one_minus_a * z
                p = alpha * float(gap) + one_minus_a * p
        return pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "n_demands": [len(pdf)],
             "size_level": [z], "interval_level": [p]})

    return (demand.select(key_col, order_col, qty_col, gap_col)
            .groupBy(key_col).applyInPandas(fold, out_schema))
