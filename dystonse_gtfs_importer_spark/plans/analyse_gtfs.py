"""The analyse pipeline: records → delay-statistics tables.

Re-expresses ``analyse compute-curves --all``
(/root/reference/src/analyser/specific_curves.rs,
/root/reference/src/analyser/default_curves.rs) — per-route driver
loops and rayon pools — as whole-dataset Spark jobs.  The reference's
nested ``DelayStatistics`` tree becomes three flat Parquet-able
tables:

* ``general_delay``    (route_id, route_variant, event_type,
                        time_slot, stop_index) → curve       [SemiSpecific]
* ``specific_curves``  (… , start_stop_index, end_stop_index,
                        focus) → curve                        [Specific]
* ``default_curves``   (route_type, route_section, time_slot,
                        event_type) → curve + fallback rows   [General →
                        FallbackGeneral → SuperGeneral]

Scale design: every stage is one shuffle keyed by its output grouping;
the J4 stop-pair join is an equi-join on the vehicle key *within*
(route, variant) — never a cross product; curve math runs in
Arrow-batched ``applyInPandas`` kernels whose groups are tiny
(≤ thousands of rows), so skew is bounded by route popularity, which
AQE skew-split handles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ByteType, FloatType, LongType, StructField, StructType,
)
from pyspark.sql.window import Window

from .. import curves as cv
from ..functions import sql_shared as S
from ..schemas import (
    CURVE_TYPE, PRECISION_FALLBACK_GENERAL, PRECISION_GENERAL,
    PRECISION_SUPER_GENERAL,
)

DELAY_LIMIT = 3000          # F2: strict bound for curve inputs
MIN_ROWS_GENERAL = 20       # F13: general_delay gate
MIN_PAIRS_SPECIFIC = 21     # F13: "> 20 pairs"
MIN_ROWS_DEFAULT = 10       # F13: default-curve gate


# ---------------------------------------------------------------------------
# DbItem preparation
# ---------------------------------------------------------------------------

def prepare_dbitems(records: DataFrame, vstops: DataFrame) -> DataFrame:
    """Join records to the variant stop geometry (by stop_id, as the
    reference matches: specific_curves.rs:281,292) and attach the
    scheduled event datetime + time slot per event type.

    ``vstops`` is the small ``variant_stops`` dimension — broadcast.
    Output grain: (record × matching variant stop position) with
    ``stop_index``, ``stop_count``, ``dt_arrival``, ``dt_departure``,
    ``slot_arrival``, ``slot_departure``.
    """
    v = F.broadcast(vstops.select(
        "route_id", "route_variant", "stop_id", "stop_index", "stop_count",
        "arrival_secs", "departure_secs"))
    r = records.join(v, ["route_id", "route_variant", "stop_id"])
    for et, secs in (("arrival", "arrival_secs"),
                     ("departure", "departure_secs")):
        r = r.withColumn(
            f"dt_{et}", F.expr(S.gtfs_noon_datetime("trip_start_date", secs)))
        r = r.withColumn(
            f"slot_{et}", F.expr(S.time_slot_id(f"dt_{et}", S.SPARK)))
    return r


def _unpivot_events(items: DataFrame) -> DataFrame:
    """One row per (record, event_type) with that event's delay, slot,
    and scheduled datetime; null-delay events dropped (F4)."""
    cols = [c for c in items.columns
            if not c.startswith(("delay_", "dt_", "slot_"))]
    return items.select(*cols, F.expr(S.event_type_stack({
        "delay": ("delay_arrival", "delay_departure"),
        "time_slot": ("slot_arrival", "slot_departure"),
        "event_dt": ("dt_arrival", "dt_departure")}))
    ).where(F.col("delay").isNotNull())


def _with_default_slot(df: DataFrame) -> DataFrame:
    """Duplicate every row into the always-matching DEFAULT slot (12):
    the reference iterates TIME_SLOTS_WITH_DEFAULT so every curve also
    exists at slot 12 (specific_curves.rs:274-276)."""
    return df.unionByName(
        df.withColumn("time_slot",
                      F.lit(S.TIME_SLOT_DEFAULT_ID).cast(df.schema["time_slot"].dataType)))


# ---------------------------------------------------------------------------
# W1: forward-fill projection
# ---------------------------------------------------------------------------

def forward_fill_projection(records: DataFrame, vstops: DataFrame) -> DataFrame:
    """W1: project delays onto schedule stops that have no record.

    Per vehicle (trip_id, trip_start_date, trip_start_time), walk the
    variant's schedule stops in order and synthesize a record carrying
    the last observed (delay_arrival, delay_departure) at every stop
    without one, starting from the first real observation
    (``compute_projections_for_route_variant``,
    /root/reference/src/analyser/specific_curves.rs:158-252).

    Fidelity note: the reference's literal control flow exhausts its
    schedule iterator on the first record (subsequent records are
    never reached), which contradicts both its naming and its call
    site's intent; we implement the *intended* gap-fill — each
    schedule stop takes the delays of the nearest preceding record —
    via ``last(ignorenulls) OVER (PARTITION BY vehicle ORDER BY
    stop_index)``.

    Scale: the synthesized grid is |vehicles| × |variant stops| rows —
    linear in schedule size, one shuffle on the vehicle key.
    """
    vehicle = ["route_id", "route_variant", "trip_id", "trip_start_date",
               "trip_start_time"]
    vehicles = records.select(*vehicle, "source", "schedule_file_name").distinct()
    grid = vehicles.join(
        F.broadcast(vstops.select("route_id", "route_variant", "stop_sequence",
                                  F.col("stop_id").alias("sched_stop_id"))),
        ["route_id", "route_variant"])
    obs = records.select(
        *vehicle, "stop_sequence", "stop_id",
        "time_of_recording", "delay_arrival", "delay_departure")
    j = grid.join(obs, vehicle + ["stop_sequence"], "left")

    w = (Window.partitionBy(*vehicle)
         .orderBy("stop_sequence")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = (
        j.withColumn("delay_arrival",
                     F.last("delay_arrival", ignorenulls=True).over(w))
        .withColumn("delay_departure",
                    F.last("delay_departure", ignorenulls=True).over(w))
        .withColumn("is_projected", F.col("stop_id").isNull())
        .withColumn("stop_id", F.coalesce("stop_id", "sched_stop_id"))
        .drop("sched_stop_id")
    )
    # rows before the first observation have nothing to carry
    return filled.where(
        F.col("delay_arrival").isNotNull()
        | F.col("delay_departure").isNotNull())


# ---------------------------------------------------------------------------
# general_delay (SemiSpecific, A3)
# ---------------------------------------------------------------------------

GENERAL_KEYS = ["route_id", "route_variant", "event_type", "time_slot",
                "stop_index"]


def general_delay_counted(items: DataFrame) -> DataFrame:
    """The mergeable sufficient statistic behind general curves:
    (group keys, delay, cnt).  Associative/commutative under
    count-summing, so deltas from disjoint record slices merge exactly
    (plans/incremental.py)."""
    events = _with_default_slot(_unpivot_events(items))
    return events.groupBy(*GENERAL_KEYS, "delay").agg(
        F.count("*").alias("cnt"))


def _counted_curve(pdf: pd.DataFrame, min_rows: int):
    """The shared curve kernel over a (delay, cnt) basis group:
    ``(simplify(make_curve_counted, 0.01), n)``, or None when the group
    has fewer than ``min_rows`` values or no curve (F13 gate)."""
    n = int(pdf["cnt"].sum())
    if n < min_rows:
        return None
    made = cv.make_curve_counted(pdf["delay"].to_numpy("float64"),
                                 pdf["cnt"].to_numpy("float64"))
    if made is None:
        return None
    return cv.simplify(made[0], 0.01), n


def _empty(schema: StructType) -> pd.DataFrame:
    return pd.DataFrame({f.name: pd.Series(dtype="object")
                         for f in schema.fields})


def general_curves_from_counted(counted: DataFrame) -> DataFrame:
    """Derive the general curve table from its (delay, cnt) basis."""
    keys = GENERAL_KEYS
    out_schema = StructType(
        [counted.schema[k] for k in keys] + [
            StructField("curve", CURVE_TYPE),
            StructField("sample_size", LongType()),
        ])

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        made = _counted_curve(pdf, MIN_ROWS_GENERAL)
        if made is None:
            return _empty(out_schema)
        row = {k: pdf[k].iloc[0] for k in keys}
        row["curve"] = made[0].points()
        row["sample_size"] = made[1]
        return pd.DataFrame([row])

    return counted.groupBy(*keys).applyInPandas(build, out_schema)


def general_delay_curves(items: DataFrame) -> DataFrame:
    """Per (route, variant, event_type, time_slot incl DEFAULT,
    stop_index): unfocused make_curve over delays, ≥20 rows,
    simplify(0.01) (specific_curves.rs:356-369).

    Scale: delays are pre-aggregated to (delay, count) *before* the
    curve shuffle (map-side combine for the UDAF) — the shuffle volume
    is distinct delay values per group, not record volume; the kernel
    uses the multiplicity form ``make_curve_counted``.
    """
    return general_curves_from_counted(general_delay_counted(items))


# ---------------------------------------------------------------------------
# specific curve sets (stop pairs, J4 + A3 + C8)
# ---------------------------------------------------------------------------

PAIR_KEYS = ["route_id", "route_variant", "event_type", "time_slot",
             "start_stop_index", "end_stop_index"]


def stop_pair_counted(items: DataFrame) -> DataFrame:
    """J4: vehicle-matched (start, end) stop pairs → per-pair CurveSets.

    Start side contributes its *departure* delay; end side the delay of
    the curve's event type.  Both delays strictly within ±3000 s (F2)
    and rounded to 12 s toward zero (F3); >20 pairs per
    (route, variant, event_type, slot, i_s, i_e) group gate (F13);
    curve set construction per specific_curves.rs:371-426.

    The join is equi on (route, variant, vehicle) with a theta
    ``i_e > i_s`` residual — Catalyst plans a shuffled hash join on the
    vehicle key; the pair blow-up is bounded per vehicle by stops².
    """
    vehicle = ["route_id", "route_variant", "trip_id", "trip_start_date",
               "trip_start_time"]
    events = _with_default_slot(_unpivot_events(items))

    start = (
        items.where(F.col("delay_departure").isNotNull())
        .select(*vehicle,
                F.col("stop_index").alias("start_stop_index"),
                F.col("delay_departure").alias("delay_start"))
    )
    end = events.select(
        *vehicle, "event_type", "time_slot",
        F.col("stop_index").alias("end_stop_index"),
        F.col("delay").alias("delay_end"))

    t = DELAY_LIMIT
    pairs = (
        start.join(end, vehicle)
        .where(F.col("end_stop_index") > F.col("start_stop_index"))
        .where((F.col("delay_start") < t) & (F.col("delay_start") > -t)
               & (F.col("delay_end") < t) & (F.col("delay_end") > -t))
        .select(
            "route_id", "route_variant", "event_type", "time_slot",
            "start_stop_index", "end_stop_index",
            F.expr(S.round_to_12s("delay_start", S.SPARK)).alias("d_start"),
            F.expr(S.round_to_12s("delay_end", S.SPARK)).alias("d_end"),
        )
    )

    # map-side combine: 12 s rounding makes the pair space discrete
    # (≤ 500² per group, far fewer in practice) — shuffle (pair, count)
    # instead of one row per vehicle pair; the kernel re-expands
    # locally, preserving exact index-window semantics.  The result is
    # the mergeable sufficient statistic (plans/incremental.py).
    return pairs.groupBy(*PAIR_KEYS, "d_start", "d_end").agg(
        F.count("*").alias("cnt"))


def stop_pair_curves_from_counted(counted: DataFrame) -> DataFrame:
    """Derive the specific CurveSet table from its pair-count basis."""
    keys = PAIR_KEYS
    out_schema = StructType(
        [counted.schema[k] for k in keys] + [
            StructField("focus", FloatType()),
            StructField("curve", CURVE_TYPE),
            StructField("sample_size", LongType()),
        ])

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        n = int(pdf["cnt"].sum())
        if n < MIN_PAIRS_SPECIFIC:
            return _empty(out_schema)
        reps = pdf["cnt"].to_numpy(dtype="int64")
        res = cv.stop_pair_curve_set(np.column_stack([
            np.repeat(pdf["d_start"].to_numpy(dtype="float64"), reps),
            np.repeat(pdf["d_end"].to_numpy(dtype="float64"), reps)]))
        if res is None:
            return _empty(out_schema)
        rows = []
        for focus, curve in res["curves"]:
            row = {k: pdf[k].iloc[0] for k in keys}
            row["focus"] = np.float32(focus)
            row["curve"] = curve.points()
            row["sample_size"] = res["sample_size"]
            rows.append(row)
        return pd.DataFrame(rows)

    return counted.groupBy(*keys).applyInPandas(build, out_schema)


def stop_pair_curve_sets(items: DataFrame) -> DataFrame:
    """The full J4 pipeline: pair basis → per-pair CurveSets."""
    return stop_pair_curves_from_counted(stop_pair_counted(items))


# ---------------------------------------------------------------------------
# default curves (General ladder, A6)
# ---------------------------------------------------------------------------

LEAF_KEYS = ["route_type", "route_variant", "route_section",
             "time_slot", "event_type"]


def default_leaf_counted(items: DataFrame, routes: DataFrame) -> DataFrame:
    """Leaf-level (delay, cnt) basis of the default-curve rollup —
    mergeable across record slices (plans/incremental.py)."""
    rt = F.broadcast(routes.select("route_id", "route_type"))
    events = _unpivot_events(items).join(rt, "route_id").withColumn(
        "route_section",
        F.expr(S.route_section("stop_index", "stop_count", S.SPARK)))
    # map-side combine: shuffle (delay, count), not raw records
    return events.groupBy(*LEAF_KEYS, "delay").agg(
        F.count("*").alias("cnt"))


DEFAULT_DIMS = ["route_type", "route_section", "time_slot", "event_type"]


def _nulls_last(values) -> list:
    return [(v is None, v) for v in values]


def _average_rows(rows: list, keys: list[str], precision: int) -> list[dict]:
    """One ladder rung: per ``keys`` group (sorted key order), the
    pointwise average of the rows' curves, each read back through the
    stored float32 points; sample_size is the int of the inputs' mean
    (curve_data.rs:21-42)."""
    groups: dict[tuple, list] = {}
    for r in rows:
        groups.setdefault(tuple(r[k] for k in keys), []).append(r)
    out = []
    for key in sorted(groups, key=_nulls_last):
        grp = groups[key]
        avg = cv.average_curves([cv.Curve.from_points(r["curve"])
                                 for r in grp])
        row = dict.fromkeys(DEFAULT_DIMS)
        row.update(zip(keys, key))
        row["curve"] = avg.points()
        row["sample_size"] = int(np.mean([r["sample_size"] for r in grp]))
        row["precision_type"] = precision
        out.append(row)
    return out


def default_curves_from_counted(counted: DataFrame) -> DataFrame:
    """The hierarchical default-curve rollup
    (/root/reference/src/analyser/default_curves.rs:42-248):

    1. leaf curves per (route_type, route_variant, route_section,
       time_slot, event_type), ≥10 values (make_curve + simplify 0.01);
    2. General: pointwise average of the per-variant leaf curves per
       (route_type, route_section, time_slot, event_type);
    3. FallbackGeneral per (route_type, event_type): average of that
       type's General curves;
    4. SuperGeneral per event_type: average of everything.

    Steps 1–2 are ONE grouped pass keyed by the General keys: leaves
    carry ``route_variant``, which grows with the data, so they stay in
    Spark.  Steps 3–4 run on the driver over the collected General
    rows — at most route types × 3 sections × 13 slots × 2 event types.
    Every rung is :func:`_average_rows` over inputs in sorted key order.

    Output: one table with nullable dimension columns — the Spark
    grouping-sets shape of the reference's fallback ladder.
    """
    dims = DEFAULT_DIMS
    # event_type is the one dimension every rung keeps
    schema = StructType(
        [StructField(k, counted.schema[k].dataType) for k in dims[:3]] + [
            counted.schema["event_type"],
            StructField("curve", CURVE_TYPE),
            StructField("sample_size", LongType()),
            StructField("precision_type", ByteType()),
        ])

    def build_general(pdf: pd.DataFrame) -> pd.DataFrame:
        leaves = []
        for _, leaf in pdf.groupby("route_variant", sort=True, dropna=False):
            made = _counted_curve(leaf, MIN_ROWS_DEFAULT)
            if made is not None:
                leaves.append({**{k: leaf[k].iloc[0] for k in dims},
                               "curve": made[0].points(),
                               "sample_size": made[1]})
        return pd.DataFrame(_average_rows(leaves, dims, PRECISION_GENERAL),
                            columns=schema.fieldNames())

    general = [r.asDict() for r in counted.groupBy(*dims)
               .applyInPandas(build_general, schema).collect()]
    general.sort(key=lambda r: _nulls_last(r[k] for k in dims))
    fallback = _average_rows(general, ["route_type", "event_type"],
                             PRECISION_FALLBACK_GENERAL)
    supergeneral = _average_rows(fallback, ["event_type"],
                                 PRECISION_SUPER_GENERAL)
    # from pandas through Arrow: a LocalRelation, no Python-worker scan
    return counted.sparkSession.createDataFrame(
        pd.DataFrame([[r[c] for c in schema.fieldNames()]
                      for r in general + fallback + supergeneral],
                     columns=schema.fieldNames()), schema)


def default_curves(items: DataFrame, routes: DataFrame) -> DataFrame:
    """The full A6 pipeline: leaf basis → fallback ladder."""
    return default_curves_from_counted(default_leaf_counted(items, routes))
