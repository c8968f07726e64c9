"""Tests of the precision-ladder prediction lookup over curve tables
built from the GTFS fixture."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from gtfs_fixtures import build_rt_events, build_schedule, write_gtfs_dir


@pytest.fixture(scope="module")
def curve_tables(spark, tmp_path_factory):
    from dystonse_gtfs_importer_spark.plans.analyse_gtfs import (
        default_curves, general_delay_curves, prepare_dbitems,
        stop_pair_curve_sets,
    )
    from dystonse_gtfs_importer_spark.plans.import_etl import (
        build_records, latest_wins_merge,
    )
    from dystonse_gtfs_importer_spark.schemas import RT_EVENTS
    from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs, variant_stops

    d = tmp_path_factory.mktemp("gtfs_pred")
    write_gtfs_dir(build_schedule(), d)
    sched = read_gtfs(spark, str(d))
    rt = spark.createDataFrame(build_rt_events(build_schedule()), RT_EVENTS)
    records = latest_wins_merge(build_records(
        rt, sched["trips"], sched["stop_times"], "test", "sched"))
    vstops = variant_stops(sched["trips"], sched["stop_times"])
    items = prepare_dbitems(records, vstops).cache()
    return {
        "general": general_delay_curves(items).cache(),
        "specific": stop_pair_curve_sets(items).cache(),
        "default": default_curves(items, sched["routes"]).cache(),
    }


def _lookups(spark, rows):
    return spark.createDataFrame(
        rows,
        "route_id string, route_variant long, route_type int, "
        "event_type tinyint, event_dt timestamp, end_stop_index int, "
        "stop_count int, start_stop_index int, initial_delay double")


MON_10 = dt.datetime(2024, 1, 1, 10, 0)  # slot 3


class TestPredictLadder:
    def test_specific_with_basis(self, spark, curve_tables):
        from dystonse_gtfs_importer_spark.plans.predict import predict
        from dystonse_gtfs_importer_spark.schemas import (
            PRECISION_FALLBACK_SPECIFIC, PRECISION_SPECIFIC,
        )

        # pick an existing specific key in slot 3
        key = (curve_tables["specific"]
               .where(F.col("time_slot") == 3).first())
        q = _lookups(spark, [(
            key.route_id, key.route_variant, 3, int(key.event_type), MON_10,
            int(key.end_stop_index), 8, int(key.start_stop_index), 60.0)])
        res = predict(q, curve_tables["specific"], curve_tables["general"],
                      curve_tables["default"]).collect()
        assert len(res) == 1
        r = res[0]
        assert r.precision_type in (PRECISION_SPECIFIC,
                                    PRECISION_FALLBACK_SPECIFIC)
        ys = [p.y for p in r.prediction_curve]
        assert ys[0] == 0.0 and ys[-1] == 1.0

    def test_semi_specific_without_basis(self, spark, curve_tables):
        from dystonse_gtfs_importer_spark.plans.predict import predict
        from dystonse_gtfs_importer_spark.schemas import PRECISION_SEMI_SPECIFIC

        key = (curve_tables["general"]
               .where(F.col("time_slot") == 12).first())
        q = _lookups(spark, [(
            key.route_id, key.route_variant, 3, int(key.event_type), MON_10,
            int(key.stop_index), 8, None, None)])
        res = predict(q, curve_tables["specific"], curve_tables["general"],
                      curve_tables["default"]).collect()[0]
        assert res.precision_type == PRECISION_SEMI_SPECIFIC
        assert res.sample_size >= 20

    def test_general_fallback_unknown_variant(self, spark, curve_tables):
        from dystonse_gtfs_importer_spark.plans.predict import predict
        from dystonse_gtfs_importer_spark.schemas import (
            PRECISION_FALLBACK_GENERAL, PRECISION_GENERAL,
        )

        q = _lookups(spark, [
            ("R_UNKNOWN", 999, 3, 2, MON_10, 5, 8, None, None)])
        res = predict(q, curve_tables["specific"], curve_tables["general"],
                      curve_tables["default"]).collect()[0]
        assert res.precision_type in (PRECISION_GENERAL,
                                      PRECISION_FALLBACK_GENERAL)
        assert res.prediction_curve is not None

    def test_super_general_unknown_route_type(self, spark, curve_tables):
        from dystonse_gtfs_importer_spark.plans.predict import predict
        from dystonse_gtfs_importer_spark.schemas import PRECISION_SUPER_GENERAL

        q = _lookups(spark, [
            ("R_UNKNOWN", 999, 77, 1, MON_10, 5, 8, None, None)])
        res = predict(q, curve_tables["specific"], curve_tables["general"],
                      curve_tables["default"]).collect()[0]
        assert res.precision_type == PRECISION_SUPER_GENERAL

    def test_percentiles_udf(self, spark, curve_tables):
        from dystonse_gtfs_importer_spark.plans.predict import (
            curve_percentiles, predict,
        )

        q = _lookups(spark, [
            ("R_UNKNOWN", 999, 77, 1, MON_10, 5, 8, None, None)])
        res = predict(q, curve_tables["specific"], curve_tables["general"],
                      curve_tables["default"])
        row = res.withColumn("pcts", curve_percentiles("prediction_curve")) \
                 .select("pcts").first()
        p = row.pcts
        assert set(p) == {0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99}
        assert p[0.05] <= p[0.5] <= p[0.95]


class TestJvmInterpTwin:
    """C9 JVM Column twin of the curve-set interpolation: parity with
    the pandas kernel on randomized curve sets, and a Python-free plan
    for the default predict ladder."""

    def _random_sets(self, spark, seed=3, n=150):
        import numpy as np

        rng = np.random.default_rng(seed)
        rows = []
        for i in range(n):
            members = []
            foci = np.sort(rng.choice(np.arange(-120, 121, 12),
                                      size=int(rng.integers(1, 5)),
                                      replace=False)).astype(float)
            for f in foci:
                m = int(rng.integers(2, 8))
                xs = np.sort(rng.choice(np.arange(-300, 301, 12), size=m,
                                        replace=False)).astype(float)
                ys = np.sort(rng.random(m))
                ys[0], ys[-1] = 0.0, 1.0
                members.append((float(f), [(float(a), float(b))
                                           for a, b in zip(xs, ys)]))
            # queries: clamps, exact focus hits, interior blends, NULL
            q = rng.choice([None, float(foci[0]), float(foci[-1]),
                            float(rng.uniform(-150, 150))])
            rows.append((i, members, None if q is None else float(q)))
        return spark.createDataFrame(
            rows, "id long, curve_set array<struct<focus:float,"
                  "curve:array<struct<x:float,y:float>>>>, x double")

    def test_parity_with_pandas_kernel(self, spark):
        from dystonse_gtfs_importer_spark.functions.curve_udfs import (
            interp_curve_set_expr,
        )
        from dystonse_gtfs_importer_spark.plans.predict import (
            _interp_curve_set,
        )

        df = self._random_sets(spark)
        out = df.select(
            "id",
            _interp_curve_set(F.col("curve_set"), F.col("x")).alias("u"),
            interp_curve_set_expr("curve_set", F.col("x")).alias("e"),
        ).collect()
        assert len(out) == 150
        for r in out:
            if r.u is None or r.e is None:
                assert r.u == r.e, r.id
                continue
            assert len(r.u) == len(r.e), r.id
            for pu, pe in zip(r.u, r.e):
                assert pu.x == pe.x, r.id
                assert pu.y == pytest.approx(pe.y, abs=1e-6), r.id

    def test_predict_plan_is_python_free(self, spark, curve_tables):
        from dystonse_gtfs_importer_spark.plans.predict import predict

        q = _lookups(spark, [("A", 1, 3, 1, MON_10, 2, 8, 0, 60.0)])
        out = predict(q, curve_tables["specific"],
                      curve_tables["general"], curve_tables["default"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
