"""Physical-plan guardrails: these tests pin the properties that make
the engine survive a 100 TB / 1000-executor scale-up — filter pushdown
into parquet scans, column pruning, broadcast joins on the fact path,
and bounded shuffle counts.  A regression here is a performance bug
even while every correctness test stays green."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def n_exchanges(df) -> int:
    # count shuffle exchanges, not broadcast exchanges
    return plan_of(df).count("Exchange hashpartitioning") + \
        plan_of(df).count("Exchange rangepartitioning")


def _ecdf_jvm(spark, ev, **kw) -> list:
    """Rows of ``ecdf_curve_points_jvm_sql`` over ``ev`` (as a temp
    view), grouped by event_type over the value column."""
    from dystonse_gtfs_importer_spark.plans.analyse import (
        ecdf_curve_points_jvm_sql,
    )

    ev.createOrReplaceTempView("_ecdf_src")
    try:
        return spark.sql(ecdf_curve_points_jvm_sql(
            "_ecdf_src", ["event_type"], "value", **kw)).collect()
    finally:
        spark.catalog.dropTempView("_ecdf_src")


class TestScanEfficiency:
    def test_filter_pushdown_reaches_parquet(self, spark, sf_smoke):
        from dystonse_gtfs_importer_spark.sources.testdata import load_table

        df = load_table(spark, sf_smoke, "lineitem").where(
            F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" \
            in plan, plan

    def test_column_pruning(self, spark, sf_smoke):
        from dystonse_gtfs_importer_spark.sources.testdata import load_table

        df = load_table(spark, sf_smoke, "lineitem").select(
            "l_orderkey", "l_quantity")
        plan = plan_of(df)
        # ReadSchema must carry only the two projected columns
        rs = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_orderkey" in rs and "l_quantity" in rs
        assert "l_extendedprice" not in rs and "l_shipdate" not in rs

    def test_whole_stage_codegen_on_relational_path(self, spark, sf_smoke):
        from dystonse_gtfs_importer_spark.sources.testdata import load_table

        # AQE wraps the plan lazily and hides codegen spans until
        # execution; disable it for this one plan inspection
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            df = (load_table(spark, sf_smoke, "lineitem")
                  .groupBy("l_returnflag").agg(F.sum("l_quantity")))
            # codegen stages print as "*(n) Operator" in the plan string
            plan = plan_of(df)
            assert "*(1)" in plan and "*(2)" in plan, plan
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")


class TestJoinStrategy:
    def test_import_etl_broadcasts_schedule(self, spark, tmp_path):
        from gtfs_fixtures import build_rt_events, build_schedule, write_gtfs_dir

        from dystonse_gtfs_importer_spark.plans.import_etl import build_records
        from dystonse_gtfs_importer_spark.schemas import RT_EVENTS
        from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs

        d = tmp_path / "g"
        d.mkdir()
        write_gtfs_dir(build_schedule(), d)
        sched = read_gtfs(spark, str(d))
        rt = spark.createDataFrame(build_rt_events(build_schedule()), RT_EVENTS)
        recs = build_records(rt, sched["trips"], sched["stop_times"],
                             "s", "f")
        plan = plan_of(recs)
        assert "BroadcastHashJoin" in plan
        # the fact stream must NOT be shuffled for these joins
        assert "SortMergeJoin" not in plan
        assert n_exchanges(recs) == 0, plan

    def test_predict_ladder_all_broadcast(self, spark):
        import datetime as dt

        from dystonse_gtfs_importer_spark.plans.predict import predict
        from dystonse_gtfs_importer_spark.schemas import CURVE_TYPE

        curve = [{"x": 0.0, "y": 0.0}, {"x": 60.0, "y": 1.0}]
        lookups = spark.createDataFrame(
            [("R1", 1, 3, 2, dt.datetime(2024, 1, 1, 10), 5, 8, 1, 30.0)],
            "route_id string, route_variant long, route_type int, "
            "event_type tinyint, event_dt timestamp, end_stop_index int, "
            "stop_count int, start_stop_index int, initial_delay double")
        specific = spark.createDataFrame(
            [("R1", 1, 2, 3, 1, 5, 0.0, curve, 30)],
            "route_id string, route_variant long, event_type tinyint, "
            "time_slot int, start_stop_index int, end_stop_index int, "
            f"focus float, curve {CURVE_TYPE.simpleString()}, sample_size long")
        general = spark.createDataFrame(
            [("R1", 1, 2, 12, 5, curve, 30)],
            "route_id string, route_variant long, event_type tinyint, "
            f"time_slot int, stop_index int, curve {CURVE_TYPE.simpleString()}, "
            "sample_size long")
        default = spark.createDataFrame(
            [(3, "middle", 3, 2, curve, 30, 4)],
            "route_type int, route_section string, time_slot int, "
            f"event_type tinyint, curve {CURVE_TYPE.simpleString()}, "
            "sample_size long, precision_type tinyint")
        out = predict(lookups, specific, general, default)
        plan = plan_of(out)
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 5, \
            f"ladder should be all-broadcast:\n{plan}"

    def test_transfer_chances_no_cartesian(self, spark):
        """The transfer pair generator must be a spatial-grid equi-join,
        never an all-pairs product (the reference runs it per departure
        board; as a batch operator a cartesian would be the scale
        bottleneck)."""
        import datetime as dt

        from dystonse_gtfs_importer_spark.plans.monitor import transfer_chances
        from dystonse_gtfs_importer_spark.schemas import (
            ORIGIN_REALTIME, PREDICTIONS,
        )

        curve = [{"x": -60.0, "y": 0.0}, {"x": 60.0, "y": 1.0}]
        t = dt.datetime(2024, 1, 1, 8, 0, 0)
        row = {
            "source": "t", "event_type": 1, "stop_id": "S1",
            "prediction_min": t, "prediction_max": t,
            "route_id": "R", "trip_id": "A",
            "trip_start_date": dt.date(2024, 1, 1),
            "trip_start_time": 0, "stop_sequence": 1,
            "precision_type": 3, "origin_type": ORIGIN_REALTIME,
            "sample_size": 5, "prediction_curve": curve,
            "schedule_file_name": "s",
        }
        preds = spark.createDataFrame([row], PREDICTIONS)
        stops = spark.createDataFrame(
            [("S1", "Main", 53.083, 8.813)],
            "stop_id string, stop_name string, stop_lat double, "
            "stop_lon double")
        out = transfer_chances(preds, preds, stops)
        plan = plan_of(out)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_latest_wins_single_shuffle(self, spark, tmp_path):
        from gtfs_fixtures import build_rt_events, build_schedule, write_gtfs_dir

        from dystonse_gtfs_importer_spark.plans.import_etl import (
            build_records, latest_wins_merge,
        )
        from dystonse_gtfs_importer_spark.schemas import RT_EVENTS
        from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs

        d = tmp_path / "g"
        d.mkdir()
        write_gtfs_dir(build_schedule(), d)
        sched = read_gtfs(spark, str(d))
        rt = spark.createDataFrame(build_rt_events(build_schedule()), RT_EVENTS)
        merged = latest_wins_merge(build_records(
            rt, sched["trips"], sched["stop_times"], "s", "f"))
        assert n_exchanges(merged) == 1, plan_of(merged)


class TestBucketedJoin:
    def test_cobucketed_join_has_no_exchange(self, spark, sf_smoke,
                                             tmp_path):
        """Fact⋈fact co-location: two tables bucketed identically on
        the join key must join without any shuffle exchange — the
        100 TB answer when neither side broadcasts."""
        from dystonse_gtfs_importer_spark.sources.testdata import load_table
        from dystonse_gtfs_importer_spark.sources.store import (
            read_bucketed, write_bucketed,
        )

        li = load_table(spark, sf_smoke, "lineitem").select(
            "l_orderkey", "l_quantity")
        orders = load_table(spark, sf_smoke, "orders").select(
            "o_orderkey", "o_totalprice")
        try:
            write_bucketed(li, "b_li", str(tmp_path / "b_li"),
                           ["l_orderkey"], n_buckets=8)
            write_bucketed(orders, "b_orders", str(tmp_path / "b_orders"),
                           ["o_orderkey"], n_buckets=8)
            a = read_bucketed(spark, "b_li")
            b = read_bucketed(spark, "b_orders")
            joined = a.join(b, a.l_orderkey == b.o_orderkey)
            # defeat AQE's broadcast fallback to test the bucketed path
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                assert n_exchanges(joined) == 0, plan_of(joined)
            finally:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            # and it still returns the right rows
            assert joined.count() == li.join(
                orders, li.l_orderkey == orders.o_orderkey).count()
        finally:
            spark.sql("DROP TABLE IF EXISTS b_li")
            spark.sql("DROP TABLE IF EXISTS b_orders")

    def test_bucketed_aggregation_has_no_exchange(self, spark, sf_smoke,
                                                  tmp_path):
        """Bucketing serves aggregations too: grouping a bucketed table
        by its bucket key needs NO shuffle at all — at 100 TB this is
        how the stop-pair sufficient-statistics aggregate (its one
        fact shuffle is the per-orderkey groupBy) runs shuffle-free on
        a lineitem layout bucketed by l_orderkey."""
        from dystonse_gtfs_importer_spark.sources.store import (
            read_bucketed, write_bucketed,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import load_table

        li = load_table(spark, sf_smoke, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_extendedprice")
        try:
            write_bucketed(li, "b_li_agg", str(tmp_path / "b_li_agg"),
                           ["l_orderkey"], n_buckets=8)
            b = read_bucketed(spark, "b_li_agg")
            piv = b.groupBy("l_orderkey").agg(
                F.sum("l_extendedprice").alias("s"),
                F.count("*").alias("n"))
            assert n_exchanges(piv) == 0, plan_of(piv)
            expect = li.groupBy("l_orderkey").count().count()
            assert piv.count() == expect
        finally:
            spark.sql("DROP TABLE IF EXISTS b_li_agg")


class TestAggShape:
    def test_partial_aggregation_before_shuffle(self, spark, sf_smoke):
        from dystonse_gtfs_importer_spark.sources.testdata import load_table

        df = (load_table(spark, sf_smoke, "lineitem")
              .groupBy("l_returnflag").agg(F.sum("l_quantity")))
        plan = plan_of(df)
        # map-side combine: a partial HashAggregate must sit below the
        # exchange
        before_exchange = plan.split("Exchange")[0] if "Exchange" in plan else ""
        assert "HashAggregate" in plan
        assert plan.index("HashAggregate") < plan.index("Exchange"), \
            "expected partial aggregate above (before) the shuffle in plan"

    def test_stop_pair_counts_no_self_join_sort(self, spark, sf_smoke):
        """J5's Spark derivation uses per-order sufficient statistics:
        one fact shuffle, no sorted self-join (the oracle keeps the
        join form; the driver hash-match proves them equal)."""
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.plans.oracle_queries import (
            q_stop_pair_counts,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(q_stop_pair_counts(S.SPARK))
        plan = plan_of(df)
        assert "SortMergeJoin" not in plan and "Join" not in plan, plan
        assert plan.count("Sort ") == 0, plan

    def test_rollup_ladder_no_expand(self, spark, sf_smoke):
        """A6's Spark derivation aggregates the fact table once at the
        finest level and re-aggregates the tiny result for the coarser
        rungs: no Expand operator (GROUPING SETS would triple the
        fact rows entering the shuffle)."""
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.plans.oracle_queries import (
            q_rollup_ladder,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(q_rollup_ladder(S.SPARK)))
        assert "Expand" not in plan, plan

    def test_latest_wins_partial_agg_no_window(self, spark, sf_smoke):
        """W2's Spark derivation is a MAX_BY aggregate, not a window
        rank: partial aggregation must sit below the one shuffle (only
        ~|keys| rows cross the exchange at any scale) and no Window
        operator may appear (the oracle keeps the ROW_NUMBER form; the
        driver hash-match proves them equal)."""
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.plans.oracle_queries import (
            q_latest_wins,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(q_latest_wins(S.SPARK))
        plan = plan_of(df)
        assert "Window" not in plan, plan
        assert "partial_max_by" in plan, plan
        assert plan.index("partial_max_by") > plan.index("Exchange"), \
            "partial max_by must run below (after in plan text) the shuffle"
        assert n_exchanges(df) == 1, plan

    def test_ecdf_single_shuffle(self, spark, sf_smoke):
        from dystonse_gtfs_importer_spark.plans.analyse import ecdf_curve_points
        from dystonse_gtfs_importer_spark.sources.testdata import load_table

        ev = load_table(spark, sf_smoke, "events")
        df = ecdf_curve_points(ev, ["event_type"], "value")
        assert n_exchanges(df) == 1, plan_of(df)

    def test_ecdf_prunes_input_width(self, spark, sf_smoke):
        """Only the group key and the value column may travel through
        the Exchange into FlatMapGroupsInPandas — the 7-column events
        schema (incl. the wide ``props`` string) must be projected
        away at the scan."""
        from dystonse_gtfs_importer_spark.plans.analyse import ecdf_curve_points
        from dystonse_gtfs_importer_spark.sources.testdata import load_table

        ev = load_table(spark, sf_smoke, "events")
        df = ecdf_curve_points(ev, ["event_type"], "value")
        plan = plan_of(df)
        assert "props" not in plan, plan
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m is not None, plan
        read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert read_cols == {"event_type", "value"}, plan

    def test_ecdf_jvm_equals_per_row(self, spark, sf_smoke):
        """The pure-JVM derivation must reproduce the pandas kernel —
        bit-identical unfocused, and identical at 6 decimals with a
        triangular focus (float summation order differs)."""
        from dystonse_gtfs_importer_spark.plans.analyse import (
            ecdf_curve_points,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import load_table

        ev = load_table(spark, sf_smoke, "events")
        a = {(r.event_type, r.x, r.y, r.sample_size) for r in
             ecdf_curve_points(ev, ["event_type"], "value").collect()}
        b = {(r.event_type, r.x, r.y, r.sample_size) for r in
             _ecdf_jvm(spark, ev)}
        assert a == b and len(a) > 0
        af = {(r.event_type, r.x, r.y) for r in ecdf_curve_points(
            ev, ["event_type"], "value", focus=50.0, y_round=6).collect()}
        bf = {(r.event_type, r.x, r.y) for r in _ecdf_jvm(
            spark, ev, focus=50.0, y_round=6)}
        assert af == bf and len(af) > 0

    def test_ecdf_jvm_no_python_in_plan(self, spark, sf_smoke):
        """The JVM form's whole point: NO Python evaluation operator
        anywhere in the plan — curve building runs in codegen with a
        partial (group, value) aggregate below the first shuffle."""
        from dystonse_gtfs_importer_spark.plans.analyse import (
            ecdf_curve_points_jvm_sql,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import load_table

        load_table(spark, sf_smoke, "events").createOrReplaceTempView(
            "_ecdf_src")
        try:
            plan = plan_of(spark.sql(ecdf_curve_points_jvm_sql(
                "_ecdf_src", ["event_type"], "value")))
        finally:
            spark.catalog.dropTempView("_ecdf_src")
        for op in ("FlatMapGroupsInPandas", "ArrowEvalPython",
                   "BatchEvalPython", "MapInPandas"):
            assert op not in plan, plan
        assert "partial_count" in plan, plan
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert read_cols == {"event_type", "value"}, plan

    def test_ecdf_jvm_zero_at_minimum_edge(self, spark):
        """The x == 0.0 sentinel removal: the JVM form derives the
        post-filter min/count from pre-filter window stats, so the
        exact cases — group min IS 0.0 (row removed), negative min
        with an interior 0.0 (kept), all-zero group (vanishes) — must
        match the pandas kernel row-for-row, with and without the
        ``pre_partition`` single-exchange plan."""
        from dystonse_gtfs_importer_spark.plans.analyse import (
            ecdf_curve_points,
        )

        rows = (
            # group A: min is exactly 0.0 -> that point is removed
            [("A", v) for v in [0.0, 12.0, 24.0, 24.0, 36.0]]
            # group B: negative min, interior 0.0 stays
            + [("B", v) for v in [-24.0, -12.0, 0.0, 12.0]]
            # group C: all zeros -> sentinel removes the only point
            + [("C", 0.0), ("C", 0.0), ("C", 0.0)]
        )
        ev = spark.createDataFrame(rows, "event_type string, value double")
        for pre in (False, True):
            a = sorted((r.event_type, r.x, r.y, r.sample_size) for r in
                       ecdf_curve_points(ev, ["event_type"],
                                         "value").collect())
            b = sorted((r.event_type, r.x, r.y, r.sample_size)
                       for r in _ecdf_jvm(spark, ev, pre_partition=pre))
            assert a == b and len(a) > 0, pre
            assert not any(t[0] == "C" for t in a)
            af = sorted((r.event_type, r.x, r.y) for r in ecdf_curve_points(
                ev, ["event_type"], "value", focus=10.0,
                y_round=6).collect())
            bf = sorted((r.event_type, r.x, r.y) for r in _ecdf_jvm(
                spark, ev, focus=10.0, y_round=6, pre_partition=pre))
            assert af == bf and len(af) > 0, pre


    def test_seeded_shuffle_no_global_window_over_corpus(self, spark,
                                                         sf_smoke):
        """The training-order shuffle must assign contiguous global
        positions WITHOUT a single-partition window over the fact
        stream: the corpus-side ROW_NUMBER is partitioned by the md5
        range bucket (hash exchange on bucket), the only
        SinglePartition exchange feeds the ≤4096-row bucket-offset
        cumsum, and the offsets come back via a broadcast join."""
        from dystonse_gtfs_importer_spark.functions import sampling_sql as SA
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(SA.q_seeded_shuffle(S.SPARK))
        plan = plan_of(df)
        assert "Exchange hashpartitioning(bucket" in plan, plan
        assert plan.count("Exchange SinglePartition") <= 1, plan
        # the single-partition stage may only see the aggregated bucket
        # counts, never raw doc rows: it must sit above a HashAggregate
        if "Exchange SinglePartition" in plan:
            tail = plan.split("Exchange SinglePartition")[1]
            assert "HashAggregate" in tail.split("Window")[0] or \
                "HashAggregate" in tail, plan
        assert "BroadcastHashJoin" in plan, plan

    def test_stratified_scale_no_whole_stratum_window(self, spark,
                                                      sf_smoke):
        """The scale stratified sample must never window a whole
        stratum: the fact-side ROW_NUMBER partitions by
        (lang, bucket), lang-only windows exist solely over the tiny
        (lang, bucket) count table (below a HashAggregate), and no
        SinglePartition exchange appears at all."""
        from dystonse_gtfs_importer_spark.functions import sampling_sql as SA
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(SA.q_stratified_sample_scale(S.SPARK))
        plan = plan_of(df)
        assert "Exchange SinglePartition" not in plan, plan
        import re as _re

        fact_window = _re.search(
            r"hashpartitioning\(lang#\d+, bucket#\d+", plan)
        assert fact_window, plan
        # every lang-only exchange must be fed by an aggregate (the
        # bucket-count table), never raw document rows
        for seg in plan.split("Exchange hashpartitioning(lang#")[1:]:
            head = seg.split("\n", 1)[0]
            if "bucket" in head:
                continue
            assert "HashAggregate" in seg.split("Exchange")[0], plan

    def test_packing_scale_no_whole_source_window(self, spark, sf_smoke):
        """The scale shard packing must never run a running sum over a
        whole source: the fact-side window partitions by (source,
        id-bucket) and source-only windows exist only above the
        aggregated per-bucket sums."""
        from dystonse_gtfs_importer_spark.functions import decontam_sql as DC
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(DC.q_token_shard_packing_scale(S.SPARK))
        plan = plan_of(df)
        assert "Exchange SinglePartition" not in plan, plan
        import re as _re

        assert _re.search(r"hashpartitioning\(source#\d+, b#\d+", plan), plan
        for seg in plan.split("Exchange hashpartitioning(source#")[1:]:
            head = seg.split("\n", 1)[0]
            if _re.match(r"\d+, b#", head):
                continue
            assert "HashAggregate" in seg.split("Exchange")[0], plan


class TestCorpusPipelinePlans:
    def test_boilerplate_scrub_broadcasts_frequent_grams(self, spark,
                                                         sf_smoke):
        """The heavy-hitter gram set must reach the gram stream as a
        broadcast build side; the only nested-loop join allowed is the
        constant n-element position series."""
        from dystonse_gtfs_importer_spark.functions import decontam_sql as DC
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(DC.q_boilerplate_scrub(S.SPARK)))
        assert "CartesianProduct" not in plan, plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
        assert "BroadcastHashJoin" in plan, plan

    def test_semdedup_no_all_pairs_join(self, spark, sf_smoke):
        """Candidates come from the LSH bucket equi-join — never an
        unbanded |corpus|² product."""
        from dystonse_gtfs_importer_spark.functions import ann_sql as A
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(A.q_semdedup_keep(S.SPARK)))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_cosine_near_dup_lsh_no_all_pairs_join(self, spark, sf_smoke):
        """The registered scale path of the cosine near-dup: bucket
        equi-join candidates, never the |corpus|² product the exact
        oracle form uses."""
        from dystonse_gtfs_importer_spark.functions import ann_sql as A
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(A.q_cosine_near_dup_lsh(S.SPARK)))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_decontaminate_eval_side_broadcasts(self, spark, sf_smoke):
        """The distinct eval-gram sketch is tiny by construction and
        must be the broadcast build side of the overlap join."""
        from dystonse_gtfs_importer_spark.functions import decontam_sql as DC
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(DC.q_decontaminate(S.SPARK)))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


class TestSamplingAndGraphPlans:
    def test_bernoulli_sample_is_map_only(self, spark, sf_smoke):
        """The 100 TB sampling path must not shuffle: filter on a
        seeded hash, pushed into the scan pipeline."""
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP, sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(SAMP.q_hash_bernoulli_sample(S.SPARK))
        assert n_exchanges(df) == 0, plan_of(df)

    def test_vocab_topk_partial_aggregates(self, spark, sf_smoke):
        """The token stream aggregates map-side before its shuffle; the
        global rank window only ever sees the aggregated vocabulary."""
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP, sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(SAMP.q_vocab_topk(S.SPARK)))
        assert "HashAggregate" in plan
        assert plan.index("HashAggregate") < plan.index("Exchange"), plan

    def test_cc_round_is_two_shuffles(self, spark):
        """One large-star round = a groupBy-min plus an equi-join;
        anything more means the iteration won't scale."""
        from dystonse_gtfs_importer_spark.operators.graph import (
            _canonical, _large_star,
        )

        e = _canonical(spark.createDataFrame(
            [(i, i + 1) for i in range(1, 30)], "u long, v long")
            .localCheckpoint(eager=True))
        plan = plan_of(_large_star(e))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestSketchAndTfidfPlans:
    def test_hll_register_build_partial_aggregates(self, spark, sf_smoke):
        """The register groupBy must map-side combine: the shuffle
        carries at most groups x 256 register rows, never raw keys."""
        from dystonse_gtfs_importer_spark.functions import (
            sketch_sql as SK, sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(SK.q_hll_distinct(S.SPARK)))
        assert "partial_max" in plan, plan
        # the estimate must stay integer-exact up to the single final
        # division: no DECIMAL arithmetic may sneak into the plan
        assert "as decimal" not in plan, plan

    def test_tfidf_no_token_resort(self, spark, sf_smoke):
        """tf partial-aggregates the token stream, df derives from the
        tf table; nothing in the plan may cross-product."""
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP, sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(SAMP.q_tfidf_topk(S.SPARK)))
        assert "CartesianProduct" not in plan
        assert "partial_count" in plan, plan


class TestTopKScalePlans:
    def test_vocab_take_ordered_no_global_window(self, spark, sf_smoke):
        """The scale derivation must plan the global top-k as
        TakeOrderedAndProject (per-partition heaps), not a full-sort
        single-partition ROW_NUMBER over the whole vocabulary."""
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP,
        )
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(SAMP.q_vocab_topk_take(S.SPARK)))
        assert "TakeOrderedAndProject" in plan, plan


class TestRound5AdditionPlans:
    """Scale-shape pins for the round-5 text/index operators."""

    def test_doc_chunking_is_map_only(self, spark, sf_smoke):
        """The chunker is generator + substring per document: zero
        exchanges, and the scan reads only (doc_id, text)."""
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.plans.oracle_queries import (
            q_doc_chunking,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(q_doc_chunking(S.SPARK))
        plan = plan_of(df)
        assert "Exchange" not in plan, plan
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert read_cols == {"doc_id", "text"}, plan

    def test_posting_lists_single_shuffle(self, spark, sf_smoke):
        """One (token, doc_id) hash exchange builds the whole index;
        partial aggregation compacts positions map-side."""
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.plans.oracle_queries import (
            q_posting_lists,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(q_posting_lists(S.SPARK))
        assert n_exchanges(df) == 1, plan_of(df)

    def test_sparse_cosine_no_all_pairs_join(self, spark, sf_smoke):
        """Candidates come from the per-term index self-join — never a
        |corpus|² product; every join in the plan is an equi-join."""
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.plans.oracle_queries import (
            q_sparse_cosine_pairs,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(q_sparse_cosine_pairs(S.SPARK)))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_pmi_pairs_only_scalar_count_crossjoin(self, spark, sf_smoke):
        """The pair generator is a doc_id equi-join; the only
        nested-loop site is the 1-row corpus-count broadcast."""
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.plans.oracle_queries import (
            q_pmi_pairs,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(q_pmi_pairs(S.SPARK)))
        assert "CartesianProduct" not in plan, plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1, plan

    def test_asof_tolerance_aggregate_prunes_candidates(self, spark):
        """In the aggregate strategy the tolerance lands INSIDE the
        join condition (fewer candidates), not as a post-filter."""
        import datetime as dt

        left = spark.createDataFrame(
            [("A", dt.datetime(2024, 1, 1, 9))], "k string, ts timestamp")
        right = spark.createDataFrame(
            [("A", dt.datetime(2024, 1, 1, 8), 1.0)],
            "k string, rts timestamp, v double")
        from dystonse_gtfs_importer_spark.operators.joins import asof_join

        df = asof_join(left, right, "ts", "rts", by=["k"],
                       strategy="aggregate", tolerance=3600)
        plan = plan_of(df)
        # the tolerance comparison appears in the join, before the agg
        assert "abs(" in plan.lower(), plan

    def test_dsir_ratio_table_broadcasts(self, spark, sf_smoke):
        """The 256-row bucket log-ratio table must broadcast to the
        per-(doc, bucket) fact side (never a shuffled join on the
        token stream), and the per-doc scoring sum must partial-
        aggregate map-side before its exchange."""
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(SAMP.q_dsir_weights(S.SPARK)))
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan

    def test_bm25_topk_is_take_ordered(self, spark, sf_smoke):
        """The final top-k must be TakeOrderedAndProject (per-partition
        heaps), never a global Sort; the terms-sized idf table joins
        broadcast."""
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(SAMP.q_bm25_topk(S.SPARK)))
        assert "TakeOrderedAndProject" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan


class TestRuntimeBloomFilter:
    """Runtime bloom-filter join pruning (semi-join reduction): with a
    selectively-filtered build side and a shuffle join, Spark injects
    a might_contain probe into the fact scan's filter — fact rows that
    cannot match die before the shuffle.  The 10 GB application-side
    gate keeps it off at toy scale; session.enable_runtime_bloom_filters
    drops the gate so the injection is pinnable."""

    def test_bloom_probe_injected_into_fact_side(self, spark, sf_smoke):
        from dystonse_gtfs_importer_spark.session import (
            enable_runtime_bloom_filters,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import load_table

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            enable_runtime_bloom_filters(spark)
            li = load_table(spark, sf_smoke, "lineitem")
            orders = (load_table(spark, sf_smoke, "orders")
                      .where("o_totalprice > 400000"))
            j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                 .groupBy("o_orderpriority").count())
            plan = plan_of(j)
            assert "might_contain" in plan, plan
            # the probe sits on the FACT (lineitem) branch, keyed on
            # the join key
            m = re.search(r"might_contain[^\n]*l_orderkey", plan)
            assert m is not None, plan
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter."
                "applicationSideScanSizeThreshold", "10GB")


class TestCorpusProfilingShapes:
    """Round-5 late additions: Zipf slope and embedding outlier
    screen must keep their vocabulary-/cell-sized shuffle shapes."""

    def test_zipf_slope_window_over_vocab_only(self, spark, sf_smoke):
        """The rank window runs over the AGGREGATED (lang, tok)
        frequency table — after the partial-agg fact shuffle, never
        over the raw token stream — and nothing goes quadratic."""
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(SAMP.q_zipf_slope(S.SPARK)))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        # tokenize must be explode+WHERE, not the filter() HOF (a
        # whole-stage-codegen fallback, ~1.6x slower at 500 k docs)
        assert "lambdafunction" not in plan, plan
        # map-side combine before the (lang, tok) exchange
        assert "partial_count" in plan or "partial" in plan, plan
        # the window consumes the aggregate's output — exactly one
        # Window node; the rnk <= max_rank head filter pushes down as
        # WindowGroupLimit so per-lang partitions carry only the head
        assert plan.count("Window [") == 1, plan
        assert "WindowGroupLimit" in plan, plan

    def test_embedding_outliers_broadcast_back(self, spark, sf_smoke):
        """Moment cells aggregate once ((label, dim) keyed — bounded
        by |labels|*dim); the stats join back to the component scan
        must be a broadcast, and the only nested-loop site is the
        constant dimension-index range build."""
        from dystonse_gtfs_importer_spark.functions import (
            ann_sql as ANN,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(ANN.q_embedding_norm_outliers(S.SPARK)))
        assert "CartesianProduct" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        # constant 64-row dim-range builds only (cv x series)
        assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


class TestRound6AdditionPlans:
    """Plan shapes for the round-6 additions: weighted sampling,
    skew profiling, curriculum ordering, power-iteration PCA."""

    def test_weighted_sample_is_take_ordered(self, spark, sf_smoke):
        """A-ES top-k must be TakeOrderedAndProject (per-partition
        partial top-k + k-row driver merge) with ZERO exchanges —
        the corpus is never sorted or shuffled."""
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(SAMP.q_weighted_sample_topk(S.SPARK))
        plan = plan_of(df)
        assert "TakeOrderedAndProject" in plan, plan
        assert n_exchanges(df) == 0, plan

    def test_skew_profile_partial_agg_then_tiny(self, spark, sf_smoke):
        """One fact pass: the (type, key) groupBy partial-aggregates
        map-side; everything after runs on the per-type summary.
        No window over the fact table."""
        from dystonse_gtfs_importer_spark.functions import (
            sketch_sql as SK,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(SK.q_skew_profile(S.SPARK))
        plan = plan_of(df)
        assert "Window" not in plan, plan
        # (type,key) exchange + type exchange + final ORDER BY range
        assert n_exchanges(df) <= 3, plan
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert read_cols == {"event_type", "user_id"}, plan

    def test_curriculum_no_global_window(self, spark, sf_smoke):
        """The scalable curriculum numbering windows over
        (band, bucket) partitions only — the single unpartitioned
        window runs on the tiny (band, bucket) COUNT table, never the
        document scan (the oracle keeps the global form)."""
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(SAMP.q_curriculum_schedule(S.SPARK))

        def nodes(n, out):
            out.append(n)
            kids = n.children()
            for i in range(kids.length()):
                nodes(kids.apply(i), out)
            return out

        root = df._jdf.queryExecution().optimizedPlan()
        windows = [n for n in nodes(root, [])
                   if n.nodeName() == "Window"]
        assert windows, "expected Window nodes in the plan"
        for w in windows:
            if w.partitionSpec().length() > 0:
                parts = str(w.partitionSpec())
                assert "band" in parts or "bucket" in parts, parts
            else:
                # an unpartitioned window is only allowed over the
                # tiny (band, bucket) COUNT table — its subtree must
                # contain the Aggregate, never the raw document scan
                sub = [n.nodeName() for n in nodes(w, [])]
                assert "Aggregate" in sub, sub
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, plan

    def test_pca_moment_build_no_vecid_self_join(self, spark, sf_smoke):
        """The scatter matrix builds from a map-side DIM x DIM
        expansion (constant series cross joins), NOT a self-join on
        vec_id — nothing shuffles but the 4096 moment cells."""
        from dystonse_gtfs_importer_spark.functions import (
            ann_sql as ANN,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(ANN.q_pca_power_iter(S.SPARK)))
        assert "SortMergeJoin" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan

    def test_containment_pairs_index_join_only(self, spark, sf_smoke):
        """Candidates come from the winnow fingerprint equi-join —
        never an all-pairs product."""
        from dystonse_gtfs_importer_spark.functions import (
            dedup_sql as D,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(D.q_containment_pairs(S.SPARK)))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_decayed_engagement_map_then_one_agg(self, spark, sf_smoke):
        """Half-life weighting is map-only (anchor broadcast); the
        only fact shuffle is the partial-aggregated event_type
        groupBy. No EXP/POWER in the plan — decay is a right shift."""
        from dystonse_gtfs_importer_spark.plans.oracle_queries import (
            q_decayed_engagement,
        )
        from dystonse_gtfs_importer_spark.functions import sql_shared as S
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(q_decayed_engagement(S.SPARK))
        plan = plan_of(df)
        assert "POWER" not in plan.upper().replace(
            "SHIFTRIGHT", ""), plan
        assert "EXP(" not in plan.upper(), plan
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert read_cols == {"event_type", "ts", "value"}, plan

    def test_perplexity_tiers_lang_partitioned_window(self, spark,
                                                      sf_smoke):
        """The tier NTILE windows per language stratum — never an
        unpartitioned window over the scored corpus — and the
        pipeline stays JVM-side."""
        from dystonse_gtfs_importer_spark.plans.oracle_queries import (
            _perplexity_tiers_spark,
        )

        df = _perplexity_tiers_spark(spark, sf_smoke)
        plan = plan_of(df)
        assert "ArrowEvalPython" not in plan, plan
        assert "ntile(3)" in plan, plan
        # the ntile window node must partition by lang
        import re as _re
        w = [ln for ln in plan.splitlines() if "ntile" in ln]
        assert w and all("lang" in ln for ln in w), plan

    def test_kmv_sketch_rows_bounded(self, spark, sf_smoke):
        """The pair stage consumes only bottom-k sketch rows (|S|*k
        regardless of corpus size): the bottom-k filter must appear
        as a rank predicate pushed over the per-source window, and
        the corpus never cross-joins itself."""
        from dystonse_gtfs_importer_spark.functions import (
            sketch_sql as SK,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        plan = plan_of(spark.sql(SK.q_kmv_source_overlap(S.SPARK)))
        assert "CartesianProduct" not in plan, plan
        # the OR-membership join against the tiny sketch/fingerprint
        # side plans as BroadcastNestedLoopJoin — bounded by |S|*k
        assert "ArrowEvalPython" not in plan, plan


class TestRound7AdditionPlans:
    def test_exactsubstr_cut_scale_shape(self, spark, sf_smoke):
        """The cut's plan: no cartesian anywhere, every Window
        partitions (by doc_id for the interval union — never an
        unpartitioned corpus window), and the repeated-span profile is
        materialized (LogicalRDD checkpoint) so the tail's three
        regions-consumers cannot re-derive the suffix/LCP chain per
        consumer — without the pin the plan replays it ~3× (38
        parquet scans; with it only the cheap tokenize CTE repeats)."""
        from dystonse_gtfs_importer_spark.plans.oracle_queries import (
            _exactsubstr_cut_capped_spark,
        )

        df = _exactsubstr_cut_capped_spark(spark, sf_smoke)

        def nodes(n, out):
            out.append(n)
            kids = n.children()
            for i in range(kids.length()):
                nodes(kids.apply(i), out)
            return out

        root = df._jdf.queryExecution().optimizedPlan()
        all_nodes = nodes(root, [])
        names = [n.nodeName() for n in all_nodes]
        assert "Join" in names              # tail joins exist
        plan = root.toString()
        assert "CartesianProduct" not in plan, plan
        for w in (n for n in all_nodes if n.nodeName() == "Window"):
            assert w.partitionSpec().length() > 0, str(w)
        # profile pinned: the suffix chain never reaches this plan —
        # only the tail's tokenize CTE scans documents (≤ a handful of
        # parquet scans, vs 38 when the CTE re-derivation leaks in)
        assert "LogicalRDD" in plan, plan
        n_scans = plan.count(" parquet")
        assert n_scans <= 10, f"{n_scans} parquet scans:\n{plan[:2000]}"

    def test_weighted_stratified_scale_no_stratum_window(
            self, spark, sf_smoke):
        """The banded A-ES form must never window a whole stratum:
        corpus-side Window nodes partition by (lang, band); a
        lang-only partition is allowed ONLY over the tiny (lang, band)
        COUNT table (its subtree contains the Aggregate)."""
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(SAMP.q_weighted_stratified_sample_scale(S.SPARK))

        def nodes(n, out):
            out.append(n)
            kids = n.children()
            for i in range(kids.length()):
                nodes(kids.apply(i), out)
            return out

        root = df._jdf.queryExecution().optimizedPlan()
        wins = [n for n in nodes(root, []) if n.nodeName() == "Window"]
        assert wins
        for w in wins:
            parts = str(w.partitionSpec())
            assert w.partitionSpec().length() > 0, str(w)
            if "band" not in parts:
                sub = [n.nodeName() for n in nodes(w, [])]
                assert "Aggregate" in sub, (parts, sub)
        assert "CartesianProduct" not in str(root)


class TestRound8PlanShapes:
    """100 TB shapes of the round-8 operators: the packer is one band
    shuffle + one bounded Arrow stage; shard assignment never runs a
    corpus-grain unpartitioned window; the blocklist's gram join
    broadcasts the pattern side."""

    def test_sequence_pack_band_scoped_shape(self, spark, sf_smoke):
        """Round-9 banding: the packer derives a seeded dense
        position (q_seeded_shuffle two-phase numbering), so the plan
        contains windows — but every fact-grain window must
        partition by bucket, unpartitioned windows may only run over
        aggregate (bucket-count-sized) subtrees, and no cartesian
        appears anywhere.  The Arrow stage is still per-band."""
        from dystonse_gtfs_importer_spark.operators.packing import (
            pack_sequences,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            load_table,
        )

        df = pack_sequences(load_table(spark, sf_smoke, "documents"))
        plan = plan_of(df)
        assert "FlatMapGroupsInPandas" in plan, plan
        assert "CartesianProduct" not in plan, plan

        def nodes(n, out):
            out.append(n)
            kids = n.children()
            for i in range(kids.length()):
                nodes(kids.apply(i), out)
            return out

        root = df._jdf.queryExecution().optimizedPlan()
        wins = [n for n in nodes(root, []) if n.nodeName() == "Window"]
        assert wins, "expected the two-phase numbering windows"
        for w in wins:
            if w.partitionSpec().length() > 0:
                assert "bucket" in str(w.partitionSpec())
            else:
                sub = [n.nodeName() for n in nodes(w, [])]
                assert "Aggregate" in sub, sub

    def test_shard_assignment_windows_are_band_scoped(self, spark,
                                                      sf_smoke):
        """Fact-grain windows partition by bucket/band; unpartitioned
        windows are allowed only over aggregate (band-count-sized)
        subtrees — the two-phase prefix-sum contract."""
        from dystonse_gtfs_importer_spark.plans.corpus import (
            shard_assignments,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            load_table,
        )

        df = shard_assignments(load_table(spark, sf_smoke, "documents"))

        def nodes(n, out):
            out.append(n)
            kids = n.children()
            for i in range(kids.length()):
                nodes(kids.apply(i), out)
            return out

        root = df._jdf.queryExecution().optimizedPlan()
        wins = [n for n in nodes(root, []) if n.nodeName() == "Window"]
        assert wins, "expected Window nodes"
        for w in wins:
            if w.partitionSpec().length() > 0:
                parts = str(w.partitionSpec())
                assert "band" in parts or "bucket" in parts, parts
            else:
                sub = [n.nodeName() for n in nodes(w, [])]
                assert "Aggregate" in sub, sub
        assert "CartesianProduct" not in str(root)

    def test_blocklist_patterns_broadcast_and_pruned_scan(self, spark,
                                                          sf_smoke):
        from dystonse_gtfs_importer_spark.functions import (
            blocklist_sql as BLK,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(BLK.q_blocklist_filter(S.SPARK))
        plan = plan_of(df)
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        # the scan reads only what the query needs
        assert "ReadSchema" in plan
        assert "n_chars" not in plan.split("ReadSchema")[1][:400], plan


class TestRound9PlanShapes:
    """100 TB shapes of the round-9 operators: the mixture solver's
    windows only ever run over the |sources|-row aggregate, the
    resample step never shuffles the corpus, the FFD packer has the
    same band-scoped shape as NFD, and the dedup stream's store
    probe broadcasts the batch side."""

    def _window_nodes(self, df):
        def nodes(n, out):
            out.append(n)
            kids = n.children()
            for i in range(kids.length()):
                nodes(kids.apply(i), out)
            return out

        root = df._jdf.queryExecution().optimizedPlan()
        return root, [n for n in nodes(root, [])
                      if n.nodeName() == "Window"]

    def test_mixture_solver_windows_over_aggregate_only(
            self, spark, sf_smoke):
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        for sql in (SAMP.q_mixture_weights(S.SPARK),
                    SAMP.q_mixture_weights_target(S.SPARK),
                    SAMP.q_mixture_drift(S.SPARK)):
            df = spark.sql(sql)
            root, wins = self._window_nodes(df)

            def nodes(n, out):
                out.append(n)
                kids = n.children()
                for i in range(kids.length()):
                    nodes(kids.apply(i), out)
                return out

            for w in wins:
                sub = [n.nodeName() for n in nodes(w, [])]
                assert "Aggregate" in sub, sub
            assert "CartesianProduct" not in str(root)

    def test_apply_mixture_no_corpus_shuffle(self, spark, sf_smoke):
        """The resample step is a broadcast of the |sources|-row rate
        table + a map-only explode/filter: the corpus side of the
        final join must NOT hash-exchange (only the solver's tiny
        aggregate shuffles)."""
        from dystonse_gtfs_importer_spark.plans.corpus import (
            apply_mixture,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            load_table,
        )

        df = apply_mixture(load_table(spark, sf_smoke, "documents"),
                           budget=4000)
        plan = plan_of(df)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        # exchanges belong to the solver's source aggregate + its
        # |sources|-row windows, never to the corpus-side join input:
        # the broadcast join's streamed child must be scan->project
        assert "CartesianProduct" not in plan

    def test_ffd_packer_band_scoped(self, spark, sf_smoke):
        from dystonse_gtfs_importer_spark.operators.packing import (
            pack_sequences_ffd,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            load_table,
        )

        df = pack_sequences_ffd(load_table(spark, sf_smoke,
                                           "documents"))
        plan = plan_of(df)
        assert "FlatMapGroupsInPandas" in plan, plan
        assert "CartesianProduct" not in plan, plan
        root, wins = self._window_nodes(df)
        assert wins

        def nodes(n, out):
            out.append(n)
            kids = n.children()
            for i in range(kids.length()):
                nodes(kids.apply(i), out)
            return out

        for w in wins:
            if w.partitionSpec().length() > 0:
                assert "bucket" in str(w.partitionSpec())
            else:
                sub = [n.nodeName() for n in nodes(w, [])]
                assert "Aggregate" in sub, sub

    def test_dedup_stream_store_probe_broadcasts_batch_side(
            self, spark):
        """The corpus-sized store side of the near-dup screen must
        stream map-only through BuildRight broadcast joins of the
        batch's key set — no store-side hash exchange."""
        import pyspark.sql.functions as F2

        from dystonse_gtfs_importer_spark.streaming.dedup_stream import (
            annotate_batch,
            band_cols,
            screen_against_store,
        )

        batch = spark.createDataFrame(
            [(i, f"doc body {i} alpha beta", "en", "s")
             for i in range(50)],
            "doc_id LONG, text STRING, lang STRING, source STRING")
        store = annotate_batch(spark.createDataFrame(
            [(1000 + i, f"other text {i} gamma delta", "en", "s")
             for i in range(200)],
            "doc_id LONG, text STRING, lang STRING, source STRING"),
            near_dup=True).select("fingerprint", *band_cols())
        out = screen_against_store(annotate_batch(batch, True),
                                   store, True)
        plan = plan_of(out)
        assert plan.count("BroadcastHashJoin") >= 3, plan
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestLateRound9PlanShapes:
    """100 TB shapes of the late-round-9 operators: PQ's only cross
    joins are constant series generators (never two data-sized
    sides), hard-negative mining is pure equi-join like the retrieval
    path it shares machinery with, and the calibration windows ride
    on the (source, score) aggregate, never on raw documents."""

    def _nodes(self, n, out=None):
        out = [] if out is None else out
        out.append(n)
        kids = n.children()
        for i in range(kids.length()):
            self._nodes(kids.apply(i), out)
        return out

    def test_hard_negative_topk_no_cross_join(self, spark, sf_smoke):
        from dystonse_gtfs_importer_spark.functions import (
            ann_sql as ANN,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        df = spark.sql(ANN.q_hard_negative_topk(S.SPARK))
        plan = str(df._jdf.queryExecution().optimizedPlan())
        assert "Join Cross" not in plan
        assert "CartesianProduct" not in plan

    def test_pq_cross_joins_are_constant_series_only(
            self, spark, sf_smoke):
        """Every cross join in the PQ plans must have a constant
        series generator (OneRowRelation subtree) on one side — the
        subspace/dimension explode — never two corpus-sized sides."""
        from dystonse_gtfs_importer_spark.functions import (
            ann_sql as ANN,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        for sql in (ANN.q_pq_codes(S.SPARK), ANN.q_ann_pq_topk(S.SPARK)):
            root = spark.sql(sql)._jdf.queryExecution().optimizedPlan()
            crosses = [n for n in self._nodes(root)
                       if n.nodeName() == "Join"
                       and "Cross" in str(n.joinType())]
            assert crosses, "series explode expected in the PQ plan"
            for j in crosses:
                kids = j.children()
                sides = [str(kids.apply(i)) for i in range(kids.length())]
                assert any("OneRowRelation" in s for s in sides), sides

    def test_quality_calibration_windows_over_aggregate(
            self, spark, sf_smoke):
        from dystonse_gtfs_importer_spark.functions import (
            sampling_sql as SAMP,
            sql_shared as S,
        )
        from dystonse_gtfs_importer_spark.sources.testdata import (
            register_views,
        )

        register_views(spark, sf_smoke)
        root = spark.sql(SAMP.q_quality_calibration(S.SPARK)) \
            ._jdf.queryExecution().optimizedPlan()
        wins = [n for n in self._nodes(root) if n.nodeName() == "Window"]
        assert wins
        for w in wins:
            sub = [n.nodeName() for n in self._nodes(w)]
            assert "Aggregate" in sub, sub
