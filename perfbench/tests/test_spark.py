"""Spark-backed checks: the event-log parser's attribution, and the
outputs the benchmark does not verify on every run (nearest_road: its
DuckDB oracle is a bbox join that takes minutes at benchmark sizes)."""

from __future__ import annotations

import os

import pytest

import gen
import oracle
import tracing
from roadgrinder_spark import datagen
from roadgrinder_spark.session import build_session
from roadgrinder_spark.spatial import join as sj


def _session(**conf):
    return build_session(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false", **conf},
    )


def test_event_log_attributes_two_groups(tmp_path):
    events = tmp_path / "events"
    events.mkdir()
    spark = _session(**tracing.EVENT_LOG_CONF, **{"spark.eventLog.dir": str(events)})
    try:
        tracer = tracing.Tracer(spark)
        with tracer.span("scan", "r", tracing.group_id("r", "a")):
            spark.range(0, 10_000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        with tracer.span("join", "r", tracing.group_id("r", "b")):
            left = spark.range(0, 100, 1, 2)
            right = spark.range(0, 50, 1, 2).hint("shuffle_hash")
            n_joined = left.join(right, "id").count()
        assert spark.sparkContext.getLocalProperty(tracing.GROUP_KEY) is None
    finally:
        spark.stop()
    log = tracing.parse_event_log(tracing.find_event_log(str(events)))

    def of(op):
        g = tracing.group_id("r", op)
        return tracing.summarize(log, lambda p: p.get(tracing.GROUP_KEY) == g)

    a, b = of("a"), of("b")
    assert n_joined == 50
    assert a.jobs >= 1 and b.jobs >= 1
    assert a.tasks >= 4 and b.tasks >= 2
    assert a.failed_tasks == 0 and b.failed_tasks == 0
    assert a.shuffle_write_mb > 0 and b.busy_s >= 0
    assert a.join_rows == 0
    assert b.join_rows == n_joined
    assert a.task_skew >= 1.0
    every = tracing.summarize(log, lambda p: True)
    assert every.tasks >= a.tasks + b.tasks
    spans = {s["name"]: s for s in tracer.spans}
    assert set(spans) == {"scan", "join"}
    assert all(s["run"] == "r" and s["parent"] is None for s in spans.values())
    assert spans["scan"]["end"] <= spans["join"]["start"]


@pytest.fixture(scope="module")
def small_grind(tmp_path_factory):
    """One grind over a small hotspot input, outputs left on disk."""
    from roadgrinder_spark.operators import spans
    from roadgrinder_spark.plans.pipeline import GrinderConfig, RoadGrinderPipeline

    base = tmp_path_factory.mktemp("grind")
    inputs, out = str(base / "inputs"), str(base / "out")
    gen.generate(inputs, seed=5, n_orders=800, hot_frac=0.3)
    spark = _session()
    docs = spans.pack_documents(
        datagen.derive_roads(spark, inputs), datagen.derive_addrpnts(spark, inputs)
    )
    pipe = RoadGrinderPipeline(spark, GrinderConfig(output_dir=out, run_id="t"))
    pipe.create_output()
    pipe.grind(docs)
    yield inputs, out
    spark.stop()


def test_grind_outputs_match_oracles(small_grind, tmp_path):
    inputs, out = small_grind
    orc = oracle.Oracle(inputs, str(tmp_path), threads=2)
    try:
        expected = orc.expected(oracle.GRIND_TABLES, 200.0)
        assert all(n > 0 for _, n, _ in expected.values())
        assert orc.grind_mismatches(out, expected) == []
        # a changed output must be caught
        bad = dict(expected, Matches=(expected["Matches"][0], 0, "0"))
        assert orc.grind_mismatches(out, bad) == ["Matches"]
    finally:
        orc.close()


def test_nearest_road_matches_oracle(small_grind, tmp_path):
    inputs, out = small_grind
    orc = oracle.Oracle(inputs, str(tmp_path), threads=2)
    try:
        want = oracle.fingerprint(
            orc.con,
            oracle.with_ctes("", datagen.ROADS_CTE, datagen.ADDRPNTS_CTE, sj.oracle_knn_sql()),
        )
        got = oracle.fingerprint(
            orc.con, oracle.parquet_sql(os.path.join(out, "stages", "nearest_road"))
        )
    finally:
        orc.close()
    assert want[1] > 0
    assert got == want
