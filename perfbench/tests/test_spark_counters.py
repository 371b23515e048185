"""The counter readers against a real local Spark session."""

import pytest

import spark_counters as sc


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = str(tmp_path_factory.mktemp("spark"))
    s = (SparkSession.builder.master("local[2]")
         .appName("perfbench-tests")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.local.dir", tmp)
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.ui.explainMode", "simple")
         .getOrCreate())
    yield s
    s.stop()


def grouped(spark):
    return spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()


def test_ids_bracket_the_jobs_of_an_action(spark):
    c = sc.SparkCounters(spark)
    j0, s0 = c.next_ids()
    grouped(spark).write.format("noop").mode("overwrite").save()
    j1, s1 = c.next_ids()
    assert j1 > j0 and s1 > s0
    assert c.next_ids() == (j1, s1)  # reading does not allocate


def test_stage_list_is_a_scala_seq_read_with_apply(spark):
    c = sc.SparkCounters(spark)
    _, s0 = c.next_ids()
    grouped(spark).write.format("noop").mode("overwrite").save()
    c.drain()
    stages = c.stages(s0)
    assert stages and min(stages) >= s0
    ran = [r for r in stages.values() if r["status"] == "COMPLETE"]
    assert sum(r["shuffleWriteBytes"] for r in ran) > 0
    assert sum(r["numTasks"] for r in ran) >= 2
    assert all(r["executorRunTime"] >= 0 for r in ran)
    seq = c._ctx.statusStore().stageList(
        c._jvm.java.util.ArrayList(), False, False,
        c._gateway.new_array(c._jvm.double, 0), c._jvm.java.util.ArrayList())
    assert len(sc.seq_items(seq)) == seq.size()
    from py4j.protocol import Py4JError

    with pytest.raises(Py4JError):
        seq.get(0)


def test_sql_plans_are_final_adaptive_plans(spark):
    c = sc.SparkCounters(spark)
    j0, _ = c.next_ids()
    grouped(spark).write.format("noop").mode("overwrite").save()
    j1, _ = c.next_ids()
    c.drain()
    plans = c.sql_plans(set(range(j0, j1)))
    assert len(plans) == 1
    assert "isFinalPlan=true" in plans[0] and "Exchange" in plans[0]


def test_phase_tracker_is_a_scala_map(spark):
    df = grouped(spark)
    df._jdf.queryExecution().executedPlan()
    phases = sc.phase_seconds(df._jdf)
    assert {"analysis", "optimization", "planning"} <= set(phases)
    assert all(v >= 0 for v in phases.values())


def test_storage_sees_persisted_rdds(spark):
    c = sc.SparkCounters(spark)
    base = c.storage()
    df = spark.range(5000).persist()
    df.count()
    try:
        n, held = c.storage()
        assert n == base[0] + 1 and held > base[1]
    finally:
        df.unpersist(blocking=True)
    assert c.storage() == base


def test_peak_rss_of_the_driver_jvm(spark):
    c = sc.SparkCounters(spark)
    assert sc.peak_rss_mb(c.jvm_pid()) > 50
    assert sc.python_peak_rss_mb() > 10
