"""Bucketed co-located joins: a stage that StageStore(bucket_spec=...)
writes must eliminate the join shuffle (no Exchange in the executed plan)
and preserve join results exactly. The bucketed tables are external tables
under a temporary work_dir, dropped from the catalog afterwards."""

import re

import pytest
from pyspark.sql import functions as F

from llm_review_aggregation_spark.plans.lineage import StageStore


def plan_has_exchange(df) -> bool:
    """True if the df's executed plan contains a SHUFFLE Exchange
    (EnsureRequirements inserts `Exchange hashpartitioning(...)` exactly
    when bucketing did NOT satisfy the join's distribution requirement).
    A shuffle prints as "Exchange hashpartitioning(...)", "Exchange
    rangepartitioning(...)", "Exchange RoundRobinPartitioning(...)" or
    "Exchange SinglePartition". "BroadcastExchange" is not a shuffle, and
    "ReusedExchange" never runs one itself: it re-reads another exchange,
    whose own "Exchange ..." line then matches elsewhere in the plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return bool(re.search(r"(?<!Broadcast)(?<!Reused)Exchange\s", plan))


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    orders = spark.range(0, 2000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 97).alias("o_custkey"),
        (F.col("id") * 3 % 1000).cast("double").alias("o_total"),
    )
    customer = spark.range(0, 97).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("cust_"), F.col("id")).alias("c_name"),
    )
    store = StageStore(
        spark,
        str(tmp_path_factory.mktemp("bucketed_join")),
        bucket_spec={"orders": ("o_custkey", 4), "customer": ("o_custkey", 4)},
    )
    orders_b = store.run_table("orders", lambda: orders)
    customer_b = store.run_table(
        "customer", lambda: customer.withColumnRenamed("c_custkey", "o_custkey")
    )
    yield orders, customer, orders_b, customer_b
    for stage in ("orders", "customer"):
        spark.sql(f"DROP TABLE IF EXISTS {store._bucket_table_name(stage)}")


class TestBucketedJoin:
    def test_join_has_no_exchange(self, spark, bucketed_tables):
        with _no_aqe_no_broadcast(spark):
            _, _, a, b = bucketed_tables
            joined = a.join(b, "o_custkey")
            joined.collect()
            assert not plan_has_exchange(joined), (
                joined._jdf.queryExecution().executedPlan().toString()
            )

    def test_unbucketed_join_does_exchange(self, spark, bucketed_tables):
        """Control: the same join on unbucketed inputs must shuffle, so the
        no-Exchange assertion above is meaningful."""
        orders, customer, _, _ = bucketed_tables
        with _no_aqe_no_broadcast(spark):
            joined = orders.join(
                customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
            )
            joined.collect()
            assert plan_has_exchange(joined)

    def test_bucketed_groupby_has_no_exchange(self, spark, bucketed_tables):
        with _no_aqe_no_broadcast(spark):
            a = bucketed_tables[2]
            agg = a.groupBy("o_custkey").agg(F.sum("o_total").alias("s"))
            agg.collect()
            assert not plan_has_exchange(agg)

    def test_join_results_exact(self, spark, bucketed_tables):
        orders, customer, a, b = bucketed_tables
        got = sorted(
            (r["o_orderkey"], r["c_name"])
            for r in a.join(b, "o_custkey").select("o_orderkey", "c_name").collect()
        )
        want = sorted(
            (r["o_orderkey"], r["c_name"])
            for r in orders.join(
                customer, orders.o_custkey == customer.c_custkey
            ).select("o_orderkey", "c_name").collect()
        )
        assert got == want and len(got) == 2000


class TestPipelineBucketedTriples:
    """run_pipeline(bucket_triples=N) must make the triples checkpoint a
    bucketed layout: subj-keyed rollups and self-joins over it plan with NO
    shuffle Exchange, results identical to the unbucketed run."""

    @pytest.fixture(scope="class")
    def bucketed_run(self, spark, tmp_path_factory):
        from llm_review_aggregation_spark import synth
        from llm_review_aggregation_spark.config import PipelineConfig
        from llm_review_aggregation_spark.plans.pipeline import run_pipeline

        wd = str(tmp_path_factory.mktemp("kg_bucketed"))
        pages = synth.synthesize_pages(spark, n_groups=3, docs_per_group=12)
        res = run_pipeline(
            spark, pages, PipelineConfig(root_name="camera"), work_dir=wd, bucket_triples=4
        )
        yield res, wd, pages

    def test_subj_rollup_has_no_exchange(self, spark, bucketed_run):
        res, _, _ = bucketed_run
        with _no_aqe_no_broadcast(spark):
            agg = res.triples.groupBy("subj").agg(F.sum("score").alias("s"))
            agg.collect()
            assert not plan_has_exchange(agg), (
                agg._jdf.queryExecution().executedPlan().toString()
            )

    def test_subj_self_join_has_no_exchange_on_triples(self, spark, bucketed_run):
        res, _, _ = bucketed_run
        with _no_aqe_no_broadcast(spark):
            a = res.triples.select(F.col("subj"), F.col("obj").alias("obj_a"))
            b = res.triples.select(F.col("subj"), F.col("score").alias("score_b"))
            joined = a.join(b, "subj")
            joined.collect()
            assert not plan_has_exchange(joined), (
                joined._jdf.queryExecution().executedPlan().toString()
            )

    def test_results_match_unbucketed(self, spark, bucketed_run, tmp_path):
        from llm_review_aggregation_spark.config import PipelineConfig
        from llm_review_aggregation_spark.plans.pipeline import run_pipeline

        res, _, pages = bucketed_run
        plain = run_pipeline(
            spark, pages, PipelineConfig(root_name="camera"), work_dir=str(tmp_path / "plain")
        )
        assert sorted(map(tuple, res.triples.collect())) == sorted(
            map(tuple, plain.triples.collect())
        )

    def test_reregister_after_catalog_loss(self, spark, bucketed_run):
        """Resume in a fresh session: the catalog entry is gone but the
        bucket layout lives in the file names — _read_table re-registers the
        external table and the rollup still plans Exchange-free."""
        _, wd, _ = bucketed_run
        store = StageStore(spark, wd, bucket_spec={"triples": ("subj", 4)})
        spark.sql(f"DROP TABLE IF EXISTS {store._bucket_table_name('triples')}")
        triples = store._read_table("triples")
        with _no_aqe_no_broadcast(spark):
            agg = triples.groupBy("subj").agg(F.count(F.lit(1)).alias("n"))
            agg.collect()
            assert not plan_has_exchange(agg)


class _no_aqe_no_broadcast:
    """Temporarily pin the planner so the assertions read a deterministic
    static plan: AQE off (it re-plans mid-query) and auto-broadcast off
    (a broadcast join would trivially have no shuffle Exchange and mask
    whether bucketing did its job)."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        c = self.spark.conf
        self.saved = {
            k: c.get(k)
            for k in (
                "spark.sql.adaptive.enabled",
                "spark.sql.autoBroadcastJoinThreshold",
            )
        }
        c.set("spark.sql.adaptive.enabled", "false")
        c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return self

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            self.spark.conf.set(k, v)
