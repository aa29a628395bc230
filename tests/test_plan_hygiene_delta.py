"""Plan-shape guards for the nightly-delta path: incremental_closure runs
a fixed handful of Spark jobs however the delta's label graph is shaped,
good_pairs() plans the first-pass-wins aggregate once (one filter of
the pairs, not a union of two), and a repeat of the delta match in the
same driver reuses the code the first run compiled."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

#: Spark jobs incremental_closure may run, its output's count included:
#: the Arrow collect of the delta edges, the broadcast endpoint lookup
#: (its broadcast plus its collect) and the count of the returned plan.
MAX_CLOSURE_JOBS = 8

#: Classes a repeat of an identical delta match may compile (measured: 0-5
#: of the ~120-200 its first run built). With Spark's defaults (100-entry
#: code cache, codegen stage id in every class name) a repeat recompiles
#: nearly all of them (measured: 202 of 208).
MAX_RECOMPILED = 16


def _fpw_aggregates(df) -> int:
    """first_pass_wins aggregates in the optimized plan (the min-struct
    `_row` aggregate on the pair key)."""
    return df._jdf.queryExecution().optimizedPlan().toString().count("AS _row#")


def test_incremental_closure_runs_few_spark_jobs(spark):
    from bigmatch_utilities_spark.operators.cluster_audit import incremental_closure

    rnd = random.Random(0)
    standing = spark.range(2000).select(
        "id", (F.col("id") - F.col("id") % 3).alias("cluster_id")
    )
    # ~100 edges over standing ids and 100 new ones: chains of merges
    delta = spark.createDataFrame(
        [(rnd.randrange(2100), rnd.randrange(2100)) for _ in range(100)],
        "src long, dst long",
    )
    sc = spark.sparkContext
    group = "test_incremental_closure_jobs"
    sc.setJobGroup(group, group)
    try:
        n = incremental_closure(standing, delta).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert n >= 2000
    assert 0 < len(jobs) <= MAX_CLOSURE_JOBS, f"{len(jobs)} Spark jobs"


def test_good_pairs_plans_first_pass_wins_once(spark):
    from bigmatch_utilities_spark.operators.pipeline import run_match
    from bigmatch_utilities_spark.repo_linkage import (
        ID_COL,
        prepare,
        repo_match_config,
        run_repo_linkage_delta,
        with_record_id,
    )
    from bigmatch_utilities_spark.synthdata import repo_files_df

    records = with_record_id(repo_files_df(spark, seed=9, n_clusters=20))
    batch = run_match(prepare(records), None, repo_match_config(), id_col=ID_COL)
    assert _fpw_aggregates(batch.good_pairs()) == 1

    # the delta run nests one first_pass_wins per run_match under its own:
    # good_pairs must add no second copy of any of them
    delta = run_repo_linkage_delta(
        records.filter(F.pmod(F.col(ID_COL), 5) == 0),
        records.filter(F.pmod(F.col(ID_COL), 5) != 0),
        use_minhash_pass=False,
    )
    assert _fpw_aggregates(delta.good_pairs()) == _fpw_aggregates(delta.pairs) == 3


def _compiled_classes(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_delta_match_reuses_compiled_code(spark):
    from bigmatch_utilities_spark.repo_linkage import (
        ID_COL,
        run_repo_linkage_delta,
        with_record_id,
    )
    from bigmatch_utilities_spark.synthdata import repo_files_df

    records = with_record_id(repo_files_df(spark, seed=11, n_clusters=30))
    delta = records.filter(F.pmod(F.col(ID_COL), 7) == 0)
    standing = records.filter(F.pmod(F.col(ID_COL), 7) != 0)

    def run() -> int:
        before = _compiled_classes(spark)
        result = run_repo_linkage_delta(delta, standing, use_minhash_pass=False)
        result.good_pairs().write.format("noop").mode("overwrite").save()
        return _compiled_classes(spark) - before

    first = run()
    repeat = run()
    assert repeat <= MAX_RECOMPILED, f"repeat compiled {repeat} classes (first run {first})"
