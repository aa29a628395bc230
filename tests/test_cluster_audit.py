"""Cluster quality audit + incremental closure maintenance."""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from bigmatch_utilities_spark.operators.closure import connected_components
from bigmatch_utilities_spark.operators.cluster_audit import (
    cluster_quality,
    cluster_quality_sql,
    incremental_closure,
)


@pytest.fixture(scope="module")
def graph(spark):
    # cluster {1,2,3}: triangle (clique, density 1.0)
    # cluster {10,11,12,13}: chain 10-11-12-13 (density 0.5), weak link 0.3
    # cluster {20,21}: single pair
    # singleton 99 in assignments only (excluded: n_members < 2 never
    # arises from CC-of-edges, but the filter is exercised via audit)
    edges = [
        (1, 2, 5.0), (2, 3, 4.0), (1, 3, 6.0),
        (10, 11, 2.0), (11, 12, 0.3), (12, 13, 2.5),
        (20, 21, 9.0),
    ]
    pairs = spark.createDataFrame(edges, "id_l long, id_r long, weight double")
    assigns = connected_components(pairs.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst")))
    return pairs, assigns


def test_cluster_quality_metrics(graph):
    pairs, assigns = graph
    out = {r.cluster_id: r for r in cluster_quality(assigns, pairs).collect()}
    assert set(out) == {1, 10, 20}
    assert (out[1].n_members, out[1].n_edges, out[1].density) == (3, 3, 1.0)
    assert out[1].w_min == 4.0
    assert (out[10].n_members, out[10].n_edges, out[10].density) == (4, 3, 0.5)
    assert out[10].w_min == 0.3  # the over-merge signature: weak bridge
    assert (out[20].n_members, out[20].n_edges, out[20].density) == (2, 1, 1.0)


def test_cluster_quality_canonicalizes_edges(spark):
    """ADVICE r3: duplicate rows and both orientations of one pair must
    count as ONE undirected edge (max weight kept) — density stays <= 1
    and the chain-vs-clique signal is preserved."""
    noisy = spark.createDataFrame(
        [
            (1, 2, 5.0),
            (2, 1, 5.5),   # reverse orientation, higher weight
            (1, 2, 5.0),   # exact duplicate
            (2, 3, 4.0),
            (7, 7, 9.0),   # self-loop: ignored
        ],
        "id_l long, id_r long, weight double",
    )
    assigns = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, cluster_id long"
    )
    out = cluster_quality(assigns, noisy).collect()
    assert len(out) == 1
    r = out[0]
    # 3 members, 2 distinct undirected edges (1-2 at max 5.5, 2-3 at 4.0)
    assert (r.n_members, r.n_edges) == (3, 2)
    assert r.density == pytest.approx(2 / 3, abs=1e-6)
    assert r.w_min == 4.0 and r.w_avg == pytest.approx(4.75)


def test_cluster_quality_duckdb_parity(graph, tmp_path):
    pairs, assigns = graph
    pp, ap = str(tmp_path / "p.parquet"), str(tmp_path / "a.parquet")
    pairs.write.mode("overwrite").parquet(pp)
    assigns.write.mode("overwrite").parquet(ap)
    spark_out = sorted(tuple(r) for r in cluster_quality(assigns, pairs).collect())
    sql = cluster_quality_sql(
        f"SELECT * FROM read_parquet('{ap}/*.parquet')",
        f"SELECT * FROM read_parquet('{pp}/*.parquet')",
    )
    duck_out = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert spark_out == duck_out


def _cc_pairs(df):
    return {(r.id, r.cluster_id) for r in df.collect()}


def test_incremental_equals_batch(spark):
    old = [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)]
    # deltas: merge {1,2,3} with {10,11}; brand-new nodes 40-41; a new
    # node 5 joining {20,21}; an intra-cluster no-op edge (30,31 again);
    # and a new node 0 whose id undercuts an existing cluster minimum
    new = [(3, 10), (40, 41), (5, 20), (30, 31), (0, 21)]
    e_old = spark.createDataFrame(old, "src long, dst long")
    e_new = spark.createDataFrame(new, "src long, dst long")
    assigns = connected_components(e_old)
    inc = incremental_closure(assigns, e_new)
    batch = connected_components(e_old.unionAll(e_new))
    assert _cc_pairs(inc) == _cc_pairs(batch)
    # label of the merged {20,21,5,0} component is the new global min 0
    labels = dict(_cc_pairs(inc))
    assert labels[21] == 0 and labels[5] == 0 and labels[20] == 0


def test_incremental_no_deltas_touch_nothing(spark):
    e_old = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    assigns = connected_components(e_old)
    # delta that is pure self-loops — output must equal the input table
    e_new = spark.createDataFrame([(1, 1)], "src long, dst long")
    out = incremental_closure(assigns, e_new)
    assert _cc_pairs(out) == _cc_pairs(assigns)


def _random_edges(seed: int, n: int, lo: int, hi: int) -> list[tuple[int, int]]:
    rnd = random.Random(seed)
    return [(rnd.randrange(lo, hi), rnd.randrange(lo, hi)) for _ in range(n)]


_STANDING = [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)]


@pytest.mark.parametrize(
    "old,new",
    [
        # seeded random graphs: new ids 60-79 beyond the standing 0-59,
        # repeated pairs and self-loops arise by chance
        *[(_random_edges(s, 50, 0, 60), _random_edges(100 + s, 30, 0, 80)) for s in range(3)],
        (_STANDING, []),  # empty delta
        (_STANDING, [(1, 1), (21, 21), (70, 70)]),  # only self-loops
        (_STANDING, [(3, 10), (10, 3), (3, 10), (11, 2)]),  # duplicate + reversed
        (_STANDING, [(100, 101), (102, 101), (103, 104)]),  # new ids only
        (_STANDING, [(50, 2), (50, 11), (21, 50), (50, 31)]),  # one new id bridges four
        (_STANDING, [(5, 11), (0, 31), (0, 20)]),  # new ids below cluster mins
    ],
    ids=[
        "random0", "random1", "random2", "empty", "self_loops",
        "dup_reversed", "new_only", "bridge", "below_min",
    ],
)
def test_incremental_matches_recompute(spark, old, new):
    """The driver fold equals connected_components over old ∪ new, one
    row per id, on every delta shape the fold special-cases."""
    e_old = spark.createDataFrame(old, "src long, dst long")
    e_new = spark.createDataFrame(new, "src long, dst long")
    inc = incremental_closure(connected_components(e_old), e_new)
    ids = [r.id for r in inc.select("id").collect()]
    assert len(ids) == len(set(ids))
    assert _cc_pairs(inc) == _cc_pairs(connected_components(e_old.unionAll(e_new)))


@pytest.mark.parametrize(
    "bad", ["id", "cluster_id", "src", "dst"], ids=lambda c: f"string_{c}"
)
def test_incremental_rejects_non_integer_ids(spark, bad):
    """String (or any non-integer) ids fail loudly, naming the column,
    before a Spark job runs: the driver fold casts ids to int64, which
    would turn numeric strings into longs and fail on the rest."""
    assigns = spark.createDataFrame([(1, 1), (2, 1)], "id long, cluster_id long")
    edges = spark.createDataFrame([(2, 3)], "src long, dst long")
    if bad in assigns.columns:
        assigns = assigns.withColumn(bad, F.col(bad).cast("string"))
    else:
        edges = edges.withColumn(bad, F.col(bad).cast("string"))
    sc = spark.sparkContext
    group = f"test_incremental_rejects_{bad}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=f"column '{bad}' is string"):
            incremental_closure(assigns, edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_repair_splits_weak_chain(graph):
    """The chain 10-11-12-13 with a 0.3 bridge is the over-merge case:
    repair at min_weight=1.0 must cut 11-12 and leave the clique and the
    strong pair untouched."""
    from bigmatch_utilities_spark.operators.cluster_audit import repair_clusters

    pairs, assigns = graph
    out = {r.id: r for r in repair_clusters(assigns, pairs, min_weight=1.0).collect()}
    # untouched clusters keep labels (and old == new)
    for i in (1, 2, 3):
        assert (out[i].old_cluster_id, out[i].cluster_id) == (1, 1)
    assert (out[20].cluster_id, out[21].cluster_id) == (20, 20)
    # chain split at the weak bridge: {10,11} and {12,13}
    assert out[10].old_cluster_id == 10 and out[10].cluster_id == 10
    assert out[11].cluster_id == 10
    assert out[12].cluster_id == 12 and out[13].cluster_id == 12


def test_repair_density_guard_spares_dense_clusters(graph):
    """max_density below the clique's 1.0 but above the chain's 0.5:
    only the chain is suspect, so the clique keeps its weak 4.0 edge
    even at a threshold that would prune it."""
    from bigmatch_utilities_spark.operators.cluster_audit import repair_clusters

    pairs, assigns = graph
    out = {
        r.id: r.cluster_id
        for r in repair_clusters(assigns, pairs, min_weight=4.5, max_density=0.75).collect()
    }
    # clique NOT suspect (density 1.0 > 0.75): intact despite w_min 4.0
    assert out[1] == out[2] == out[3] == 1
    # chain suspect: every edge < 4.5 -> all four become singletons
    assert [out[i] for i in (10, 11, 12, 13)] == [10, 11, 12, 13]


def test_repair_idempotent_and_total_loss(graph):
    """Repairing an already-repaired assignment at the same threshold is
    a no-op; members losing every edge become singletons."""
    from bigmatch_utilities_spark.operators.cluster_audit import repair_clusters

    pairs, assigns = graph
    once = repair_clusters(assigns, pairs, min_weight=2.2).select("id", "cluster_id")
    twice = repair_clusters(once, pairs, min_weight=2.2)
    assert {(r.id, r.cluster_id) for r in twice.collect()} == {
        (r.id, r.cluster_id) for r in once.collect()
    }
    # min_weight 2.2 cuts 10-11 (2.0) and 11-12 (0.3): 11 is a singleton
    labels = {r.id: r.cluster_id for r in once.collect()}
    assert labels[11] == 11 and labels[10] == 10 and labels[12] == 12 and labels[13] == 12


def test_repair_sql_parity(spark, graph):
    """DuckDB twin agrees row-for-row (incl. the rp_-prefix CTE-collision
    defense documented in repair_clusters_sql)."""
    from bigmatch_utilities_spark.operators.cluster_audit import (
        repair_clusters,
        repair_clusters_sql,
    )

    pairs, assigns = graph
    got = {
        (r.id, r.old_cluster_id, r.cluster_id)
        for r in repair_clusters(assigns, pairs, min_weight=2.2).collect()
    }
    con = duckdb.connect()
    asg_rows = ", ".join(f"({r.id}, {r.cluster_id})" for r in assigns.collect())
    pair_rows = ", ".join(
        f"({r.id_l}, {r.id_r}, {r.weight})" for r in pairs.collect()
    )
    sql = repair_clusters_sql(
        f"SELECT * FROM (VALUES {asg_rows}) t(id, cluster_id)",
        f"SELECT * FROM (VALUES {pair_rows}) t(id_l, id_r, weight)",
        min_weight=2.2,
    )
    want = {tuple(r) for r in con.sql(sql).fetchall()}
    assert got == want


def test_source_conflicts(spark):
    """Only (cluster, source) cells with >= 2 members are reported, with
    the right counts and id spans; singleton-per-source clusters are
    silent."""
    from bigmatch_utilities_spark.operators.cluster_audit import (
        source_conflicts,
    )

    assignments = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 200), (5, 200), (6, 300)],
        ["id", "cluster_id"],
    )
    records = spark.createDataFrame(
        [
            (1, "census"), (2, "census"), (3, "tax"),      # census conflict
            (4, "tax"), (5, "census"),                      # clean
            (6, "census"),                                  # singleton
        ],
        ["id", "source"],
    )
    rows = {
        (r["cluster_id"], r["source"]): (r["n_records"], r["id_min"], r["id_max"])
        for r in source_conflicts(assignments, records).collect()
    }
    assert rows == {(100, "census"): (2, 1, 2)}


def test_source_conflicts_plan_shape(spark):
    """One join + one aggregate; no window, no cartesian, no Python."""
    from bigmatch_utilities_spark.operators.cluster_audit import (
        source_conflicts,
    )

    assignments = spark.createDataFrame([(1, 1)], ["id", "cluster_id"])
    records = spark.createDataFrame([(1, "s")], ["id", "source"])
    plan = (
        source_conflicts(assignments, records)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert plan.count("Join") == 1
    for marker in ("ArrowEval", "BatchEvalPython", "PythonUDF"):
        assert marker not in plan


# ---------------------------------------------------------------------------
# cannot-link enforcement (one record per source per entity)
# ---------------------------------------------------------------------------


def _conflict_fixture(spark):
    # chain 1-2-3-4: ids 1 and 3 share source A (violation only via
    # TRANSITIVITY — no direct same-source edge exists, so direct-edge
    # pruning could never fix it); triangle 20-21-22 with 21/22 same
    # source needs TWO peel rounds; 10-11 clean; 30 singleton.
    pairs = spark.createDataFrame(
        [
            (1, 2, 9.0), (2, 3, 3.0), (3, 4, 8.0),
            (10, 11, 5.0),
            (20, 21, 7.0), (21, 22, 6.0), (20, 22, 2.0),
        ],
        "id_l long, id_r long, weight double",
    )
    recs = spark.createDataFrame(
        [
            (1, "A"), (2, "B"), (3, "A"), (4, "C"),
            (10, "A"), (11, "B"),
            (20, "X"), (21, "Y"), (22, "Y"), (30, "Z"),
        ],
        "id long, source string",
    )
    return pairs, recs


def test_enforce_source_exclusivity_semantics(spark):
    from bigmatch_utilities_spark.operators.cluster_audit import (
        enforce_source_exclusivity,
        source_conflicts,
    )

    pairs, recs = _conflict_fixture(spark)
    res = enforce_source_exclusivity(pairs, recs, rounds=3)
    got = {r.id: r.cluster_id for r in res.collect()}
    # chain split at its weakest edge (2-3): {1,2} and {3,4}
    assert got[1] == got[2] and got[3] == got[4] and got[1] != got[3]
    # triangle: round 0 peels 20-22 (w=2, still connected & violating),
    # round 1 peels 21-22 -> {20,21} + {22}
    assert got[20] == got[21] and got[22] == 22
    # clean pair and singleton untouched
    assert got[10] == got[11] and got[30] == 30
    # the constraint holds
    assert source_conflicts(res, recs).count() == 0


def test_enforce_source_exclusivity_matches_duckdb(spark, tmp_path):
    from bigmatch_utilities_spark.operators.cluster_audit import (
        enforce_source_exclusivity,
        enforce_source_exclusivity_sql,
    )

    pairs, recs = _conflict_fixture(spark)
    pairs.write.parquet(str(tmp_path / "p"))
    recs.write.parquet(str(tmp_path / "r"))
    got = sorted(
        (r.id, r.cluster_id)
        for r in enforce_source_exclusivity(pairs, recs, rounds=3).collect()
    )
    sql = enforce_source_exclusivity_sql(
        f"SELECT * FROM read_parquet('{tmp_path}/p/*.parquet')",
        f"SELECT * FROM read_parquet('{tmp_path}/r/*.parquet')",
        rounds=3,
    )
    exp = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == exp


def test_enforce_source_exclusivity_clean_input_is_identity(spark):
    from bigmatch_utilities_spark.operators.cluster_audit import (
        enforce_source_exclusivity,
    )
    from bigmatch_utilities_spark.operators.closure import (
        cluster_accepted_pairs,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 5.0), (3, 4, 4.0)], "id_l long, id_r long, weight double"
    )
    recs = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "A"), (4, "B")], "id long, source string"
    )
    got = sorted(
        (r.id, r.cluster_id)
        for r in enforce_source_exclusivity(pairs, recs, rounds=2).collect()
    )
    base = sorted(
        (r.id, r.cluster_id)
        for r in cluster_accepted_pairs(
            pairs.withColumnRenamed("id_l", "id_rec").withColumnRenamed(
                "id_r", "id_mem"
            ),
            recs.select("id"),
        ).collect()
    )
    assert got == base
