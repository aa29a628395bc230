"""Post-closure cluster auditing + incremental closure maintenance.

Two operations the reference's workflow implies but leaves to the human:

* **cluster_quality** — MatchReview's reviewer eyeballs pair lists for
  over-merges (`/root/reference/app/MatchReview.py:26,61` — side-by-side
  "clerical review comparisons"); after transitive closure the analogous
  machine check is per-cluster structure: a cluster of n members whose
  accepted-edge count is near the n-1 tree minimum and whose weakest
  edge is barely above the cutoff is a chain held together by one or two
  marginal links — the classic over-merge signature (a single bad pair
  bridges two real entities).  Everything here is two equi-joins on id +
  one map-side-combined groupBy(cluster_id); no windows, no collect.

* **incremental_closure** — the reference accumulates master key files
  per run (`/root/reference/cleanpairs:40-43`, `cat keys.dat keysP.dat`)
  but a re-run recomputes everything.  At 10^12 rows the daily delta is
  tiny relative to the standing assignment table, so closure must be
  maintainable: contract each new edge's endpoints to their existing
  cluster labels, close that *contracted* graph — O(|new edges|)
  regardless of how large the standing graph is — and relabel only the
  touched clusters.  The contracted graph is small by the incremental
  contract (BigMatch likewise holds its small side in RAM), so it is
  collected through Arrow and folded on the driver by array union-find
  in a fixed handful of Spark jobs, instead of the iterative
  large-star/small-star fixpoint `connected_components` runs for batch
  closure; driver memory is the same order as the endpoint set the
  standing-table lookup already broadcasts.  Labels stay "min original
  member id", so the result is bit-identical to a full recompute over
  (old edges ∪ new edges); the query oracle asserts exactly that.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .closure import connected_components


def cluster_quality(
    assignments: DataFrame,
    pairs: DataFrame,
    id_l: str = "id_l",
    id_r: str = "id_r",
    weight_col: str = "weight",
) -> DataFrame:
    """Per-cluster audit metrics for multi-member clusters.

    assignments: (id, cluster_id); pairs: accepted edges with weights.
    Returns (cluster_id, n_members, n_edges, density, w_min, w_avg)
    where density = n_edges / (n(n-1)/2) — 1.0 means a clique, values
    near 2/n mean a chain.  Rounded to 6dp (oracle-hash discipline).
    """
    a = assignments.select(F.col("id"), F.col("cluster_id"))
    sizes = a.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))

    # canonicalize edges first (ADVICE r3): duplicate rows or both
    # orientations of one pair would double-count n_edges, skew w_avg, and
    # push density past 1.0 — corrupting the chain-vs-clique signal. One
    # undirected edge per pair, keeping the max weight; self-loops dropped.
    canon = (
        pairs.select(
            F.least(F.col(id_l), F.col(id_r)).alias("_l"),
            F.greatest(F.col(id_l), F.col(id_r)).alias("_r"),
            F.col(weight_col).alias("_w"),
        )
        .filter(F.col("_l") != F.col("_r"))
        .groupBy("_l", "_r")
        .agg(F.max("_w").alias("_w"))
    )
    e = (
        canon
        .join(a.select(F.col("id").alias("_l"), F.col("cluster_id").alias("_cl")), on="_l")
        .join(a.select(F.col("id").alias("_r"), F.col("cluster_id").alias("_cr")), on="_r")
        .filter(F.col("_cl") == F.col("_cr"))
    )
    edge_stats = e.groupBy(F.col("_cl").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.round(F.min("_w"), 6).alias("w_min"),
        F.round(F.avg("_w"), 6).alias("w_avg"),
    )
    n = F.col("n_members").cast("double")
    return (
        sizes.filter(F.col("n_members") >= 2)
        .join(edge_stats, on="cluster_id", how="left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.round(
                F.coalesce(F.col("n_edges"), F.lit(0)) / (n * (n - 1) / 2.0), 6
            ).alias("density"),
            "w_min",
            "w_avg",
        )
    )


def cluster_quality_sql(
    assignments_sql: str,
    pairs_sql: str,
    id_l: str = "id_l",
    id_r: str = "id_r",
    weight_col: str = "weight",
) -> str:
    """DuckDB twin of :func:`cluster_quality`."""
    return f"""
        WITH asg AS ({assignments_sql}),
        sizes AS (
            SELECT cluster_id, count(*) AS n_members FROM asg GROUP BY cluster_id
        ),
        canon AS (
            SELECT least(p.{id_l}, p.{id_r}) AS _l,
                   greatest(p.{id_l}, p.{id_r}) AS _r,
                   max(p.{weight_col}) AS _w
            FROM ({pairs_sql}) p
            WHERE least(p.{id_l}, p.{id_r}) <> greatest(p.{id_l}, p.{id_r})
            GROUP BY 1, 2
        ),
        es AS (
            SELECT al.cluster_id AS cluster_id,
                   count(*) AS n_edges,
                   round(min(c._w), 6) AS w_min,
                   round(avg(c._w), 6) AS w_avg
            FROM canon c
            JOIN asg al ON al.id = c._l
            JOIN asg ar ON ar.id = c._r
            WHERE al.cluster_id = ar.cluster_id
            GROUP BY al.cluster_id
        )
        SELECT s.cluster_id, s.n_members,
               coalesce(es.n_edges, 0) AS n_edges,
               round(coalesce(es.n_edges, 0)
                     / (CAST(s.n_members AS DOUBLE) * (s.n_members - 1) / 2.0),
                     6) AS density,
               es.w_min, es.w_avg
        FROM sizes s LEFT JOIN es ON es.cluster_id = s.cluster_id
        WHERE s.n_members >= 2
    """


def _min_label_roots(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of an int64 edge list, array-at-a-time.

    Returns (nodes, root): every distinct endpoint, ascending, and the
    minimum node of its component. Union-find over numpy arrays with no
    per-row Python objects: each round hooks the larger root of every edge
    whose endpoints still have different roots onto the smaller one
    (``np.minimum.at``), then pointer-jumps every node to its root. A
    parent is never larger than its child, so the forest has no cycles,
    each tree's root is its minimum, and each round merges at least one
    pair of trees."""
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = inv[: len(src)], inv[len(src):]
    parent = np.arange(len(nodes))
    while True:
        ru, rv = parent[u], parent[v]
        split = ru != rv
        if not split.any():
            return nodes, nodes[parent]
        ru, rv = ru[split], rv[split]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def _long_column(table, name: str) -> np.ndarray:
    return table.column(name).to_numpy().astype(np.int64, copy=False)


def incremental_closure(
    assignments: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Merge new edges into an existing (id, cluster_id) assignment.

    Returns the full updated assignment (id, cluster_id) — existing rows
    relabeled where clusters merged, plus rows for ids first seen in
    `new_edges`.  cluster_id stays the minimum original member id, so
    output == connected_components(old edges ∪ new edges) exactly.  Ids
    and labels are integers (int64 on the driver).

    Cost model: the closure runs on the CONTRACTED graph (one node per
    touched cluster label), and it runs on the driver: the delta's edges
    and the current labels of its endpoints are collected through Arrow,
    contracted and folded by array union-find (:func:`_min_label_roots`)
    — three Spark jobs (the edge collect, the endpoint broadcast, the
    lookup collect) however large the standing table is, instead of an
    iterative large-star/small-star fixpoint whose every round is several
    jobs.  Driver memory is a few int64 arrays over the delta's edges and
    endpoints: the same order as the endpoint set the broadcast lookup
    already ships, which the incremental-mode contract keeps small (a
    huge delta belongs in the batch path).  The standing table is touched
    ONLY by map-only broadcast joins (no shuffle of the big side): one
    broadcast-INNER lookup of the delta's endpoint set (Spark builds the
    hash on the broadcast endpoints and streams the table — with an
    id-bucketed Iceberg layout the scan also bucket-prunes) and, in the
    returned plan, one broadcast-LEFT relabel against the old→new label
    map.  The label map and the rows of new ids are Arrow-built local
    frames, so no scan of them runs through a Python worker.
    """
    spark = assignments.sparkSession
    a = assignments.select("id", "cluster_id")
    edges = (
        new_edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .toArrow()
    )
    s, d = _long_column(edges, "s"), _long_column(edges, "d")
    ends = np.unique(np.concatenate([s, d]))
    if not len(ends):
        return a

    # current labels of the endpoints, from ONE map-only broadcast-inner
    # scan of the standing table; unseen endpoints label themselves
    found = a.join(
        F.broadcast(spark.createDataFrame(pa.table({"id": ends}))), on="id"
    ).toArrow()
    at = np.searchsorted(ends, _long_column(found, "id"))
    lab = ends.copy()
    lab[at] = _long_column(found, "cluster_id")
    seen = np.zeros(len(ends), dtype=bool)
    seen[at] = True

    # contract each edge to its endpoints' labels; the fold maps every
    # touched label to the min label of its merged component
    ls, ld = lab[np.searchsorted(ends, s)], lab[np.searchsorted(ends, d)]
    keep = ls != ld
    nodes, root = _min_label_roots(ls[keep], ld[keep])
    moved = root != nodes

    out = a
    if moved.any():
        relabel = spark.createDataFrame(
            pa.table({"old_label": nodes[moved], "new_label": root[moved]})
        )
        out = a.join(
            F.broadcast(relabel), a["cluster_id"] == relabel["old_label"], "left"
        ).select("id", F.coalesce("new_label", F.col("cluster_id")).alias("cluster_id"))

    # ids first seen in the delta: label = merged label of own id
    new_ids = ends[~seen]
    if len(new_ids):
        pos = np.searchsorted(nodes, new_ids)
        hit = pos < len(nodes)
        hit[hit] = nodes[pos[hit]] == new_ids[hit]
        new_lab = new_ids.copy()
        new_lab[hit] = root[pos[hit]]
        out = out.unionByName(
            spark.createDataFrame(pa.table({"id": new_ids, "cluster_id": new_lab}))
        )
    return out


def repair_clusters(
    assignments: DataFrame,
    pairs: DataFrame,
    min_weight: float,
    max_density: float = 1.0,
    id_l: str = "id_l",
    id_r: str = "id_r",
    weight_col: str = "weight",
) -> DataFrame:
    """Split over-merged clusters by pruning their sub-threshold edges.

    The repair half of the audit→repair lifecycle: `cluster_quality`
    flags chain-shaped clusters held together by marginal links (the
    over-merge signature the reference's MatchReview reviewer hunts by
    eye, `/root/reference/app/MatchReview.py:26,61`); this operator acts
    on the flags.  A cluster is SUSPECT when its weakest intra-cluster
    edge falls below `min_weight` AND its density is at most
    `max_density` (dense cliques survive a weak edge — only sparse
    clusters can be disconnected by one).  Within suspect clusters the
    sub-threshold edges are dropped and connected components re-run on
    the survivors; members that lose every edge become singletons.
    Non-suspect clusters pass through untouched.

    Labels stay "min member id", so a suspect cluster that remains
    connected after pruning keeps its original label — the operator is
    idempotent at any fixed (min_weight, max_density).

    Returns (id, old_cluster_id, cluster_id).

    Scale: the audit is the same two equi-joins + one map-side-combined
    groupBy as `cluster_quality`; the iterative closure runs ONLY on the
    suspect-induced subgraph (by construction small — suspects are the
    anomaly tail), and the standing assignment is touched only by joins
    on cluster_id against that frame.
    """
    a = assignments.select("id", "cluster_id")
    audit = cluster_quality(a, pairs, id_l=id_l, id_r=id_r, weight_col=weight_col)
    suspects = audit.filter(
        (F.col("w_min") < F.lit(min_weight))
        & (F.col("density") <= F.lit(max_density))
    ).select("cluster_id")

    sus_members = a.join(suspects, on="cluster_id").select(
        "id", F.col("cluster_id").alias("old_cluster_id")
    )

    # canonical intra-suspect-cluster edges at or above the threshold
    canon = (
        pairs.select(
            F.least(F.col(id_l), F.col(id_r)).alias("_l"),
            F.greatest(F.col(id_l), F.col(id_r)).alias("_r"),
            F.col(weight_col).alias("_w"),
        )
        .filter(F.col("_l") != F.col("_r"))
        .groupBy("_l", "_r")
        .agg(F.max("_w").alias("_w"))
        .filter(F.col("_w") >= F.lit(min_weight))
    )
    kept = (
        canon
        .join(
            sus_members.select(
                F.col("id").alias("_l"), F.col("old_cluster_id").alias("_cl")
            ),
            on="_l",
        )
        .join(
            sus_members.select(
                F.col("id").alias("_r"), F.col("old_cluster_id").alias("_cr")
            ),
            on="_r",
        )
        .filter(F.col("_cl") == F.col("_cr"))
        .select(F.col("_l").alias("src"), F.col("_r").alias("dst"))
    )

    relabeled = connected_components(kept).select(
        "id", F.col("cluster_id").alias("_new")
    )
    repaired = sus_members.join(relabeled, on="id", how="left").select(
        "id",
        "old_cluster_id",
        F.coalesce(F.col("_new"), F.col("id")).alias("cluster_id"),
    )

    untouched = a.join(suspects, on="cluster_id", how="left_anti").select(
        "id",
        F.col("cluster_id").alias("old_cluster_id"),
        F.col("cluster_id"),
    )
    return untouched.unionByName(repaired)


def repair_clusters_sql(
    assignments_sql: str,
    pairs_sql: str,
    min_weight: float,
    max_density: float = 1.0,
    id_l: str = "id_l",
    id_r: str = "id_r",
    weight_col: str = "weight",
) -> str:
    """DuckDB twin of :func:`repair_clusters` (recursive-CTE closure).

    Every CTE here is `rp_`-prefixed: the assignments/audit subqueries
    nest their own `WITH RECURSIVE` blocks (`und`, `reach`, `asg`, ...),
    and DuckDB 1.0 mis-resolves an outer UNION-bearing CTE whose name
    collides with one of those nested names under a recursive WITH —
    the reversed-edge branch of an outer `und` silently vanished in
    testing (21 rows where the identical inline union gave 42).
    """
    audit_sql = cluster_quality_sql(
        assignments_sql, pairs_sql, id_l=id_l, id_r=id_r, weight_col=weight_col
    )
    return f"""
        WITH RECURSIVE rp_asg AS ({assignments_sql}),
        rp_sus AS (
            SELECT cluster_id FROM ({audit_sql})
            WHERE w_min < {min_weight} AND density <= {max_density}
        ),
        rp_susm AS (
            SELECT a.id, a.cluster_id AS old_cluster_id
            FROM rp_asg a JOIN rp_sus s ON s.cluster_id = a.cluster_id
        ),
        rp_canon AS (
            SELECT least(p.{id_l}, p.{id_r}) AS _l,
                   greatest(p.{id_l}, p.{id_r}) AS _r,
                   max(p.{weight_col}) AS _w
            FROM ({pairs_sql}) p
            WHERE least(p.{id_l}, p.{id_r}) <> greatest(p.{id_l}, p.{id_r})
            GROUP BY 1, 2
            HAVING max(p.{weight_col}) >= {min_weight}
        ),
        rp_kept AS (
            SELECT c._l AS s, c._r AS d
            FROM rp_canon c
            JOIN rp_susm ml ON ml.id = c._l
            JOIN rp_susm mr ON mr.id = c._r
            WHERE ml.old_cluster_id = mr.old_cluster_id
        ),
        rp_und AS (
            SELECT s, d FROM rp_kept UNION SELECT d AS s, s AS d FROM rp_kept
        ),
        rp_reach(n, m) AS (
            SELECT id, id FROM rp_susm
            UNION
            SELECT u.d, r.m FROM rp_reach r JOIN rp_und u ON u.s = r.n
        ),
        rp_cc AS (
            SELECT n AS id, min(m) AS new_cluster FROM rp_reach GROUP BY n
        )
        SELECT a.id, a.cluster_id AS old_cluster_id, a.cluster_id AS cluster_id
        FROM rp_asg a LEFT JOIN rp_sus s ON s.cluster_id = a.cluster_id
        WHERE s.cluster_id IS NULL
        UNION ALL
        SELECT sm.id, sm.old_cluster_id, cc.new_cluster AS cluster_id
        FROM rp_susm sm JOIN rp_cc cc ON cc.id = sm.id
    """


def source_conflicts(
    assignments: DataFrame,
    records: DataFrame,
    source_col: str = "source",
    id_col: str = "id",
) -> DataFrame:
    """Clusters violating the one-record-per-source constraint.

    In dedup against a trusted source (a census file, a master patient
    index), a correct entity holds AT MOST ONE record from each source --
    two same-source records in a cluster is the classic over-merge signal
    and the constraint restricted/one-to-one linkage enforces up front
    (the reference enforces nothing like it: its review GUI leaves
    over-merges to the human eye, /root/reference/app/MatchReview.py).
    This is the audit half: report every (cluster, source) cell with
    two or more members, with the id span for triage.

    Returns (cluster_id, source, n_records, id_min, id_max), only rows
    with n_records >= 2. One equi-join on id + one groupBy on
    (cluster_id, source) -- both hash-partitionable; no windows, no
    all-pairs, linear at any cluster-size distribution (a 10M-member
    pathological cluster costs its row count, not its pair count).
    """
    a = assignments.select(
        F.col(id_col).alias("_sc_id"), "cluster_id"
    )
    r = records.select(
        F.col(id_col).alias("_sc_id"), F.col(source_col).alias("source")
    )
    return (
        a.join(r, "_sc_id")
        .groupBy("cluster_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("_sc_id").alias("id_min"),
            F.max("_sc_id").alias("id_max"),
        )
        .filter(F.col("n_records") >= 2)
    )


def enforce_source_exclusivity(
    pairs: DataFrame,
    records: DataFrame,
    source_col: str = "source",
    id_col: str = "id",
    id_l: str = "id_l",
    id_r: str = "id_r",
    weight_col: str = "weight",
    rounds: int = 3,
) -> DataFrame:
    """Cannot-link enforcement: peel weakest edges until no cluster holds
    two records from the same source (bounded by ``rounds``).

    :func:`source_conflicts` is the audit; this is the repair. The
    constraint — one record per trusted source per entity (restricted
    linkage / the master-patient-index rule) — cannot be enforced by
    dropping only DIRECT same-source edges: transitivity re-merges the
    pair through intermediates. The standard greedy device is weakest-
    edge peeling: every violating cluster drops its single weakest
    intra-cluster edge (ties to smallest (id_l, id_r)), closure re-runs,
    repeat. Each peel severs the least-evidence link first, so the split
    keeps the strongest sub-entities intact — the same rationale as
    :func:`repair_clusters`, with the trigger a CONSTRAINT instead of a
    weight threshold.

    Runs EXACTLY ``rounds`` rounds (clean rounds are no-ops) so the
    recursive-CTE oracle (:func:`enforce_source_exclusivity_sql`) is
    value-identical. A cluster with c conflicting records may need ~c
    rounds; report residual violations by composing
    ``source_conflicts(result, records)`` — a non-empty residual means
    raise ``rounds``.

    Scale: each round re-closes ONLY the violating clusters' subgraph
    (the anomaly tail, same contraction discipline as repair_clusters);
    the standing edge set is touched by one anti-join per round; lineage
    is truncated per round. Returns (id, cluster_id) for every record,
    singletons included.
    """
    from .closure import _truncate

    edges = (
        pairs.select(
            F.least(F.col(id_l), F.col(id_r)).alias("_l"),
            F.greatest(F.col(id_l), F.col(id_r)).alias("_r"),
            F.col(weight_col).alias("_w"),
        )
        .filter(F.col("_l") != F.col("_r"))
        .groupBy("_l", "_r")
        .agg(F.max("_w").alias("_w"))
    )
    recs = records.select(
        F.col(id_col).alias("_id"), F.col(source_col).alias("_src")
    )
    for k in range(rounds):
        if k > 0:
            edges = _truncate(edges)
        comp = connected_components(
            edges.select(F.col("_l").alias("src"), F.col("_r").alias("dst"))
        )
        viol = (
            comp.join(recs, comp["id"] == recs["_id"])
            .groupBy("cluster_id", "_src")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= 2)
            .select("cluster_id")
            .distinct()
        )
        # intra-cluster edges of violating clusters (every surviving edge
        # is intra-cluster after closure, so one endpoint join suffices)
        tagged = edges.join(
            comp.select(F.col("id").alias("_l"), "cluster_id"), "_l"
        ).join(viol, "cluster_id", "left_semi")
        weakest = tagged.groupBy("cluster_id").agg(
            F.min(
                F.struct(
                    F.col("_w").alias("w"),
                    F.col("_l").alias("l"),
                    F.col("_r").alias("r"),
                )
            ).alias("b")
        ).select(F.col("b.l").alias("_l"), F.col("b.r").alias("_r"))
        edges = edges.join(weakest, ["_l", "_r"], "left_anti")
    comp = connected_components(
        edges.select(F.col("_l").alias("src"), F.col("_r").alias("dst"))
    )
    return (
        recs.join(comp, recs["_id"] == comp["id"], "left")
        .select(
            F.col("_id").alias("id"),
            F.coalesce("cluster_id", F.col("_id")).alias("cluster_id"),
        )
    )


def enforce_source_exclusivity_sql(
    pairs_sql: str,
    records_sql: str,
    source_col: str = "source",
    id_col: str = "id",
    id_l: str = "id_l",
    id_r: str = "id_r",
    weight_col: str = "weight",
    rounds: int = 3,
) -> str:
    """Oracle twin of :func:`enforce_source_exclusivity`: the identical
    rounds unrolled, each with a recursive-CTE closure (the
    cc_connected_components device), the identical min-label clusters,
    violating-cluster detection, and (w, l, r) weakest-edge argmin."""
    ctes = [
        f"""e0 AS MATERIALIZED (
            SELECT least({id_l}, {id_r}) AS l, greatest({id_l}, {id_r}) AS r,
                   max({weight_col}) AS w
            FROM ({pairs_sql}) WHERE {id_l} <> {id_r}
            GROUP BY 1, 2
        )""",
        f"rrec AS MATERIALIZED (SELECT {id_col} AS rid, {source_col} AS rsrc "
        f"FROM ({records_sql}))",
    ]
    for k in range(rounds):
        ctes.append(
            f"""und{k} AS (
            SELECT l AS s, r AS d FROM e{k} UNION SELECT r, l FROM e{k}
        ), reach{k}(n, m) AS (
            SELECT s, s FROM (SELECT DISTINCT s FROM und{k})
            UNION
            SELECT u.d, x.m FROM reach{k} x JOIN und{k} u ON u.s = x.n
        ), comp{k} AS MATERIALIZED (
            SELECT n AS id, min(m) AS cluster_id FROM reach{k} GROUP BY n
        ), viol{k} AS (
            SELECT DISTINCT cluster_id FROM comp{k} c
            JOIN rrec ON rrec.rid = c.id
            GROUP BY cluster_id, rsrc HAVING count(*) >= 2
        ), weak{k} AS (
            SELECT l, r FROM (
                SELECT e.l, e.r, row_number() OVER (
                    PARTITION BY c.cluster_id ORDER BY e.w ASC, e.l, e.r
                ) AS rn
                FROM e{k} e
                JOIN comp{k} c ON c.id = e.l
                JOIN viol{k} v ON v.cluster_id = c.cluster_id
            ) WHERE rn = 1
        ), e{k + 1} AS MATERIALIZED (
            SELECT e.* FROM e{k} e
            WHERE NOT EXISTS (
                SELECT 1 FROM weak{k} x WHERE x.l = e.l AND x.r = e.r
            )
        )"""
        )
    K = rounds
    ctes.append(
        f"""undF AS (
            SELECT l AS s, r AS d FROM e{K} UNION SELECT r, l FROM e{K}
        ), reachF(n, m) AS (
            SELECT s, s FROM (SELECT DISTINCT s FROM undF)
            UNION
            SELECT u.d, x.m FROM reachF x JOIN undF u ON u.s = x.n
        ), compF AS (
            SELECT n AS id, min(m) AS cluster_id FROM reachF GROUP BY n
        )"""
    )
    return (
        "WITH RECURSIVE " + ",\n".join(ctes) + """
SELECT rid AS id, coalesce(cluster_id, rid) AS cluster_id
FROM rrec LEFT JOIN compF ON compF.id = rrec.rid
"""
    )


def cluster_triangles(
    assignments: DataFrame,
    pairs: DataFrame,
    id_l: str = "id_l",
    id_r: str = "id_r",
) -> DataFrame:
    """Per-cluster triangle census: the shape diagnostic `cluster_quality`'s
    edge-count density cannot see.

    Two clusters with identical density can be a robust quasi-clique or a
    fragile chain of pairwise-only links — transitive closure welds both.
    Triangles tell them apart: a chain has zero, a clique has C(n,3).
    Returns, for every cluster with >= 3 members,

        (cluster_id, n_members, n_edges, n_triangles, n_wedges,
         transitivity)

    where n_wedges = sum over members of C(deg, 2) (length-2 paths) and
    transitivity = 3*n_triangles / n_wedges (the global clustering
    coefficient, 6dp) — near 0 flags chain-shaped clusters for repair
    (see repair_clusters), near 1 confirms clique-like agreement.

    Scale: edges are canonicalized and cluster-scoped exactly as in
    cluster_quality; the triangle count is the standard oriented
    edge-edge-edge join (a<b<c once, no double counting), all shuffles on
    node/cluster keys; degrees and wedge counts are map-side-combined
    integer aggregates. Connected clusters with >= 3 members always have
    >= 1 wedge, so the division is total.
    """
    a = assignments.select(F.col("id"), F.col("cluster_id"))
    sizes = a.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    canon = (
        pairs.select(
            F.least(F.col(id_l), F.col(id_r)).alias("_l"),
            F.greatest(F.col(id_l), F.col(id_r)).alias("_r"),
        )
        .filter(F.col("_l") != F.col("_r"))
        .distinct()
    )
    e = (
        canon
        .join(a.select(F.col("id").alias("_l"), F.col("cluster_id").alias("_cl")), on="_l")
        .join(a.select(F.col("id").alias("_r"), F.col("cluster_id").alias("_cr")), on="_r")
        .filter(F.col("_cl") == F.col("_cr"))
        .select("_l", "_r", F.col("_cl").alias("_c"))
    )
    edge_n = e.groupBy(F.col("_c").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_edges")
    )
    deg = (
        e.select(F.col("_l").alias("_v"), "_c")
        .unionByName(e.select(F.col("_r").alias("_v"), "_c"))
        .groupBy("_v", "_c")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    wedges = deg.groupBy(F.col("_c").alias("cluster_id")).agg(
        F.sum(F.expr("(_d * (_d - 1)) DIV 2")).alias("n_wedges")
    )
    # oriented a<b<c: (a,b) joins (b,c) joins (a,c); canonical edges make
    # each triangle count exactly once
    e1 = e.select(F.col("_l").alias("_a"), F.col("_r").alias("_b"), "_c")
    e2 = e.select(F.col("_l").alias("_b"), F.col("_r").alias("_cc"), F.col("_c").alias("_c2"))
    e3 = e.select(F.col("_l").alias("_a"), F.col("_r").alias("_cc"), F.col("_c").alias("_c3"))
    tri = (
        e1.join(e2, on="_b")
        .filter(F.col("_c") == F.col("_c2"))
        .join(e3, on=["_a", "_cc"])
        .filter(F.col("_c") == F.col("_c3"))
        .groupBy(F.col("_c").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        sizes.filter(F.col("n_members") >= 3)
        .join(edge_n, on="cluster_id", how="left")
        .join(wedges, on="cluster_id", how="left")
        .join(tri, on="cluster_id", how="left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.coalesce("n_wedges", F.lit(0)).alias("n_wedges"),
            F.round(
                F.lit(3.0) * F.coalesce("n_triangles", F.lit(0))
                / F.coalesce("n_wedges", F.lit(1)),
                6,
            ).alias("transitivity"),
        )
    )


def cluster_triangles_sql(
    assignments_sql: str,
    pairs_sql: str,
    id_l: str = "id_l",
    id_r: str = "id_r",
) -> str:
    """DuckDB twin of cluster_triangles — identical canonicalization,
    oriented triangle join, and integer wedge arithmetic."""
    return f"""
WITH tg_a AS MATERIALIZED (SELECT id, cluster_id FROM ({assignments_sql})),
tg_canon AS (
  SELECT DISTINCT least({id_l}, {id_r}) AS _l, greatest({id_l}, {id_r}) AS _r
  FROM ({pairs_sql}) WHERE {id_l} <> {id_r}
),
tg_e AS MATERIALIZED (
  SELECT c._l, c._r, al.cluster_id AS _c
  FROM tg_canon c
  JOIN tg_a al ON al.id = c._l
  JOIN tg_a ar ON ar.id = c._r
  WHERE al.cluster_id = ar.cluster_id
),
tg_sizes AS (
  SELECT cluster_id, count(*) AS n_members FROM tg_a GROUP BY cluster_id
),
tg_edges AS (
  SELECT _c AS cluster_id, count(*) AS n_edges FROM tg_e GROUP BY _c
),
tg_deg AS (
  SELECT _v, _c, count(*) AS _d FROM (
    SELECT _l AS _v, _c FROM tg_e UNION ALL SELECT _r, _c FROM tg_e
  ) GROUP BY _v, _c
),
tg_wedges AS (
  SELECT _c AS cluster_id, SUM((_d * (_d - 1)) // 2) AS n_wedges
  FROM tg_deg GROUP BY _c
),
tg_tri AS (
  SELECT e1._c AS cluster_id, count(*) AS n_triangles
  FROM tg_e e1
  JOIN tg_e e2 ON e2._l = e1._r AND e2._c = e1._c
  JOIN tg_e e3 ON e3._l = e1._l AND e3._r = e2._r AND e3._c = e1._c
  GROUP BY e1._c
)
SELECT s.cluster_id,
       CAST(s.n_members AS BIGINT) AS n_members,
       CAST(COALESCE(e.n_edges, 0) AS BIGINT) AS n_edges,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(COALESCE(w.n_wedges, 0) AS BIGINT) AS n_wedges,
       round(3.0 * COALESCE(t.n_triangles, 0)
             / COALESCE(w.n_wedges, 1), 6) AS transitivity
FROM tg_sizes s
LEFT JOIN tg_edges e USING (cluster_id)
LEFT JOIN tg_wedges w USING (cluster_id)
LEFT JOIN tg_tri t USING (cluster_id)
WHERE s.n_members >= 3
"""
