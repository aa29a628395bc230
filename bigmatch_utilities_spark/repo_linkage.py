"""The north-rule pipeline: record linkage over the source-code repo table.

Input schema (BASELINE.json input_hint):
    (repo: string, path: string, commit: string, lang: string, content: string)

This module derives blocking/matching columns from `content` and assembles
a multi-pass MatchConfig so the generic engine (operators.pipeline +
operators.closure) does the rest. The pass design mirrors the reference's
strict-first multi-pass strategy (samplefiles/parmf_new.txt: exact pass →
looser passes):

  pass 0  block content_sha                — byte-identical duplicates
  pass 1  block content_sha_nows           — whitespace/comment-insensitive
          (catches formatting-only forks exactly)
  pass 2  block (lang, anchor_line)        — rare-token anchor blocking
          (the distinctive last non-comment line; analogous to the census
          config's precomputed soundex keys) + fuzzy head/tail scoring
  pass 3  MinHash-LSH band keys            — general near-dup canopy
          (operators.dedup.minhash_candidates supplies candidates; they are
          scored with the same FS fields as pass 2)

All derived columns are built-in expressions (sha2 / regexp / split);
content never crosses into Python except inside the Arrow JW kernel on the
already-blocked candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import (
    BlockField,
    BlockingPassSpec,
    CutoffSpec,
    MatchConfig,
    FieldRef,
    MatchField,
)
from bigmatch_utilities_spark.operators.closure import cluster_accepted_pairs
from bigmatch_utilities_spark.operators.dedup import minhash_candidates
from bigmatch_utilities_spark.operators.pipeline import (
    MatchResult,
    first_pass_wins,
    pass_union,
    run_match,
    threshold_accept,
)

ID_COL = "record_id"


def with_record_id(df: DataFrame) -> DataFrame:
    """Deterministic unique id when the table lacks one: the (repo, path,
    commit) business key is unique by construction; hash it. sha2-based so
    re-runs and resumes agree (monotonically_increasing_id would not)."""
    if ID_COL in df.columns:
        return df
    return df.withColumn(
        ID_COL,
        F.conv(
            F.substring(F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256), 1, 15),
            16,
            10,
        ).cast("long"),
    )


def prepare(df: DataFrame) -> DataFrame:
    """Derive blocking/matching columns. One projection — no shuffle."""
    nocomment = F.regexp_replace(
        F.col("content"), r"(?m)^\s*(#|//)[^\n]*\n?", ""
    )
    norm = F.trim(F.regexp_replace(nocomment, r"\s+", " "))
    lines = F.filter(
        F.split(nocomment, "\n"), lambda x: F.trim(x) != F.lit("")
    )
    return (
        with_record_id(df)
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
        .withColumn("content_norm", norm)
        .withColumn("content_sha_nows", F.sha2(norm, 256))
        .withColumn("head_line", F.trim(F.element_at(lines, 1)))
        .withColumn("anchor_line", F.trim(F.element_at(lines, -1)))
        .withColumn("head_64", F.substring(norm, 1, 64))
        .withColumn(
            "tail_64",
            F.substring(norm, -64, 64),
        )
        .withColumn("n_chars", F.length(norm).cast("string"))
    )


#: Fuzzy-pass evidence, m/u calibrated on the synthetic distributions
#: (measured: near-dup head_64 JW ≥ 0.92, full-text JW ≥ 0.91; negatives
#: max ≈ 0.89): exact agreement on the rare-token anchor line is strong
#: positive evidence (log2(0.9/0.01) ≈ +6.5), JW on the 64-char
#: normalized head/tail adds ±4-5; a hard negative (same structure,
#: different content) lands ≤ -5, a true near-dup ≥ +8, so the accept
#: threshold 4 has margin on both sides.
_FUZZY_FIELDS = (
    MatchField(name="anchor_line", comparator="c", m=0.90, u=0.01),
    MatchField(name="head_64", comparator="uo", m=0.95, u=0.02),
    MatchField(name="tail_64", comparator="uo", m=0.90, u=0.05),
)

#: Cutoffs of the fuzzy-scored passes: pass 2 and the MinHash canopy.
_FUZZY_CUTOFF = CutoffSpec(hi=4.0, lo=-100.0)

_HASH_PASS_FIELDS = (
    MatchField(name="n_chars", comparator="q", m=0.95, u=0.05),
    MatchField(name="head_64", comparator="c", m=0.90, u=0.10),
)

#: Boolean row flag marking the delta's rows in the nightly-delta match.
DELTA_FLAG = "_in_delta"


def repo_match_config(accept_threshold: float = 4.0) -> MatchConfig:
    return MatchConfig(
        passes=(
            BlockingPassSpec(  # pass 0: exact content
                block_fields=(BlockField(name="content_sha"),),
                match_fields=_HASH_PASS_FIELDS,
                cutoff=CutoffSpec(hi=4.0, lo=0.0),
                print_cutoff=CutoffSpec(hi=4.0, lo=0.0),
                # identical-content boilerplate (license files vendored by
                # 10^4+ repos) makes one hash block quadratic; the hash key
                # determines the match, so the min-id star is
                # closure-equivalent at O(n) cost.
                star_block_rows=64,
            ),
            BlockingPassSpec(  # pass 1: whitespace/comment-normalized exact
                block_fields=(BlockField(name="content_sha_nows"),),
                match_fields=_HASH_PASS_FIELDS,
                cutoff=CutoffSpec(hi=4.0, lo=0.0),
                print_cutoff=CutoffSpec(hi=4.0, lo=0.0),
                star_block_rows=64,
                # sha-equal pairs are exactly pass 0's pairs
                suppress_equal=("content_sha",),
            ),
            BlockingPassSpec(  # pass 2: rare-token anchor + fuzzy scoring
                block_fields=(
                    BlockField(name="lang"),
                    BlockField(name="anchor_line"),
                ),
                match_fields=_FUZZY_FIELDS,
                cutoff=_FUZZY_CUTOFF,
                print_cutoff=_FUZZY_CUTOFF,
                # content_sha_nows-equal ⊇ content_sha-equal: every such
                # pair was found by pass 0 or 1; never JW-score it again.
                suppress_equal=("content_sha_nows",),
            ),
        ),
        id_field=FieldRef(name=ID_COL),
        dedupe_single_file=True,
        accept_threshold=accept_threshold,
    )


def with_tf_adjust(cfg: MatchConfig, names: tuple[str, ...]) -> MatchConfig:
    """Flip ``tf_adjust`` on every match field named in ``names`` across all
    passes (jobs/run_match --tf-adjust). Naming a non-exact-comparator
    field raises MatchField's own validation error — loud, not silent."""
    from dataclasses import replace

    return replace(
        cfg,
        passes=tuple(
            replace(
                p,
                match_fields=tuple(
                    replace(mf, tf_adjust=True) if mf.name in names else mf
                    for mf in p.match_fields
                ),
            )
            for p in cfg.passes
        ),
    )


def _canopy_pairs(
    prepared: DataFrame,
    pass_id: int,
    *,
    minhash_max_bucket: int | None,
    shard_rows: int | None,
    cache_handle: list | None,
    gamma_fields: tuple | None = None,
    touching: str | None = None,
) -> DataFrame:
    """The MinHash-LSH canopy pass: band-key candidates over ``prepared``,
    scored with the fuzzy fields (without TF adjustment) and cut at the
    fuzzy passes' accept cutoff, as the decision core plus any ``g_*``
    gamma columns. ``touching`` names a boolean row flag: only candidates
    with a flagged side are kept (two map-only broadcast joins on the
    flagged id set)."""
    # b=4 x r=4 (same 16 hashes as 8x2, sharply lower false-candidate rate:
    # P(collide) at J=0.3 is 4*0.3^16-ish vs 8*0.3^2 — the candidate volume,
    # and with it the whole pass-3 cost, drops an order of magnitude while
    # true near-dups at J>=0.85 still collide with P >= 0.93).
    cands = minhash_candidates(
        prepared,
        "content_norm",
        ID_COL,
        shingle_k=3,
        bands=4,
        rows_per_band=4,
        max_bucket=minhash_max_bucket,
        shard_rows=shard_rows,
        cache_handle=cache_handle,
    )
    if touching:
        t_ids = prepared.filter(F.col(touching)).select(F.col(ID_COL).alias("_did"))
        left_hit = cands.join(
            F.broadcast(t_ids), cands["id_l"] == F.col("_did"), "left_semi"
        )
        right_only = cands.join(
            F.broadcast(t_ids), cands["id_l"] == F.col("_did"), "left_anti"
        ).join(F.broadcast(t_ids), cands["id_r"] == F.col("_did"), "left_semi")
        cands = left_hit.unionByName(right_only)
    carry = [mf.name for mf in _FUZZY_FIELDS]
    for mf in gamma_fields or ():
        if mf.name not in carry:
            carry.append(mf.name)
    carry = carry + ["content_sha_nows"]
    side = prepared.select(F.col(ID_COL), *carry)
    pairs3 = cands.join(
        side.toDF(*["id_l"] + [f"rec_{c}" for c in carry]), "id_l"
    ).join(side.toDF(*["id_r"] + [f"mem_{c}" for c in carry]), "id_r")
    # suppress pairs already decided by the exact passes (see pass-2 note)
    pairs3 = pairs3.filter(
        F.col("rec_content_sha_nows") != F.col("mem_content_sha_nows")
    ).drop("rec_content_sha_nows", "mem_content_sha_nows")
    from bigmatch_utilities_spark.operators.scoring import is_exact, pair_weight

    scored3 = (
        pairs3.withColumnRenamed("id_l", "id_rec")
        .withColumnRenamed("id_r", "id_mem")
        .withColumn("weight", pair_weight(_FUZZY_FIELDS))
        .withColumn("is_exact", is_exact(_FUZZY_FIELDS))
        .withColumn("pass_id", F.lit(pass_id))
        .withColumn(
            "decision",
            F.when(F.col("weight") >= _FUZZY_CUTOFF.hi, F.lit("match")).otherwise(
                F.lit("possible")
            ),
        )
    )
    gcols = []
    if gamma_fields:
        from bigmatch_utilities_spark.operators.em import gamma_column

        for mf in gamma_fields:
            scored3 = scored3.withColumn(
                f"g_{mf.name}",
                gamma_column(mf, F.col(f"rec_{mf.name}"), F.col(f"mem_{mf.name}")),
            )
        gcols = [f"g_{mf.name}" for mf in gamma_fields]
    return scored3.select(
        "id_rec", "id_mem", "pass_id", "weight", "is_exact", "decision", *gcols
    )


def run_repo_linkage(
    df: DataFrame,
    *,
    use_minhash_pass: bool = True,
    max_block_rows: int | None = 2_000,
    minhash_max_bucket: int | None = 256,
    shard_rows: int | None = 192,
    persist: bool = False,
    cache_handle: list | None = None,
    gamma_fields: tuple | None = None,
    transform=None,
    tf_adjust_fields: tuple[str, ...] = (),
) -> MatchResult:
    """Full multi-pass linkage over a prepared repo-files DataFrame.

    transform: optional DataFrame -> DataFrame hook applied to the
    PREPARED frame before any pass runs — the quality-step seam (e.g.
    jobs/run_match --standardize rewrites match columns through
    operators.standardize here, so every blocking and scoring pass —
    including the LSH canopy — sees canonicalized values).

    minhash_max_bucket: LSH buckets above this are template/boilerplate
    canopies, not duplicate evidence — their members' true duplicates are
    exact/nows/anchor-pass catches. The cap bounds the canopy pass's pair
    volume (a 1000-row bucket is 500k pairs in ONE bucket); 256 keeps the
    worst bucket ~32k pairs pre-shard.

    shard_rows: adaptive hot-block salting target (see operators.blocking):
    fuzzy blocks and LSH buckets bigger than this get their quadratic pair
    output spread over proportionally many join tasks. The 100 TB scaling
    property depends on it — without it a handful of boilerplate anchor
    blocks serialize the whole comparator stage onto a few cores.

    cache_handle: receives every frame this run persists (the LSH bands,
    plus `prepared` when persist=True); callers that materialize the result
    unpersist them afterwards (see operators.dedup.minhash_candidates).

    gamma_fields: attach per-pair ``g_<field>`` agreement indicators in the
    scoring stage of every pass (incl. the LSH pass) so EM calibration
    reads them straight off ``result.pairs`` — no second scan
    (operators.pipeline.score_pass).

    tf_adjust_fields: score these fields with term-frequency adjustment
    in the equi-join passes. The MinHash canopy (pass 3) scores without
    TF adjustment whatever this names (ROADMAP item 1 folds the canopy
    into the config, which fixes it)."""
    prepared = prepare(df)
    if transform is not None:
        prepared = transform(prepared)
    if persist:
        prepared = prepared.persist()
        if cache_handle is not None:
            cache_handle.append(prepared)
    cfg = repo_match_config()
    if tf_adjust_fields:
        cfg = with_tf_adjust(cfg, tuple(tf_adjust_fields))
    result = run_match(
        prepared,
        None,
        cfg,
        id_col=ID_COL,
        max_block_rows=max_block_rows,
        shard_rows=shard_rows,
        persist=False,
        gamma_fields=gamma_fields,
    )
    if not use_minhash_pass:
        return result

    # pass 3: MinHash-LSH canopy scored with the fuzzy fields.
    scored3 = _canopy_pairs(
        prepared,
        len(cfg.passes),
        minhash_max_bucket=minhash_max_bucket,
        shard_rows=shard_rows,
        cache_handle=cache_handle,
        gamma_fields=gamma_fields,
    )
    combined = first_pass_wins(result.pairs.unionByName(scored3))
    return MatchResult(pairs=combined, accept=threshold_accept(cfg.accept_threshold))


def run_repo_linkage_delta(
    delta: DataFrame,
    standing: DataFrame,
    *,
    use_minhash_pass: bool = True,
    max_block_rows: int | None = 2_000,
    minhash_max_bucket: int | None = 256,
    shard_rows: int | None = 192,
    cache_handle: list | None = None,
    transform=None,
    tf_adjust_fields: tuple[str, ...] = (),
) -> MatchResult:
    """Incremental (nightly-delta) linkage: every pair TOUCHING the delta,
    never an old-old pair — the match stage of "link today's records into
    the standing entity table" (jobs/run_incremental.py drives it, then
    operators/cluster_audit.incremental_closure folds the good pairs into
    the standing assignment).

    Decomposition: standing ∪ delta is prepared once, its delta rows
    flagged (:data:`DELTA_FLAG`; ids are disjoint by the with_record_id
    business-key contract), and every pass runs ONCE over it in delta
    mode (operators.pipeline.pass_union — run_match's passes before its
    aggregate — with ``touching=``, operators.blocking.candidate_pairs):
    per pass, the delta's block keys are broadcast, only the blocks they
    touch are windowed — whole, so block counts, the ``max_block_rows``
    cap and the ``star_block_rows`` min-id stars are the batch's — and
    the delta rows join every row of their block. Each pass therefore
    emits exactly the batch recompute's pairs with a delta side, oriented
    ``id_rec < id_mem``, and scores them from the same values: delta-delta
    and delta-standing pairs come from one join, and TF value-frequency
    tables read standing ∪ delta, as the batch does. The MinHash canopy
    (band keys over standing ∪ delta, candidates kept when a side is a
    delta row) joins the passes' union before ONE first_pass_wins.

    Equivalence contract (pinned by tests/test_delta_linkage.py): this
    run's good_pairs equal the delta-touching rows of a batch run over
    standing ∪ delta, so good_pairs(base batch over OLD) ∪ good_pairs(this
    run), transitively closed, equals the batch recompute — up to one cap
    caveat, which lies in the base run: an old-old pair in a block or LSH
    bucket whose size cap the delta crosses (kept by the base run, dropped
    by the recompute, or a block the delta turns from a clique into a
    star). The caps exist to drop boilerplate mega-blocks, and the
    divergence heals at the next full recompute.

    100 TB notes: each pass scans the standing table, filtered map-side
    by the broadcast delta key set before any shuffle, and it is scanned once
    for band keys — at real scale persist the band keys as a checkpoint
    table and append the delta's, turning the canopy stage into a
    delta-vs-bands join. With an Iceberg standing side partitioned on a
    block key, the key set can also prune partitions (runtime filter /
    DPP; not exercised by the tests).
    """
    prep = prepare(
        with_record_id(standing)
        .withColumn(DELTA_FLAG, F.lit(False))
        .unionByName(with_record_id(delta).withColumn(DELTA_FLAG, F.lit(True)))
    )
    if transform is not None:
        prep = transform(prep)

    cfg = repo_match_config()
    if tf_adjust_fields:
        cfg = with_tf_adjust(cfg, tuple(tf_adjust_fields))
    core = pass_union(
        prep, None, cfg, id_col=ID_COL,
        max_block_rows=max_block_rows, shard_rows=shard_rows, persist=False,
        touching=DELTA_FLAG,
    )
    if use_minhash_pass:
        core = core.unionByName(
            _canopy_pairs(
                prep,
                len(cfg.passes),
                minhash_max_bucket=minhash_max_bucket,
                shard_rows=shard_rows,
                cache_handle=cache_handle,
                touching=DELTA_FLAG,
            )
        )
    return MatchResult(
        pairs=first_pass_wins(core), accept=threshold_accept(cfg.accept_threshold)
    )


def count_candidates(
    df: DataFrame,
    *,
    use_minhash_pass: bool = True,
    max_block_rows: int | None = 2_000,
    minhash_max_bucket: int | None = 256,
) -> int:
    """Candidate pairs entering the comparator stage across every pass —
    the denominator of the BASELINE candidate-pairs/sec throughput metric.
    Counts run on the same candidate plans `run_repo_linkage` scores (post
    blank/suppress filtering), but without the scoring UDFs, so the count
    job is cheap relative to the pipeline it calibrates."""
    from bigmatch_utilities_spark.operators.pipeline import pass_candidates

    prepared = prepare(df)
    cfg = repo_match_config()
    total = 0
    for spec in cfg.passes:
        total += pass_candidates(
            prepared,
            prepared,
            spec,
            ID_COL,
            dedupe=True,
            max_block_rows=max_block_rows,
        ).count()
    if use_minhash_pass:
        caches: list = []
        cands = minhash_candidates(
            prepared,
            "content_norm",
            ID_COL,
            shingle_k=3,
            bands=4,
            rows_per_band=4,
            max_bucket=minhash_max_bucket,
            shard_rows=None,
            cache_handle=caches,
        )
        side = prepared.select(F.col(ID_COL), "content_sha_nows")
        pairs3 = cands.join(
            side.toDF("id_l", "sha_l"), "id_l"
        ).join(side.toDF("id_r", "sha_r"), "id_r")
        total += pairs3.filter(F.col("sha_l") != F.col("sha_r")).count()
        for c in caches:
            c.unpersist()
    return total


def link_and_cluster(df: DataFrame, **kwargs) -> DataFrame:
    """repo files → (record_id, cluster_id) entity table."""
    result = run_repo_linkage(df, **kwargs)
    prepared = with_record_id(df)
    return cluster_accepted_pairs(
        result.good_pairs(), all_ids=prepared.select(ID_COL), id_col=ID_COL
    )
