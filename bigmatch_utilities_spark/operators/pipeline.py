"""Multi-pass match orchestration.

Reference lifecycle (README.md:1-6, app/MatchReview.py): the engine makes
one pass over the record file per blocking pass, emitting a per-pass
possible-matches file ``{MEM}-{REC}Pairs_NN.dat``; pairs already matched in
an earlier pass are not re-reported (first-pass-wins); review then splits
exact matches out (rec match values == mem match values,
app/MatchReview.py:157-173), applies the accept threshold (weight ≥ 10
default, :1047), and combines exact+accepted into the good-pairs file
(:535-586).

Spark shape per pass:

    scan → normalize → blank-key filter → equi-join on composite block key
    → comparator similarity (Arrow-batched JW where fuzzy) → FS weight sum
    → cutoff filters → pairs(pass_id=k)

then `unionByName` across passes + first-pass-wins dedup via a min-pass
aggregation on the pair key, and decision columns; the exact/accepted/
possible splits and good_pairs are filters of that one frame
(:class:`MatchResult`).

Scans: ``run_match(persist=True)`` (the default) persists rec/mem, so the
passes share one cached scan. The repo_linkage paths call it with
``persist=False`` and hand it a lazily derived frame, so every pass plan
re-reads the source and re-derives its columns: the batch plan with the
MinHash canopy holds 12 scans of the input (8 without it). The nightly
delta (``touching=``) runs the same passes over standing ∪ delta: every
windowed side reads both tables, each semi-joined to the broadcast block
keys of the delta's rows (one more read of the delta). Without the canopy
that plan holds 32 parquet scans, most of them of the small delta — as
many as the delta self-dedupe plus delta-vs-standing two-file run it
replaced — but 9 shuffle stages instead of 13 on a generated input.
Nothing is cached across the write of ``pairs`` and ``good_pairs``, which
is why the jobs derive ``good_pairs`` from the written ``pairs`` table
instead of from the lazy result.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import BlockingPassSpec, MatchConfig
from bigmatch_utilities_spark.operators.blocking import candidate_pairs
from bigmatch_utilities_spark.operators.scoring import is_exact, pair_weight

PAIR_KEY = ["id_rec", "id_mem"]
GOOD_PAIR_COLS = ["pass_id", "weight", "id_rec", "id_mem"]


def normalize(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Reference-style normalization: trim + collapse internal whitespace
    (reduce_blank_spaces, app/MatchReview.py:507-519). Values stay strings;
    blanks become ''."""
    columns = columns or df.columns
    out = df
    for c in columns:
        out = out.withColumn(
            c,
            F.regexp_replace(F.trim(F.coalesce(F.col(c).cast("string"), F.lit(""))), " +", " "),
        )
    return out


def pass_candidates(
    rec: DataFrame,
    mem: DataFrame,
    spec: BlockingPassSpec,
    id_col: str,
    *,
    dedupe: bool = False,
    broadcast_mem: bool | None = None,
    salt: int | None = None,
    shard_rows: int | None = None,
    max_block_rows: int | None = None,
    extra_carry: list[str] | None = None,
    touching: str | None = None,
) -> DataFrame:
    """The pass's candidate pairs exactly as they enter the comparators:
    blocked join output minus suppress_equal-decided pairs. Exposed so
    benches can count candidate-pairs/sec (the BASELINE throughput unit)
    on the same plan the scoring path consumes.

    extra_carry: additional source columns carried to both sides (e.g.
    fields a downstream gamma/EM step reads that this pass does not score).

    touching: name of a boolean row flag — only the pairs with at least
    one flagged side (equi passes on a dedupe self-join only; see
    operators.blocking.candidate_pairs).
    """
    if touching and spec.kind != "equi":
        raise ValueError(
            f"touching= is an equi-join mode; kind={spec.kind!r} has none"
        )
    carry = [mf.name for mf in spec.match_fields]
    for fp in spec.match_field_pairs:
        for f in (fp.name_a, fp.name_b):
            if f not in carry:
                carry.append(f)
    for cl in spec.level_fields:
        if cl.name not in carry:
            carry.append(cl.name)
    for f in extra_carry or []:
        if f not in carry:
            carry.append(f)
    carry_sup = carry + [f for f in spec.suppress_equal if f not in carry]
    if spec.kind == "snm":
        from bigmatch_utilities_spark.operators.sorted_neighborhood import (
            snm_candidate_pairs,
        )

        # salt/shard/star/broadcast are equi-join knobs; SNM's pair volume
        # is (window-1)·N by construction, so none of them apply.
        pairs = snm_candidate_pairs(
            rec,
            mem,
            spec,
            id_col,
            dedupe=dedupe,
            carry_rec=carry_sup,
            carry_mem=carry_sup,
        )
    elif spec.kind == "lsh":
        from bigmatch_utilities_spark.operators.dedup import minhash_candidates

        if not dedupe or mem is not rec:
            raise ValueError(
                "kind='lsh' is a single-file (dedupe) pass; a two-file "
                "canopy needs the delta-touching filter "
                "repo_linkage.run_repo_linkage_delta composes explicitly"
            )
        # candidates come from band-key collisions (already id_l < id_r
        # canonical, singleton-dropped, bucket-capped, shard-salted); the
        # carried match-field values join on from the source, same shape
        # as run_repo_linkage's hand-composed pass 3
        cands = minhash_candidates(
            rec,
            spec.lsh_field,
            id_col,
            shingle_k=spec.lsh_shingle_k,
            bands=spec.lsh_bands,
            rows_per_band=spec.lsh_rows_per_band,
            max_bucket=spec.lsh_max_bucket,
            shard_rows=shard_rows,
        ).select("id_l", "id_r")
        side = rec.select(F.col(id_col), *carry_sup)
        pairs = (
            cands.join(
                side.toDF(*(["id_l"] + [f"rec_{c}" for c in carry_sup])), "id_l"
            )
            .join(
                side.toDF(*(["id_r"] + [f"mem_{c}" for c in carry_sup])), "id_r"
            )
            .withColumnRenamed("id_l", "id_rec")
            .withColumnRenamed("id_r", "id_mem")
        )
    elif spec.kind == "pprl":
        from bigmatch_utilities_spark.functions.pprl import bloom_band_pairs

        if not dedupe or mem is not rec:
            raise ValueError(
                "kind='pprl' is a single-file (dedupe) pass; two encoded "
                "files merge into one frame before a dedupe run"
            )
        # candidates come from bloom-band agreement (id_l < id_r canonical,
        # singleton-dropped, bucket-capped); the carried match-field values
        # join on from the source, same shape as the lsh canopy pass — note
        # the carried fields may themselves be encodings when the run is
        # fully privacy-preserving ("b" match fields re-encode the strings)
        cands = bloom_band_pairs(
            rec,
            id_col,
            spec.pprl_field,
            bits=spec.pprl_bits,
            k=spec.pprl_k,
            bands=spec.pprl_bands,
            band_bits=spec.pprl_band_bits,
            max_bucket=spec.pprl_max_bucket,
        ).select("id_l", "id_r")
        side = rec.select(F.col(id_col), *carry_sup)
        pairs = (
            cands.join(
                side.toDF(*(["id_l"] + [f"rec_{c}" for c in carry_sup])), "id_l"
            )
            .join(
                side.toDF(*(["id_r"] + [f"mem_{c}" for c in carry_sup])), "id_r"
            )
            .withColumnRenamed("id_l", "id_rec")
            .withColumnRenamed("id_r", "id_mem")
        )
    elif spec.kind == "ann":
        from bigmatch_utilities_spark.operators.similarity import (
            embedding_neardup,
        )

        if not dedupe or mem is not rec:
            raise ValueError(
                "kind='ann' is a single-file (dedupe) pass; merge two "
                "embedded files into one frame before a dedupe run"
            )
        # candidates come from random-hyperplane band collisions verified
        # by exact cosine (already id_l < id_r canonical, singleton-
        # dropped, bucket-capped); carried match-field values join on
        # from the source, same shape as the lsh/pprl kinds
        cands = embedding_neardup(
            rec,
            id_col=id_col,
            vec_col=spec.ann_field,
            threshold=spec.ann_threshold,
            n_bands=spec.ann_bands,
            bits_per_band=spec.ann_bits,
            dim=spec.ann_dim,
            seed=spec.ann_seed,
            max_bucket=spec.ann_max_bucket,
            shard_rows=shard_rows,
        ).select("id_l", "id_r")
        side = rec.select(F.col(id_col), *carry_sup)
        pairs = (
            cands.join(
                side.toDF(*(["id_l"] + [f"rec_{c}" for c in carry_sup])), "id_l"
            )
            .join(
                side.toDF(*(["id_r"] + [f"mem_{c}" for c in carry_sup])), "id_r"
            )
            .withColumnRenamed("id_l", "id_rec")
            .withColumnRenamed("id_r", "id_mem")
        )
    elif spec.kind == "interval":
        from bigmatch_utilities_spark.operators.temporal import (
            interval_overlap_pairs,
        )

        if not dedupe or mem is not rec:
            raise ValueError(
                "kind='interval' is a single-file (dedupe) pass; merge "
                "two files into one frame before a dedupe run"
            )
        cands = interval_overlap_pairs(
            rec,
            id_col,
            spec.interval_start,
            spec.interval_end,
            granule_s=spec.interval_granule_s,
            max_granules=spec.interval_max_granules,
            block_cols=tuple(bf.name for bf in spec.block_fields),
        ).select("id_l", "id_r")
        side = rec.select(F.col(id_col), *carry_sup)
        pairs = (
            cands.join(
                side.toDF(*(["id_l"] + [f"rec_{c}" for c in carry_sup])), "id_l"
            )
            .join(
                side.toDF(*(["id_r"] + [f"mem_{c}" for c in carry_sup])), "id_r"
            )
            .withColumnRenamed("id_l", "id_rec")
            .withColumnRenamed("id_r", "id_mem")
        )
    elif spec.kind == "meta":
        from bigmatch_utilities_spark.operators.meta_blocking import (
            meta_block_pairs,
            wnp_pairs,
        )

        if not dedupe or mem is not rec:
            raise ValueError(
                "kind='meta' is a single-file (dedupe) pass; merge two "
                "files into one frame before a dedupe run"
            )
        # candidates come from the CBS-weighted multi-key block graph
        # (id_l < id_r canonical, size-guarded, WEP/WNP pruned); carried
        # match-field values join on from the source, same shape as the
        # lsh/pprl/qgram canopy passes
        prune_fn = meta_block_pairs if spec.meta_prune == "wep" else wnp_pairs
        cands = prune_fn(
            rec,
            id_col,
            dict(spec.meta_keys),
            max_block_rows=spec.meta_max_block_rows,
        ).select("id_l", "id_r")
        side = rec.select(F.col(id_col), *carry_sup)
        pairs = (
            cands.join(
                side.toDF(*(["id_l"] + [f"rec_{c}" for c in carry_sup])), "id_l"
            )
            .join(
                side.toDF(*(["id_r"] + [f"mem_{c}" for c in carry_sup])), "id_r"
            )
            .withColumnRenamed("id_l", "id_rec")
            .withColumnRenamed("id_r", "id_mem")
        )
    elif spec.kind == "canopy":
        from bigmatch_utilities_spark.operators.meta_blocking import (
            rarest_token_canopy_pairs,
        )

        if not dedupe or mem is not rec:
            raise ValueError(
                "kind='canopy' is a single-file (dedupe) pass; merge two "
                "files into one frame before a dedupe run"
            )
        # candidates share a rarest-token canopy (disjoint partition of
        # the records, pair budget bounded by canopy_purge_above); carried
        # match-field values join on from the source, same shape as the
        # lsh/pprl/qgram canopy passes
        cands = rarest_token_canopy_pairs(
            rec,
            id_col,
            spec.canopy_field,
            purge_above=spec.canopy_purge_above,
        ).select("id_l", "id_r")
        side = rec.select(F.col(id_col), *carry_sup)
        pairs = (
            cands.join(
                side.toDF(*(["id_l"] + [f"rec_{c}" for c in carry_sup])), "id_l"
            )
            .join(
                side.toDF(*(["id_r"] + [f"mem_{c}" for c in carry_sup])), "id_r"
            )
            .withColumnRenamed("id_l", "id_rec")
            .withColumnRenamed("id_r", "id_mem")
        )
    elif spec.kind in ("qgram", "suffix"):
        from bigmatch_utilities_spark.operators.meta_blocking import (
            qgram_block_pairs,
            suffix_block_pairs,
        )

        if not dedupe or mem is not rec:
            raise ValueError(
                f"kind={spec.kind!r} is a single-file (dedupe) pass; merge "
                "two files into one frame before a dedupe run"
            )
        # candidates come from shared kept q-gram / suffix blocks (id_l <
        # id_r canonical, purge + per-record smallest-blocks filter bounds
        # the pair budget); carried match-field values join on from the
        # source, same shape as the lsh/pprl canopy passes
        if spec.kind == "qgram":
            cands = qgram_block_pairs(
                rec,
                id_col,
                spec.qgram_field,
                n=spec.qgram_n,
                ratio=spec.qgram_ratio,
                purge_above=spec.qgram_purge_above,
            ).select("id_l", "id_r")
        else:
            cands = suffix_block_pairs(
                rec,
                id_col,
                spec.suffix_field,
                min_len=spec.suffix_min_len,
                ratio=spec.suffix_ratio,
                purge_above=spec.suffix_purge_above,
            ).select("id_l", "id_r")
        side = rec.select(F.col(id_col), *carry_sup)
        pairs = (
            cands.join(
                side.toDF(*(["id_l"] + [f"rec_{c}" for c in carry_sup])), "id_l"
            )
            .join(
                side.toDF(*(["id_r"] + [f"mem_{c}" for c in carry_sup])), "id_r"
            )
            .withColumnRenamed("id_l", "id_rec")
            .withColumnRenamed("id_r", "id_mem")
        )
    else:
        pairs = candidate_pairs(
            rec,
            mem,
            spec,
            id_col,
            dedupe=dedupe,
            broadcast_mem=broadcast_mem,
            salt=salt,
            shard_rows=shard_rows,
            max_block_rows=max_block_rows,
            carry_rec=carry_sup,
            carry_mem=carry_sup,
            touching=touching,
        )
    # Suppress pairs an earlier exact pass already decided (spec.suppress_equal)
    # BEFORE any comparator UDF runs — the filter is a JVM predicate on the
    # join output, so redundant mega-block echoes never reach Python.
    for f in spec.suppress_equal:
        pairs = pairs.filter(
            (F.col(f"rec_{f}") != F.col(f"mem_{f}"))
            | F.col(f"rec_{f}").isNull()
            | F.col(f"mem_{f}").isNull()
        )
    return pairs.drop(
        *[c for f in spec.suppress_equal if f not in carry for c in (f"rec_{f}", f"mem_{f}")]
    )


def score_pass(
    rec: DataFrame,
    mem: DataFrame,
    spec: BlockingPassSpec,
    pass_id: int,
    id_col: str,
    *,
    dedupe: bool = False,
    broadcast_mem: bool | None = None,
    salt: int | None = None,
    shard_rows: int | None = None,
    max_block_rows: int | None = None,
    gamma_fields: tuple | None = None,
    touching: str | None = None,
) -> DataFrame:
    """One blocking pass → scored candidate pairs.

    Emission floor: pairs below the *print* low cutoff are not emitted at
    all (print-cutoff bounds what is written, BigMatchParmFile.py:529-549);
    `decision` is 'match' for weight ≥ cutoff hi, else 'possible' for
    weight ≥ cutoff lo, else 'below'.

    gamma_fields: MatchFields for which to attach binary agreement
    indicators ``g_<field>`` (operators.em.gamma_column) in the SAME stage
    as the weights — the EM estimator then folds onto this scoring pass
    instead of re-joining the source table (VERDICT r4 item 4). Fields not
    scored by this pass are carried through the blocked join for it.

    TF adjustment: match fields declared ``tf_adjust=True`` (Winkler 1995;
    operators/tf_adjust.py) score exact agreement with the per-value
    log2(m / tf_v) instead of the global log2(m/u). The value-frequency
    table is computed from the MEMORY file — the reference's
    frequency-file source — as one map-side groupBy per tf field, then
    LEFT-joined onto the candidate pairs (AQE sizes the join; the tf
    table's row count is the field's distinct-value count). Disagreement
    and blank semantics are unchanged, so cutoffs and is_exact read the
    same columns as an unadjusted pass.

    touching: see :func:`pass_candidates`; the TF tables still read all
    of ``mem``, flagged or not.
    """
    gamma_fields = tuple(gamma_fields or ())
    tf_fields = tuple(mf for mf in spec.match_fields if mf.tf_adjust)
    pairs = pass_candidates(
        rec,
        mem,
        spec,
        id_col,
        dedupe=dedupe,
        broadcast_mem=broadcast_mem,
        salt=salt,
        shard_rows=shard_rows,
        max_block_rows=max_block_rows,
        extra_carry=[mf.name for mf in gamma_fields],
        touching=touching,
    )
    if tf_fields:
        from bigmatch_utilities_spark.operators.tf_adjust import (
            tf_table,
            with_tf_weight,
        )

        plain = tuple(mf for mf in spec.match_fields if not mf.tf_adjust)
        for mf in tf_fields:
            pairs = with_tf_weight(
                pairs, mf, tf_table(mem, mf.name), out_col=f"_w_tf_{mf.name}"
            )
        w = (
            pair_weight(plain, field_pairs=spec.match_field_pairs)
            if (plain or spec.match_field_pairs)
            else F.lit(0.0)
        )
        for mf in tf_fields:
            w = w + F.col(f"_w_tf_{mf.name}")
    else:
        w = (
            pair_weight(spec.match_fields, field_pairs=spec.match_field_pairs)
            if (spec.match_fields or spec.match_field_pairs)
            else F.lit(0.0)
        )
    if spec.level_fields:
        from bigmatch_utilities_spark.operators.levels import (
            levels_pair_weight,
        )

        w = w + levels_pair_weight(spec.level_fields)
    scored = (
        pairs.withColumn("weight", w)
        .withColumn(
            "is_exact",
            is_exact(
                spec.match_fields,
                field_pairs=spec.match_field_pairs,
                level_fields=spec.level_fields,
            ),
        )
        .withColumn("pass_id", F.lit(pass_id))
        .drop(*[f"_w_tf_{mf.name}" for mf in tf_fields])
    )
    if gamma_fields:
        from bigmatch_utilities_spark.operators.em import gamma_column

        for mf in gamma_fields:
            scored = scored.withColumn(
                f"g_{mf.name}",
                gamma_column(mf, F.col(f"rec_{mf.name}"), F.col(f"mem_{mf.name}")),
            )
    emit_floor = min(spec.print_cutoff.lo, spec.cutoff.lo)
    scored = scored.filter(F.col("weight") >= F.lit(float(emit_floor)))
    decision = (
        F.when(F.col("weight") >= F.lit(float(spec.cutoff.hi)), F.lit("match"))
        .when(F.col("weight") >= F.lit(float(spec.cutoff.lo)), F.lit("possible"))
        .otherwise(F.lit("below"))
    )
    return scored.withColumn("decision", decision)


@dataclass
class MatchResult:
    """All products of a run, as (lazy) DataFrames.

    Output contract: ``pairs`` (and its exact/accepted/possible splits) is
    the decision core — (id_rec, id_mem, pass_id, weight, is_exact,
    decision) — in both the direct and checkpointed paths. The carried
    rec_*/mem_* match-field values are a per-pass product (score_pass
    output / the checkpoint's per-pass parquet); legacy review emitters
    format those per-pass frames BEFORE the multi-pass union.

    The splits are filters of ``pairs``, which holds one row per pair key
    (first-pass-wins): ``accept`` is the run's accept rule for emitted
    non-exact pairs (:func:`threshold_accept`, or the clerical-review
    override of :func:`apply_manual_accepts`), and every split is one
    predicate over the same frame, so the union of two splits is itself
    one filter — Catalyst plans the multi-pass union once, not per split.
    """

    pairs: DataFrame        # one row per (id_rec, id_mem), first-pass-wins
    accept: Column          # accept rule for emitted non-exact pairs

    @property
    def _exact_rule(self) -> Column:
        return F.col("is_exact") & (F.col("decision") != "below")

    @property
    def _accepted_rule(self) -> Column:
        return ~F.col("is_exact") & (F.col("decision") != "below") & self.accept

    @property
    def exact(self) -> DataFrame:
        """is_exact subset (reference *_EXACT.dat)."""
        return self.pairs.filter(self._exact_rule)

    @property
    def accepted(self) -> DataFrame:
        """auto-match ∪ threshold-accepted (or user-accepted) possibles."""
        return self.pairs.filter(self._accepted_rule)

    @property
    def possible(self) -> DataFrame:
        """The clerical-review set: possibles the accept rule left out."""
        return self.pairs.filter(
            ~F.col("is_exact") & (F.col("decision") == "possible") & ~self.accept
        )

    def good_pairs(self, pairs: DataFrame | None = None) -> DataFrame:
        """exact ∪ accepted, the reference's …pairs_exact_accpt.dat
        (app/MatchReview.py:535-586), as ONE filter over ``pairs``.

        Exact and accepted are disjoint filters of a pair-key-unique frame,
        so the filter with the OR of their predicates is their union with
        no duplicate to drop. ``pairs`` defaults to this result's; a job
        that has already written ``pairs`` passes the table it wrote, so
        writing good_pairs does not recompute the match."""
        src = self.pairs if pairs is None else pairs
        return src.filter(self._exact_rule | self._accepted_rule).select(
            *GOOD_PAIR_COLS
        )


def threshold_accept(accept_threshold: float) -> Column:
    """The engine's accept rule (app/MatchReview.py:1047): an auto-``match``,
    or a ``possible`` whose weight reaches the accept threshold."""
    return (F.col("decision") == "match") | (
        (F.col("decision") == "possible")
        & (F.col("weight") >= F.lit(float(accept_threshold)))
    )


def with_accept_flags(
    pairs: DataFrame,
    accept_threshold: float,
    decisions: DataFrame | None = None,
) -> DataFrame:
    """Attach the reference's review-state flags to scored pairs
    (meta_row, /root/reference/app/MatchReview.py:223-227):

    * ``accept_wgt`` — 1 iff weight ≥ the accept threshold (the spinner
      cutoff that default-checks a row);
    * ``accept_usr`` — the user's checkbox state from ``decisions``
      (id_rec, id_mem, accept boolean): 1 checked, 0 explicitly unchecked,
      null untouched.

    ``decisions`` is human-click sized — broadcast by construction."""
    out = pairs.withColumn(
        "accept_wgt",
        (F.col("weight") >= F.lit(float(accept_threshold))).cast("int"),
    )
    if decisions is None:
        return out.withColumn("accept_usr", F.lit(None).cast("int"))
    d = decisions.select(
        *PAIR_KEY, F.col("accept").cast("boolean").alias("_acc")
    ).dropDuplicates(PAIR_KEY)
    return (
        out.join(F.broadcast(d), PAIR_KEY, "left")
        .withColumn("accept_usr", F.col("_acc").cast("int"))
        .drop("_acc")
    )


def apply_manual_accepts(
    result: MatchResult,
    decisions: DataFrame,
    accept_threshold: float,
) -> MatchResult:
    """Fold clerical-review decisions into the accepted/possible split
    (write_accepted_pairs, /root/reference/app/MatchReview.py:392-439): a
    pair lands in the accepted set iff its final check state is 1 — the
    default comes from the engine (auto-``match`` decision or
    ``accept_wgt``), and the user's click overrides it in EITHER direction:
    a below-threshold pair the user checked is accepted; an
    above-threshold pair the user unchecked is not.

    Returns a MatchResult whose frames carry the accept_wgt/accept_usr
    columns; ``good_pairs()`` then persists manual accepts exactly like the
    reference's ACCEPTED file."""
    flagged = with_accept_flags(result.pairs, accept_threshold, decisions)
    default_accept = (F.col("decision") == "match") | (F.col("accept_wgt") == 1)
    final_accept = F.when(
        F.col("accept_usr").isNotNull(), F.col("accept_usr") == 1
    ).otherwise(default_accept)
    return MatchResult(pairs=flagged, accept=final_accept)


def first_pass_wins(all_pairs: DataFrame) -> DataFrame:
    """A pair reported by several passes keeps its earliest pass's row
    (multi-pass union + dedup, app/MatchReview.py:41-50, cleanpairs:29-44).

    min_by-style groupBy, not a window: a window must shuffle EVERY pair
    row then sort within partitions; min(struct(pass_id, row)) gets
    map-side partial aggregation — duplicate reports collapse before the
    shuffle, which at 10^8-pair scale is the difference between shuffling
    the union and shuffling ~the result."""
    others = [c for c in all_pairs.columns if c not in PAIR_KEY and c != "pass_id"]
    packed = F.struct(F.col("pass_id"), *[F.col(c) for c in others])
    return (
        all_pairs.groupBy(*PAIR_KEY)
        .agg(F.min(packed).alias("_row"))
        .select(
            *PAIR_KEY,
            *[F.col(f"_row.{c}").alias(c) for c in ["pass_id"] + others],
        )
    )


def pass_union(
    rec: DataFrame,
    mem: DataFrame | None,
    config: MatchConfig,
    id_col: str | None = None,
    *,
    broadcast_mem: bool | None = None,
    salt: int | None = None,
    shard_rows: int | None = None,
    max_block_rows: int | None = None,
    persist: bool = True,
    gamma_fields: tuple | None = None,
    touching: str | None = None,
) -> DataFrame:
    """Every blocking pass scored, as one union of the decision core — the
    input of :func:`first_pass_wins`, handed out so a caller can add pairs
    of its own (a canopy) before the one aggregate. Arguments as for
    :func:`run_match`."""
    id_col = id_col or config.id_field.name
    dedupe = mem is None or config.dedupe_single_file
    if mem is None:
        mem = rec

    if persist:
        rec = rec.persist()
        if mem is not rec:
            mem = mem.persist()

    per_pass = [
        score_pass(
            rec,
            mem,
            spec,
            k,
            id_col,
            dedupe=dedupe,
            broadcast_mem=broadcast_mem,
            salt=salt,
            shard_rows=shard_rows,
            max_block_rows=max_block_rows,
            gamma_fields=gamma_fields,
            touching=touching,
        )
        for k, spec in enumerate(config.passes)
    ]
    # Only the decision core crosses the multi-pass union: the carried
    # rec_/mem_ field values are ~10x the bytes of the decision columns and
    # nothing downstream of the union reads them (the legacy emit path
    # formats per-pass frames BEFORE the union). At 10^8+ pairs this is the
    # difference between shuffling ~50 B and ~500 B per row through the
    # first-pass-wins aggregation.
    gcols = [f"g_{mf.name}" for mf in (gamma_fields or ())]
    core = None
    for df in per_pass:
        slim = df.select(
            *PAIR_KEY, "pass_id", "weight", "is_exact", "decision", *gcols
        )
        core = slim if core is None else core.unionByName(slim)
    return core


def run_match(
    rec: DataFrame,
    mem: DataFrame | None,
    config: MatchConfig,
    id_col: str | None = None,
    *,
    broadcast_mem: bool | None = None,
    salt: int | None = None,
    shard_rows: int | None = None,
    max_block_rows: int | None = None,
    persist: bool = True,
    gamma_fields: tuple | None = None,
    touching: str | None = None,
) -> MatchResult:
    """Run every blocking pass and produce the combined decision sets.

    ``mem=None`` (or config.dedupe_single_file) runs single-file dedupe:
    rec is self-joined with id_rec < id_mem canonicalization.

    gamma_fields: see :func:`score_pass` — the per-pair ``g_<field>``
    agreement indicators join the decision core through the union, so EM
    runs off ``result.pairs`` with zero extra scans.

    touching: name of a boolean column of ``rec`` (dedupe runs only).
    Every pass then emits only the pairs with at least one flagged row,
    exactly as the batch run over all of ``rec`` emits them — the nightly
    delta's match of the delta against standing ∪ delta in one join per
    pass (see operators.blocking.candidate_pairs).
    """
    core = pass_union(
        rec,
        mem,
        config,
        id_col,
        broadcast_mem=broadcast_mem,
        salt=salt,
        shard_rows=shard_rows,
        max_block_rows=max_block_rows,
        persist=persist,
        gamma_fields=gamma_fields,
        touching=touching,
    )
    return MatchResult(
        pairs=first_pass_wins(core), accept=threshold_accept(config.accept_threshold)
    )
