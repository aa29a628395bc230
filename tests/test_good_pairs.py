"""good_pairs() is ONE filter over the first-pass-wins pairs: it must equal
exact ∪ accepted as a set, with one row per (id_rec, id_mem), on every
path that builds a MatchResult."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigmatch_utilities_spark.operators.pipeline import (
    GOOD_PAIR_COLS,
    apply_manual_accepts,
    run_match,
)
from bigmatch_utilities_spark.plans.checkpoint import CheckpointedMatch
from bigmatch_utilities_spark.repo_linkage import (
    ID_COL,
    prepare,
    repo_match_config,
    run_repo_linkage,
    run_repo_linkage_delta,
    with_record_id,
)
from bigmatch_utilities_spark.synthdata import repo_files_df


@pytest.fixture(scope="module")
def records(spark):
    return with_record_id(repo_files_df(spark, seed=5, n_clusters=30)).persist()


def _keys(df) -> list[tuple[int, int]]:
    return [(r.id_rec, r.id_mem) for r in df.select("id_rec", "id_mem").collect()]


def _assert_good_is_union(result) -> None:
    good = result.good_pairs()
    assert good.columns == GOOD_PAIR_COLS
    keys = _keys(good)
    assert keys, "fixture yields no good pairs"
    assert len(keys) == len(set(keys))
    assert set(keys) == set(_keys(result.exact)) | set(_keys(result.accepted))


def test_run_match(records):
    result = run_match(prepare(records), None, repo_match_config(), id_col=ID_COL)
    _assert_good_is_union(result)


def test_run_repo_linkage(records):
    _assert_good_is_union(run_repo_linkage(records))


def test_run_repo_linkage_delta(records):
    delta = records.filter(F.pmod(F.col(ID_COL), 5) == 0)
    standing = records.filter(F.pmod(F.col(ID_COL), 5) != 0)
    _assert_good_is_union(run_repo_linkage_delta(delta, standing))


def test_checkpointed_run(spark, records, tmp_path):
    ckpt = CheckpointedMatch(spark, str(tmp_path / "ckpt"))
    result = ckpt.run(prepare(records), None, repo_match_config(), id_col=ID_COL)
    _assert_good_is_union(result)


def test_apply_manual_accepts(spark, records):
    result = run_match(prepare(records), None, repo_match_config(), id_col=ID_COL)
    rows = sorted(
        (r for r in result.pairs.collect() if not r.is_exact),
        key=lambda r: r.weight,
    )
    low, high = rows[0], rows[-1]
    # the user checks the weakest non-exact pair and unchecks the strongest
    decisions = spark.createDataFrame(
        [(low.id_rec, low.id_mem, True), (high.id_rec, high.id_mem, False)],
        "id_rec long, id_mem long, accept boolean",
    )
    reviewed = apply_manual_accepts(result, decisions, accept_threshold=4.0)
    _assert_good_is_union(reviewed)
    good = set(_keys(reviewed.good_pairs()))
    assert (low.id_rec, low.id_mem) in good
    assert (high.id_rec, high.id_mem) not in good
