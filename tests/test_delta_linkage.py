"""The nightly-delta match equals the batch recompute, pair for pair.

``run_repo_linkage_delta(delta, standing).good_pairs()`` must be exactly
the rows of ``run_repo_linkage(standing ∪ delta).good_pairs()`` with a
delta side, on (id_rec, id_mem, pass_id, weight): the delta run blocks
standing ∪ delta with whole-block counts, so block caps, min-id stars,
first-pass-wins and the scores are the batch's.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigmatch_utilities_spark.repo_linkage import (
    ID_COL,
    run_repo_linkage,
    run_repo_linkage_delta,
    with_record_id,
)

COLS = ["id_rec", "id_mem", "pass_id", "weight"]
SCHEMA = (
    "record_id long, repo string, path string, commit string, lang string, "
    "content string"
)
LICENSE = "Permission is hereby granted, free of charge, to any person.\nMIT"


def _delta_vs_batch(delta, standing, **kw):
    """(delta run's good pairs, the batch's delta-touching good pairs)."""
    delta_run = run_repo_linkage_delta(delta, standing, **kw)
    got = sorted(map(tuple, delta_run.good_pairs().select(*COLS).collect()))
    d_ids = {r[0] for r in with_record_id(delta).select(ID_COL).collect()}
    batch = run_repo_linkage(standing.unionByName(delta), **kw).good_pairs()
    want = sorted(
        tuple(r) for r in batch.select(*COLS).collect() if r[0] in d_ids or r[1] in d_ids
    )
    return got, want


def _files(spark, rows):
    """(record_id, lang, content) tuples -> a repo-files frame."""
    return spark.createDataFrame(
        [(i, f"repo{i}", f"f{i}.py", "c0", lang, content) for i, lang, content in rows],
        SCHEMA,
    )


def _src(k: int, tail: str = "") -> str:
    return f"def f{k}(a, b):\n    return a * {k} + b\nvalue_{k} = f{k}(1, 2){tail}"


@pytest.mark.parametrize("minhash", [False, True], ids=["equi", "canopy"])
@pytest.mark.parametrize("seed", [3, 17, 29])
def test_delta_equals_batch_on_generated_repos(spark, seed, minhash):
    from bigmatch_utilities_spark.synthdata import repo_files_df

    records = with_record_id(repo_files_df(spark, seed=seed, n_clusters=40)).cache()
    delta = records.filter(F.pmod(F.col(ID_COL), 6) == 0)
    standing = records.filter(F.pmod(F.col(ID_COL), 6) != 0)
    got, want = _delta_vs_batch(delta, standing, use_minhash_pass=minhash)
    assert got == want
    assert got, "the fixture should link some delta rows"
    records.unpersist()


def test_empty_delta(spark):
    standing = _files(spark, [(i, "python", _src(i % 3)) for i in range(1, 10)])
    delta = spark.createDataFrame([], SCHEMA)
    for minhash in (False, True):
        got, want = _delta_vs_batch(delta, standing, use_minhash_pass=minhash)
        assert got == want == []


def test_delta_of_new_singletons(spark):
    standing = _files(spark, [(i, "python", _src(i % 3)) for i in range(1, 10)])
    delta = _files(spark, [(100 + k, "go", _src(50 + k)) for k in range(4)])
    got, want = _delta_vs_batch(delta, standing, use_minhash_pass=True)
    assert got == want == []


def test_blank_anchor_lines_and_delta_duplicates(spark):
    near2 = _src(2).replace("a * 2", "a * 20")
    near5 = _src(5).replace("a * 5", "a * 50")
    standing = _files(
        spark,
        [(1, "python", _src(1)), (2, "python", _src(1)), (3, "python", _src(2)),
         (4, "python", _src(3)), (5, "python", None), (6, "python", _src(5))],
    )
    delta = _files(
        spark,
        [
            (10, "python", _src(1)),            # exact copy of 1 and 2
            (11, "python", _src(2) + "  "),     # whitespace fork of 3
            (12, "python", _src(4)),            # delta-delta exact pair ...
            (13, "python", _src(4)),            # ... with 12
            (14, "python", "# x\n" + _src(3)), # comment fork of 4
            (15, "python", None),               # every key blank
            (16, "python", near5),              # near-dup of 6, blank anchor
            (17, "python", near2),              # near-dup of 3
        ],
    )
    # blanked anchor lines keep a row out of pass 2 only: 2, 4 and 14
    # still pair by content hash, 16 loses its fuzzy pair with 6
    blank = F.col(ID_COL).isin(2, 4, 14, 16)

    def blank_anchors(p):
        return p.withColumn(
            "anchor_line", F.when(blank, F.lit("")).otherwise(F.col("anchor_line"))
        )

    got, want = _delta_vs_batch(
        delta, standing, use_minhash_pass=False, transform=blank_anchors
    )
    assert got == want
    pairs = {(a, b): p for a, b, p, _ in got}
    assert {(1, 10), (2, 10), (3, 11), (12, 13), (4, 14), (3, 17)} <= set(pairs)
    assert pairs[(3, 17)] == 2
    assert (6, 16) not in pairs
    assert not any(15 in p for p in pairs)


def test_block_capped_only_in_the_union(spark):
    # one (lang, anchor_line) block of 4 standing + 4 delta rows, each a
    # different file: under max_block_rows=6 on either side, over it together
    tail = "\nreturn shared_anchor_token"
    standing = _files(spark, [(i, "java", _src(i) + tail) for i in range(1, 5)])
    delta = _files(spark, [(10 + i, "java", _src(10 + i) + tail) for i in range(4)])
    got, want = _delta_vs_batch(
        delta, standing, use_minhash_pass=False, max_block_rows=6
    )
    assert got == want == []
    # under the cap the same block is scored
    got, want = _delta_vs_batch(
        delta, standing, use_minhash_pass=False, max_block_rows=8
    )
    assert got == want
    assert {p for _, _, p, _ in got} == {2}


def test_star_blocks_with_standing_or_delta_min_id(spark):
    # two exact blocks over star_block_rows=64: block A's min id is a
    # standing row, block B's a delta row
    a = LICENSE + "\nalpha"
    b = LICENSE + "\nbeta"
    standing = _files(
        spark,
        [(i, "c", a) for i in range(1, 67)] + [(i, "c", b) for i in range(201, 267)],
    )
    delta = _files(spark, [(100, "c", a), (101, "c", a), (200, "c", b)])
    got, want = _delta_vs_batch(delta, standing, use_minhash_pass=False)
    assert got == want
    pairs = {(x, y) for x, y, _, _ in got}
    # block A: only the delta rows' star edges to the standing min id
    assert {(1, 100), (1, 101)} == {p for p in pairs if p[1] < 200}
    # block B: the delta row is the hub of all 66 star edges
    assert {(200, i) for i in range(201, 267)} == {p for p in pairs if p[0] == 200}


def test_new_copy_of_a_capped_boilerplate_file_links_by_its_star_edge(spark):
    # 70 standing copies of one license file and 1 new one, with
    # max_block_rows=50: the batch links the new copy to the block's min id
    # by a star edge, so the delta run must too
    standing = _files(spark, [(i, "c", LICENSE) for i in range(1, 71)])
    delta = _files(spark, [(500, "c", LICENSE)])
    got, want = _delta_vs_batch(
        delta, standing, use_minhash_pass=False, max_block_rows=50
    )
    assert got == want
    assert [(x, y, p) for x, y, p, _ in got] == [(1, 500, 0)]


def test_touching_needs_a_windowed_dedupe_self_join(spark):
    from bigmatch_utilities_spark.operators.pipeline import run_match
    from bigmatch_utilities_spark.repo_linkage import prepare, repo_match_config

    files = prepare(_files(spark, [(1, "c", LICENSE)])).withColumn(
        "_in_delta", F.lit(True)
    )
    cfg = repo_match_config()
    with pytest.raises(ValueError, match="touching="):
        run_match(files, files.select("*"), cfg, ID_COL, touching="_in_delta")
    with pytest.raises(ValueError, match="touching="):
        run_match(files, None, cfg, ID_COL, salt=4, touching="_in_delta")
