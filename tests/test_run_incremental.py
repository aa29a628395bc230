"""run_incremental CLI: delta-only match + incremental closure + touched-
cluster fusion. The headline contract: the updated clusters/ output is
IDENTICAL to a batch recompute over (standing ∪ delta)."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

from pyspark.sql import functions as F


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name,
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "jobs", f"{name}.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _mtimes(path: str) -> dict[str, float]:
    return {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/**/*", recursive=True)
    }


def test_incremental_equals_batch(spark, tmp_path, monkeypatch):
    from bigmatch_utilities_spark.operators.closure import cluster_accepted_pairs
    from bigmatch_utilities_spark.repo_linkage import (
        ID_COL,
        run_repo_linkage,
        with_record_id,
    )
    from bigmatch_utilities_spark.synthdata import repo_files_df

    full = with_record_id(repo_files_df(spark, seed=9, n_clusters=40))
    # ~20% of rows become tonight's delta; the id hash splits duplicate
    # clusters across the boundary, so delta-standing merges really happen
    delta = full.filter(F.pmod(F.col(ID_COL), 5) == 0)
    old = full.filter(F.pmod(F.col(ID_COL), 5) != 0)
    d_path, s_path = str(tmp_path / "delta"), str(tmp_path / "standing")
    delta.write.parquet(d_path)
    old.write.parquet(s_path)

    # standing assignment = batch run over the OLD records only
    r_old = run_repo_linkage(old)
    base = cluster_accepted_pairs(
        r_old.good_pairs(), all_ids=old.select(ID_COL), id_col=ID_COL
    )
    base_path = str(tmp_path / "base")
    base.write.parquet(base_path)

    out = str(tmp_path / "out")
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_incremental.py",
            "--delta", d_path,
            "--standing", s_path,
            "--base-clusters", base_path,
            "--output", out,
            "--fuse-fields", "lang,repo",
        ],
    )
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    _load("run_incremental").main()

    got = {
        (r.id, r.cluster_id)
        for r in spark.read.parquet(f"{out}/clusters").collect()
    }
    # batch reference over the FULL table
    r_full = run_repo_linkage(full)
    want = {
        (r.id, r.cluster_id)
        for r in cluster_accepted_pairs(
            r_full.good_pairs(), all_ids=full.select(ID_COL), id_col=ID_COL
        ).collect()
    }
    assert got == want

    # good_pairs/ is the accept rule applied to the written pairs/
    pairs = spark.read.parquet(f"{out}/pairs")
    accept = (F.col("decision") == "match") | (
        (F.col("decision") == "possible") & (F.col("weight") >= 4.0)
    )
    want = pairs.filter(
        (F.col("decision") != "below") & (F.col("is_exact") | accept)
    ).select("pass_id", "weight", "id_rec", "id_mem")
    good = spark.read.parquet(f"{out}/good_pairs")
    assert good.count() == good.distinct().count() > 0
    assert {tuple(r) for r in good.collect()} == {tuple(r) for r in want.collect()}

    # every delta-touching pair: at least one endpoint is new
    d_ids = {r[0] for r in delta.select(ID_COL).collect()}
    for r in spark.read.parquet(f"{out}/good_pairs").collect():
        assert r.id_rec in d_ids or r.id_mem in d_ids

    # entities_delta holds exactly the touched clusters' golden rows
    ents = spark.read.parquet(f"{out}/entities_delta")
    touched = {r.cluster_id for r in ents.select("cluster_id").collect()}
    delta_clusters = {c for (i, c) in got if i in d_ids}
    assert touched == delta_clusters
    assert ents.count() == len(touched)


def test_incremental_resume_skips_stages(spark, tmp_path, monkeypatch):
    from bigmatch_utilities_spark.repo_linkage import ID_COL, with_record_id
    from bigmatch_utilities_spark.synthdata import repo_files_df

    full = with_record_id(repo_files_df(spark, seed=3, n_clusters=12))
    delta = full.filter(F.pmod(F.col(ID_COL), 4) == 0)
    old = full.filter(F.pmod(F.col(ID_COL), 4) != 0)
    d_path, s_path = str(tmp_path / "delta"), str(tmp_path / "standing")
    delta.write.parquet(d_path)
    old.write.parquet(s_path)
    base_path = str(tmp_path / "base")
    old.select(
        F.col(ID_COL).alias("id"), F.col(ID_COL).alias("cluster_id")
    ).write.parquet(base_path)

    out = str(tmp_path / "out")
    argv = [
        "run_incremental.py",
        "--delta", d_path,
        "--standing", s_path,
        "--base-clusters", base_path,
        "--output", out,
        "--no-minhash",
        "--resume",
    ]
    monkeypatch.setattr(sys, "argv", argv)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    mod = _load("run_incremental")
    mod.main()
    before = _mtimes(out)
    mod.main()  # second run with --resume: all stages skipped, nothing rewritten
    assert _mtimes(out) == before
