"""run_pipeline CLI: match -> closure -> fuse in ONE job, with stage-level
--resume idempotence. Runs main() in-process (getOrCreate reuses the test
session) so the real argument wiring is exercised without a JVM spawn."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import duckdb
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


def test_run_pipeline_end_to_end_and_resume(spark, tmp_path, monkeypatch):
    from bigmatch_utilities_spark.repo_linkage import link_and_cluster
    from bigmatch_utilities_spark.synthdata import repo_files_df

    records = repo_files_df(spark, seed=42, n_clusters=40)
    inp = str(tmp_path / "records")
    records.write.mode("overwrite").parquet(inp)
    out = str(tmp_path / "out")

    from bigmatch_utilities_spark.synthdata import true_pairs_pdf

    truth_path = str(tmp_path / "truth")
    spark.createDataFrame(
        sorted(true_pairs_pdf(records.toPandas())), ["id_rec", "id_mem"]
    ).write.parquet(truth_path)

    argv = [
        "run_pipeline.py",
        "--input", inp,
        "--output", out,
        "--no-minhash",
        "--fuse-fields", "lang,repo",
        "--truth", truth_path,
    ]
    monkeypatch.setattr(sys, "argv", argv)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    rp = _load("run_pipeline")
    rp.main()

    # every stage wrote its terminal output
    for stage in ("pairs", "good_pairs", "clusters", "entities"):
        assert os.path.exists(f"{out}/{stage}/_SUCCESS"), stage

    # the composed pipeline's clusters == the library-level link_and_cluster
    expected = {
        (r.id, r.cluster_id)
        for r in link_and_cluster(
            spark.read.parquet(inp), use_minhash_pass=False
        ).collect()
    }
    got = {
        (r.id, r.cluster_id)
        for r in spark.read.parquet(f"{out}/clusters").collect()
    }
    assert got == expected

    # one golden row per cluster, fused columns present
    entities = duckdb.sql(f"SELECT * FROM '{out}/entities/*.parquet'").df()
    n_clusters = len({c for _, c in got})
    assert len(entities) == n_clusters
    assert set(entities.columns) == {"cluster_id", "lang", "repo"}

    # --truth wrote the in-job evaluation row (recall vs the label sample;
    # precision is diluted by correct boilerplate pairs the labels exclude,
    # so only recall is asserted here — the strict F1 gate lives in bench)
    metrics = duckdb.sql(f"SELECT * FROM '{out}/metrics/*.parquet'").df()
    assert len(metrics) == 1
    assert metrics.tp[0] > 0 and metrics.recall[0] > 0.9

    # --truth also writes the cutoff operating curve: one row per
    # threshold, recall monotone non-increasing as the cutoff rises
    sweep = duckdb.sql(
        f"SELECT * FROM '{out}/cutoff_sweep/*.parquet' ORDER BY threshold"
    ).df()
    assert len(sweep) == 10
    rec = list(sweep.recall.fillna(0.0))
    assert all(a >= b - 1e-9 for a, b in zip(rec, rec[1:]))

    # --resume: all three stages skip (no output file rewritten)
    before = {s: _mtimes(f"{out}/{s}") for s in ("good_pairs", "clusters", "entities")}
    monkeypatch.setattr(sys, "argv", argv + ["--resume"])
    rp2 = _load("run_pipeline")
    rp2.main()
    after = {s: _mtimes(f"{out}/{s}") for s in ("good_pairs", "clusters", "entities")}
    assert before == after

    # --resume with a missing tail stage re-runs JUST that stage
    import shutil

    shutil.rmtree(f"{out}/entities")
    rp3 = _load("run_pipeline")
    rp3.main()
    assert os.path.exists(f"{out}/entities/_SUCCESS")
    entities2 = duckdb.sql(f"SELECT * FROM '{out}/entities/*.parquet'").df()
    assert len(entities2) == n_clusters
    # match + closure outputs untouched by the partial re-run
    assert _mtimes(f"{out}/good_pairs") == before["good_pairs"]
    assert _mtimes(f"{out}/clusters") == before["clusters"]


def test_run_pipeline_incremental_base(spark, tmp_path, monkeypatch):
    """--base routes the closure stage through incremental_closure: the
    updated assignment matches a batch closure over (old edges ∪ delta)."""
    from bigmatch_utilities_spark.operators.closure import cluster_accepted_pairs
    from bigmatch_utilities_spark.synthdata import repo_files_df

    records = repo_files_df(spark, seed=7, n_clusters=25)
    inp = str(tmp_path / "records")
    records.write.mode("overwrite").parquet(inp)

    # standing table: every record its own singleton cluster (cold start)
    from bigmatch_utilities_spark.repo_linkage import ID_COL, with_record_id

    ids = with_record_id(spark.read.parquet(inp)).select(ID_COL)
    base = ids.select(
        F.col(ID_COL).alias("id"), F.col(ID_COL).alias("cluster_id")
    )
    base_path = str(tmp_path / "base")
    base.write.parquet(base_path)

    out = str(tmp_path / "out")
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_pipeline.py",
            "--input", inp,
            "--output", out,
            "--no-minhash",
            "--base", base_path,
        ],
    )
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    _load("run_pipeline").main()

    got = {
        (r.id, r.cluster_id)
        for r in spark.read.parquet(f"{out}/clusters").collect()
    }
    batch = {
        (r.id, r.cluster_id)
        for r in cluster_accepted_pairs(
            spark.read.parquet(f"{out}/good_pairs"), all_ids=ids, id_col=ID_COL
        ).collect()
    }
    assert got == batch
    # no entities/ without --fuse-fields
    assert not os.path.exists(f"{out}/entities")


def test_run_pipeline_repair_stage(spark, tmp_path, monkeypatch):
    """--repair-min-weight inserts the audit-gated split between closure
    and fusion; fusion reads the repaired assignment."""
    from bigmatch_utilities_spark.synthdata import repo_files_df

    records = repo_files_df(spark, seed=7, n_clusters=25)
    inp = str(tmp_path / "records")
    records.write.mode("overwrite").parquet(inp)
    n_records = records.count()

    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    # threshold below every weight: no suspects, repaired == original
    out1 = str(tmp_path / "out_noop")
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_pipeline.py", "--input", inp, "--output", out1,
            "--no-minhash", "--fuse-fields", "lang",
            "--repair-min-weight", "-1000000",
        ],
    )
    _load("run_pipeline").main()
    base = {
        (r.id, r.cluster_id)
        for r in spark.read.parquet(f"{out1}/clusters").collect()
    }
    repaired = {
        (r.id, r.cluster_id)
        for r in spark.read.parquet(f"{out1}/clusters_repaired").collect()
    }
    assert repaired == base

    # threshold above every weight: every multi-member cluster shatters
    # into singletons, so fusion emits one entity per RECORD
    out2 = str(tmp_path / "out_shatter")
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_pipeline.py", "--input", inp, "--output", out2,
            "--no-minhash", "--fuse-fields", "lang",
            "--repair-min-weight", "1000000",
        ],
    )
    _load("run_pipeline").main()
    rep = spark.read.parquet(f"{out2}/clusters_repaired")
    assert rep.count() == n_records
    assert rep.filter(F.col("id") != F.col("cluster_id")).count() == 0
    entities = duckdb.sql(f"SELECT * FROM '{out2}/entities/*.parquet'").df()
    assert len(entities) == n_records


def test_run_match_assign_writes_capacitated_assignments(
    spark, tmp_path, monkeypatch
):
    from bigmatch_utilities_spark.synthdata import repo_files_df

    records = repo_files_df(spark, seed=7, n_clusters=30)
    inp = str(tmp_path / "records")
    records.write.mode("overwrite").parquet(inp)
    out = str(tmp_path / "out")
    argv = [
        "run_match.py",
        "--input", inp,
        "--output", out,
        "--no-minhash",
        "--assign", "1,2",
    ]
    monkeypatch.setattr(sys, "argv", argv)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    rm = _load("run_match")
    rm.main()
    assert os.path.exists(f"{out}/assignments/_SUCCESS")
    asg = spark.read.parquet(f"{out}/assignments")
    per_rec = asg.groupBy("id_rec").count().agg(F.max("count")).collect()[0][0]
    per_mem = asg.groupBy("id_mem").count().agg(F.max("count")).collect()[0][0]
    assert per_rec <= 1 and per_mem <= 2
    assert asg.count() > 0


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.select("pass_id", "weight", "id_rec", "id_mem").collect()}


def test_run_match_good_pairs_is_filter_of_written_pairs(spark, tmp_path, monkeypatch):
    """good_pairs/ is the accept rule applied to the pairs/ table the job
    wrote — with the engine's threshold rule, and with clerical-review
    decisions overriding it."""
    from bigmatch_utilities_spark.synthdata import repo_files_df

    inp = str(tmp_path / "records")
    repo_files_df(spark, seed=7, n_clusters=30).write.parquet(inp)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    rm = _load("run_match")
    emitted = F.col("decision") != "below"

    def run(out: str, *extra: str):
        argv = ["run_match.py", "--input", inp, "--output", out, "--no-minhash"]
        monkeypatch.setattr(sys, "argv", argv + list(extra))
        rm.main()
        return spark.read.parquet(f"{out}/pairs"), spark.read.parquet(f"{out}/good_pairs")

    pairs, good = run(str(tmp_path / "out"))
    accept = (F.col("decision") == "match") | (
        (F.col("decision") == "possible") & (F.col("weight") >= 4.0)
    )
    want = pairs.filter(emitted & (F.col("is_exact") | accept))
    assert good.count() == len(_rows(good)) > 0
    assert _rows(good) == _rows(want)

    fuzzy = sorted(
        (r for r in pairs.collect() if not r.is_exact), key=lambda r: r.weight
    )
    low, high = fuzzy[0], fuzzy[-1]
    dec = str(tmp_path / "decisions")
    spark.createDataFrame(
        [(low.id_rec, low.id_mem, True), (high.id_rec, high.id_mem, False)],
        "id_rec long, id_mem long, accept boolean",
    ).write.parquet(dec)
    pairs, good = run(str(tmp_path / "reviewed"), "--decisions", dec)
    accept = F.when(F.col("accept_usr").isNotNull(), F.col("accept_usr") == 1).otherwise(
        (F.col("decision") == "match") | (F.col("accept_wgt") == 1)
    )
    want = pairs.filter(emitted & (F.col("is_exact") | accept))
    assert _rows(good) == _rows(want)
    keys = {(r[2], r[3]) for r in _rows(good)}
    assert (low.id_rec, low.id_mem) in keys
    assert (high.id_rec, high.id_mem) not in keys
