"""End-to-end linkage benchmark: the jobs users submit, from generated input
to written output files.

    python3 perfbench/run.py --workload batch_lsh --seed 1 --seconds 24 --trace 0

Run from the root of a checkout: the package is imported from there, and
every file a run writes goes under ``.bench_work/``. Each run is one driver
process with its own JVM on ``local[nproc]`` (shuffle partitions = nproc,
2g driver heap) that runs one job at a time: a closed loop with one client.
Workloads (sizes are in ``WORKLOADS``):

* ``batch_lsh``     — jobs/run_pipeline.py shape: ``run_repo_linkage`` with
  the MinHash canopy, write ``good_pairs``, ``cluster_accepted_pairs``,
  write ``clusters``. Cold: the one timed job is the first in the JVM, as
  under spark-submit, so ``--seconds`` does not apply.
* ``delta_nightly`` — jobs/run_incremental.py ``--no-minhash`` shape:
  ``run_repo_linkage_delta`` of a 5% delta against the standing table,
  write ``good_pairs``, ``incremental_closure`` against the standing
  assignment, write the full updated ``clusters``. Warm JVM: set-up builds
  the standing assignment with a batch job in the same JVM, then the delta
  job repeats until ``--seconds`` have passed and the median is reported.

Set-up is the session start, input generation into parquet (repeated
``GENERATE_REPS`` times, median reported) and, for the delta workload, the
standing assignment. The candidate pairs entering the comparators are
counted from the first timed job's own plans after it has finished,
outside the timed window. Every job's output is checked: the pairwise F1
of the written clusters against the generator's labels must be at least
``MIN_F1``, every job must write the same output digest (sum of
``xxhash64(id, cluster_id)``) as the other jobs of the run and as the
first correct run of the same workload, seed and sources in this checkout
(kept in ``.bench_work/digests/``, keyed by a hash of the package's and
the benchmark's source files), and the delta workload's assignment must
equal a batch recompute over standing ∪ delta, id for id. A job that
fails a check counts as failed.

``--trace 1`` adds one traced job at the end of the run, with the Spark
event log on, and reports the per-layer metrics (see tracing.py) instead
of the end-to-end ones, the output digest's low 48 bits among them. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEMORY = "2g"
GENERATE_REPS = 3
MIN_F1 = 0.99

WORKLOADS = {
    "batch_lsh": {"job": "batch", "cold": True, "minhash": True, "n_clusters": 2000},
    "delta_nightly": {"job": "delta", "cold": False, "minhash": False, "n_clusters": 2000},
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _sources_hash() -> str:
    """Hash of the package's and the benchmark's Python sources: runs of
    the same code must write the same output."""
    h = hashlib.sha256()
    for d in ("bigmatch_utilities_spark", "perfbench"):
        for f in sorted((ROOT / d).rglob("*.py")):
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:16]


def _dir_mb(path: str) -> float:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file()) / 2**20


# ---- the timed jobs --------------------------------------------------------
def batch_job(spark, tr, inputs: dict, out: str, minhash: bool) -> None:
    from bigmatch_utilities_spark.operators.closure import cluster_accepted_pairs
    from bigmatch_utilities_spark.repo_linkage import ID_COL, run_repo_linkage

    df = spark.read.parquet(inputs["records"])
    result = run_repo_linkage(df, use_minhash_pass=minhash)
    good = tr.layer("good_pairs", result.good_pairs)
    with tr.span("egress"):
        good.write.parquet(f"{out}/good_pairs")
    good = spark.read.parquet(f"{out}/good_pairs")
    clusters = tr.layer(
        "closure",
        lambda: cluster_accepted_pairs(good, all_ids=df.select(ID_COL), id_col=ID_COL),
    )
    with tr.span("egress"):
        clusters.write.parquet(f"{out}/clusters")


def delta_job(spark, tr, inputs: dict, out: str, minhash: bool) -> None:
    from pyspark.sql import functions as F

    from bigmatch_utilities_spark.operators.cluster_audit import incremental_closure
    from bigmatch_utilities_spark.repo_linkage import (
        ID_COL,
        run_repo_linkage_delta,
        with_record_id,
    )

    delta = spark.read.parquet(inputs["delta"])
    standing = spark.read.parquet(inputs["standing"])
    result = run_repo_linkage_delta(delta, standing, use_minhash_pass=minhash)
    good = tr.layer("good_pairs", result.good_pairs)
    with tr.span("egress"):
        good.write.parquet(f"{out}/good_pairs")
    good = spark.read.parquet(f"{out}/good_pairs")
    base = spark.read.parquet(inputs["base_clusters"])
    updated = tr.layer(
        "incremental_closure",
        lambda: incremental_closure(base, good, src="id_rec", dst="id_mem"),
    )
    # delta records with no pair are new singleton entities (as in
    # jobs/run_incremental.py), so the output is the complete assignment
    delta_ids = with_record_id(delta).select(F.col(ID_COL).alias("id"))
    singles = delta_ids.join(updated.select("id"), "id", "left_anti").select(
        "id", F.col("id").alias("cluster_id")
    )
    with tr.span("egress"):
        updated.unionByName(singles).write.parquet(f"{out}/clusters")


# ---- output checks ---------------------------------------------------------
def _digest(spark, clusters_dir: str) -> int:
    from pyspark.sql import functions as F

    row = spark.read.parquet(clusters_dir).agg(
        F.sum(F.xxhash64("id", "cluster_id").cast("decimal(38,0)")).alias("h")
    ).collect()[0]
    return int(row["h"] or 0)


def _canonical(clusters_dir: str):
    """(id -> min member id) of a written assignment, as a pandas Series."""
    import pyarrow.parquet as pq

    c = pq.read_table(clusters_dir).to_pandas()
    return c.assign(canon=c.groupby("cluster_id")["id"].transform("min")).set_index("id")["canon"]


def pairwise(assign, labels) -> dict[str, float]:
    """Pairwise precision/recall/F1 of the pairs implied by the clusters,
    over the labelled records (boilerplate rows carry no label)."""
    from perfbench.gen import NO_LABEL

    lab = labels[labels != NO_LABEL]
    m = lab.to_frame("label").join(assign.rename("cluster"), how="left")
    if m["cluster"].isna().any():
        raise ValueError(f"{int(m['cluster'].isna().sum())} labelled ids missing from clusters")

    def pairs(sizes):
        return float((sizes * (sizes - 1) // 2).sum())

    pred = pairs(m.groupby("cluster").size())
    true = pairs(m.groupby("label").size())
    tp = pairs(m.groupby(["cluster", "label"]).size())
    precision = tp / pred if pred else 1.0
    recall = tp / true if true else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"pairwise_precision": precision, "pairwise_recall": recall, "pairwise_f1": f1}


class Checker:
    """Gates every job's written output; counts the jobs that fail."""

    def __init__(self, spark, labels, n_ids: int, digest_file: Path):
        self.spark = spark
        self.labels = labels
        self.n_ids = n_ids
        self.digest_file = digest_file
        self.reference = None  # batch recompute for the delta workload
        self.digests: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.mismatched_ids = 0
        self.quality: dict[str, float] = {}

    def check(self, out: str) -> bool:
        self.attempted += 1
        clusters = f"{out}/clusters"
        ok = True
        try:
            assign = _canonical(clusters)
            if len(assign) != self.n_ids or not assign.index.is_unique:
                print(f"[check] {out}: {len(assign)} rows for {self.n_ids} ids", file=sys.stderr)
                ok = False
            self.quality = pairwise(assign, self.labels)
            if self.quality["pairwise_f1"] < MIN_F1:
                print(f"[check] {out}: {self.quality}", file=sys.stderr)
                ok = False
            if self.reference is not None:
                diff = assign.reindex(self.reference.index) != self.reference
                bad = int(diff.sum()) + len(assign.index.difference(self.reference.index))
                self.mismatched_ids += bad
                if bad:
                    print(f"[check] {out}: {bad} ids differ from the batch recompute", file=sys.stderr)
                    ok = False
            d = _digest(self.spark, clusters)
            if self.digests and d != self.digests[0]:
                print(f"[check] {out}: digest {d} != {self.digests[0]}", file=sys.stderr)
                ok = False
            self.digests.append(d)
            if self.digest_file.exists():
                stored = int(self.digest_file.read_text())
                if d != stored:
                    print(f"[check] {out}: digest {d} != {stored} of an earlier run", file=sys.stderr)
                    ok = False
            elif ok:
                tmp = self.digest_file.with_suffix(f".{os.getpid()}")
                tmp.write_text(str(d))
                tmp.replace(self.digest_file)
        except Exception:
            traceback.print_exc()
            ok = False
        self.failed += not ok
        return ok


# ---- one benchmark run -----------------------------------------------------
def _session(work: Path, ncpu: int, trace: bool):
    from bigmatch_utilities_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": str(work / "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        "perfbench", master=f"local[{ncpu}]", shuffle_partitions=ncpu, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _batch_reference(spark, records_dir: str, minhash: bool):
    """Batch recompute over standing ∪ delta: the batch match's good pairs,
    closed on the driver by union-find (id -> min member id)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from bigmatch_utilities_spark.repo_linkage import run_repo_linkage

    result = run_repo_linkage(spark.read.parquet(records_dir), use_minhash_pass=minhash)
    good = result.good_pairs().select("id_rec", "id_mem").toPandas()
    ids = pq.read_table(records_dir, columns=["record_id"]).column(0).to_pylist()
    root = {i: i for i in ids}

    def find(x):
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in zip(good["id_rec"].tolist(), good["id_mem"].tolist()):
        ra, rb = find(a), find(b)
        root[max(ra, rb)] = min(ra, rb)  # a root is always its set's min id
    return pd.Series({i: find(i) for i in ids})


def run(args, work: Path) -> dict:
    from perfbench.gen import GenParams, generate, write_parquet
    from perfbench.tracing import LAYERS, NullTracer, Tracer, event_log_counters

    spec = WORKLOADS[args.workload]
    ncpu = len(os.sched_getaffinity(0))
    job = batch_job if spec["job"] == "batch" else delta_job
    setup = {}
    t0 = time.perf_counter()
    spark = _session(work, ncpu, bool(args.trace))
    setup["session_s"] = time.perf_counter() - t0
    try:
        params = GenParams(
            **{k: v for k, v in spec.items() if k in GenParams.__dataclass_fields__}
        )
        gen_times = []
        for k in range(GENERATE_REPS):
            t = time.perf_counter()
            rows = generate(args.seed, params)
            inputs = {"records": str(work / f"input{k}" / "records")}
            write_parquet(rows, inputs["records"])
            if spec["job"] == "delta":
                inputs["delta"] = str(work / f"input{k}" / "delta")
                inputs["standing"] = str(work / f"input{k}" / "standing")
                write_parquet(rows[rows["in_delta"]], inputs["delta"])
                write_parquet(rows[~rows["in_delta"]], inputs["standing"])
            gen_times.append(time.perf_counter() - t)
        setup["generate_s"] = statistics.median(gen_times)
        labels = rows.set_index("record_id")["label"]
        n_records = int(rows["in_delta"].sum()) if spec["job"] == "delta" else len(rows)
        digests = ROOT / ".bench_work" / "digests"
        digests.mkdir(exist_ok=True)
        checker = Checker(
            spark, labels, len(rows), digests / f"{args.workload}-s{args.seed}-{_sources_hash()}"
        )

        setup["base_assignment_s"] = 0.0
        if spec["job"] == "delta":
            # the standing assignment is the first job in the JVM, so the
            # delta jobs after it run warm
            t = time.perf_counter()
            base_out = str(work / "out" / "base")
            batch_job(spark, NullTracer(), {"records": inputs["standing"]}, base_out, spec["minhash"])
            inputs["base_clusters"] = f"{base_out}/clusters"
            setup["base_assignment_s"] = time.perf_counter() - t

        # A cold workload times one job, the first in a fresh JVM, as a
        # spark-submit user runs it; a warm one repeats the job until
        # --seconds have passed. The first job's comparator inputs are
        # counted after it, outside the timed window.
        counter = Tracer(spark, "count", counts_only=True)
        pending, job_times = [], []
        t_start = time.perf_counter()
        while not job_times or (
            not spec["cold"] and time.perf_counter() - t_start < args.seconds
        ):
            out = str(work / "out" / f"rep{len(job_times)}")
            t = time.perf_counter()
            try:
                with counter.patched() if not job_times else contextlib.nullcontext():
                    job(spark, NullTracer(), inputs, out, spec["minhash"])
            except Exception:
                traceback.print_exc()
                checker.attempted += 1
                checker.failed += 1
                job_times.append(float("nan"))
                continue
            job_times.append(time.perf_counter() - t)
            pending.append(out)
        t = time.perf_counter()
        if job_times[0] == job_times[0]:
            counter.count_deferred()
        candidates = counter.counts["scoring.pairs"]
        count_s = time.perf_counter() - t

        t = time.perf_counter()
        if spec["job"] == "delta":
            checker.reference = _batch_reference(spark, inputs["records"], spec["minhash"])
        for out in pending:
            checker.check(out)
        check_s = time.perf_counter() - t

        done = [x for x in job_times if x == x]
        if not done:
            raise RuntimeError(f"{args.workload}: no timed job completed")
        job_s = statistics.median(done)
        if args.trace:
            # the tracing overhead is taken against an untraced job run
            # right before the traced one, in the same (warm) JVM
            t = time.perf_counter()
            job(spark, NullTracer(), inputs, str(work / "out" / "untraced"), spec["minhash"])
            untraced_s = time.perf_counter() - t
            checker.check(str(work / "out" / "untraced"))
            tracer = Tracer(spark, "traced")
            out = str(work / "out" / "traced")
            with tracer.patched(), tracer.span("job") as root:
                job(spark, tracer, inputs, out, spec["minhash"])
            tracer.release()
            traced_wall = root["end"] - root["start"]
            traced_ok = checker.check(out)
            (ROOT / ".bench_work" / "spans").mkdir(exist_ok=True)
            tracer.write_spans(str(ROOT / ".bench_work" / "spans" / f"{work.name}.jsonl"))
        rss = _jvm_peak_rss_mb(spark)
    finally:
        _stop(spark)

    setup_s = sum(setup.values())
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (job_s, "s"),
            "records_per_s": (n_records / job_s, "1/s"),
            "candidate_pairs_per_s": (candidates / job_s, "1/s"),
            "pairwise_f1": (checker.quality.get("pairwise_f1", 0.0), "ratio"),
            "pairwise_precision": (checker.quality.get("pairwise_precision", 0.0), "ratio"),
            "pairwise_recall": (checker.quality.get("pairwise_recall", 0.0), "ratio"),
        }
    else:
        metrics = per_layer_metrics(tracer, out, setup, traced_wall, untraced_s)
        metrics["jvm_peak_rss_mb"] = (rss, "MB")
        metrics["delta.mismatched_ids"] = (checker.mismatched_ids, "count")
        # the digest's low 48 bits, exact in a JSON number, so that runs can
        # be compared across checkouts too
        metrics["output.digest"] = (checker.digests[0] % 2**48 if checker.digests else -1, "hash")
        counters = event_log_counters(str(work / "eventlog"), tracer.groups())
        for layer in LAYERS:
            for key, unit in (
                ("tasks", "count"),
                ("executor_cpu_s", "s"),
                ("gc_s", "s"),
                ("spill_mb", "MB"),
                ("shuffle_fetch_wait_s", "s"),
            ):
                metrics[f"{layer}.{key}"] = (counters[layer][key], unit)
        metrics["blocking.shuffle_write_mb"] = (counters["blocking"]["shuffle_write_mb"], "MB")
        self_sum = sum(tracer.self_times().values())
        if traced_ok and self_sum > traced_wall:
            print(f"[trace] self times {self_sum:.3f}s > wall {traced_wall:.3f}s", file=sys.stderr)
            checker.failed += 1
    print(
        f"[run] {args.workload} seed={args.seed} {'cold' if spec['cold'] else 'warm'} jobs: "
        f"setup={ {k: round(v, 3) for k, v in setup.items()} } "
        f"jobs={[round(x, 3) for x in job_times]} count_s={count_s:.3f} check_s={check_s:.3f} "
        f"candidates={int(candidates)} digest={checker.digests[0] if checker.digests else None} "
        f"mismatched_ids={checker.mismatched_ids} failed={checker.failed}/{checker.attempted}",
        file=sys.stderr,
    )
    shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": checker.failed == 0 and checker.attempted > 0,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer_metrics(tracer, out: str, setup: dict, wall: float, untraced_s: float) -> dict:
    import pyarrow.parquet as pq

    from perfbench.tracing import CANOPY_PASS_ID

    c = tracer.counts
    st = tracer.self_times()
    good = pq.read_table(f"{out}/good_pairs").to_pandas()
    clusters = pq.read_table(f"{out}/clusters").to_pandas()
    sizes = clusters.groupby("cluster_id")["id"].transform("size")
    useful = float((good["pass_id"] == CANOPY_PASS_ID).sum())
    m = {
        "prepare.s": (st["prepare"], "s"),
        "prepare.rows": (c["prepare.rows"], "count"),
        "blocking.s": (st["blocking"], "s"),
        "dedup.lsh.candidates": (c["dedup.lsh.candidates"], "count"),
        "dedup.lsh.s": (st["dedup.lsh"], "s"),
        "dedup.lsh.useful": (useful, "count"),
        "dedup.lsh.useful_ratio": (useful / c["dedup.lsh.candidates"] if c["dedup.lsh.candidates"] else 0.0, "ratio"),
        "scoring.pairs": (c["scoring.pairs"], "count"),
        "scoring.self_s": (st["scoring"], "s"),
        "scoring.pairs_per_s": (c["scoring.pairs"] / st["scoring"] if st["scoring"] else 0.0, "1/s"),
        "first_pass_wins.rows_in": (c["first_pass_wins.rows_in"], "count"),
        "first_pass_wins.rows_out": (c["first_pass_wins.rows_out"], "count"),
        "first_pass_wins.s": (st["first_pass_wins"], "s"),
        "good_pairs.rows": (c["good_pairs.rows"], "count"),
        "good_pairs.s": (st["good_pairs"], "s"),
        "good_pairs.accept_ratio": (c["good_pairs.rows"] / c["scoring.pairs"] if c["scoring.pairs"] else 0.0, "ratio"),
        "closure.edges": (float(len(good)) if "closure.rows" in c else 0.0, "count"),
        "closure.nodes": (float((sizes > 1).sum()) if "closure.rows" in c else 0.0, "count"),
        "closure.s": (st["closure"], "s"),
        "closure.spark_jobs": (c["closure.spark_jobs"], "count"),
        "incremental_closure.s": (st["incremental_closure"], "s"),
        "incremental_closure.touched_ids": (
            float(len(set(good["id_rec"]) | set(good["id_mem"]))) if "incremental_closure.rows" in c else 0.0,
            "count",
        ),
        "egress.s": (st["egress"], "s"),
        "egress.mb": (_dir_mb(out), "MB"),
        "setup.session_s": (setup["session_s"], "s"),
        "setup.generate_s": (setup["generate_s"], "s"),
        "setup.base_assignment_s": (setup["base_assignment_s"], "s"),
        "trace.job_s": (wall, "s"),
        "trace.overhead_s": (wall - untraced_s, "s"),
    }
    for k in range(3):
        m[f"blocking.p{k}.candidates"] = (c[f"blocking.p{k}.candidates"], "count")
    return m


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, str(ROOT))
    import bigmatch_utilities_spark  # noqa: F401  (fails outside a checkout)

    # every file the run writes, the JVM's and Python's temporary files
    # included, stays under the checkout
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse", "out"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM spark-submit starts, its launcher included: temporary files
    # under the checkout, and no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable

    result = run(args, work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
