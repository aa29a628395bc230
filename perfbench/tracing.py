"""Per-layer tracing for the linkage benchmark.

A traced job runs the same job function as an untraced one, with a
``Tracer`` in place of the ``NullTracer``. The tracer

* wraps each layer's public call (module attributes are swapped for the
  duration of the job, then restored) in a span: name, start, end, parent
  and run id, kept in memory and written out at the end;
* materializes the layer's output DataFrame inside its span (persist and
  count), so the layer's Spark work runs, and is timed, at its own
  boundary rather than wherever the lazy plan happens to be executed;
* tags the layer's Spark jobs with ``setJobGroup(<span>)``, so the event
  log's task metrics can be attributed to layers afterwards.

Spans and the calls they wrap:

* ``prepare``          — ``repo_linkage.prepare``;
* ``blocking.p<k>``    — ``operators.pipeline.pass_candidates`` of pass k
  (each pass of both runs in the delta's two-file mode);
* ``dedup.lsh``        — ``operators.dedup.minhash_candidates``;
* ``scoring.p<k>``     — ``operators.pipeline.score_pass`` (its
  ``blocking.p<k>`` child excluded from its self time); ``scoring.canopy``
  — the canopy's pairs scored by ``operators.scoring.pair_weight``,
  materialized where they enter ``first_pass_wins``;
* ``first_pass_wins``  — ``operators.pipeline.first_pass_wins``;
* ``good_pairs``, ``closure``, ``incremental_closure``, ``egress`` — the
  job function's own calls (``MatchResult.good_pairs``,
  ``cluster_accepted_pairs``, ``incremental_closure``, the parquet writes).

A layer's self time is its span's duration minus its child spans'
durations; spans nest strictly (one driver thread), so self times sum to
at most the root span's wall time. The same wrappers, with
``counts_only=True``, count the candidate pairs of an untraced job
without changing its plans.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import time
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the layers a span name can belong to; "blocking.p0" is layer "blocking"
LAYERS = (
    "prepare",
    "blocking",
    "dedup.lsh",
    "scoring",
    "first_pass_wins",
    "good_pairs",
    "closure",
    "incremental_closure",
    "egress",
)
CANOPY_PASS_ID = 3  # repo_linkage numbers the MinHash canopy after its 3 equi passes


def layer_of(span_name: str) -> str | None:
    if span_name in LAYERS:
        return span_name
    head = span_name.rsplit(".", 1)[0]
    return head if head in LAYERS else None


class NullTracer:
    """Untraced runs: every hook is a plain call."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def layer(self, name: str, fn):
        return fn()


class Tracer:
    """Spans, counts and materialization around the layers' public calls.

    ``counts_only=True`` leaves the job's plans as they are and only keeps
    a reference to each comparator input: every pass's candidates and the
    canopy's scored pairs. ``count_deferred`` counts them all in one Spark
    job after the job has run, outside its timed window."""

    def __init__(self, spark, run_id: str, counts_only: bool = False):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.counts_only = counts_only
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._cached: list[DataFrame] = []
        self._deferred: list[tuple[str, DataFrame]] = []
        self._seq = 0
        self._pass: int | None = None
        self._canopy_pending = False

    # ---- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "group": f"{self.run_id}/{self._seq}/{name}",
            "parent": parent["group"] if parent else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def _materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.persist()
        self._cached.append(df)
        return df, df.count()

    def layer(self, name: str, fn):
        """Run ``fn`` (which returns a DataFrame) as one layer span and
        materialize its output inside the span."""
        with self.span(name) as rec:
            out, n = self._materialize(fn())
        self.counts[f"{name}.rows"] += n
        if name == "closure":
            jobs = self.sc.statusTracker().getJobIdsForGroup(rec["group"])
            self.counts["closure.spark_jobs"] += len(jobs)
        return out

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # ---- wrappers around the layers' public functions -------------------
    @contextlib.contextmanager
    def patched(self):
        """Swap the layers' public functions for traced wrappers at every
        attribute the linkage code resolves them through."""
        from bigmatch_utilities_spark import repo_linkage
        from bigmatch_utilities_spark.operators import pipeline, scoring

        targets = [
            (pipeline, "pass_candidates", self._wrap_pass_candidates),
            (scoring, "pair_weight", self._wrap_pair_weight),
            (repo_linkage, "first_pass_wins", self._wrap_first_pass_wins),
            (pipeline, "first_pass_wins", self._wrap_first_pass_wins),
            (pipeline, "score_pass", self._wrap_score_pass),
        ]
        if not self.counts_only:
            targets += [
                (repo_linkage, "prepare", self._wrap_prepare),
                (repo_linkage, "minhash_candidates", self._wrap_lsh),
            ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
        try:
            for mod, attr, wrap in targets:
                setattr(mod, attr, wrap(getattr(mod, attr)))
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    def _wrap_prepare(self, orig):
        def prepare(df):
            with self.span("prepare"):
                out, n = self._materialize(orig(df))
            self.counts["prepare.rows"] += n
            return out

        return prepare

    def _wrap_lsh(self, orig):
        def minhash_candidates(*args, **kwargs):
            with self.span("dedup.lsh"):
                out, n = self._materialize(orig(*args, **kwargs))
            self.counts["dedup.lsh.candidates"] += n
            return out

        return minhash_candidates

    def _wrap_score_pass(self, orig):
        def score_pass(rec, mem, spec, pass_id, *args, **kwargs):
            self._pass = pass_id
            if self.counts_only:
                return orig(rec, mem, spec, pass_id, *args, **kwargs)
            with self.span(f"scoring.p{pass_id}"):
                out, _ = self._materialize(orig(rec, mem, spec, pass_id, *args, **kwargs))
            return out

        return score_pass

    def _wrap_pass_candidates(self, orig):
        def pass_candidates(*args, **kwargs):
            name = f"blocking.p{self._pass}"
            if self.counts_only:
                out = orig(*args, **kwargs)
                self._deferred.append((name, out))
                return out
            with self.span(name):
                out, n = self._materialize(orig(*args, **kwargs))
            self.counts[f"{name}.candidates"] += n
            self.counts["scoring.pairs"] += n
            return out

        return pass_candidates

    def _wrap_pair_weight(self, orig):
        # Resolved through the scoring module only by the canopy pass (the
        # equi passes bound pair_weight at import): its frame is scored in
        # the next first_pass_wins input.
        def pair_weight(*args, **kwargs):
            self._canopy_pending = True
            return orig(*args, **kwargs)

        return pair_weight

    def _wrap_first_pass_wins(self, orig):
        def first_pass_wins(all_pairs):
            if self._canopy_pending and self.counts_only:
                self._canopy_pending = False
                canopy = all_pairs.filter(F.col("pass_id") == CANOPY_PASS_ID)
                self._deferred.append(("scoring.canopy", canopy))
            elif self._canopy_pending:
                self._canopy_pending = False
                with self.span("scoring.canopy"):
                    all_pairs, _ = self._materialize(all_pairs)
                n = all_pairs.filter(F.col("pass_id") == CANOPY_PASS_ID).count()
                self.counts["scoring.pairs"] += n
            if self.counts_only:
                return orig(all_pairs)
            self.counts["first_pass_wins.rows_in"] += all_pairs.count()
            with self.span("first_pass_wins"):
                out, n = self._materialize(orig(all_pairs))
            self.counts["first_pass_wins.rows_out"] += n
            return out

        return first_pass_wins

    def count_deferred(self) -> None:
        """Count every deferred comparator input in one Spark job (column
        pruning keeps the scoring UDFs out of it)."""
        if not self._deferred:
            return
        tagged = [df.select(F.lit(name).alias("_pass")) for name, df in self._deferred]
        union = functools.reduce(DataFrame.unionAll, tagged)
        for row in union.groupBy("_pass").count().collect():
            self.counts[f"{row['_pass']}.candidates"] += row["count"]
            self.counts["scoring.pairs"] += row["count"]
        self._deferred.clear()

    # ---- read-out -------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            layer = layer_of(s["name"])
            if layer is not None:
                out[layer] += s["end"] - s["start"] - child[s["group"]]
        return out

    def groups(self) -> dict[str, str]:
        """Spark job group id -> layer, for event-log attribution."""
        return {
            s["group"]: layer_of(s["name"])
            for s in self.spans
            if layer_of(s["name"]) is not None
        }

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def event_log_counters(log_dir: str, groups: dict[str, str]) -> dict[str, dict[str, float]]:
    """Task metrics from an uncompressed, non-rolling Spark event log,
    summed per layer through the job group each stage was submitted under."""
    stage_layer: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = {
        layer: defaultdict(float) for layer in LAYERS
    }
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in groups:
                        stage_layer[ev["Stage Info"]["Stage ID"]] = groups[group]
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if layer is None or not tm:
                        continue
                    a = acc[layer]
                    a["tasks"] += 1
                    a["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    a["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
                    a["shuffle_fetch_wait_s"] += (
                        tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
                    )
                    a["shuffle_write_mb"] += (
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        / 2**20
                    )
    return acc
