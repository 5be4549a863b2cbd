"""The workloads: each drives the library's public API from outside.

A workload object owns its fixture paths and per-operation output
directories. ``load()`` is set-up (fixture load and batch-side fits),
``warm_up()`` runs untimed work before the first timed operation,
``op(i)`` runs operation ``i`` and returns its samples, and
``check()`` compares an operation's written outputs with the DuckDB
expectation. In a traced run, ``layers()`` additionally times each
layer's public call standalone, and ``check_layers()`` checks the outputs
of those calls that have an oracle.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime

import oracles

#: operation directories created during set-up; a run stops there
MAX_OPS = 64


@dataclass
class Op:
    """One operation. ``samples`` are (rows, tokens, seconds) per unit of
    work: the whole operation, or one micro-batch. The first ``warm``
    samples are warm-up: checked, but not timed. ``timed_from`` is the
    ``perf_counter`` time at which the first timed sample started."""

    index: int
    out: str
    wall_s: float = 0.0
    samples: list[tuple[int, int, float]] = field(default_factory=list)
    warm: int = 0
    timed_from: float = 0.0
    error: str | None = None
    bad: list[int] = field(default_factory=list)  # mismatches per sample


class Workload:
    name = ""
    size: dict = {}

    def __init__(self, spark, fixture: str, meta: dict, work: str, tracer=None):
        self.spark = spark
        self.fixture = fixture
        self.meta = meta
        self.work = work
        self.tracer = tracer
        self.op_dirs = [os.path.join(work, f"op-{i:03d}") for i in range(MAX_OPS)]
        for d in self.op_dirs:
            os.makedirs(d)

    def _layer(self, name: str):
        return self.tracer.layer(name) if self.tracer else contextlib.nullcontext({})

    def op_dir(self, i: int) -> str:
        return self.op_dirs[i % MAX_OPS]

    def recycle(self, i: int) -> None:
        """Empty an operation directory once its outputs are checked."""
        d = self.op_dir(i)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)

    def load(self) -> None: ...

    def warm_up(self) -> None: ...

    def op(self, i: int) -> Op: ...

    def units(self) -> int:
        """Samples one operation should produce."""
        return 1

    def expect(self, con) -> None: ...

    def check(self, con, op: Op) -> list[int]: ...

    def layers(self) -> None: ...

    def check_layers(self, con) -> tuple[int, int]:
        """(checked outputs, mismatching outputs) of ``layers()``."""
        return 0, 0

    def input_glob(self) -> str:
        """The parquet files of the workload's input."""
        return f"{self.fixture}/tokens/*.parquet"


class SuiteBatch(Workload):
    """``runner.main`` in-process over a parquet token table."""

    name = "suite_batch"
    size = {"rows": 100_000, "baseline_rows": 50_000}
    #: hs_mass_scores features (per sequence) and key
    FEATURES = ("n_tok", "tmin", "tmax")
    KEYS = ("part", "doc_id")
    MAX_EXEMPLARS = 5

    def _argv(self, d: str, run_id: str, table: str) -> list[str]:
        return [
            "--input", table,
            "--dim", f"{self.fixture}/dim.parquet",
            "--baseline-hist", f"{self.fixture}/baseline_hist.parquet",
            "--checkpoint", f"{d}/lineage",
            "--output", f"{d}/out",
            "--run-id", run_id,
        ]

    def _suite(self, d: str, run_id: str, table: str | None = None) -> int:
        from autoprepad_spark import runner

        # the runner prints a summary line; keep this process's stdout for
        # the benchmark result
        with contextlib.redirect_stdout(io.StringIO()):
            return runner.main(self._argv(d, run_id, table or f"{self.fixture}/tokens"))

    def load(self) -> None:
        self.df = self.spark.read.parquet(f"{self.fixture}/tokens")

    def _first_file(self) -> str:
        tokens = f"{self.fixture}/tokens"
        return f"{tokens}/" + min(
            f for f in os.listdir(tokens) if f.endswith(".parquet"))

    def warm_up(self) -> None:
        # one of the table's files: the same plans and Python workers as a
        # timed run, at a fraction of its cost
        d = os.path.join(self.work, "warm")
        self._suite(d, "warm", self._first_file())
        shutil.rmtree(d)

    def op(self, i: int) -> Op:
        d = self.op_dir(i)
        t0 = time.perf_counter()
        op = Op(i, d, timed_from=t0)
        with self._layer("suite"):
            rc = self._suite(d, f"op{i}")
        op.wall_s = time.perf_counter() - t0
        # exit code 2 = the run completed and found failing checks, which
        # the injected violations guarantee
        if rc != 2:
            op.error = f"runner exit code {rc}"
        op.samples = [(self.meta["rows"], self.meta["tokens"], op.wall_s)]
        return op

    def expect(self, con) -> None:
        oracles.expect_suite(con, self.input_glob())

    def check(self, con, op: Op) -> list[int]:
        return [oracles.check_suite(con, f"{op.out}/out")]

    def layers(self) -> None:
        from pyspark.sql import functions as F

        from autoprepad_spark.datagen import SOURCES
        from autoprepad_spark.operators.drift import drift, ntok_histogram
        from autoprepad_spark.operators.marking import mark_slim
        from autoprepad_spark.operators.profile import global_stats
        from autoprepad_spark.operators.uniqueness import duplicate_rows
        from autoprepad_spark.plans import verdicts as V
        from autoprepad_spark.plans.checkpoint import CheckpointTable
        from autoprepad_spark.plans.suite import ALL_CHECKS

        spark, df, d = self.spark, self.df, os.path.join(self.work, "layers")
        with self._layer("profile"):
            stats = global_stats(df)
        allowed = sorted(SOURCES)
        with self._layer("marking"):
            mark_slim(df, stats, allowed_sources=allowed).agg(
                F.sum("flag_total")).collect()
        with self._layer("uniqueness"):
            duplicate_rows(df.select("part", "doc_id", "n_tok", "source"),
                           "doc_id").write.format("noop").mode("overwrite").save()
        # verdict assembly reads a materialized marking result, so its
        # counters exclude the marking scan timed above
        mark_slim(df, stats, allowed_sources=allowed).write.parquet(f"{d}/marked")
        with self._layer("verdicts") as extra:
            marked = spark.read.parquet(f"{d}/marked")
            V.explode_violations(marked).write.parquet(f"{d}/violations")
            row_counts = df.groupBy("part").agg(F.count(F.lit(1)).alias("row_count"))
            verdicts = V.assemble_verdicts(
                row_counts, spark.read.parquet(f"{d}/violations"), ALL_CHECKS
            ).collect()
            extra["violation_rows"] = sum(r["violation_count"] for r in verdicts)
        baseline = spark.read.parquet(f"{self.fixture}/baseline_hist.parquet")
        with self._layer("drift"):
            drift(baseline, ntok_histogram(df)).collect()
        parts = sorted({r["part"] for r in verdicts})
        with self._layer("checkpoint"):
            ck = CheckpointTable(spark, f"{d}/lineage")
            ck.mark("layers", [(p, 0, 0, 0.0) for p in parts])
            ck.remaining(df, "layers")
        self._curate_layers(f"{d}/curate")

    def _curate_layers(self, d: str) -> None:
        """The two shuffle-bound curation operators, over one file of this
        table: half-space-mass scores of per-sequence features keyed on
        (part, doc_id), then exact token-sequence duplicate groups."""
        from pyspark.sql import functions as F

        from autoprepad_spark.operators.isoforest import hs_mass_scores
        from autoprepad_spark.operators.token_ops import token_exact_duplicates

        df = self.spark.read.parquet(self._first_file())
        feat = df.filter(F.col("doc_id").isNotNull()).select(
            "part", "doc_id", "n_tok",
            F.array_min("tokens").alias("tmin"),
            F.array_max("tokens").alias("tmax"),
        )
        with self._layer("isoforest"):
            hs_mass_scores(feat, list(self.FEATURES), list(self.KEYS)).write.parquet(
                f"{d}/hs")
        with self._layer("token_ops"):
            token_exact_duplicates(
                df, max_exemplars=self.MAX_EXEMPLARS).write.parquet(f"{d}/dups")
        self.curate_out = d

    def check_layers(self, con) -> tuple[int, int]:
        oracles.expect_curate(con, self._first_file(), self.FEATURES, self.KEYS,
                              self.MAX_EXEMPLARS)
        return 1, int(oracles.check_curate(con, self.curate_out) > 0)


class StreamIngest(Workload):
    """``stream_pipeline`` (validate + score) draining a staged backlog,
    one file per micro-batch."""

    name = "stream_ingest"
    size = {"files": 6}
    #: leading micro-batches of every drain that warm up and are not timed
    WARM_BATCHES = 3
    #: Mahalanobis distance above which a scored row is an alert
    THRESHOLD = 3.0
    KEEP = ["part", "doc_id", "n_tok", "source"]

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.backlog = f"{self.fixture}/backlog"
        self.files = sorted(f for f in os.listdir(self.backlog)
                            if f.endswith(".parquet"))

    def units(self) -> int:
        return len(self.files)

    def input_glob(self) -> str:
        return f"{self.backlog}/*.parquet"

    def load(self) -> None:
        from autoprepad_spark.datagen import source_dim
        from autoprepad_spark.operators.profile import global_stats
        from autoprepad_spark.operators.scoring import fit_mahalanobis

        self.df = self.spark.read.parquet(self.backlog)
        with self._layer("profile"):
            self.stats = global_stats(self.df)
        mu, inv = fit_mahalanobis(self.df, ["n_tok"])
        self.mu, self.inv = mu[0], inv[0][0]
        self.dim = source_dim(self.spark)

    def _drain(self, d: str):
        """Drain the whole backlog into fresh sinks under ``d``; raises
        if the query fails."""
        from autoprepad_spark.operators.scoring import mahalanobis_score
        from autoprepad_spark.schema import TOKENS_SCHEMA
        from autoprepad_spark.streaming.pipeline import (
            ScoreStage, ValidateStage, stream_pipeline,
        )

        q = stream_pipeline(
            self.spark, self.backlog, schema=TOKENS_SCHEMA,
            checkpoint_dir=f"{d}/checkpoint",
            validate=ValidateStage(
                stats=self.stats, verdict_path=f"{d}/verdicts",
                violation_path=f"{d}/violations", dim=self.dim),
            score=ScoreStage(
                score=mahalanobis_score(["n_tok"], [self.mu], [[self.inv]]),
                scored_path=f"{d}/scored", alert_path=f"{d}/alerts",
                threshold=self.THRESHOLD, keep_cols=self.KEEP),
            max_files_per_trigger=1,
        )
        q.awaitTermination()
        return q

    def op(self, i: int) -> Op:
        d = self.op_dir(i)
        op = Op(i, d, warm=self.WARM_BATCHES)
        wall0 = time.time() - time.perf_counter()
        t0 = time.perf_counter()
        q = self._drain(d)
        op.wall_s = time.perf_counter() - t0
        progress = sorted((p for p in q.recentProgress if p["numInputRows"]),
                          key=lambda p: p["batchId"])
        tokens = self.meta["file_tokens"]
        for p in progress:
            secs = p["durationMs"]["triggerExecution"] / 1e3
            op.samples.append((p["numInputRows"], tokens[p["batchId"]], secs))
        if len(op.samples) != len(self.files):
            op.error = op.error or f"{len(op.samples)} batches for {len(self.files)} files"
        else:
            op.timed_from = _started(progress[op.warm]) - wall0
        if self.tracer is not None:
            self._trace_batches(q, progress, d, wall0)
        return op

    def _trace_batches(self, q, progress, d: str, wall0: float) -> None:
        """Streaming layer counters: the query's own job group (its run
        id) for Spark work, recentProgress for per-phase durations."""
        tr = self.tracer
        t0 = time.perf_counter()
        tr.counters.drain()
        values = tr.counters.stage_totals(tr.counters.job_ids(str(q.runId)))
        values["wall_s"] = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1e3
        for phase in ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                      "latestOffset"):
            values[f"{phase}_ms"] = sum(p["durationMs"].get(phase, 0) for p in progress)
        values["jobs_per_batch"] = values["jobs"]
        values["sink_files_per_batch"] = sum(
            f.endswith(".parquet")
            for sink in ("verdicts", "violations", "scored", "alerts")
            for _, _, fs in os.walk(f"{d}/{sink}") for f in fs)
        tr.add("streaming", values, calls=len(progress))
        tr.bookkeeping_s += time.perf_counter() - t0
        for p in progress:
            s = _started(p) - wall0 - tr.t0
            tr.spans.append({
                "name": f"streaming.batch{p['batchId']}", "start": s,
                "end": s + p["durationMs"]["triggerExecution"] / 1e3,
                "parent": None, "run_id": tr.run_id})

    def expect(self, con) -> None:
        from autoprepad_spark.datagen import SOURCES

        oracles.expect_stream(con, self.backlog, self.stats, sorted(SOURCES),
                              self.mu, self.inv, self.THRESHOLD)

    def check(self, con, op: Op) -> list[int]:
        return oracles.check_stream(con, op.out, self.files)

    def layers(self) -> None:
        from pyspark.sql import functions as F

        from autoprepad_spark.datagen import SOURCES
        from autoprepad_spark.operators.marking import mark_slim
        from autoprepad_spark.plans import verdicts as V
        from autoprepad_spark.plans.suite import ALL_CHECKS

        # the per-batch calls of ValidateStage, timed on one batch's file
        spark, d = self.spark, os.path.join(self.work, "layers")
        batch = spark.read.parquet(f"{self.backlog}/{self.files[0]}")
        allowed = sorted(SOURCES)
        with self._layer("marking"):
            mark_slim(batch, self.stats, allowed_sources=allowed).agg(
                F.sum("flag_total")).collect()
        mark_slim(batch, self.stats, allowed_sources=allowed).write.parquet(
            f"{d}/marked")
        with self._layer("verdicts") as extra:
            marked = spark.read.parquet(f"{d}/marked")
            V.explode_violations(marked).write.parquet(f"{d}/violations")
            row_counts = batch.groupBy("part").agg(F.count(F.lit(1)).alias("row_count"))
            checks = [c for c in ALL_CHECKS if c != "unique_doc_id"]
            verdicts = V.assemble_verdicts(
                row_counts, spark.read.parquet(f"{d}/violations"), checks
            ).collect()
            extra["violation_rows"] = sum(r["violation_count"] for r in verdicts)


def _started(progress: dict) -> float:
    """Epoch seconds at which a micro-batch's trigger started."""
    return datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")).timestamp()


WORKLOADS = {w.name: w for w in (SuiteBatch, StreamIngest)}
