"""The workloads: seeded input, one measured iteration through the
engine's public entry points, an output check, and a traced iteration.

Each workload exists to load one set of layers and bypass others:

* ``pool_skewed``: short, ~100%-repeated pool turns under ``t2s``; langid
  and ppl dominate. The only input a per-text cache could win on.
* ``unique_long``: long, all-distinct Simplified turns under ``s2twp``;
  the matcher and Arrow bytes dominate and any per-text cache misses.

The traced run of ``pool_skewed`` also runs ``checkpointed_quality_filter``
once on its input (``CheckpointResume``) for the write, re-read and resume
layers.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from openccnet_spark.dictionary import load_bundle
from openccnet_spark.operators.metrics import checkpointed_quality_filter
from openccnet_spark.operators.pipeline import quality_filter, reference_label

from . import inputs, replay

#: checkpoint buckets: 4 per core keeps the partitioned write at a few
#: files per bucket (the module default of 64 targets large inputs)
N_BUCKETS = 16
LABEL_FIELDS = ("text_converted", "text_scrubbed", "drop_reason", "keep")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _execution_kind(plan: str) -> str:
    if "InsertIntoHadoopFsRelationCommand" in plan:
        return "sql.write"
    return "sql.sink" if "OverwriteByExpression" in plan else "sql.query"


def _sql_spans(tracer, executions: list, parent: int, kind=_execution_kind) -> dict[str, float]:
    """Add one span per SQL execution under ``parent``; seconds per kind."""
    out: dict[str, float] = {}
    for e in executions:
        name = kind(e["plan"])
        tracer.add(name, e["start"] - tracer.epoch_offset, e["end"] - tracer.epoch_offset, parent)
        out[name] = out.get(name, 0.0) + e["end"] - e["start"]
    return out


class Workload:
    """``quality_filter`` over generated turns into a noop sink:
    ``generate`` once, ``warm`` per session start, ``run`` per iteration,
    ``check`` once, ``traced`` once in trace mode."""

    name = ""
    #: conversion config of the quality filter
    config = "t2s"
    #: rows per core in one measured iteration (sized for ~1.5-2.5 s)
    rows_per_core = 0
    #: rows the per-layer UDF replay uses
    replay_rows = 0
    #: rows of the output compared with ``reference_label``
    check_rows = 0

    def __init__(self, work: str, seed: int, nproc: int):
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.input = os.path.join(work, "input")
        self.warm_input = os.path.join(work, "warm")
        self.n_rows = self.rows_per_core * nproc

    def generate(self) -> dict:
        """Write the input as one parquet file (one scan task) per core,
        plus a tiny slice for ``warm``; returns the input properties."""
        table = self.table()
        inputs.write_parquet(table, self.input, self.nproc)
        inputs.write_parquet(table.slice(0, 16 * self.nproc), self.warm_input, self.nproc)
        self.texts = table.column("text").to_pylist()
        return inputs.text_properties(self.texts)

    def warm(self, spark) -> None:
        """First use after a session start, on a slice of one tiny task per
        core: spawns the Python workers, loads the dictionary in each and
        compiles the filter plan."""
        _noop(quality_filter(spark.read.parquet(self.warm_input), config=self.config))

    def run(self, spark) -> float:
        t0 = time.perf_counter()
        _noop(quality_filter(spark.read.parquet(self.input), config=self.config))
        return time.perf_counter() - t0

    def check(self, spark) -> tuple[int, dict]:
        return check_labels(spark, spark.read.parquet(self.input), self.texts,
                            self.config, self.check_rows, self.seed), {}

    def traced(self, spark, tracer, counters) -> tuple[float, int, dict]:
        mark = counters.mark()
        with tracer.span("spark.run") as s:
            wall = self.run(spark)
        _sql_spans(tracer, counters.executions(mark), s["id"])
        return wall, self.n_rows, {**counters.read(mark, wall, self.nproc), **self.replay(tracer)}

    def replay(self, tracer) -> dict:
        """UDF layer metrics from a seeded sample of this run's rows."""
        rng = random.Random(self.seed)
        ids = sorted(rng.sample(range(self.n_rows), min(self.replay_rows, self.n_rows)))
        with tracer.span("udf.replay"):
            layers = replay.replay_udf(tracer, [self.texts[i] for i in ids], self.config)
        layers["pipeline.pregated_frac"] = inputs.text_properties(self.texts)["pregated_frac"]
        return layers


class PoolSkewed(Workload):
    name = "pool_skewed"
    rows_per_core = 30_000
    replay_rows = 20_000
    check_rows = 2_000
    #: mismatches and details of the traced run's checkpoint flow
    ckpt_check: tuple[int, dict] = (0, {})

    def table(self):
        return inputs.pool_turns(self.seed, self.n_rows)

    def traced(self, spark, tracer, counters) -> tuple[float, int, dict]:
        wall, rows, layers = super().traced(spark, tracer, counters)
        ckpt = CheckpointResume(self.work, self.input, self.texts, self.seed, self.config)
        ckpt_layers, mismatch, details = ckpt.traced(spark, tracer, counters)
        self.ckpt_check = (mismatch, details)
        return wall, rows, {**layers, **ckpt_layers}

    def check(self, spark) -> tuple[int, dict]:
        mismatch, details = super().check(spark)
        return mismatch + self.ckpt_check[0], {**details, **self.ckpt_check[1]}


class UniqueLong(Workload):
    name = "unique_long"
    config = "s2twp"
    rows_per_core = 2_250
    replay_rows = 2_000
    check_rows = 300

    def table(self):
        phrases = sorted(load_bundle()["st_phrases"])
        return inputs.unique_long_turns(self.seed, self.n_rows, phrases)


def check_labels(spark, src, texts: list, config: str, n: int, seed: int) -> int:
    """Rows of a seeded sample whose labels differ from ``reference_label``."""
    rng = random.Random(seed + 1)
    ids = sorted(rng.sample(range(len(texts)), min(n, len(texts))))
    got = quality_filter(src.filter(F.col("row_id").isin(ids)), config=config) \
        .select("row_id", *LABEL_FIELDS).collect()
    return count_label_mismatches(got, ids, texts, config)


def count_label_mismatches(rows, ids: list, texts: list, config: str) -> int:
    expected: dict[str, dict] = {}
    seen = {r["row_id"]: r for r in rows}
    bad = 0
    for i in ids:
        t = texts[i]
        if t not in expected:
            expected[t] = reference_label(t, config=config)
        r = seen.get(i)
        bad += r is None or any(r[f] != expected[t][f] for f in LABEL_FIELDS)
    return bad


class CheckpointResume:
    """``checkpointed_quality_filter`` into a fresh directory, then a rerun
    after a seeded half of the buckets' metrics rows are removed: the
    partitioned parquet write, its re-read for the metrics commit, and the
    resume scan that noop sinks skip. Runs once, in ``pool_skewed``'s
    traced run, on that workload's input."""

    def __init__(self, work: str, src: str, texts: list, seed: int, config: str):
        self.out = os.path.join(work, "ckpt")
        self.src = src
        self.texts = texts
        self.seed = seed
        self.config = config

    def _call(self, spark, run_id: str) -> dict:
        return checkpointed_quality_filter(spark, spark.read.parquet(self.src), self.out, run_id,
                                           N_BUCKETS, config=self.config)

    def _drop_half(self, processed: list) -> tuple[set, int]:
        """Remove the metrics rows of a seeded half of the processed
        buckets; returns (removed buckets, rows they held)."""
        path = os.path.join(self.out, "metrics")
        table = pq.read_table(path)
        removed = set(random.Random(self.seed).sample(processed, len(processed) // 2))
        mask = [p in removed for p in table.column("partition_id").to_pylist()]
        rows = sum(t for t, m in zip(table.column("turns_seen").to_pylist(), mask) if m)
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(table.filter([not m for m in mask]), os.path.join(path, "part-0.parquet"))
        return removed, rows

    def traced(self, spark, tracer, counters) -> tuple[dict, int, dict]:
        """(``ckpt.*`` layers, mismatches, check details)."""
        mark = counters.mark()
        with tracer.span("ckpt.fresh") as fresh_span:
            fresh = self._call(spark, "fresh")
        removed, resumed_rows = self._drop_half(fresh["processed"])
        with tracer.span("ckpt.resume") as resume_span:
            resume = self._call(spark, "resume")
        executions = counters.executions(mark)
        steps: dict[str, float] = {}
        for span in (fresh_span, resume_span):
            inside = [e for e in executions
                      if span["start"] <= e["start"] - tracer.epoch_offset <= span["end"]]
            for kind, sec in _sql_spans(tracer, inside, span["id"], _ckpt_kind).items():
                steps[kind] = steps.get(kind, 0.0) + sec
        turns = os.path.join(self.out, "turns")
        layers = {
            "ckpt.write_s": steps.get("ckpt.write", 0.0),
            "ckpt.metrics_s": steps.get("ckpt.metrics", 0.0),
            "ckpt.resume_scan_s": steps.get("ckpt.resume_scan", 0.0),
            "ckpt.resume_s": resume_span["end"] - resume_span["start"],
            "ckpt.bytes_written": sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(turns) for f in fs if f.endswith(".parquet")
            ),
            "ckpt.buckets_processed": len(fresh["processed"]) + len(resume["processed"]),
            "ckpt.resumed_rows": resumed_rows,
        }
        mismatch, details = self.check(spark, removed ^ set(resume["processed"]))
        return layers, mismatch, details

    def check(self, spark, resume_diff: set) -> tuple[int, dict]:
        """The resume processed exactly the pending buckets; every metrics
        row equals a recount of the written rows; a sample of written rows
        matches ``reference_label``."""
        data = spark.read.parquet(os.path.join(self.out, "turns"))
        recount = {
            r["partition_id"]: (r["n"], r["k"])
            for r in data.groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("long")).alias("k"))
            .collect()
        }
        got: dict[int, list] = {}
        for r in spark.read.parquet(os.path.join(self.out, "metrics")).collect():
            got.setdefault(r["partition_id"], []).append((r["turns_seen"], r["kept"]))
        bad_buckets = sum(got.get(b) != [v] for b, v in recount.items()) + len(set(got) - set(recount))
        total = sum(n for n, _ in recount.values())
        ids = sorted(random.Random(self.seed + 1).sample(range(len(self.texts)), 1_000))
        rows = data.filter(F.col("row_id").isin(ids)).select("row_id", *LABEL_FIELDS).collect()
        bad_rows = count_label_mismatches(rows, ids, self.texts, self.config)
        mismatch = len(resume_diff) + bad_buckets + bad_rows + abs(total - len(self.texts))
        return mismatch, {"ckpt_buckets": len(recount), "ckpt_resume_mismatch": len(resume_diff),
                          "ckpt_metrics_mismatch": bad_buckets, "ckpt_label_mismatch": bad_rows}


def _ckpt_kind(plan: str) -> str:
    """Which step of ``checkpointed_quality_filter`` ran a SQL execution,
    from the paths its plan reads and writes."""
    writes = "InsertIntoHadoopFsRelationCommand" in plan
    if writes and "/turns" in plan:
        return "ckpt.write"  # the partitioned data write
    if writes or "/turns" in plan:
        return "ckpt.metrics"  # bucket_metrics re-read + metrics append
    return "ckpt.resume_scan"  # completed_buckets over the metrics table


WORKLOADS = {w.name: w for w in (PoolSkewed, UniqueLong)}
