"""Inputs, workloads and the DuckDB oracle check of the pipeline benchmark.

All three workloads run the flagship job (`flagship.flagship_config()`) on
the same seeded input and reach the engine only through its public entry
points:

- `fanout`: token parquet → `Pipeline.transform` → `sinks.write_fanout`.
  Dissect and the partitioned write take most of the time.
- `route_counts`: `flagship.route_counts` + `flagship.token_checksums`
  collected to the driver.  No file is written.  The transform's row
  work (token derivation, dissect, enrich) takes most of a job and
  driver planning most of the rest; the shuffle-aggregate over the
  40%-hot `source` key runs on few rows.
- `registry_resume`: `CheckpointedRunner.run` over N_CHUNKS hash chunks,
  interrupted once by `fail_before_commit`, resumed to completion and
  read back with `result()`.  Per-chunk fixed costs (planning, rescan,
  partitioned write, footer stats, manifest rewrite + fsync) dominate;
  dissect is a small share.  `commit_p50_s` is the median gap between
  consecutive manifest commits with no crash between them; the gap that
  spans the crash and the resume is reported on its own.

A traced run reports each layer's share of the job's wall time
(`share_of_job` in the report line).

Every job's output is read back by Spark and compared, sink by sink, with
the DuckDB twins `flagship.oracle_route_counts_sql()` and
`oracle_token_checksums_sql()` run on the same `orders.parquet`.

Which per-layer metric should move which end-to-end metric, and where:

- read.scan_s → throughput_seq_s, largest on registry_resume (one
  rescan per chunk attempt).
- parse.dissect_s, parse.regex_calls → throughput_seq_s, most on
  route_counts, about half on fanout, little on registry_resume.
- filter.*, enrich.*, routing.* (cumulative-prefix deltas on a noop
  sink) → throughput_seq_s on fanout.  On route_counts only where a step
  feeds a column the counts or checksums read: that job prunes the rest,
  so the noop ledger overstates the later steps there.
- pipeline.plan_s (driver time building the plan, paid once per chunk)
  → throughput_seq_s and commit_p50_s on registry_resume.
- output.s (job time past the noop transform: the fan-out write, the
  aggregate + collect, or the chunk commits), sinks.files_written,
  sinks.bytes_written → fanout and registry_resume; zero files on
  route_counts.
- aggregate.exchanges, aggregate.shuffle_bytes → route_counts only.
- checkpoint.* → throughput_seq_s and commit_p50_s on registry_resume only.
- spark.* → every workload; session.start_s, datagen.gen_s, warmup_s
  → setup_s.

BENCHMARK.json lists route_counts and registry_resume.  fanout runs the
same transform and write layer as registry_resume in one commit; it is
left out of the list to keep a full benchmark pass short, since every
listed workload is run many times, each run in a cold JVM taking about
a minute on a 4-vCPU host.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beats_spark.checkpoint import CHUNK_COL, CheckpointedRunner, with_chunk
from beats_spark.datagen import load_token_events, token_events_sql
from beats_spark.flagship import (
    flagship_config,
    oracle_route_counts_sql,
    oracle_token_checksums_sql,
    route_counts,
    token_checksums,
)
from beats_spark.pipeline import Pipeline
from beats_spark.sinks import write_fanout

from spans import Tracer

# Input rows per workload.  route_counts and fanout are sized so that
# the transform's row work takes most of a job; registry_resume measures
# per-chunk fixed costs, so its rows stay few.  Each run, including a
# cold JVM set-up, takes about a minute on a 4-core host.
ROWS = {"fanout": 100_000, "route_counts": 100_000, "registry_resume": 10_000}
N_CHUNKS = 4
# The first registry run crashes on this chunk (1-based) after its data
# files land.  Of the N_CHUNKS - 1 gaps between consecutive commits, the
# one ending at this chunk's commit spans the crash and the resume; the
# other N_CHUNKS - 2 are commit-to-commit latencies of one chunk each.
CRASH_AT = 3


@dataclass
class Paths:
    root: str

    @property
    def orders(self) -> str:
        return os.path.join(self.root, "orders.parquet")

    @property
    def tokens(self) -> str:
        return os.path.join(self.root, "tokens")

    @property
    def out(self) -> str:
        return os.path.join(self.root, "out")


# --- inputs -------------------------------------------------------------


def key_offset(seed: int) -> int:
    """First `o_orderkey` for a seed.  Keys stay below 2^31, where the
    token formulas of `datagen` cannot overflow."""
    return (seed % 1000) * 1_000_000 + 1


def write_orders(path: str, seed: int, rows: int) -> None:
    """An `orders.parquet` whose keys are a seed-shifted contiguous range.
    The source/level/corrupt mixes are keyed on the key modulo 10/20/101,
    so every seed keeps them about equal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lo = key_offset(seed)
    keys = pa.array(range(lo, lo + rows), type=pa.int64())
    pq.write_table(pa.table({"o_orderkey": keys}), path)


def write_tokens(spark: SparkSession, paths: Paths) -> None:
    spark.read.parquet(paths.orders).repartition(
        spark.sparkContext.defaultParallelism
    ).createOrReplaceTempView("perfbench_orders")
    spark.sql(token_events_sql("spark", "perfbench_orders")).write.mode(
        "overwrite"
    ).parquet(paths.tokens)


# --- oracle -------------------------------------------------------------


@dataclass
class Landed:
    """Per-sink view of a job's output: (source, sink) → events and
    sink → (rows, sum_n_tok, sum_tok, sum_tok_hash)."""

    counts: dict[tuple[str, str], int]
    sums: dict[str, tuple[int, int, int, int]]


def oracle(orders_path: str) -> Landed:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders_path}')"
        )
        counts = {
            (s, k): int(n) for s, k, n in con.execute(oracle_route_counts_sql()).fetchall()
        }
        sums = {
            r[0]: tuple(int(x) for x in r[1:])
            for r in con.execute(oracle_token_checksums_sql()).fetchall()
        }
    finally:
        con.close()
    return Landed(counts, sums)


def checksums(df: DataFrame) -> DataFrame:
    """The `flagship.token_checksums` shape per (source, sink), over any
    frame carrying (source, sink, n_tok, tokens)."""
    tok_hash = F.aggregate(
        F.col("tokens"),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(1000000007),
    )
    tok_sum = F.aggregate(F.col("tokens"), F.lit(0).cast("long"), lambda a, x: a + x)
    return df.groupBy("source", "sink").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_tok").alias("sum_n_tok"),
        F.sum(tok_sum).alias("sum_tok"),
        F.sum(tok_hash).alias("sum_tok_hash"),
    )


def landed_frame(df: DataFrame) -> Landed:
    """Read-back check in one Spark job: the checksum shape per
    (source, sink), folded to per-sink sums on the driver."""
    counts: dict[tuple[str, str], int] = {}
    sums: dict[str, tuple[int, int, int, int]] = {}
    for r in checksums(df).collect():
        vals = (int(r["rows"]), int(r["sum_n_tok"]), int(r["sum_tok"]), int(r["sum_tok_hash"]))
        counts[(r["source"], r["sink"])] = vals[0]
        prev = sums.get(r["sink"], (0, 0, 0, 0))
        sums[r["sink"]] = tuple(a + b for a, b in zip(prev, vals))
    return Landed(counts, sums)


def compare(expected: Landed, got: Landed) -> tuple[int, int]:
    """(sinks checked, sinks that differ from the oracle).  A sink
    differs when its row count, any token checksum or any per-source
    count differs, or when it exists on one side only."""
    sinks = set(expected.sums) | set(got.sums)
    sinks |= {k for _, k in expected.counts} | {k for _, k in got.counts}

    def per_source(counts, sink):
        return {s: n for (s, k), n in counts.items() if k == sink}

    bad = sum(
        1
        for k in sinks
        if expected.sums.get(k) != got.sums.get(k)
        or per_source(expected.counts, k) != per_source(got.counts, k)
    )
    return len(sinks), bad


# --- workloads ----------------------------------------------------------


@dataclass
class Output:
    """What a job leaves for the checker and the traced run."""

    landed: Callable[[], Landed]
    frames: list[DataFrame] = field(default_factory=list)
    # (commit-to-commit gaps, gaps that span the crash) in seconds, from
    # the manifest; None when the whole job is one commit
    commit_gaps: Callable[[], tuple[list[float], list[float]]] | None = None
    runner: CheckpointedRunner | None = None


def fanout(spark: SparkSession, paths: Paths, tr: Tracer) -> Output:
    with tr.span("read"):
        df = spark.read.parquet(paths.tokens)
    with tr.span("pipeline.transform"):
        routed = Pipeline(flagship_config()).transform(df)
    with tr.span("sinks.write_fanout"):
        write_fanout(routed, paths.out)

    return Output(lambda: landed_frame(spark.read.parquet(paths.out)), [routed])


def route_counts_job(spark: SparkSession, paths: Paths, tr: Tracer) -> Output:
    with tr.span("flagship.route_counts"):
        counts_df = route_counts(spark, paths.root)
    with tr.span("aggregate.collect"):
        count_rows = counts_df.collect()
    with tr.span("flagship.token_checksums"):
        sums_df = token_checksums(spark, paths.root)
    with tr.span("aggregate.collect"):
        sum_rows = sums_df.collect()
    got = Landed(
        {(r["source"], r["sink"]): int(r["events"]) for r in count_rows},
        {
            r["sink"]: (int(r["rows"]), int(r["sum_n_tok"]), int(r["sum_tok"]), int(r["sum_tok_hash"]))
            for r in sum_rows
        },
    )
    return Output(lambda: got, [counts_df, sums_df])


def registry_resume(spark: SparkSession, paths: Paths, tr: Tracer) -> Output:
    pipe = Pipeline(flagship_config())
    frames: list[DataFrame] = []

    def transform(part: DataFrame) -> DataFrame:
        with tr.span("pipeline.transform"):
            out = pipe.transform(part)
        frames.append(out)
        return out

    runner = CheckpointedRunner(spark, paths.out, n_chunks=N_CHUNKS, run_id="perfbench")
    with tr.span("read"):
        df = spark.read.parquet(paths.tokens)
    with tr.span("checkpoint.run"):
        first = runner.run(df, transform, fail_before_commit=CRASH_AT)
    with tr.span("checkpoint.run"):
        rest = runner.run(df, transform)
    with tr.span("checkpoint.result"):
        result = runner.result()
    if len(first) != CRASH_AT - 1 or sorted(first + rest) != list(range(N_CHUNKS)):
        raise RuntimeError(f"registry committed {first} then {rest}")

    def gaps() -> tuple[list[float], list[float]]:
        rows = runner.manifest().select("committed_at").collect()
        st = sorted(r["committed_at"] for r in rows)
        diffs = [b - a for a, b in zip(st, st[1:])]
        crash = CRASH_AT - 2
        return diffs[:crash] + diffs[crash + 1 :], diffs[crash : crash + 1]

    return Output(lambda: landed_frame(result), frames, gaps, runner)


JOBS: dict[str, Callable[[SparkSession, Paths, Tracer], Output]] = {
    "fanout": fanout,
    "route_counts": route_counts_job,
    "registry_resume": registry_resume,
}


def clean_outputs(paths: Paths) -> None:
    shutil.rmtree(paths.out, ignore_errors=True)


# --- layer ledger -------------------------------------------------------

# cumulative prefixes of the flagship job, each written to a `noop` sink
LEDGER = ("read", "dissect", "drop_event", "add_fields", "lookup", "timestamp", "route")


def prefix_frame(df: DataFrame, k: int) -> DataFrame:
    """The flagship job cut after the first `k` ledger steps past read."""
    if k == 0:
        return df
    cfg = flagship_config()
    if k < len(LEDGER) - 1:
        cfg = {**cfg, "processors": cfg["processors"][:k], "routing": None}
    return Pipeline(cfg).transform(df)


def ledger_input(spark: SparkSession, workload: str, paths: Paths) -> tuple[DataFrame, int]:
    """The frame one pass of the workload's transform reads, and how many
    such passes one job makes: route_counts derives the token table twice
    (counts and checksums); registry_resume rescans the whole input once
    per chunk attempt, the crashed one included, and transforms that
    chunk's share of it."""
    if workload == "route_counts":
        return load_token_events(spark, paths.root), 2
    df = spark.read.parquet(paths.tokens)
    if workload == "registry_resume":
        return with_chunk(df, N_CHUNKS).filter(F.col(CHUNK_COL) == 0), N_CHUNKS + 1
    return df, 1
