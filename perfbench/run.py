#!/usr/bin/env python3
"""Pipeline benchmark of the flagship parse → enrich → route → fan-out job.

    python3 perfbench/run.py --workload route_counts --seed 1 --seconds 1 --trace 0

Run from the repository root.  Workloads: fanout, route_counts,
registry_resume (see workloads.py).  Load is a closed loop: one driver
runs one job at a time on local[nproc], with shuffle partitions = nproc
and a fixed driver heap of a sixteenth of host RAM (1-4 GiB).

A run sets up once (session start, seeded input generation, one warm-up
job) and reports that as `setup_s`.  It then times three jobs (more only
if three take less than `--seconds`), removing the outputs and
syncing the disk before each job, and checks every job's output against
the DuckDB oracle.  With `--trace 0` it reports the end-to-end metrics;
with `--trace 1` it times untraced and traced jobs in turn, then measures
the layer ledger and local[1] scaling, and reports the per-layer metrics.

The second-to-last stdout line is a JSON report (host fingerprint, every
sample, tail percentiles, layer times that only some workloads have).
The last line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Spans of a traced run are written to .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import sparkstats
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# Timed jobs per run.  Jobs keep getting faster for several jobs after
# the warm-up, so every run times the same job positions: `--seconds` is
# only a floor, set below what MIN_JOBS jobs take.
MIN_JOBS = 3
# Each ledger prefix is a new plan whose generated code starts cold, so
# the ledger keeps the best of LEDGER_REPS passes.
LEDGER_REPS = 2
SCALING_REPS = 1


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples: list[float]) -> dict:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples
    beyond it, with the sample count; p50 is always given."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": _median(xs)}
    for p in (75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            out["tail"] = {"p": p, "value": statistics.quantiles(xs, n=100)[p - 1]}
    return out


def _walk_bytes(root: str, suffix: str = "") -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(suffix) and not name.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool):
        # imported here: it needs the engine on sys.path
        import workloads

        self.wl = workloads
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.nproc = sparkstats.nproc()
        self.heap = sparkstats.driver_heap()
        self.dirty_kib = sparkstats.dirty_writeback_kib()
        self.paths = workloads.Paths(os.path.join(WORK, f"run-{os.getpid()}"))
        self.rows = workloads.ROWS[workload]
        self.job = workloads.JOBS[workload]
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", enabled=trace)
        self.off = Tracer("off", enabled=False)
        self.spark = None
        self.expected = None
        self.attempted = 0
        self.failed = 0

    # -- session and set-up ------------------------------------------------

    def _session(self, cores: int):
        """A session on local[cores].  The initial heap is the full heap:
        a growing heap left the driver's peak RSS a fifth apart between
        runs, a fixed one within a few percent."""
        from beats_spark.session import get_spark

        return get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.driver.memory": self.heap,
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(WORK, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.paths.root, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Xms{self.heap} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
                ),
            },
        )

    def setup(self) -> dict[str, float]:
        """Session start, input generation and one warm-up job: the first
        job in a fresh JVM is several times slower than later ones."""
        shutil.rmtree(self.paths.root, ignore_errors=True)
        os.makedirs(self.paths.root)
        tr = self.tracer
        with tr.span("setup"):
            t0 = time.perf_counter()
            with tr.span("session.start"):
                self.spark = self._session(self.nproc)
            t1 = time.perf_counter()
            with tr.span("datagen.gen"):
                self.wl.write_orders(self.paths.orders, self.seed, self.rows)
                self.wl.write_tokens(self.spark, self.paths)
            t2 = time.perf_counter()
            with tr.span("warmup"):
                self.job(self.spark, self.paths, self.off)
            t3 = time.perf_counter()
        self.wl.clean_outputs(self.paths)
        return {"session.start_s": t1 - t0, "datagen.gen_s": t2 - t1, "warmup_s": t3 - t2}

    # -- timed jobs --------------------------------------------------------

    def measure(self, seconds: float) -> list[dict]:
        """Time MIN_JOBS jobs, or more until `seconds` have passed; with
        tracing one more, half of them traced."""
        sc = self.spark.sparkContext
        samples: list[dict] = []
        min_jobs = MIN_JOBS + 1 if self.trace else MIN_JOBS
        end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < end or i < min_jobs:
            # untraced, traced, traced, untraced: jobs still speed up
            # from one to the next, and this order cancels a linear trend
            traced = self.trace and i % 4 in (1, 2)
            tr = self.tracer if traced else self.off
            self.wl.clean_outputs(self.paths)
            os.sync()
            group = f"perfbench-{i}"
            sc.setJobGroup(group, group)
            first_span = len(tr.spans)
            i += 1
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("job"):
                    out = self.job(self.spark, self.paths, tr)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                continue
            wall = time.perf_counter() - t0
            sc.setJobGroup(f"check-{i}", "oracle check")
            checked, bad = self.wl.compare(self.expected, out.landed())
            self.attempted += checked
            self.failed += bad
            commits, crash_gaps = out.commit_gaps() if out.commit_gaps else ([wall], [])
            sample = {
                "wall_s": wall,
                "traced": traced,
                "commits_s": commits,
                "crash_gaps_s": crash_gaps,
            }
            if traced:
                sample.update(self.layer_sample(out, group, tr.spans[first_span:], wall))
            samples.append(sample)
        self.wl.clean_outputs(self.paths)
        return samples

    def layer_sample(self, out, group: str, spans: list[dict], wall: float) -> dict:
        jobs = sparkstats.job_ids(self.spark, group)
        stages = sparkstats.stage_totals(self.spark, jobs)
        sql = sparkstats.sql_totals(self.spark, jobs)
        files, size = _walk_bytes(self.paths.out, ".parquet")
        _, manifest = _walk_bytes(os.path.join(self.paths.out, "manifest"))
        attempts = 0
        data = os.path.join(self.paths.out, "data")
        for dirpath, dirs, _names in os.walk(data):
            attempts += sum(1 for d in dirs if d.startswith("try-"))
        committed = len(out.runner.committed_chunks()) if out.runner else 0

        def span_s(*names):
            return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

        return {
            "jobs": len(jobs),
            "plan_s": span_s(
                "pipeline.transform", "flagship.route_counts", "flagship.token_checksums"
            ),
            "result_s": span_s("checkpoint.result"),
            "regex_calls": sum(sparkstats.regex_calls(f) for f in out.frames),
            "exchanges": sum(sparkstats.shuffle_exchanges(f) for f in out.frames),
            "files_written": files,
            "bytes_written": size,
            "manifest_bytes": manifest,
            "files_per_chunk": files / attempts if attempts else 0.0,
            "useful_attempts": committed / attempts if attempts else 0.0,
            "cpu_s": stages["cpu_s"],
            "gc_s": stages["gc_s"],
            "spill_bytes": stages["spill_bytes"],
            "shuffle_bytes": stages["shuffle_write_bytes"],
            "cpu_busy_frac": stages["cpu_s"] / (wall * self.nproc),
            "sql_scan_s": sql["scan_s"],
            "sql_codegen_s": sql["codegen_s"],
            "sql_commit_s": sql["commit_s"],
        }

    # -- traced extras -----------------------------------------------------

    def _noop_seconds(self, df, reps: int) -> list[float]:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return times

    def ledger(self) -> dict[str, float]:
        """Cumulative prefixes of the job on a noop sink, as seconds per
        job: each prefix's best time times the passes one job makes."""
        self.spark.sparkContext.setJobGroup("ledger", "layer ledger")
        df, passes = self.wl.ledger_input(self.spark, self.workload, self.paths)
        with self.tracer.span("ledger"):
            return {
                step: passes * min(self._noop_seconds(self.wl.prefix_frame(df, k), LEDGER_REPS))
                for k, step in enumerate(self.wl.LEDGER)
            }

    def scaling(self) -> dict[str, float]:
        """Fan-out transform on a noop sink at local[nproc], then at local[1]
        in a fresh session.  Each side runs one untimed pass first, then
        the same number of timed passes."""
        from beats_spark.flagship import flagship_config
        from beats_spark.pipeline import Pipeline

        def transform_s() -> float:
            df = Pipeline(flagship_config()).transform(self.spark.read.parquet(self.paths.tokens))
            self._noop_seconds(df, 1)
            return _median(self._noop_seconds(df, SCALING_REPS))

        with self.tracer.span("scaling"):
            t_n = transform_s()
            self.spark.stop()
            self.spark = self._session(1)
            t_1 = transform_s()
        return {"t_1_s": t_1, "t_n_s": t_n, "eff": t_1 / (t_n * self.nproc)}

    # -- the run -----------------------------------------------------------

    def run(self, seconds: float) -> tuple[dict, dict]:
        setup = self.setup()
        t0 = time.perf_counter()
        self.expected = self.wl.oracle(self.paths.orders)
        oracle_s = time.perf_counter() - t0
        samples = self.measure(seconds)
        rss = sparkstats.jvm_peak_rss_mb(self.spark)
        thr = [self.rows / s["wall_s"] for s in samples]
        commits = [c for s in samples for c in s["commits_s"]]
        crash_gaps = [c for s in samples for c in s["crash_gaps_s"]]
        report = {
            "workload": self.workload,
            "seed": self.seed,
            "rows": self.rows,
            "host": sparkstats.fingerprint(self.heap, self.dirty_kib),
            "setup": setup,
            "oracle_s": oracle_s,
            "jobs": len(samples),
            "failed_frac": self.failed / self.attempted,
            # commit-to-commit gaps with no crash between them
            "commit_latency_s": tail_percentile(commits),
            # registry_resume: the gap from the last commit before the
            # crash to the first after the resume
            "crash_gap_s": tail_percentile(crash_gaps) if crash_gaps else None,
            "samples": samples,
        }
        e2e = {
            "throughput_seq_s": (_median(thr), "seq/s"),
            "setup_s": (sum(setup.values()), "s"),
            "peak_rss_mb": (rss, "MB"),
            "commit_p50_s": (_median(commits), "s"),
        }
        if not self.trace:
            return report, e2e
        return report, self.per_layer(report, setup, samples)

    def per_layer(self, report: dict, setup: dict, samples: list[dict]) -> dict:
        traced = [s for s in samples if s["traced"]]
        plain = [s for s in samples if not s["traced"]]

        def med(key):
            return _median([s[key] for s in traced])

        ledger = self.ledger()
        scaling = self.scaling()
        steps = list(ledger.values())
        delta = {k: steps[i] - (steps[i - 1] if i else 0.0) for i, k in enumerate(ledger)}
        job_s = _median([s["wall_s"] for s in traced])
        output_s = job_s - ledger["route"]
        overhead = _median([self.rows / s["wall_s"] for s in traced]) - _median(
            [self.rows / s["wall_s"] for s in plain]
        )
        commit_s = (
            _median([c for s in traced for c in s["commits_s"]])
            if self.workload == "registry_resume"
            else 0.0
        )
        plan_s = med("plan_s")
        # where a traced job's wall time goes: the noop ledger steps (row
        # work of the transform, times the passes a job makes), driver
        # planning, and the rest (writes, commits, aggregates and
        # collects, job launches).  The ledger evaluates every column the
        # transform makes; a job that reads only some of them (route_counts)
        # can spend less than the ledger on the transform, which shows as
        # a negative rest.
        shares = {f"ledger.{k}": v / job_s for k, v in delta.items()}
        shares["pipeline.plan"] = plan_s / job_s
        shares["rest"] = (job_s - ledger["route"] - plan_s) / job_s
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{self.tracer.run_id}.jsonl")
        self.tracer.dump(trace_path)
        report.update(
            {
                "ledger_s": ledger,
                "job_s": job_s,
                "share_of_job": shares,
                "scaling": scaling,
                # summed over the whole traced run; job spans cover the
                # traced jobs only
                "self_s": self.tracer.self_times(),
                "traced_jobs": len(traced),
                "trace_file": os.path.relpath(trace_path, ROOT),
                # layers only some workloads call; zero where unused
                "workload_layers": {
                    "sinks.write_s": output_s if self.workload == "fanout" else 0.0,
                    "aggregate.s": output_s if self.workload == "route_counts" else 0.0,
                    "checkpoint.chunk_s": commit_s,
                    "checkpoint.result_s": med("result_s"),
                    "spark.sql_commit_s": med("sql_commit_s"),
                },
            }
        )
        return {
            "read.scan_s": (delta["read"], "s"),
            "parse.dissect_s": (delta["dissect"], "s"),
            "parse.regex_calls": (med("regex_calls"), "count"),
            "filter.drop_event_s": (delta["drop_event"], "s"),
            "enrich.add_fields_s": (delta["add_fields"], "s"),
            "enrich.lookup_s": (delta["lookup"], "s"),
            "enrich.timestamp_s": (delta["timestamp"], "s"),
            "routing.with_sink_s": (delta["route"], "s"),
            "pipeline.plan_s": (plan_s, "s"),
            "output.s": (output_s, "s"),
            "sinks.files_written": (med("files_written"), "count"),
            "sinks.bytes_written": (med("bytes_written"), "B"),
            "aggregate.exchanges": (med("exchanges"), "count"),
            "aggregate.shuffle_bytes": (med("shuffle_bytes"), "B"),
            "checkpoint.manifest_bytes": (med("manifest_bytes"), "B"),
            "checkpoint.files_per_chunk": (med("files_per_chunk"), "count"),
            "checkpoint.useful_attempts": (med("useful_attempts"), "ratio"),
            "spark.jobs": (med("jobs"), "count"),
            "spark.executor_cpu_s": (med("cpu_s"), "s"),
            "spark.gc_s": (med("gc_s"), "s"),
            "spark.cpu_busy_frac": (med("cpu_busy_frac"), "ratio"),
            "spark.spill_bytes": (med("spill_bytes"), "B"),
            "spark.sql_scan_s": (med("sql_scan_s"), "s"),
            "spark.sql_codegen_s": (med("sql_codegen_s"), "s"),
            "session.start_s": (setup["session.start_s"], "s"),
            "datagen.gen_s": (setup["datagen.gen_s"], "s"),
            "warmup_s": (setup["warmup_s"], "s"),
            "scaling.eff_1_to_n": (scaling["eff"], "ratio"),
            "trace.overhead_seq_s": (overhead, "seq/s"),
        }

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutil.rmtree(self.paths.root, ignore_errors=True)

    def result(self, metrics: dict) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("fanout", "route_counts", "registry_resume"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine under test is the checkout's own, never an installed copy
    if not os.path.isfile(os.path.join(ROOT, "beats_spark", "__init__.py")):
        print(f"perfbench: no beats_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # keep Python, Spark and JVM temporary files inside the checkout; the
    # JVMs' perf-data files would go to /tmp
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        report, metrics = bench.run(args.seconds)
    finally:
        bench.close()
        sparkstats.shutdown_jvm()
    print(json.dumps(report))
    print(json.dumps(bench.result(metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
