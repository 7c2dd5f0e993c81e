"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serials_etl --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. Inputs are generated
from ``--seed`` into ``.perfbench_work/`` (removed on exit); the library
is driven in this process on ``local[<cores>]``.

A run generates the inputs, sets up once (SparkSession and JVM start
plus a cold warm-up pass on reduced inputs: ``setup_s``), then repeats
full passes until ``--seconds`` of pass time have been measured and the
workload's minimum number of passes has run (``wall_s`` is the median
pass), checking every pass's outputs against the generated truth. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` alternates traced and
untraced passes, then attributes lazy layers by prefix materialization,
and prints the per-layer metrics. Spans of a
traced run go to ``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
}

# per-layer metric -> unit; every traced run reports all of them, 0 for
# a layer the workload does not call
PER_LAYER = {
    "trace.overhead_s": "s",
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "cache.pinned": "count",
    "commit_p50_s": "s",
    "commit_samples": "count",
    "read_p50_s": "s",
    "read_samples": "count",
    "batch_p50_s": "s",
    "batch_samples": "count",
    "operators.year_impute.wall_share": "ratio",
    "operators.dedup.near_dup_pairs.build_wall_share": "ratio",
    "streaming.batches.wall_share": "ratio",
    "pipeline.format.build_s": "s",
    "pipeline.split.build_s": "s",
    "pipeline.update.build_s": "s",
    "pipeline.split.jobs_in_build": "count",
    "operators.desc_extract.s": "s",
    "operators.natural_sort.s": "s",
    "operators.natural_sort.shuffle_bytes": "bytes",
    "operators.year_impute.s": "s",
    "operators.year_impute.groups": "count",
    "operators.year_impute.s_per_group": "s",
    "sources.rest.enrich_fetch.s": "s",
    "operators.merge.field_merge.s": "s",
    "sinks.csv_sink.write_s": "s",
    "corpus.corpus_pipeline.build_s": "s",
    "corpus.corpus_pipeline.action_s": "s",
    "operators.text_analysis.quality_gate.keep_ratio": "ratio",
    "sinks.lake.write_s": "s",
    "operators.dedup.near_dup_pairs.build_s": "s",
    "operators.dedup.near_dup_pairs.jobs_in_build": "count",
    "operators.dedup.near_dup_pairs.action_s": "s",
    "operators.dedup.candidates": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_ratio": "ratio",
    "operators.graph.cluster_assignments.build_s": "s",
    "operators.graph.cluster_assignments.jobs_in_build": "count",
    "operators.graph.cluster_assignments.action_s": "s",
    "table_format.merge.s": "s",
    "table_format.merge.files_rewritten": "count",
    "table_format.merge.bytes_written": "bytes",
    "table_format.merge_mor.s": "s",
    "table_format.merge_mor.delete_files": "count",
    "table_format.read.build_s": "s",
    "table_format.read.action_s": "s",
    "table_format.read.files_scanned": "count",
    "table_format.read_changes.s": "s",
    "table_format.compact.s": "s",
    "table_format.bytes_per_user_byte": "ratio",
    "streaming.read_events_stream.build_s": "s",
    "streaming.sessionize.add_batch_s": "s",
    "streaming.sessionize.timer_batch_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.upsert_sink.batch_s": "s",
}

# per-layer metric -> (span name, "s" for median seconds | "jobs" for
# median jobs started inside the span)
FROM_SPANS = {
    "pipeline.format.build_s": ("pipeline.format.build", "s"),
    "pipeline.split.build_s": ("pipeline.split.build", "s"),
    "pipeline.update.build_s": ("pipeline.update.build", "s"),
    "pipeline.split.jobs_in_build": ("pipeline.split.build", "jobs"),
    "operators.dedup.near_dup_pairs.build_s": ("operators.dedup.near_dup_pairs.build", "s"),
    "operators.dedup.near_dup_pairs.jobs_in_build": ("operators.dedup.near_dup_pairs.build", "jobs"),
    "operators.dedup.near_dup_pairs.action_s": ("operators.dedup.near_dup_pairs.action", "s"),
    "operators.graph.cluster_assignments.build_s": ("operators.graph.cluster_assignments.build", "s"),
    "operators.graph.cluster_assignments.jobs_in_build":
        ("operators.graph.cluster_assignments.build", "jobs"),
    "operators.graph.cluster_assignments.action_s": ("operators.graph.cluster_assignments.action", "s"),
    "table_format.merge.s": ("table_format.merge", "s"),
    "table_format.merge_mor.s": ("table_format.merge_mor", "s"),
    "table_format.read.build_s": ("table_format.read.build", "s"),
    "table_format.read.action_s": ("table_format.read.action", "s"),
    "table_format.read_changes.s": ("table_format.read_changes", "s"),
    "table_format.compact.s": ("table_format.compact", "s"),
    "streaming.read_events_stream.build_s": ("streaming.read_events_stream.build", "s"),
}


def make_spark(work: str):
    from journal_batch_processer_spark import get_spark

    cores = len(os.sched_getaffinity(0))  # what `nproc` reports
    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # fail before any work when the library is not next to the benchmark
    sys.path.insert(1, ROOT)
    import journal_batch_processer_spark  # noqa: F401

    from spans import RssSampler, Tracer, job_counters, job_ids, median
    from workloads import WORKLOADS
    import gen

    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    spark = None
    try:
        data, warm, out = (os.path.join(work, d) for d in ("data", "warm", "out"))
        meta = wl.generate(data, args.seed, "full")
        wl.generate(warm, args.seed, "warmup")
        print(f"# input {wl.name} seed={args.seed} rows={meta['rows']} "
              f"fingerprint={gen.fingerprint(data)}", flush=True)

        t0 = time.perf_counter()
        spark = make_spark(work)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        wl.warm_up(spark, warm, os.path.join(work, "warm_out"), Tracer(spark, False, "setup"))
        setup_s = time.perf_counter() - t0

        run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, False, run_id)
        walls = {True: [], False: []}
        min_passes = getattr(wl, "passes", 1)
        samples: dict[str, list[float]] = {}
        counters: list[dict] = []
        attempted, failed, correct, problems = 0, 0, True, []
        measured = 0.0
        # RSS is sampled in traced runs only: the sampler's /proc scans
        # would otherwise share the driver's interpreter with the pass
        with RssSampler(enabled=bool(args.trace)) as rss:
            # a traced run needs at least one traced and one untraced pass
            while (measured < args.seconds or len(walls[True] + walls[False]) < min_passes
                   or (args.trace and not all(walls.values()))):
                traced = bool(args.trace) and len(walls[True]) <= len(walls[False])
                tracer.enabled = traced
                before = job_ids(spark) if traced else None
                t0 = time.perf_counter()
                try:
                    res = wl.run_pass(spark, data, out, tracer)
                except Exception:  # noqa: BLE001 - a failed pass is reported, not hidden
                    attempted, failed, correct = attempted + 1, failed + 1, False
                    problems.append(traceback.format_exc().strip().splitlines()[-1])
                    break
                wall = time.perf_counter() - t0
                measured += wall
                walls[traced].append(wall)
                if traced:
                    counters.append(job_counters(spark, job_ids(spark) - before))
                attempted += res.attempted
                for k, v in res.samples.items():
                    samples.setdefault(k, []).extend(v)
                bad = wl.check(spark, data, out)
                attempted += 1
                if bad:
                    failed += len(bad)
                    correct = False
                    problems.extend(bad)
        # probes of known defects: a raised error is a failed operation;
        # a wrong result also makes the run incorrect
        for outcome in (wl.probes(spark, out) if hasattr(wl, "probes") else []):
            attempted += 1
            if outcome is not None:
                message, wrong_result = outcome
                failed += 1
                problems.append(f"probe: {message}")
                correct = correct and not wrong_result

        all_walls = walls[False] + walls[True]
        if args.trace == 0:
            wall_s = median(all_walls)
            values = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "rows_per_s": meta["rows"] / wall_s if wall_s else 0.0,
            }
            units = END_TO_END
        else:
            values = dict.fromkeys(PER_LAYER, 0.0)
            values["trace.overhead_s"] = (median(walls[True]) - median(walls[False])
                                          if walls[False] else 0.0)
            values["session.start_s"] = session_s
            values["process.peak_rss_mb"] = rss.peak_kb / 1024
            for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
                values[f"spark.{k}"] = median([c[k] for c in counters])
            values["cache.pinned"] = median(samples.pop("cache.pinned", []))
            for kind in ("commit", "read", "batch"):
                xs = samples.get(kind, [])
                values[f"{kind}_samples"] = len(xs)
                values[f"{kind}_p50_s"] = median(xs)
            for name, (span, what) in FROM_SPANS.items():
                xs = tracer.seconds(span) if what == "s" else tracer.jobs(span)
                values[name] = median(xs)
            if correct:
                values.update(wl.attribute(spark, data, out, tracer))
            # the share of an untraced pass's wall time each per-group or
            # driver-build layer takes
            untraced = median(walls[False])
            if untraced:
                values["operators.year_impute.wall_share"] = \
                    values["operators.year_impute.s"] / untraced
                values["operators.dedup.near_dup_pairs.build_wall_share"] = \
                    values["operators.dedup.near_dup_pairs.build_s"] / untraced
                values["streaming.batches.wall_share"] = \
                    sum(samples.get("batch", [])) / len(all_walls) / untraced
            units = PER_LAYER
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"{run_id}.spans.jsonl"))

        fail_frac = failed / max(attempted, 1)
        for name, v in values.items():
            print(f"# {name} = {v:.6g} {units[name]}")
        print(f"# session_s = {session_s:.3f}  pass walls = "
              + " ".join(f"{w:.3f}" for w in all_walls))
        print(f"# passes = {len(all_walls)}  fail_frac = {fail_frac:.4g} "
              f"({failed} of {attempted} operations)")
        for p in problems:
            print(f"# failed: {p}")
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
