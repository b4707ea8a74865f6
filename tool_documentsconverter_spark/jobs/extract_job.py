"""spark-submit entry point for the north-rule extraction job.

    spark-submit --py-files engine.zip \
        tool_documentsconverter_spark/jobs/extract_job.py \
        --input /path/transcripts --output /path/out \
        --lineage /path/lineage [--config job.yaml] [--force]

Also runnable as plain `python -m tool_documentsconverter_spark.jobs.
extract_job --master local[8] ...` (used by scripts/scaling_evidence.py
to demonstrate N -> 4N scaling).  Prints ONE JSON summary line:
rows, ok/failed counts, elapsed seconds, turns/sec.

Configuration follows the reference's precedence laws
(doc_to_md/config_manager.py:36-242): engine defaults <- YAML file
(--config) <- explicit CLI flags; validation errors abort with exit
code 1 BEFORE a SparkSession is created (no cluster time is spent on
a bad config).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from ..config import get, load_config, update_from_args, validate


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="transcripts parquet path")
    p.add_argument("--output", required=True)
    p.add_argument("--lineage", required=True)
    p.add_argument("--config", default=None, help="YAML job config path")
    p.add_argument("--master", default=None)
    # config-overridable knobs default to None so "not provided" is
    # distinguishable from an explicit value (CLI > config > defaults)
    p.add_argument("--buckets", type=int, default=None)
    p.add_argument("--salt", type=int, default=None)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--types", nargs="+", default=None,
                   help="file types to include (F3), e.g. pdf docx doc")
    p.add_argument("--exclude", nargs="+", default=None,
                   help="conv_id sources to exclude (F1)")
    p.add_argument("--compression", default=None,
                   help="parquet codec for the output (zstd/snappy/lz4)")
    p.add_argument("--force", action="store_true")
    p.add_argument("--snapshot", default="")
    p.add_argument("--time-budget-s", type=float, default=None,
                   help="soft per-batch wall-clock budget for the "
                        "structured dispatch loop: rows past the budget "
                        "become status='failed' timeout rows instead of "
                        "entering a kernel (default: unlimited, like the "
                        "reference's config.yaml timeout: null)")
    p.add_argument("--repeat", type=int, default=1,
                   help="run the pipeline N times (force on reruns) and "
                        "report each; last run is steady-state (warm "
                        "executors), mirroring a long-running cluster")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)

    try:
        cfg = load_config(args.config)
    except Exception as e:  # unreadable/unparseable config: abort early
        print(f"config error: {e}", file=sys.stderr)
        return 1
    cfg = update_from_args(cfg, args)
    errors = validate(cfg)
    if errors:
        for err in errors:
            print(f"config error: {err}", file=sys.stderr)
        return 1

    from ..plans.pipeline import run_extract_job
    from ..session import get_spark

    spark = get_spark(app="extract-job", master=args.master)
    spark.conf.set("spark.sql.parquet.compression.codec",
                   get(cfg, "output.compression", "zstd"))
    transcripts = spark.read.parquet(args.input)
    n_buckets = get(cfg, "performance.buckets")
    partitions = get(cfg, "performance.partitions") or None
    summary = None
    for run in range(max(1, args.repeat)):
        t0 = time.perf_counter()
        summary = run_extract_job(
            spark, transcripts, args.output, args.lineage,
            n_buckets=n_buckets,
            force=get(cfg, "conversion.force") or run > 0,
            salt=get(cfg, "performance.salt"),
            num_partitions=partitions,
            input_snapshot=args.snapshot or args.input,
            include_fmts=get(cfg, "file_types"),
            exclude_convs=get(cfg, "filters.exclude_sources"),
            time_budget_s=args.time_budget_s,
        )
        elapsed = time.perf_counter() - t0
        print(json.dumps({
            "run": run,
            "rows_in": summary.rows_in,
            "rows_out": summary.rows_out,
            "ok": summary.ok,
            "failed": summary.failed,
            "buckets_processed": summary.buckets_processed,
            "buckets_skipped": summary.buckets_skipped,
            "elapsed_sec": round(elapsed, 3),
            "turns_per_sec": round(summary.rows_out / elapsed, 1) if elapsed else 0,
            "phases": summary.phase_seconds,
        }), flush=True)
    spark.stop()
    return 0 if summary and summary.rows_out >= 0 else 1


if __name__ == "__main__":
    sys.exit(main())
