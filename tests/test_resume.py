"""Checkpoint/lineage + resume semantics (north_rule):
a killed run resumes with ZERO reprocessed partitions, and the resumed
output is byte-identical to an uninterrupted run.
"""

import pytest

from pyspark.sql import functions as F

from tool_documentsconverter_spark.plans import pipeline as P
from tool_documentsconverter_spark.sources.transcripts import synth_transcripts

N_TURNS = 240
N_BUCKETS = 8


@pytest.fixture()
def transcripts(spark):
    return synth_transcripts(spark, N_TURNS).cache()


def _md_map(spark, path):
    return {
        (r.conv_id, r.turn_idx): (r.md, r.status)
        for r in spark.read.parquet(path).collect()
    }


def test_kill_and_resume_zero_reprocessing(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    out_full = str(tmp_path / "out_full")
    lin_full = str(tmp_path / "lineage_full")

    # uninterrupted reference run
    P.run_extract_job(spark, transcripts, out_full, lin_full,
                      n_buckets=N_BUCKETS, input_snapshot="full")

    # "killed" run: only the first half of the buckets committed
    P.run_extract_job(spark, transcripts, out, lin, n_buckets=N_BUCKETS,
                      only_buckets=list(range(N_BUCKETS // 2)),
                      input_snapshot="part1")
    lineage1 = spark.read.parquet(lin).collect()
    committed1 = {r.bucket for r in lineage1}
    assert committed1 <= set(range(N_BUCKETS // 2))

    # resume: anti-join must skip every committed bucket
    summary = P.run_extract_job(spark, transcripts, out, lin,
                                n_buckets=N_BUCKETS, input_snapshot="part2")
    assert summary.buckets_skipped == len(committed1)

    lineage2 = spark.read.parquet(lin).collect()
    # zero reprocessing: each bucket committed exactly once
    buckets = [r.bucket for r in lineage2]
    assert len(buckets) == len(set(buckets))

    # resumed output ≡ uninterrupted output, byte-equal per turn
    assert _md_map(spark, out) == _md_map(spark, out_full)

    # lineage row counts add up to the input
    assert sum(r.rows_out for r in lineage2) == N_TURNS
    assert sum(r.error_count for r in lineage2) > 0  # P9 failures recorded


def test_force_reprocesses_everything(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    P.run_extract_job(spark, transcripts, out, lin, n_buckets=N_BUCKETS)
    s2 = P.run_extract_job(spark, transcripts, out, lin,
                           n_buckets=N_BUCKETS, force=True)
    assert s2.buckets_skipped == 0
    assert s2.rows_out == N_TURNS


def test_salting_splits_heavy_conversation(spark, transcripts):
    heavy = P.heavy_conv_ids(transcripts, fraction=1.0, threshold=0.2)
    assert "conv-00000" in heavy
    salted = P.salted(transcripts, heavy, salt=4)
    n_salts = (
        salted.where(F.col("conv_id") == "conv-00000")
        .select("salt").distinct().count()
    )
    assert n_salts > 1  # oversized conversation spread across sub-partitions
    other = (
        salted.where(F.col("conv_id") != "conv-00000")
        .select("salt").distinct().collect()
    )
    assert {r.salt for r in other} == {0}  # normal convs stay whole


def test_sparse_sample_fallback_guarded_by_coverage(spark, transcripts,
                                                    monkeypatch):
    """A sparse sample may trigger the full-scan fallback ONLY when the
    sample-implied input size is small.  With a pathological fraction
    (sample-implied size >> HEAVY_FULL_SCAN_EST_CAP) the sketch must
    degrade to 'no heavy keys detected' WITHOUT ever calling
    df.count() — at 10^12 rows that fallback would be two full scans."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("full-scan fallback fired on a huge-implied input")

    monkeypatch.setattr(DataFrame, "count", boom)
    heavy = P.heavy_conv_ids(transcripts, fraction=1e-9, threshold=0.05)
    assert heavy == []  # degraded, not crashed, not rescanned


def test_sparse_sample_fallback_fires_on_small_input(spark, transcripts):
    """Same sparse sample over a genuinely small input (implied size
    under the cap): the full-scan fallback still runs and finds the
    oversized conversation."""
    heavy = P.heavy_conv_ids(transcripts, fraction=0.04, threshold=0.2)
    assert "conv-00000" in heavy


def _extract_stage_tasks(spark, monkeypatch, out, run):
    """Run `run()` and return the task count of the extraction stage:
    the last stage of the jobs that write `out` (AQE runs the exchange's
    map side as its own job first, so the Arrow stage is the newest)."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    group = f"extract-write-{out}"
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if path != out:
            return real(self, path, *args, **kwargs)
        sc.setJobGroup(group, "extraction write")
        try:
            return real(self, path, *args, **kwargs)
        finally:
            sc._jsc.clearJobGroup()

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    try:
        run()
    finally:
        monkeypatch.undo()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage = max(sid for j in tracker.getJobIdsForGroup(group)
                for sid in tracker.getJobInfo(j).stageIds)
    return tracker.getStageInfo(stage).numTasks


def _output_by_file(out):
    """{bucket: sorted rows} plus a check that every file keeps the
    stable (conv_id, turn_idx) order."""
    import glob

    import pyarrow.parquet as pq

    cols = ["conv_id", "turn_idx", "role", "tool", "ts", "fmt", "md",
            "status", "message"]
    rows: dict = {}
    for f in sorted(glob.glob(f"{out}/bucket=*/*.parquet")):
        t = pq.read_table(f, columns=cols).to_pylist()
        keys = [(r["conv_id"], r["turn_idx"]) for r in t]
        assert keys == sorted(keys), f"{f} is out of (conv_id, turn_idx) order"
        bucket = int(f.split("bucket=")[1].split("/")[0])
        rows.setdefault(bucket, []).extend(tuple(r[c] for c in cols) for r in t)
    return {b: sorted(r) for b, r in rows.items()}


def test_extract_stage_runs_in_one_wave(spark, transcripts, tmp_path,
                                        monkeypatch):
    """With more buckets than task slots the Arrow stage is sized to the
    slots, and its output equals the one-task-per-bucket shape."""
    n_buckets = 16
    slots = spark.sparkContext.defaultParallelism
    assert slots < n_buckets
    runs = {}
    for name, parts in (("slots", None), ("buckets", n_buckets)):
        out, lin = str(tmp_path / f"out_{name}"), str(tmp_path / f"lin_{name}")
        tasks = _extract_stage_tasks(
            spark, monkeypatch, out,
            lambda: P.run_extract_job(spark, transcripts, out, lin,
                                      n_buckets=n_buckets,
                                      num_partitions=parts,
                                      input_snapshot="s"))
        lineage = sorted(
            (r.bucket, r.input_snapshot, r.rows_in, r.rows_out, r.error_count)
            for r in spark.read.parquet(lin).collect())
        # every output column but the per-row `seconds` timing
        ordered = P.read_extracted(spark, out).drop("seconds").collect()
        runs[name] = (tasks, _output_by_file(out), ordered, lineage)

    assert runs["slots"][0] <= slots
    assert runs["buckets"][0] == n_buckets  # the stage was found
    assert runs["slots"][1:] == runs["buckets"][1:]
    assert len(runs["slots"][2]) == N_TURNS


def test_row_drop_in_extraction_stage_aborts_before_lineage(
        spark, transcripts, tmp_path, monkeypatch):
    """The input-side Observation is the only witness of how many rows
    entered the opaque Arrow stage.  A stage that loses a row must make
    the job raise before the lineage commit, so the lost rows' bucket
    is never recorded as done."""
    import os

    from tool_documentsconverter_spark.operators import extract as E

    real = E._make_extractor

    def dropping(*args, **kwargs):
        inner = real(*args, **kwargs)

        def run(batches):
            first = True
            for batch in inner(batches):
                if first:
                    batch, first = batch.slice(1), False
                yield batch
        return run

    monkeypatch.setattr(E, "_make_extractor", dropping)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    with pytest.raises(RuntimeError, match="dropped rows"):
        P.run_extract_job(spark, transcripts, out, lin, n_buckets=N_BUCKETS)
    assert not os.path.exists(lin)
