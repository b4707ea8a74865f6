"""The workloads: inputs, one timed job, and the output check.

A workload object lives for one benchmark run.  ``prepare`` writes its
inputs (set-up), ``oracle`` computes the expected outputs once,
``job`` is the timed unit and ``check`` returns the list of problems
with the job's output (empty when correct).  ``layers`` turns one traced
job into per-layer numbers.
"""

from __future__ import annotations

import copy
import hashlib
import json
import math
import os
import random
import shutil
import time
from contextlib import nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tool_documentsconverter_spark import kernels
from tool_documentsconverter_spark.plans import pipeline

import curation_ref as ref
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
KERNEL_FMTS = ("html", "docx", "pdf", "doc", "text")


def _hash_int(parts) -> int:
    s = "\x1f".join(p for p in parts if p is not None)
    return int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:15], 16)


def _hash_col(*cols):
    """Spark twin of ``_hash_int``: the first 60 bits of sha256 over the
    0x1f-joined fields, as a decimal so sums never overflow."""
    h = F.sha2(F.concat_ws("\x1f", *cols), 256)
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(20,0)")


def frame_digest(df, key: str):
    """(rows, order-insensitive keyed digest) over every column.  Doubles
    enter with 6 significant digits: a per-document float sum depends on
    shuffle arrival order in its last bits, far below that precision."""
    cols = [F.lit(key)]
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if f.dataType.typeName() in ("double", "float"):
            c = F.format_string("%.5e", c)
        cols.append(c.cast("string"))
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(_hash_col(*cols)).alias("d")).first()
    return int(r["n"]), format(int(r["d"] or 0), "x")


def _buckets(path: str) -> list:
    return sorted(int(d.split("=")[1]) for d in os.listdir(path)
                  if d.startswith("bucket="))


def _dir_stats(path: str) -> tuple:
    n, size = 0, 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size / 1e6


class Extract:
    """``run_extract_job`` over a seeded transcripts table.  In the
    resume twin (``resume_twin``) each job gets a fresh copy of an
    output and lineage in which the first half of the buckets is
    already committed."""

    def __init__(self, ctx, mix: str, n_turns: int):
        self.ctx, self.mix, self.resume = ctx, mix, False
        self.n = max(gen.CYCLE, int(n_turns * ctx.scale) // gen.CYCLE * gen.CYCLE)
        self.buckets = 4 * ctx.nproc
        self.skip = []
        self.input = os.path.join(ctx.work, "transcripts")
        self.tmpl = os.path.join(ctx.work, "template")
        self.key = f"perfbench-{ctx.seed}-{random.Random(ctx.seed).random()}"
        self.cols = None
        self.tmpl_summary = None
        self._k = 0

    def prepare(self) -> float:
        """Write the inputs; returns the seconds spent generating them."""
        with self.ctx.tracer.span("sources.transcripts"):
            t0 = time.perf_counter()
            self.cols = gen.transcript_rows(self.ctx.seed, self.n, self.mix)
            shutil.rmtree(self.input, ignore_errors=True)
            gen.write_transcripts(self.cols, self.input, self.ctx.nproc,
                                  self.ctx.seed)
            return time.perf_counter() - t0

    def build_template(self, spark) -> None:
        """Commit the first half of the buckets, as a run killed halfway
        would have."""
        shutil.rmtree(self.tmpl, ignore_errors=True)
        self.tmpl_summary = pipeline.run_extract_job(
            spark, spark.read.parquet(self.input),
            os.path.join(self.tmpl, "out"), os.path.join(self.tmpl, "lin"),
            n_buckets=self.buckets, only_buckets=self.skip)
        # a bucket no conversation hashes to is never committed
        self.tmpl_buckets = len(_buckets(os.path.join(self.tmpl, "out")))

    def resume_twin(self) -> "Extract":
        """The resume variant of this workload over the same input and
        oracle, for a traced run to measure the resume layer."""
        twin = copy.copy(self)
        twin.resume = True
        twin.skip = list(range(self.buckets // 2))
        return twin

    def oracle(self) -> None:
        """Expected (md, status) of every turn from in-process
        ``kernels.extract_turn`` calls, timed per sniffed format."""
        c = self.cols
        total, ok, failed = 0, 0, 0
        per_fmt: dict = {}
        self.expect = {}
        by_fmt: dict = {}
        clock = time.perf_counter
        for conv, turn, text, hint in zip(c["conv_id"], c["turn_idx"],
                                          c["text"], c["fmt_hint"]):
            fmt = kernels.sniff_format(text or "", hint)
            t0 = clock()
            md, st, _ = kernels.extract_turn(conv, turn, text, fmt_hint=hint)
            acc = per_fmt.setdefault(fmt, [0.0, 0])
            acc[0] += clock() - t0
            acc[1] += 1
            total += _hash_int((self.key, conv, str(turn), md, st))
            ok += st == kernels.OK
            failed += st == kernels.FAILED
            by_fmt.setdefault(fmt, []).append((conv, turn))
            if hint == "doc" and text.startswith("\x00\x01BINARYGARBAGE") \
                    and st != kernels.FAILED:
                raise RuntimeError("kernel oracle: P9 .doc row not failed")
            self.expect[(conv, turn)] = (md, st)
        self.digest, self.ok, self.failed = total, ok, failed
        rng = random.Random(self.ctx.seed)
        failed_keys = [k for k, (_, st) in self.expect.items()
                       if st == kernels.FAILED]
        # a set: a failed row may also be drawn for its format
        self.sample = sorted(
            {k for keys in list(by_fmt.values()) + [failed_keys]
             for k in rng.sample(keys, min(8, len(keys)))})
        rows = sum(v[1] for v in per_fmt.values())
        self.kernel_us = {"kernels.us_per_row":
                          1e6 * sum(v[0] for v in per_fmt.values()) / rows}
        for f in KERNEL_FMTS:
            s, n = per_fmt.get(f, (0.0, 0))
            self.kernel_us[f"kernels.us_per_row.{f}"] = 1e6 * s / n if n else 0.0

    def _paths(self, k):
        return (os.path.join(self.ctx.work, f"out-{k}"),
                os.path.join(self.ctx.work, f"lin-{k}"))

    def tamper_targets(self) -> list:
        return [(self._paths(self._k)[0], "md")]

    def job(self, spark, probe=None):
        """One closed-loop job: (seconds, rows, JobSummary, counters)."""
        self._k += 1
        out, lin = self._paths(self._k)
        old = self._paths(self._k - 1)
        for p in old + (out, lin):
            shutil.rmtree(p, ignore_errors=True)
        if self.resume:
            shutil.copytree(os.path.join(self.tmpl, "out"), out)
            shutil.copytree(os.path.join(self.tmpl, "lin"), lin)
        t = self.ctx.tracer
        undo = []
        if t.enabled:
            undo = [t.wrap(pipeline, "heavy_conv_ids", "pipeline.heavy_conv_ids",
                           lambda r: {"heavy_keys": len(r)}),
                    t.wrap(pipeline, "committed_buckets",
                           "pipeline.committed_buckets")]
        try:
            t0 = time.perf_counter()
            with probe.call("run_extract_job") if probe else nullcontext({}) as c, \
                    t.span("pipeline.run_extract_job"):
                summary = pipeline.run_extract_job(
                    spark, spark.read.parquet(self.input), out, lin,
                    n_buckets=self.buckets, input_snapshot=self.input)
            elapsed = time.perf_counter() - t0
        finally:
            for u in undo:
                u()
        return elapsed, summary.rows_in, summary, c

    def check(self, spark, summary) -> list:
        errs = []
        out, lin = self._paths(self._k)
        pre_ok = self.tmpl_summary.ok if self.resume else 0
        pre_failed = self.tmpl_summary.failed if self.resume else 0
        want = (self.n - pre_ok - pre_failed, self.ok - pre_ok,
                self.failed - pre_failed,
                self.tmpl_buckets if self.resume else 0)
        got = (summary.rows_out, summary.ok, summary.failed,
               summary.buckets_skipped)
        if summary.rows_in != summary.rows_out or got != want:
            errs.append(f"summary rows/ok/failed/skipped {got} "
                        f"(rows_in {summary.rows_in}), expected {want}")
        df = spark.read.parquet(out)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("conv_id", "turn_idx").alias("keys"),
            F.sum(_hash_col(F.lit(self.key), "conv_id",
                            F.col("turn_idx").cast("string"), "md",
                            "status")).alias("d"),
        ).first()
        if (r["n"], r["keys"]) != (self.n, self.n):
            errs.append(f"output rows {r['n']} / distinct keys {r['keys']}, "
                        f"expected {self.n}")
        if int(r["d"] or 0) != self.digest:
            errs.append("output digest differs from kernels.extract_turn")
        ids = [f"{c}#{t}" for c, t in self.sample]
        got_rows = (df.where(F.concat_ws("#", "conv_id", F.col("turn_idx"))
                             .isin(ids))
                    .select("conv_id", "turn_idx", "md", "status").collect())
        bad = [(x.conv_id, x.turn_idx) for x in got_rows
               if (x.md, x.status) != self.expect[(x.conv_id, x.turn_idx)]]
        if len(got_rows) != len(ids) or bad:
            errs.append(f"sampled turns: {len(got_rows)}/{len(ids)} found, "
                        f"{len(bad)} not byte-equal to extract_turn")
        if self.resume:
            if pipeline.committed_buckets(spark, lin) != _buckets(out):
                errs.append("lineage does not cover every output bucket")
        return errs

    def layers(self, spark, summary, counters) -> dict:
        out, _ = self._paths(self._k)
        t = self.ctx.tracer
        spans = {s.name: s for s in t.spans if s.job == t.job}
        files, mb = _dir_stats(out)
        mine = spark.read.parquet(out).where(~F.col("bucket").isin(self.skip))
        r = mine.agg(F.sum("seconds").alias("s"),
                     F.count_if(F.col("fmt") != kernels.FMT_TEXT).alias("n")
                     ).first()

        def dur(name):
            s = spans.get(name)
            return s.end - s.start if s else 0.0

        m = {
            "pipeline.sketch_s": dur("pipeline.heavy_conv_ids"),
            "pipeline.heavy_keys": spans["pipeline.heavy_conv_ids"]
            .counts["heavy_keys"],
            "pipeline.extract_write_s": summary.phase_seconds["extract_write"],
            "pipeline.lineage_commit_s": summary.phase_seconds["lineage_commit"],
            "pipeline.spark_jobs": counters["spark_jobs"],
            "pipeline.output_mb": mb,
            "pipeline.output_files": files,
            "pipeline.resume_read_s": dur("pipeline.committed_buckets"),
            "pipeline.buckets_skipped": summary.buckets_skipped,
            "scan.input_mb": counters["input_mb"],
            "exchange.shuffle_write_mb": counters["shuffle_write_mb"],
            "exchange.shuffle_write_s": counters["shuffle_write_s"],
            "exchange.task_skew": counters["task_skew"],
            "extract.batch_s": float(r["s"] or 0.0),
            "extract.structured_rows": int(r["n"]),
        }
        for k in ("python_data_sent_mb", "python_data_received_mb",
                  "python_run_s", "python_init_s", "python_start_s"):
            m[f"extract.{k}"] = counters[k]
        m.update(self.kernel_us)
        return m


# the timed curation chain, in production order; each name is
# <module>.<op> as reported in the per-layer metrics, mapped to the
# output column a tampering self-test corrupts
CURATION_OPS = {"dedup.line_dedup": "clean_text",
                "dedup.dup_ngram_stats": "dup_grams",
                "dedup.fuzzy_dedup_keep": "kept",
                "ranking.tfidf_terms": "score",
                "textstats.lm_perplexity": "avg_nll",
                "web.pagerank_dangling": "rank_micro"}


class Curation:
    """line_dedup -> dup_ngram_stats -> fuzzy_dedup_keep -> tfidf ->
    lm_perplexity over a seeded corpus, plus dangling-mass PageRank
    over a seeded link graph."""

    def __init__(self, ctx, n_docs: int, n_nodes: int):
        self.ctx = ctx
        self.n = max(100, int(n_docs * ctx.scale))
        self.nodes = max(100, int(n_nodes * ctx.scale)) // 2 * 2
        self.docs = os.path.join(ctx.work, "docs")
        self.edges = os.path.join(ctx.work, "edges")
        self.key = f"perfbench-{ctx.seed}"
        self._k = 0

    def prepare(self) -> float:
        t0 = time.perf_counter()
        with self.ctx.tracer.span("sources.curation"):
            for p in (self.docs, self.edges):
                shutil.rmtree(p, ignore_errors=True)
            gen.write_curation_corpus(self.docs, self.ctx.seed, self.n,
                                      self.ctx.nproc)
            gen.write_link_graph(self.edges, self.ctx.seed, self.nodes,
                                 self.ctx.nproc)
        return time.perf_counter() - t0

    def oracle(self) -> None:
        """The expected outputs: the pure-Python references of the ops,
        read back from the written inputs."""
        recorded = {}
        if os.path.exists(DIGESTS):
            with open(DIGESTS) as f:
                recorded = json.load(f)
        self.recorded = recorded.get(f"{self.n}:{self.nodes}:{self.ctx.seed}")
        t = pq.read_table(self.docs, columns=["doc_id", "text"]).to_pydict()
        docs = dict(zip(t["doc_id"], t["text"]))
        self.ref = {"dedup.line_dedup": ref.line_dedup(docs),
                    "dedup.dup_ngram_stats": ref.dup_ngram_stats(docs),
                    "ranking.tfidf_terms": ref.tfidf_scores(docs),
                    "textstats.lm_perplexity": ref.lm_perplexity(docs)}
        e = pq.read_table(self.edges).to_pydict()
        self.pagerank = ref.pagerank(e["src"], e["dst"])

    def _out(self, k, op):
        return os.path.join(self.ctx.work, f"cur-{k}", op)

    def tamper_targets(self) -> list:
        return [(self._out(self._k, op), col)
                for op, col in CURATION_OPS.items()]

    def job(self, spark, probe=None):
        """The chain.  Every op writes its output as parquet; fuzzy
        dedup reads the cleaned corpus line_dedup wrote."""
        from tool_documentsconverter_spark.operators import (dedup, ranking,
                                                             textstats, web)

        self._k += 1
        shutil.rmtree(os.path.join(self.ctx.work, f"cur-{self._k - 1}"),
                      ignore_errors=True)
        t = self.ctx.tracer
        counters = {}

        def run(op, build):
            with probe.call(op) if probe else nullcontext({}) as c, t.span(op):
                build().write.parquet(self._out(self._k, op))
            if probe:
                c["persisted_rdds"] = probe.persisted_rdds()
                counters[op] = c

        def fuzzy():
            src = spark.read.parquet(self._out(self._k, "dedup.line_dedup")) \
                .select("doc_id", F.col("clean_text").alias("text"))
            with t.span("dedup.minhash_lsh_pairs"):
                pairs = dedup.minhash_lsh_pairs(src, "doc_id", "text", n_bands=4)
            with t.span("dedup.cluster_duplicates"):
                clusters = dedup.cluster_duplicates(pairs)
            with t.span("dedup.dedup_survivors"):
                return dedup.dedup_survivors(src, clusters)

        t0 = time.perf_counter()
        docs = spark.read.parquet(self.docs)
        run("dedup.line_dedup", lambda: dedup.line_dedup(docs))
        run("dedup.dup_ngram_stats", lambda: dedup.dup_ngram_stats(docs))
        run("dedup.fuzzy_dedup_keep", fuzzy)
        run("ranking.tfidf_terms", lambda: ranking.tfidf_topk_terms(docs))
        run("textstats.lm_perplexity", lambda: textstats.lm_perplexity(docs))
        run("web.pagerank_dangling", lambda: web.pagerank_fixed(
            spark.read.parquet(self.edges), iters=3,
            redistribute_dangling=True))
        return time.perf_counter() - t0, self.n, None, counters

    def digests(self, spark, ops=CURATION_OPS) -> dict:
        return {op: "%d:%s" % frame_digest(
            spark.read.parquet(self._out(self._k, op)), self.key)
            for op in ops}

    def check(self, spark, _summary) -> list:
        """Each op's output against its reference, the seed-independent
        invariants, and for a recorded seed every op's recorded
        digest."""
        errs = []
        if self.recorded:
            for op, d in self.digests(spark).items():
                if self.recorded.get(op) != d:
                    errs.append(f"{op}: digest differs from the recorded one")
        out = {op: pq.read_table(self._out(self._k, op)).to_pydict()
               for op in CURATION_OPS}
        pr = out["web.pagerank_dangling"]
        if dict(zip(pr["node"], pr["rank_micro"])) != self.pagerank \
                or len(pr["node"]) != len(self.pagerank):
            errs.append("web.pagerank_dangling: ranks differ from the "
                        "reference")

        def bad_docs(op, cols, ok):
            rows = ref.group_rows(out[op], "doc_id", *cols)
            want = self.ref[op]
            n = len(set(rows) ^ set(want)) + sum(
                len(rows[d]) != 1 or not ok(rows[d][0], want[d])
                for d in set(rows) & set(want))
            if n:
                errs.append(f"{op}: {n} documents differ from the reference")

        bad_docs("dedup.line_dedup",
                 ("clean_text", "n_lines", "n_dropped", "dropped_frac"),
                 lambda g, w: g[:3] == w and ref.near(g[3], w[2] / w[1]))
        bad_docs("dedup.dup_ngram_stats", ("n_grams", "dup_grams", "dup_frac"),
                 lambda g, w: g[:2] == w and ref.near(g[2], w[1] / w[0]))
        bad_docs("textstats.lm_perplexity", ("n_bigrams", "avg_nll", "ppl"),
                 lambda g, w: g[0] == w[0] and ref.near(g[1], w[1])
                 and ref.near(g[2], math.exp(w[1]), 1e-6))
        n = ref.check_topk(ref.group_rows(out["ranking.tfidf_terms"], "doc_id",
                                          "rank", "term", "score"),
                           self.ref["ranking.tfidf_terms"])
        if n:
            errs.append(f"ranking.tfidf_terms: {n} documents are not a "
                        "top-3 of the reference scores")

        # no line line_dedup keeps may occur in >= 2 docs
        owners: dict = {}
        for d, text in zip(out["dedup.line_dedup"]["doc_id"],
                           out["dedup.line_dedup"]["clean_text"]):
            for line in text.split("\n"):
                if line.strip(" "):
                    owners.setdefault(line.strip(" ").lower(), set()).add(d)
        shared = sum(len(v) >= 2 for v in owners.values())
        if shared:
            errs.append(f"dedup.line_dedup: kept {shared} lines found in "
                        ">= 2 docs")
        # every doc once; each fuzzy cluster keeps exactly its min id
        fz = out["dedup.fuzzy_dedup_keep"]
        clusters = ref.group_rows(fz, "cluster_id", "doc_id", "cluster_size",
                                  "kept")
        bad = sum(min(m[0] for m in ms) != c
                  or any(s != len(ms) or k != (d == c) for d, s, k in ms)
                  for c, ms in clusters.items())
        if bad or sorted(fz["doc_id"]) != list(range(self.n)):
            errs.append(f"dedup.fuzzy_dedup_keep: {bad} clusters do not keep "
                        "exactly their min id, or a doc is missing")
        return errs

    def layers(self, spark, _summary, counters) -> dict:
        m = {}
        spans = {s.name: s for s in self.ctx.tracer.spans
                 if s.job == self.ctx.tracer.job}
        for op in CURATION_OPS:
            c = counters[op]
            m[f"{op}.s"] = spans[op].end - spans[op].start
            m[f"{op}.spark_jobs"] = c["spark_jobs"]
            m[f"{op}.shuffle_write_mb"] = c["shuffle_write_mb"]
            m[f"{op}.persisted_rdds"] = c["persisted_rdds"]
        return m


def make(name: str, ctx):
    if name == "extract_fixtures":
        return Extract(ctx, "fixtures", 12_000)
    if name == "curation":
        return Curation(ctx, 1_000, 5_000)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("extract_fixtures", "curation")
