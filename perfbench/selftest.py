#!/usr/bin/env python3
"""Self-test of the benchmark at a small input size.

    python3 perfbench/selftest.py

Run from the root of a checkout; takes a few minutes.  It checks that

- two seeds give different transcripts with the same mix proportions,
  and one seed always gives the same rows;
- the curation corpus and link graph differ between seeds and keep
  their duplicate and sink shares;
- every workload, run from one driver process, is correct and emits
  every end-to-end metric of BENCHMARK.json with its unit (``--trace
  0``) and every per-layer metric with its unit (``--trace 1``), with
  non-zero Python-boundary bytes on the extraction workloads and an
  exact job count for the dangling PageRank;
- a tampered output row makes every job count as failed, and on
  curation every op's check reports its tampered output.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SCALE = "0.05"
failures = []


def expect(ok: bool, what: str) -> None:
    print(("PASS " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def bench(*extra) -> tuple:
    """Per-workload results and the stderr of one ``--workload all``
    run."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
         "--seed", "3", "--seconds", "1", "--scale", SCALE, *extra],
        cwd=ROOT, capture_output=True, text=True)
    expect(p.returncode == 0, f"run.py {' '.join(extra)} exits 0")
    out = {}
    for line in p.stdout.splitlines():
        if line.startswith("{") and '"workload"' in line:
            d = json.loads(line)
            out[d.pop("workload")] = d
    return out, p.stderr


def check_generators() -> None:
    from tool_documentsconverter_spark import kernels

    import gen

    def mix(cols):
        fmts = Counter(kernels.sniff_format(t or "", h)
                       for t, h in zip(cols["text"], cols["fmt_hint"]))
        heavy = Counter(cols["conv_id"]).most_common(1)[0][1]
        return fmts, heavy

    a = gen.transcript_rows(1, 2000, "fixtures")
    b = gen.transcript_rows(2, 2000, "fixtures")
    expect(a["text"] != b["text"], "transcripts: seeds 1 and 2 differ")
    expect(mix(a) == mix(b), "transcripts: same format mix and heavy share")
    expect(gen.transcript_rows(1, 2000, "fixtures") == a,
           "transcripts: seed repeats")

    def dups(seed):
        texts = [gen.corpus_text(seed, d) for d in range(1000)]
        return texts, 1000 - len(set(texts))

    (ta, da), (tb, db) = dups(1), dups(2)
    expect(ta != tb and da == db == 200,
           "corpus: seeds differ, same duplicate share")
    ea, eb = gen.link_edges(1, 1000), gen.link_edges(2, 1000)
    expect(ea != eb and len(set(ea[0])) == len(set(eb[0])) == 500,
           "link graph: seeds differ, half the nodes are sinks")


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_generators()

    import workloads

    names = workloads.WORKLOADS
    for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
        units = {m["name"]: m["unit"] for m in spec[kind]}
        res, _ = bench("--trace", trace)
        expect(sorted(res) == sorted(names), f"trace {trace}: all workloads ran")
        for name, r in res.items():
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                   f"trace {trace} {name}: correct, no failed job")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(got == units, f"trace {trace} {name}: every {kind} metric "
                                  "with its unit")
            if trace == "1" and name.startswith("extract_"):
                v = r["metrics"]["extract.python_data_sent_mb"]["value"]
                expect(v > 0, f"{name}: python_data_sent_mb > 0")
            if trace == "1" and name == "curation":
                v = r["metrics"]["web.pagerank_dangling.spark_jobs"]["value"]
                expect(v > 0 and v == int(v),
                       "curation: pagerank_dangling.spark_jobs is a count")

    res, err = bench("--tamper")
    for name, r in res.items():
        expect(not r["correct"] and r["failed"] == r["attempted"],
               f"tampered {name}: every job failed")
    failed = [x for x in err.splitlines() if "output check failed" in x]
    for op in workloads.CURATION_OPS:
        expect(all(f"{op}:" in x for x in failed[-3:]),
               f"tampered curation: {op} check reports it")

    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
