"""Seeded input generators.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs, and a different seed gives different inputs with
the same mix proportions.  The program only ever sees the written
tables.

- Transcripts reuse ``sources.transcripts.payload_for`` / ``conv_for``
  over a seed-derived row-index offset.  The offset is a multiple of
  the payload cycle (100 rows), so each mix keeps its exact proportions
  and ~30% of turns stay in the one oversized conversation.  Rows are
  written as evenly sized parquet files in a seeded row order, the
  layout ``write_transcripts`` produces with its round-robin
  repartition.
- The curation corpus follows ``jobs.curation_job.write_curation_corpus``
  (8 lines per doc, shared boilerplate header and footer, a 1009-word
  pool, 30% of docs duplicated in clusters of up to 3) with the seed
  mixed into every word hash.
- The link graph is the ``pagerank_dangling`` shape: only even nodes
  have out-edges (two each) and every destination is odd, so half the
  nodes are sinks.
- All tables are built in this process with pyarrow (no Spark job, so
  the first job after session start pays the JVM's warm-up).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from tool_documentsconverter_spark.sources import transcripts as src

CYCLE = 100  # payload_for repeats its case mix every 100 row indices


def row_offset(seed: int) -> int:
    return random.Random(seed).randrange(1, 100_000) * CYCLE


def transcript_rows(seed: int, n_turns: int, mix: str) -> dict:
    """Columns of the transcripts table, in generation (row-index)
    order; turn_idx is contiguous per conversation in that order, as
    the row_number window of ``synth_transcripts`` assigns it."""
    offset = row_offset(seed)
    n_convs = max(4, n_turns // 40)
    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool",
                            "ts", "fmt_hint")}
    next_turn: dict = {}
    for i in range(offset, offset + n_turns):
        conv = src.conv_for(i, n_convs)
        text, hint = src.payload_for(i, mix)
        turn = next_turn.get(conv, 0)
        next_turn[conv] = turn + 1
        cols["conv_id"].append(conv)
        cols["turn_idx"].append(turn)
        cols["role"].append(src.ROLES[i % 3])
        cols["text"].append(text)
        cols["tool"].append(src.TOOLS[i % 4])
        cols["ts"].append(src.EPOCH + dt.timedelta(seconds=13 * i))
        cols["fmt_hint"].append(hint)
    return cols


TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")), ("fmt_hint", pa.string()),
])


def write_even(table, path: str, n_files: int, seed: int) -> None:
    """``n_files`` evenly sized parquet files in a seeded row order, the
    layout a round-robin ``repartition(n_files)`` writes."""
    order = list(range(table.num_rows))
    random.Random(seed).shuffle(order)
    table = table.take(pa.array(order, type=pa.int64()))
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * per, per),
                       os.path.join(path, f"part-{f:05d}.parquet"),
                       compression="zstd")


def write_transcripts(cols: dict, path: str, n_files: int, seed: int) -> None:
    write_even(pa.Table.from_pydict(cols, schema=TRANSCRIPT_SCHEMA), path,
               n_files, seed)


HEADER = "shared cookie banner please accept all cookies now"
FOOTER = "copyright footer all rights reserved contact us"


def corpus_text(seed: int, doc_id: int) -> str:
    """Eight lines: the shared header and footer around six lines of five
    words from a 1009-word pool.  Docs 10m..10m+2 share their words, so
    30% of docs fall in duplicate clusters of up to 3."""
    base = doc_id - doc_id % 10 if doc_id % 10 < 3 else doc_id

    def word(k: int) -> str:
        h = hashlib.md5(f"{seed}|{base}|{k}".encode()).hexdigest()
        return f"w{int(h[:8], 16) % 1009}"

    lines = [" ".join(word(5 * j + k) for k in range(5)) for j in range(1, 7)]
    return "\n".join([HEADER, *lines, FOOTER])


def write_curation_corpus(path: str, seed: int, n_docs: int,
                          n_files: int) -> None:
    table = pa.table({"doc_id": pa.array(range(n_docs), type=pa.int64()),
                      "text": [corpus_text(seed, d) for d in range(n_docs)]})
    write_even(table, path, n_files, seed)


def link_params(seed: int, n_nodes: int) -> tuple:
    rng = random.Random(seed ^ 0x5EED)
    return (rng.randrange(3, n_nodes, 2), 2 * rng.randrange(n_nodes) + 1,
            rng.randrange(5, n_nodes, 2), 2 * rng.randrange(n_nodes) + 1)


def link_edges(seed: int, n_nodes: int) -> tuple:
    """(src, dst) lists: every even node links to two odd nodes."""
    a1, b1, a2, b2 = link_params(seed, n_nodes)
    even = range(0, n_nodes, 2)
    src = [*even, *even]
    dst = ([(s * a1 + b1) % n_nodes for s in even]
           + [(s * a2 + b2) % n_nodes for s in even])
    return src, dst


def write_link_graph(path: str, seed: int, n_nodes: int,
                     n_files: int) -> None:
    src, dst = link_edges(seed, n_nodes)
    table = pa.table({"src": pa.array(src, type=pa.int64()),
                      "dst": pa.array(dst, type=pa.int64())})
    write_even(table, path, n_files, seed)
