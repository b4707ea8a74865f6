"""Pure-Python reference outputs of the curation ops, for any seed.

Each function takes the corpus as ``{doc_id: text}`` and follows the
op's documented semantics with the same tokenization as the Spark
expressions (Spark's ``trim`` strips spaces only, ``split`` keeps empty
fields).  The checks compare doubles with a tolerance: Spark rounds
half-up on a decimal rendering and sums in shuffle order, so the last
printed digit may differ.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

WS = re.compile(r"\s+")
WORD = re.compile(r"[a-z0-9]+")
TOL = 2e-6


def _norm(text: str) -> str:
    return text.strip(" ").lower()


def line_dedup(docs: dict) -> dict:
    """doc_id -> (clean_text, n_lines, n_dropped)."""
    lines = {d: t.split("\n") for d, t in docs.items()}
    n_docs = Counter()
    for ls in lines.values():
        n_docs.update({_norm(x) for x in ls})
    out = {}
    for d, ls in lines.items():
        drop = [x.strip(" ") != "" and n_docs[_norm(x)] >= 2 for x in ls]
        out[d] = ("\n".join(x for x, dr in zip(ls, drop) if not dr),
                  len(ls), sum(drop))
    return out


def _shingles(text: str, k: int) -> set:
    toks = WS.split(_norm(text))
    return {" ".join(toks[i:i + k])
            for i in range(max(len(toks) - k, 0) + 1)}


def dup_ngram_stats(docs: dict, n: int = 5) -> dict:
    """doc_id -> (n_grams, dup_grams)."""
    grams = {d: _shingles(t, n) for d, t in docs.items()}
    seen = Counter()
    for g in grams.values():
        seen.update(g)
    return {d: (len(g), sum(seen[x] >= 2 for x in g))
            for d, g in grams.items()}


def tfidf_scores(docs: dict) -> dict:
    """doc_id -> {term: unrounded smoothed tf-idf score}."""
    tf = {d: Counter(x for x in WS.split(_norm(t)) if x)
          for d, t in docs.items()}
    df = Counter()
    for c in tf.values():
        df.update(c.keys())
    n = len(docs)
    return {d: {w: k * (math.log((n + 1) / (df[w] + 1)) + 1)
                for w, k in c.items()}
            for d, c in tf.items() if c}


def lm_perplexity(docs: dict) -> dict:
    """doc_id -> (n_bigrams, avg_nll) of the add-one bigram model."""
    words = {d: WORD.findall(t.lower()) for d, t in docs.items()}
    vocab = len({w for ws in words.values() for w in ws})
    c2, c1 = Counter(), Counter()
    for ws in words.values():
        for a, b in zip(ws, ws[1:]):
            c2[a, b] += 1
            c1[a] += 1
    out = {}
    for d, ws in words.items():
        nll = [-math.log((c2[a, b] + 1) / (c1[a] + vocab))
               for a, b in zip(ws, ws[1:])]
        if nll:
            out[d] = (len(nll), sum(nll) / len(nll))
    return out


def pagerank(src: list, dst: list, iters: int = 3,
             damping_pct: int = 85) -> dict:
    """node -> rank_micro of ``pagerank_fixed(redistribute_dangling=
    True)``: integer micro-units, floor division, the dangling mass
    shared out each round."""
    nodes = set(src) | set(dst)
    n = len(nodes)
    outdeg = Counter(src)
    rank = dict.fromkeys(nodes, 1_000_000)
    for _ in range(iters):
        dang = sum(r for v, r in rank.items() if v not in outdeg)
        share = (damping_pct * dang) // (100 * n)
        insum = Counter()
        for s, d in zip(src, dst):
            insum[d] += rank[s] // outdeg[s]
        rank = {v: 150_000 + share + damping_pct * insum[v] // 100
                for v in nodes}
    return rank


def near(a: float, b: float, tol: float = TOL) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(b))


def check_topk(got: dict, scores: dict, k: int = 3) -> int:
    """Number of documents whose (rank, term, score) rows are not a
    valid top-``k`` of ``scores`` within the tolerance.  ``got`` maps
    doc_id -> [(rank, term, score)]."""
    bad = set(got) ^ set(scores)
    for d in set(got) & set(scores):
        exp = scores[d]
        rows = sorted(got[d])
        terms = {t for _, t, _ in rows}
        ok = ([r for r, _, _ in rows] == list(range(1, min(k, len(exp)) + 1))
              and len(terms) == len(rows)
              and all(t in exp and near(s, exp[t]) for _, t, s in rows)
              and all(a[2] >= b[2] for a, b in zip(rows, rows[1:])))
        if ok:
            floor = rows[-1][2]
            ok = all(v <= floor + TOL * max(1.0, floor)
                     for t, v in exp.items() if t not in terms)
        if not ok:
            bad.add(d)
    return len(bad)


def group_rows(table: dict, key: str, *cols) -> dict:
    """Column dict -> {key: [tuple of cols]}."""
    out = defaultdict(list)
    for row in zip(table[key], *(table[c] for c in cols)):
        out[row[0]].append(row[1:])
    return out
