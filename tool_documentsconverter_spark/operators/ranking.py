"""Term-weighting / ranked-retrieval operators for corpus curation:
TF-IDF top-terms per document and BM25 ranked search.

Both are pure Column expressions + built-in aggregates — no Python in
the hot path; each has an ANSI-SQL twin in __spark_entry__.oracle_sql
(DuckDB-checked).

Design for 100 TB:
 - tfidf_topk_terms moves (doc, term, tf) partials through ONE
   map-side-combinable groupBy and localCheckpoints the reduced tf
   table; document frequencies are a combinable groupBy(term)
   aggregate over that table, joined back with no broadcast hint
   (AQE picks broadcast or a skew-splittable shuffle join), and the
   per-document top-k is a bounded window, never a global sort.
 - bm25_topk never explodes tokens at all: the query term list is
   tiny and fixed, so per-document term frequencies compile to
   `size(filter(tokens, = term))` codegen expressions on the scan;
   corpus statistics (N, avgdl, per-term df) reduce to ONE single-row
   aggregate that is broadcast back — the whole ranking job is scan +
   one tiny agg + TakeOrderedAndProject, with no shuffle of corpus
   rows whatsoever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import TOKEN_SPLIT_RE


def _tokens_col(text_col: str):
    toks = F.split(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
        TOKEN_SPLIT_RE,
    )
    return F.filter(toks, lambda x: x != "")


def tfidf_topk_terms(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-`k` terms per document by smoothed TF-IDF
    (score = tf * (ln((N + 1) / (df + 1)) + 1), the scikit-learn
    smooth_idf variant so ubiquitous corpus terms still get positive
    weight).  Output: (id, term, rank, score), rank 1..k per document,
    ties broken by ascending term.

    Scale shape: explode -> groupBy (id, term) is the ONE corpus-wide
    shuffle and it is map-side combinable (partial counts); the
    reduced tf table is localCheckpoint'd (the bm25/lm_perplexity
    materialize-once pattern) so df(term) — its per-term row count, a
    combinable aggregate — reuses it instead of re-tokenizing, and
    joins back WITHOUT a broadcast hint: AQE broadcasts the
    vocab-bounded side when it measures small and falls back to a
    skew-splittable shuffle join otherwise.  (Round 8: this replaced a
    `Window.partitionBy(term)` COUNT — the window partition IS the
    term, so one corpus-wide term like "the" serializes df("the") ~=
    n_docs rows through a single task; AQE can split a skewed JOIN
    partition but never a window partition.  Interleaved min-of-5 A/B
    vs the window at sf0.1 and sf1.0 scale: 0.88/1.16s -> 0.87/1.20s,
    i.e. bench-neutral, pure scale-safety.)  N is a one-row aggregate
    broadcast via cross join; the top-k is a row_number window over
    the id partition (bounded fan-in per document, never a global
    sort)."""
    # fan_out: the tokenize+explode+partial-count narrow stage
    # otherwise runs on a single-file scan's 1-2 partitions (§2.6)
    from ..plans.fanout import fan_out

    toks = fan_out(df).select(
        F.col(id_col), F.explode(_tokens_col(text_col)).alias("term"))
    tf = (toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
          .localCheckpoint(eager=True))
    n_docs = df.agg(F.countDistinct(id_col).alias("n_docs"))
    # df(term) == number of distinct docs containing the term == the
    # per-term row count of the (id, term)-distinct tf table
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("_df") + 1)) + 1),
                6,
            ),
        )
    )
    rank = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    )
    return (
        scored.withColumn("rank", rank.cast("int"))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "rank", "score")
    )


def bm25_topk(df: DataFrame, query_terms: list[str],
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = 1.2, b: float = 0.75,
              topk: int = 10) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck Jones probabilistic
    weighting, the Lucene-default `k1`/`b`) of the `topk` best
    documents for a bag of `query_terms`.  idf uses the
    always-positive Lucene form ln(1 + (N - df + 0.5) / (df + 0.5)).
    Output: (id, score, rank), rank 1..topk, ties by ascending id.

    Scale shape: ZERO token explode — `query_terms` is small and
    fixed, so each per-document tf is a `size(filter(tokens, =t))`
    codegen expression evaluated on the scan; document length the
    same.  Corpus statistics (N, avgdl, df per term) collapse into
    ONE single-row aggregate over those columns, broadcast back with
    a cross join; scoring is arithmetic on the scan rows and the
    final top-k is orderBy+limit = TakeOrderedAndProject (per-
    partition heaps + driver merge of topk rows, no global sort
    shuffle).  This is the plan shape a 10^12-row grep-like ranking
    job needs: two passes over the scan, nothing wider than one row
    ever moves."""
    terms = sorted(set(query_terms))

    def _eq(term):
        # one-arg lambda: F.filter passes the element INDEX to a
        # two-arg lambda (so `lambda x, t=term` would compare tokens
        # against positions, not the term)
        return lambda x: x == term

    # Round-8: (1) the token array is MATERIALIZED in its own
    # projection — the old inline `toks` Column was re-evaluated once
    # per referencing expression (dl + one per term = 4 tokenizer runs
    # per row; F.filter is CodegenFallback, so codegen-level
    # subexpression elimination never sees it); (2) `base` is
    # localCheckpoint'd — it feeds BOTH the corpus-stats aggregate and
    # the scoring projection, and without the checkpoint the whole
    # scan+tokenize subtree ran twice; (3) fan_out spreads the
    # tokenize across cores on a single-file scan (no-op at scale).
    # base is (id, dl, tf_0..n) — a few longs per document, so the
    # checkpoint is tiny at any corpus size.  Measured 4.8s -> 0.6s at
    # sf1.0 with identical output.
    from ..plans.fanout import fan_out

    step = fan_out(df).select(
        F.col(id_col), _tokens_col(text_col).alias("_tk"))
    tk = F.col("_tk")
    base = step.select(
        F.col(id_col),
        F.size(tk).alias("dl"),
        *[
            F.size(F.filter(tk, _eq(t))).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    ).localCheckpoint(eager=True)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(terms)):
        idf = F.log(
            1
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}")
        score = score + idf * (
            tf * (k1 + 1)
            / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
        )
    ranked = (
        scored.select(F.col(id_col), F.round(score, 6).alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(topk)
    )
    rank = F.row_number().over(
        Window.orderBy(F.col("score").desc(), F.col(id_col))
    )
    return ranked.withColumn("rank", rank.cast("int"))
