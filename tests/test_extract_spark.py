"""Distributed-vs-oracle equality: the Spark pipeline's per-turn
Markdown must be byte-equal to the pure-Python kernel oracle run on the
driver, for every payload case, under stable (conv_id, turn_idx) order.
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from tool_documentsconverter_spark import kernels as K
from tool_documentsconverter_spark.functions.sniff import sniff_format as sniff_col
from tool_documentsconverter_spark.functions.markdown import wrap_text_md
from tool_documentsconverter_spark.functions.text import turn_stem
from tool_documentsconverter_spark.operators.extract import extract
from tool_documentsconverter_spark.sources.transcripts import synth_transcripts

N_TURNS = 300


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, N_TURNS)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def extracted(transcripts):
    out = extract(transcripts, hint_col="fmt_hint")
    out.cache().count()
    return out


def test_synth_shape(transcripts):
    rows = transcripts.collect()
    assert len(rows) == N_TURNS
    # contiguous turn_idx per conversation
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append(r.turn_idx)
    for conv, idxs in by_conv.items():
        assert sorted(idxs) == list(range(len(idxs))), conv
    # oversized conversation exists (~30%)
    assert len(by_conv["conv-00000"]) >= 0.25 * N_TURNS


def test_extract_matches_oracle_per_turn(spark, transcripts, extracted):
    result = {(r.conv_id, r.turn_idx): r for r in extracted.collect()}
    inputs = transcripts.collect()
    assert len(result) == len(inputs)
    for r in inputs:
        md, status, message = K.extract_turn(
            r.conv_id, r.turn_idx, r.text, fmt_hint=r.fmt_hint
        )
        got = result[(r.conv_id, r.turn_idx)]
        assert got.md == md, (r.conv_id, r.turn_idx, r.fmt_hint)
        assert got.status == status
        assert got.message == message


def test_all_payload_cases_present(extracted):
    fmts = {r.fmt for r in extracted.select("fmt").distinct().collect()}
    assert {"text", "pdf", "docx", "html", "doc"} <= fmts


def test_failed_rows_isolated_not_fatal(extracted):
    counts = {r.status: r.cnt for r in
              extracted.groupBy("status").agg(F.count("*").alias("cnt")).collect()}
    assert counts.get("failed", 0) > 0      # P9 rows failed...
    assert counts.get("ok", 0) > 0          # ...but the job completed


def test_column_wrap_matches_kernel_wrap(spark):
    """The codegen'd pure-column emitter must be byte-identical to the
    Python kernel for the E8 template."""
    rows = [("conv-1", 0, "hello\nworld"), ("c/2", 3, ""), ("c", 7, "中文 🚀")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = df.select(
        "conv_id", "turn_idx",
        wrap_text_md(turn_stem(F.col("conv_id"), F.col("turn_idx")),
                     F.col("text")).alias("md"),
    ).collect()
    expected = {
        (c, t): K.wrap_text_md(K.turn_stem(c, t), x) for c, t, x in rows
    }
    for r in got:
        assert r.md == expected[(r.conv_id, r.turn_idx)]


@settings(max_examples=80, deadline=None)
@given(
    payload=st.text(max_size=200),
    hint=st.sampled_from(["", "text", "pdf", "docx", "html", "doc", "xlsx"]),
)
def test_sniff_hypothesis_collects(payload, hint):
    """Property cases feed the batch equality check below."""
    _SNIFF_CASES.append((payload, hint))


_SNIFF_CASES = [
    ("%PDF-1.4", ""),
    ("  <!doctype HTML>", ""),
    ('<?xml?><w:document xmlns:w="x"><w:body/></w:document>', ""),
    ("<?xml?><note>hi</note>", ""),
    ("plain", "doc"),
    ("plain", "html"),
    # leading non-space whitespace: F.ltrim strips only spaces, the
    # kernel's lstrip() strips all of it — these two diverged once
    ("\n<!DOCTYPE html><html>x</html>", ""),
    ('\t<?xml?><w:document xmlns:w="x"><w:t>hi</w:t></w:document>', ""),
    ("\r\n  <html><body>y</body></html>", ""),
    # legacy OLE2 magic (latin-1 text form)
    ("\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1garbage", ""),
    ("\xd0\xcf\x11not-quite-magic", ""),
    # Unicode whitespace before the magic: Java regex \s is ASCII-only,
    # str.lstrip() is not — both paths must strip the full isspace() set
    ("\xa0<!DOCTYPE html><html>x", ""),
    ("  <html><body>y", ""),
    ("　  <?xml version='1.0'?><w:document><w:body/>", ""),
    ("\x85 <!doctype html>", ""),
    ("  <html>", ""),
    ("\x1c\x1d\x1e\x1f<!DOCTYPE html>", ""),
]


def test_sniff_batch(spark):
    df = spark.createDataFrame(_SNIFF_CASES, "text string, fmt_hint string")
    got = df.select("text", "fmt_hint",
                    sniff_col(F.col("text"), F.col("fmt_hint")).alias("fmt")).collect()
    for r in got:
        assert r.fmt == K.sniff_format(r.text, r.fmt_hint), (r.text[:40], r.fmt_hint)


def test_vectorized_text_md_edge_stems():
    """The pyarrow.compute fast path (_text_md_vec) must match the
    kernel template byte-for-byte on every stem edge case: sanitize
    blacklist chars, Unicode-whitespace padding (str.strip set, wider
    than Arrow's default trim), >5-digit turn_idx (Spark's lpad
    truncates — Arrow's must not), null text, and null conv_id (the
    kernel f-string renders None)."""
    import pyarrow as pa

    from tool_documentsconverter_spark.operators.extract import _text_md_vec

    cases = [
        ("conv-a", 3, "hello"),
        ('we?ird/con\\v:id*"<>|', 42, "x"),
        ("  　padded  ", 7, "t"),
        ("conv-big", 1234567, "big idx"),          # no lpad truncation
        ("conv-null-text", 9, None),
        (None, 5, "null conv"),
    ]
    conv = pa.array([c[0] for c in cases], type=pa.string())
    turn = pa.array([c[1] for c in cases], type=pa.int32())
    text = pa.array([c[2] for c in cases], type=pa.string())
    got = _text_md_vec(conv, turn, text).to_pylist()
    for (c, t, x), g in zip(cases, got):
        want = K.wrap_text_md(K.turn_stem(c, t), x if x is not None else "")
        assert g == want, (c, t, x)


def test_edge_keys(spark):
    """Review findings r5: (a) 6-digit and negative turn_idx must not
    be truncated/mangled (F.lpad truncates — the vectorized stem must
    not); (b) a NULL fmt row must reach the output, classified per-row
    by the structured dispatch; (c) a NULL turn_idx on a text row is a
    per-row failure, not a silent 'ok'-with-null-md and not a task
    crash."""
    from pyspark.sql import types as T

    rows = [
        ("c", 123456, "six digits", None),
        ("c", -12, "negative", None),
        ("c", 7, "null fmt", "text"),       # fmt column set below
        ("c", None, "null idx", None),
        (None, 9, "null conv", None),
        # ADVICE r5: conv_id padded with NON-ASCII whitespace (nbsp,
        # ideographic space, \x1c) — Java \s would leave it, Python
        # str.strip() removes it; extraction must produce the stripped
        # stem byte-for-byte
        ("\xa0　c-uni\x1c ", 11, "unicode ws conv", None),
    ]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("fmt_in", T.StringType()),
    ])
    df = spark.createDataFrame(rows, schema)
    # user-supplied fmt column with a NULL (row 3 keeps 'text', the
    # rest NULL) — exercises the null-fmt routing
    df = df.withColumn(
        "fmt",
        F.when(F.col("turn_idx") == 7, F.lit("text")).otherwise(
            F.when(F.col("turn_idx").isNotNull() | F.col("conv_id").isNotNull(),
                   F.lit("text")))
    ).drop("fmt_in")

    got = {(r.conv_id, r.turn_idx): r for r in extract(df).collect()}
    assert len(got) == 6, "rows dropped"
    assert got[("c", 123456)].md == K.wrap_text_md(
        K.turn_stem("c", 123456), "six digits")
    assert got[("c", -12)].md == K.wrap_text_md(
        K.turn_stem("c", -12), "negative")
    assert got[("c", 7)].status == "ok"
    nulled = got[("c", None)]
    assert nulled.status == "failed" and nulled.md is None
    assert got[(None, 9)].md == K.wrap_text_md(
        K.turn_stem(None, 9), "null conv")
    uni = got[("\xa0　c-uni\x1c ", 11)]
    assert uni.md == K.wrap_text_md(
        K.turn_stem("\xa0　c-uni\x1c ", 11), "unicode ws conv")
    assert "\xa0" not in uni.md and "　" not in uni.md


def test_time_budget_cuts_off_slow_batch(monkeypatch):
    """SURVEY §2.11 O8(c): a pathological payload must not hold a task
    hostage — once the batch's wall clock crosses time_budget_s, the
    remaining structured rows become status='failed' timeout rows
    WITHOUT entering the kernel.  Driven directly (no Spark): the
    extractor is a plain generator over RecordBatches, and the slow
    kernel is monkeypatched in-process."""
    import time as _time

    import pyarrow as pa

    from tool_documentsconverter_spark.operators.extract import (
        _make_extractor,
    )

    entered = []

    def slow_kernel(conv_id, turn_idx, text, fmt_hint=""):
        entered.append(turn_idx)
        _time.sleep(0.05)
        return ("# slow\n", K.OK, "")

    monkeypatch.setattr(K, "extract_turn", slow_kernel)
    batch = pa.RecordBatch.from_pydict({
        "conv_id": pa.array(["c"] * 6, type=pa.string()),
        "turn_idx": pa.array(list(range(6)), type=pa.int32()),
        "text": pa.array(["<html><body>x</body></html>"] * 6,
                         type=pa.string()),
        "fmt": pa.array(["html"] * 6, type=pa.string()),
    })
    out = next(_make_extractor(time_budget_s=0.08)(iter([batch])))
    names = out.schema.names
    status = out.column(names.index("status")).to_pylist()
    message = out.column(names.index("message")).to_pylist()
    md = out.column(names.index("md")).to_pylist()
    # the first row started inside the budget and completed
    assert status[0] == K.OK and md[0] == "# slow\n"
    # at least one later row was cut off: failed, never entered the
    # kernel, with the timeout message (and the task COMPLETED — this
    # very assertion is the no-hang evidence)
    cut = [i for i, s in enumerate(status) if s == K.FAILED]
    assert cut, status
    for i in cut:
        assert "time budget" in message[i] and md[i] is None
        assert i not in entered
    # unlimited (default None) runs every row
    entered.clear()
    out2 = next(_make_extractor()(iter([batch])))
    st2 = out2.column(out2.schema.names.index("status")).to_pylist()
    assert st2 == [K.OK] * 6 and entered == list(range(6))


def test_time_budget_plumbs_through_spark(spark):
    """extract(time_budget_s=0) through a real mapInArrow stage: every
    structured row is a budget-failed row, the vectorized text rows
    are unmetered and stay ok, and the job finishes (per-row failure,
    not task abort)."""
    df = spark.createDataFrame(
        [("c", 0, "plain text"),
         ("c", 1, "<html><body>hi</body></html>"),
         ("c", 2, "%PDF-1.4 broken")],
        "conv_id string, turn_idx int, text string")
    got = {r.turn_idx: r
           for r in extract(df, time_budget_s=0.0).collect()}
    assert got[0].status == K.OK
    for i in (1, 2):
        assert got[i].status == K.FAILED, got[i]
        assert "time budget" in got[i].message
