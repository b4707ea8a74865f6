"""Pure-column Markdown emitters (SURVEY.md §2.4).

Column twins of the kernel templates: they compile to codegen'd
Catalyst `concat` expressions, for queries that build Markdown without
an Arrow stage.  The extraction stage itself emits with pyarrow.compute
(operators/extract.py).  Byte-compatibility with kernels.wrap_text_md
is enforced by tests.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def wrap_text_md(stem: Column, text: Column) -> Column:
    """Column twin of kernels.wrap_text_md — the E8 template
    `# {stem}\\n\\n```text\\n{text}\\n```\\n`
    (doc_to_md/pdf_converter.py:30-35, main.py:395-403)."""
    return F.concat(
        F.lit("# "), stem, F.lit("\n\n```text\n"),
        F.coalesce(text, F.lit("")), F.lit("\n```\n"),
    )


def verify_markdown(md: Column) -> Column:
    """Column twin of kernels.verify_markdown — the D2 gate
    (delete_manager.py:102-130): non-null, length > 0, first 1KB
    non-blank.  NB: `rlike('\\S')`, not `trim != ''` — SQL trim strips
    only spaces whereas the reference's Python .strip() strips ALL
    whitespace."""
    return (
        md.isNotNull()
        & (F.length(md) > 0)
        & F.substring(md, 1, 1024).rlike(r"\S")
    )
