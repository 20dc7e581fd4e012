"""Byte-identical OpenAIR extraction from page text (Spark-native).

The per-url invariant (north rule input_hint): the text between the
sentinel lines must be recovered byte-for-byte. Implemented entirely
with JVM-side string expressions (no Python), so Catalyst can prune
columns down to (url, text) at the parquet scan and the stage stays in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .corpus import BEGIN_SENTINEL, END_SENTINEL

# sentinel lines are matched exactly; (?s) lets the payload span lines.
# Non-greedy so multiple embedded sections per page each match.
_EXTRACT_RE = f"(?s){BEGIN_SENTINEL}\\n(.*?)\\n{END_SENTINEL}"


def extract_openair(pages: DataFrame) -> DataFrame:
    """pages -> (url, warc_ts, lang, openair_text), payload pages only.

    regexp_extract_all handles multiple embedded sections per page;
    sections are re-joined with the blank-line block separator, which is
    the OpenAIR block boundary, preserving byte-identity per section.
    """
    sections = F.expr(f"regexp_extract_all(text, '{_EXTRACT_RE}', 1)")
    return (
        pages
        .select("url", "warc_ts", "lang", sections.alias("sections"))
        .where(F.size("sections") > 0)
        .select(
            "url", "warc_ts", "lang",
            F.array_join("sections", "\n\n").alias("openair_text"),
        )
    )
