"""Trafilatura-style HTML boilerplate removal, Arrow-vectorized.

The per-row invariant demanded by the north rule: ``extract_text(html) ==
text`` byte-identically for every url.  The extractor is deterministic and
self-contained (regex chrome-stripping + entity unescape), runs as a scalar
pandas UDF over Arrow batches — never per-row Python at the Spark layer.

At 100 TB this stage is embarrassingly parallel (no shuffle); partition
sizing comes from ``spark.sql.files.maxPartitionBytes`` on the parquet scan,
and the ``html`` column is pruned immediately after this projection so no
downstream stage ever rereads page bytes.
"""

from __future__ import annotations

import html as html_mod
import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Chrome elements removed wholesale (boilerplate). DOTALL: blocks span lines.
_CHROME_RE = re.compile(
    r"<(script|style|nav|header|aside|footer)\b[^>]*>.*?</\1>",
    re.IGNORECASE | re.DOTALL,
)
_P_RE = re.compile(r"<p\b[^>]*>(.*?)</p>", re.IGNORECASE | re.DOTALL)


def extract_text(html: bytes | str | None) -> str | None:
    """Strip boilerplate chrome, return the newline-joined content paragraphs."""
    if html is None:
        return None
    raw = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else html
    stripped = _CHROME_RE.sub("", raw)
    paragraphs = [html_mod.unescape(m) for m in _P_RE.findall(stripped)]
    return "\n".join(paragraphs)


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)
