"""Deterministic HTML → text extraction.

``extract_text`` is the repo-local single-node reference implementation
(the oracle). ``extract_text_udf`` is its vectorized pandas-UDF twin used
in the Spark pipeline; both call the SAME pure function, so the per-url
byte-identity invariant (BASELINE.json input_hint) holds by construction
and is enforced by tests at two parallelism levels.

Determinism notes (SURVEY.md §7.3 "hard parts"):
- operate on ``bytes``; decode ONCE via a fixed fallback chain
  (mirrors the reference's encoding cascade utf-8 → utf-8-sig →
  cp1252 → latin-1, /root/reference/cli/io.py:12-32);
- a fixed, versioned entity table (no ``html.unescape`` — its behavior
  can drift across Python versions);
- whitespace collapse is a single deterministic regex pass.

No per-row Python in the Spark path: the UDF receives Arrow batches and
applies the function over a pandas Series (bytes objects); the hot loop
is the C regex engine.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fallback chain mirrors /root/reference/cli/io.py:12-32 (utf-8 →
# utf-8-sig → cp1252 → latin-1); latin-1 never fails, so decode is total.
_ENCODINGS = ("utf-8", "utf-8-sig", "cp1252", "latin-1")

# Blocks whose inner text is NOT content.
_RE_DROP_BLOCKS = re.compile(
    r"<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_RE_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
# Block-level tags become newlines so words don't fuse across elements.
_RE_BLOCK_TAG = re.compile(
    r"</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|header|"
    r"footer|nav|blockquote|pre|figure|main|aside|form)\b[^>]*>",
    re.IGNORECASE,
)
_RE_ANY_TAG = re.compile(r"<[^>]+>")
# Fixed entity table — versioned with the engine, never html.unescape.
_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}
_RE_ENTITY = re.compile("|".join(re.escape(k) for k in _ENTITIES))
_RE_NUM_ENTITY = re.compile(r"&#(\d{1,7});")
_RE_HSPACE = re.compile(r"[ \t\r\f\v]+")
_RE_VSPACE = re.compile(r" ?\n ?")
_RE_MULTI_NL = re.compile(r"\n{2,}")


def _decode(html: bytes) -> str:
    for enc in _ENCODINGS:
        try:
            return html.decode(enc)
        except UnicodeDecodeError:
            continue
    return html.decode("latin-1", errors="replace")  # unreachable; latin-1 is total


def _sub_num_entity(m: re.Match) -> str:
    cp = int(m.group(1))
    if 0 < cp < 0x110000 and not (0xD800 <= cp <= 0xDFFF):
        return chr(cp)
    return ""


def extract_text(html: bytes | None) -> str:
    """Single-node reference extractor: HTML bytes → visible text.

    Deterministic: same bytes in → same str out, on any platform.
    """
    if html is None:
        return ""
    s = _decode(bytes(html))
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_DROP_BLOCKS.sub(" ", s)
    s = _RE_BLOCK_TAG.sub("\n", s)
    s = _RE_ANY_TAG.sub(" ", s)
    s = _RE_ENTITY.sub(lambda m: _ENTITIES[m.group(0)], s)
    s = _RE_NUM_ENTITY.sub(_sub_num_entity, s)
    s = _RE_HSPACE.sub(" ", s)
    s = _RE_VSPACE.sub("\n", s)
    s = _RE_MULTI_NL.sub("\n", s)
    return s.strip()


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Vectorized twin of :func:`extract_text` (Arrow-batched)."""
    return html.map(extract_text)

