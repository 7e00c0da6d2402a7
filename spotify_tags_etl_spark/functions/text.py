"""Text normalization + fuzzy similarity — the engine's only two pandas UDFs.

The reference's signature operator (SURVEY.md §2.3 J3) scores fuzzy
similarity between normalized names with ``rapidfuzz.fuzz.ratio``
(reference ``spotify_client.py:140-202``). Neither the deaccent step nor
the indel ratio has a Spark builtin (``levenshtein()`` is a different
metric — substitutions cost 1, while indel forbids them), so both are
Arrow-vectorized pandas UDFs. Everything around them (blocking, argmax,
threshold split) is built-in DataFrame algebra.

``fuzz.ratio`` semantics, implemented from the public definition:
``ratio = (1 - indel_distance(s1, s2) / (len1 + len2)) * 100`` where
``indel_distance = len1 + len2 - 2 * LCS(s1, s2)``.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType

# Symbols stripped by normalization (reference spotify_client.py:42 keeps
# only ,.:- of the punctuation set).
_STRIP_RE = re.compile(r"[!\"#$%&'()*+/;<=>?@\[\\\]^_`{|}~]")
_WS_RE = re.compile(r"\s+")


def normalize_text(text: str | None) -> str | None:
    """Deaccent, strip symbols (keep ``,.:-``), collapse whitespace, trim.

    Deaccent = Unicode NFD decomposition with combining marks dropped
    ('Björk' → 'Bjork'), matching reference ``spotify_client.py:181-202``.
    It runs first so the result is idempotent: dropping a mark can leave
    two spaces to collapse ('a \u0301 b'), and NFD can produce a stripped
    symbol ('\u037e', GREEK QUESTION MARK, decomposes to ';').
    """
    if text is None:
        return None
    out = unicodedata.normalize("NFD", text)
    out = "".join(ch for ch in out if not unicodedata.combining(ch))
    out = _STRIP_RE.sub("", out)
    return _WS_RE.sub(" ", out).strip()


def _lcs_len(a: str, b: str) -> int:
    """Longest-common-subsequence length, numpy row-DP (O(len(a)) memory)."""
    if not a or not b:
        return 0
    # Iterate the SHORTER string in Python, vectorize the longer one as
    # the numpy row: interpreter iterations are the expensive part, wide
    # numpy rows are nearly free. Memory stays O(max(len)).
    if len(a) > len(b):
        a, b = b, a
    bn = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    prev = np.zeros(len(bn) + 1, dtype=np.int32)
    for ch in a:
        # dp[j] = max(prev[j], dp[j-1], prev[j-1] + match[j]); the dp[j-1]
        # term is a running prefix-max, so the row vectorizes.
        match = (bn == ord(ch)).astype(np.int32)
        new = np.empty_like(prev)
        new[0] = 0
        np.maximum(prev[1:], prev[:-1] + match, out=new[1:])
        np.maximum.accumulate(new, out=new)
        prev = new
    return int(prev[-1])


def indel_ratio(s1: str | None, s2: str | None) -> float:
    """``fuzz.ratio`` parity: normalized indel similarity × 100, 4 dp."""
    if s1 is None or s2 is None:
        return 0.0
    total = len(s1) + len(s2)
    if total == 0:
        return 100.0
    dist = total - 2 * _lcs_len(s1, s2)
    return round((1.0 - dist / total) * 100.0, 4)


@pandas_udf(StringType())
def normalize_udf(texts: pd.Series) -> pd.Series:
    return texts.map(normalize_text)


@pandas_udf(DoubleType())
def ratio_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    return pd.Series(
        [indel_ratio(a, b) for a, b in zip(left, right)],
        index=left.index,
        dtype="float64",
    )
