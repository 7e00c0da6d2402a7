"""Unit + property tests for the two pandas-UDF scalar functions (F1/F2)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spotify_tags_etl_spark.functions.text import indel_ratio, normalize_text


def _lcs_brute(a: str, b: str) -> int:
    dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            dp[i][j] = dp[i - 1][j - 1] + 1 if a[i - 1] == b[j - 1] else max(dp[i - 1][j], dp[i][j - 1])
    return dp[-1][-1]


def _ratio_brute(a: str, b: str) -> float:
    total = len(a) + len(b)
    if total == 0:
        return 100.0
    return round((1.0 - (total - 2 * _lcs_brute(a, b)) / total) * 100.0, 4)


class TestNormalize:
    def test_deaccent(self):
        assert normalize_text("Björk") == "Bjork"
        assert normalize_text("Ólafur Brekka") == "Olafur Brekka"
        # Deaccent runs before the strip and the collapse: a lone combining
        # mark between spaces leaves one space, and a char whose NFD form is
        # a stripped symbol (GREEK QUESTION MARK -> ';') is stripped.
        assert normalize_text("a \u0301 b") == "a b"
        assert normalize_text("a\u037e") == "a"

    def test_symbol_strip_keeps_comma_dot_colon_dash(self):
        assert normalize_text("Sallie Ford & The Sound Outside") == "Sallie Ford The Sound Outside"
        assert normalize_text("No.8 in F-major, Op.93: II.") == "No.8 in F-major, Op.93: II."

    def test_whitespace_collapse_and_trim(self):
        assert normalize_text("  a   b\t c ") == "a b c"

    def test_null(self):
        assert normalize_text(None) is None

    @given(st.text(max_size=50))
    @settings(max_examples=200, deadline=None)
    def test_idempotent(self, s):
        once = normalize_text(s)
        assert normalize_text(once) == once


class TestIndelRatio:
    def test_identical(self):
        assert indel_ratio("abc", "abc") == 100.0

    def test_disjoint(self):
        assert indel_ratio("abc", "xyz") == 0.0

    def test_known_value(self):
        # lens 4+4=8, LCS("abcd","abce")=3 → dist=2 → (1-2/8)*100
        assert indel_ratio("abcd", "abce") == 75.0

    def test_empty(self):
        assert indel_ratio("", "") == 100.0
        assert indel_ratio("a", "") == 0.0

    def test_null(self):
        assert indel_ratio(None, "x") == 0.0

    @given(st.text(max_size=25), st.text(max_size=25))
    @settings(max_examples=200, deadline=None)
    def test_matches_bruteforce_and_symmetric(self, a, b):
        r = indel_ratio(a, b)
        assert r == _ratio_brute(a, b)
        assert r == indel_ratio(b, a)
        assert 0.0 <= r <= 100.0


@pytest.mark.parametrize(
    ("a", "b", "expected"),
    [
        ("velvet harbor", "velvet harbour", _ratio_brute("velvet harbor", "velvet harbour")),
        ("quiet atlas", "quiet atlas", 100.0),
    ],
)
def test_ratio_examples(a, b, expected):
    assert indel_ratio(a, b) == expected
