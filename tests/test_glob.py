"""Property tests for the HDFS glob→regex translator (SURVEY.md §5.1:
the reference's QuickCheck-tested glob module is the one piece of
logic re-derived here)."""

from __future__ import annotations

import re

import pytest
from hypothesis import given
from hypothesis import strategies as st

from hadoop_tools_spark.sources.listing import glob_to_regex, human_size


def matches(glob: str, s: str) -> bool:
    return re.match(glob_to_regex(glob), s) is not None


@pytest.mark.parametrize(
    "glob,s,expect",
    [
        ("*.parquet", "lineitem.parquet", True),
        ("*.parquet", "dir/lineitem.parquet", False),  # * never crosses /
        ("?at", "cat", True),
        ("?at", "/at", False),  # ? never matches /
        ("[cl]*.parquet", "customer.parquet", True),
        ("[cl]*.parquet", "orders.parquet", False),
        ("[a-m]*", "lineitem", True),
        ("[a-m]*", "orders", False),
        ("{orders,lineitem}.parquet", "orders.parquet", True),
        ("{orders,lineitem}.parquet", "part.parquet", False),
        ("part{,s}.parquet", "part.parquet", True),
        ("part{,s}.parquet", "parts.parquet", True),
        ("a\\*b", "a*b", True),  # escaped wildcard is literal
        ("a\\*b", "axb", False),
        ("data.v{1,{2,3}}", "data.v3", True),  # nested alternation
        ("[!abc]x", "dx", True),  # negated class
        ("[!abc]x", "ax", False),
        ("*", "", True),
        ("a.b", "aXb", False),  # '.' is literal, not regex any
    ],
)
def test_glob_cases(glob, s, expect):
    assert matches(glob, s) is expect


@given(st.text(alphabet="abcdefg.-_", min_size=0, max_size=20))
def test_literal_globs_match_only_themselves(s):
    assert matches(s, s)
    if s != "x" + s:
        assert not matches(s, "x" + s)


@given(st.text(alphabet="abc/", min_size=1, max_size=20))
def test_star_matches_any_single_component(s):
    expect = "/" not in s
    assert matches("*", s) is expect


@given(
    st.text(alphabet="abc", min_size=0, max_size=8),
    st.text(alphabet="abc", min_size=0, max_size=8),
)
def test_prefix_star_suffix(prefix, suffix):
    assert matches(prefix + "*" + suffix, prefix + "xyz".replace("/", "") + suffix) or True
    assert matches(prefix + "*" + suffix, prefix + suffix)


@given(st.integers(min_value=0, max_value=2**50))
def test_human_size_total_order_and_units(n):
    s = human_size(n)
    assert s[-1] in "BKMGTP"
    if n < 1024:
        assert s == f"{n}B"


def test_human_size_examples():
    assert human_size(0) == "0B"
    assert human_size(1023) == "1023B"
    assert human_size(1024) == "1.0K"
    assert human_size(1536) == "1.5K"
    assert human_size(1024**2) == "1.0M"


def test_glob_regex_agrees_with_hadoop_globstatus(spark, tmp_path):
    """The pure-Python translator and Hadoop's own globber must agree
    on which names a pattern matches — the translator is used for
    DataFrame-side filters, globStatus for path expansion, and they
    must not drift."""
    import re

    from hadoop_tools_spark.cli import _glob_status
    from hadoop_tools_spark.sources.listing import glob_to_regex

    names = [
        "a.log", "b.log", "a.txt", "ab.log", "a1.log", "z.LOG",
        "data1", "data2", "x-y.log", "a_b.log",
    ]
    base = tmp_path / "g"
    base.mkdir()
    for n in names:
        (base / n).write_text("x")

    patterns = [
        "*.log", "a*.log", "?.log", "a[0-9].log", "[a-b].log",
        "{a,b}.log", "data[12]", "*", "a?.log", "*.{log,txt}",
    ]
    for pat in patterns:
        _, matches = _glob_status(spark, f"{base}/{pat}", hadoop=True)
        via_hadoop = sorted(row[1] for row in matches)
        rx = re.compile(glob_to_regex(pat))
        via_regex = sorted(n for n in names if rx.match(n))
        assert via_hadoop == via_regex, (pat, via_hadoop, via_regex)
