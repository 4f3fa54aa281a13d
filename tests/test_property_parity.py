"""Property-based parity tests (hypothesis): the Spark column expressions
for the C2/C2b/C3/C6/C7 cleaners must agree with independent pure-Python
mirrors of the documented reference semantics (SURVEY.md §2.7) on arbitrary
inputs — far beyond the oracle corpus's value coverage.

The mirrors are written from the spec, not translated from the reference
code; they intentionally use a different style (straight-line Python) so a
disagreement means one side misread the spec.
"""

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# name-ish strings: latin/cyrillic words, digits, brackets, quotes, spaces
NAME_ALPHABET = st.sampled_from(
    list("ABCxyzАБВабв09 ()-'мAh") + ["mah", "МАЧ", "000", "nan", "  ", "XM-", "(P7Q)"]
)
name_strings = st.lists(NAME_ALPHABET, min_size=0, max_size=12).map("".join)
maybe_null = st.one_of(st.none(), name_strings)


def _mirror_prep(s):
    if s is None:
        return None
    s = re.sub(r"^\s+|\s+$", "", str(s))
    if s == "" or s.lower() == "nan":
        return None
    s = s.replace("'", "")
    if s.startswith("000"):
        s = s[3:]
    return s


def mirror_vitya(s):
    s = _mirror_prep(s)
    if s is None:
        return None
    digits = "".join(re.findall(r"\d+", s))
    if digits == "" or len(digits) > 18:  # try_cast overflow -> 0 like no-digits
        return 0
    return int(digits)


def mirror_dimi(s):
    s = _mirror_prep(s)
    return s if s else None


def mirror_color(s):
    if s is None:
        return ""
    s = re.sub(r"^\s+|\s+$", "", str(s)).lower()
    return "" if s in ("", "nan", "none") else s


def mirror_bracket(s):
    if s is None:
        return None
    m = re.search(r"\(([^)]+)\)", s)
    if not m:
        return None
    code = re.sub(r"^\s+|\s+$", "", m.group(1)).upper()
    if len(code) >= 4 and re.fullmatch(r"[A-Za-zА-Яа-я0-9\-]+", code):
        return code
    return None


def mirror_capacity(s):
    if s is None:
        return None
    low = s.lower()
    for pat in (r"(\d+)\s*mah", r"(\d+)mah", r"(\d+)\s*мач", r"(\d+)мач", r"(\d+)\s*мч", r"(\d+)мч"):
        m = re.search(pat, low)
        if m:
            v = int(m.group(1)) if len(m.group(1)) < 18 else None
            if v is not None and 5 <= v <= 999999:
                return m.group(1)
    return None


def _run(spark, values, expr):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r.out for r in df.select(expr(F.col("s")).alias("out")).collect()]


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(maybe_null, min_size=1, max_size=25))
def test_clean_article_vitya_matches_mirror(spark, values):
    from mistocksync_spark.functions.cleaning import clean_article_vitya

    assert _run(spark, values, clean_article_vitya) == [mirror_vitya(v) for v in values]


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(maybe_null, min_size=1, max_size=25))
def test_clean_article_dimi_matches_mirror(spark, values):
    from mistocksync_spark.functions.cleaning import clean_article_dimi

    assert _run(spark, values, clean_article_dimi) == [mirror_dimi(v) for v in values]


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(maybe_null, min_size=1, max_size=25))
def test_safe_color_matches_mirror(spark, values):
    from mistocksync_spark.functions.cleaning import safe_color

    assert _run(spark, values, safe_color) == [mirror_color(v) for v in values]


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(maybe_null, min_size=1, max_size=25))
def test_bracket_code_matches_mirror(spark, values):
    from mistocksync_spark.functions.codes import bracket_code

    assert _run(spark, values, lambda _: bracket_code("s")) == [mirror_bracket(v) for v in values]


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(maybe_null, min_size=1, max_size=25))
def test_battery_capacity_matches_mirror(spark, values):
    from mistocksync_spark.functions.codes import battery_capacity

    assert _run(spark, values, lambda _: battery_capacity("s")) == [mirror_capacity(v) for v in values]
