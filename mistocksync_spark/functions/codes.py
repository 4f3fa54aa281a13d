"""Product-code / capacity extractors (reference parity: C3, C4, C5, C6).

Native column expressions throughout — regexp_extract / regexp_extract_all /
higher-order ``filter`` keep everything JVM-side and codegen-friendly.  Each
extractor is written as Spark SQL text and parsed with one ``F.expr``:
building the same tree through the Column API costs one py4j round trip per
node (~200 ms for ``product_code_unified``), the parse well under 1 ms.  The
extractors take the SQL text of their input — a column name such as
``name``, or an expression such as ``CAST(`article_vitya` AS STRING)``.

Reference semantics re-derived from /root/reference/main.py:1591-1638
(find_product_code_in_name), 1640-1666 (find_product_code_in_brackets),
1668-1710 (find_battery_capacity), 1712-1750 (find_product_code_unified).

Note on word boundaries: the ordered code patterns use ``\\b``.  Java's
boundary determination is empirically Unicode-aware like Python's ``re``
(Cyrillic letters are word chars in both), so the Spark extractor matches
the reference EXACTLY, including on cross-script islands like 'яC60'
(no boundary → no match in both; pinned by tests/test_property_codes.py).
The explicit character classes on the Cyrillic pattern keep the DuckDB
oracle (RE2, ASCII ``\\b``) aligned for that pattern; RE2's ASCII
boundary on the LATIN patterns diverges only on cross-script islands,
which the synthetic corpus does not contain (oracle hash-matches prove
it).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BRANDS = ["GREENOE", "XIAOMI", "SAMSUNG", "APPLE", "HUAWEI", "OPPO", "VIVO", "ONEPLUS"]

CODE_STOPLIST = ["USB-C", "POWER", "PORTABLE", "CHARGER", "BANK"]

# Ordered patterns, highest priority first (ref main.py:1599-1612).
CODE_PATTERNS = [
    r"\b[A-Z0-9]+(?:-[A-Z0-9]+)+\b",        # dashed codes: AC-M25-SC, P27QDA-RGP
    r"\b[A-Z]{2,}[0-9]{2,}[A-Z]*\b",         # letters-digits(-letters): MJKDDYJ02HT
    r"\b[0-9]{3,}[A-Z]{1,3}\b",              # digits-letters: 123XM
    r"\b[A-Z][0-9]{4,}[A-Z][0-9]+\b",        # M2319E1-style
    r"\b[A-Z]{4,8}\b",                       # 4-8 uppercase letters (brand-like)
    r"\b[A-Z][0-9]{1,3}\b",                  # C60, D30
    r"(?:^|[^A-Za-z0-9_А-Яа-я])([А-Я][0-9]{1,3})(?:$|[^A-Za-z0-9_А-Яа-я])",  # Cyrillic С20
]

CAPACITY_PATTERNS = [r"(\d+)\s*mah", r"(\d+)mah", r"(\d+)\s*мач", r"(\d+)мач", r"(\d+)\s*мч", r"(\d+)мч"]


def _raw(pattern: str) -> str:
    """A Spark SQL raw string literal: backslashes reach the regex engine
    as written."""
    return f"r'{pattern}'"


def _bracket_sql(name: str) -> str:
    code = rf"upper(regexp_replace(regexp_extract({name}, r'\(([^)]+)\)', 1), r'^\s+|\s+$', ''))"
    ok = rf"{code} RLIKE r'^[A-Za-zА-Яа-я0-9\-]+$' AND length({code}) >= 4"
    return f"CASE WHEN {ok} THEN {code} ELSE CAST(NULL AS STRING) END"


def bracket_code(name: str) -> Column:
    """First parenthesized token, uppercased; valid only if it is purely
    [Latin|Cyrillic|digit|-] and length ≥ 4 (ref main.py:1640-1666)."""
    return F.expr(_bracket_sql(name))


# Exclusion rules applied to each candidate match ``m`` (ref
# main.py:1617-1633): spec-like tokens (mah/w/wh/ma), ≥5-digit pure numbers,
# and the stoplist.
_STOPLIST_SQL = ", ".join(f"'{s}'" for s in CODE_STOPLIST)
_NOT_EXCLUDED = (
    r"NOT (lower(m) RLIKE r'^\d+mah$|^\d+w$|^\d+wh$|^\d+ma$')"
    r" AND NOT (m RLIKE r'^\d{5,}$')"
    f" AND NOT (m IN ({_STOPLIST_SQL}))"
)


def _name_code_sql(name: str) -> str:
    # get() is null-safe on the empty array, so ONE instance of the
    # regexp_extract_all+filter tree per pattern suffices — a
    # `CASE WHEN size(X) > 0 THEN element_at(X, 1)` form would evaluate the
    # whole regex pipeline twice per pattern in codegen
    per_pattern = [
        f"get(filter(regexp_extract_all(upper({name}), {_raw(pat)}, "
        f"{1 if i == len(CODE_PATTERNS) - 1 else 0}), m -> {_NOT_EXCLUDED}), 0)"
        for i, pat in enumerate(CODE_PATTERNS)
    ]
    return (
        f"CASE WHEN {name} IS NULL THEN CAST(NULL AS STRING) "
        f"ELSE coalesce({', '.join(per_pattern)}) END"
    )


def product_code_in_name(name: str) -> Column:
    """Ordered multi-pattern extractor: for each pattern (priority order) take
    the first match that survives the exclusion rules (ref main.py:1591-1638)."""
    return F.expr(_name_code_sql(name))


def battery_capacity(name: str) -> Column:
    """Battery capacity (mAh) as a **string** of the captured digits.

    For each pattern in order, the *first* match is range-checked
    (5 ≤ v ≤ 999999); out-of-range falls through to the next pattern
    (ref main.py:1668-1710).
    """
    candidates = []
    for pat in CAPACITY_PATTERNS:
        cap = f"nullif(regexp_extract(lower({name}), {_raw(pat)}, 1), '')"
        v = f"try_cast({cap} AS BIGINT)"
        candidates.append(f"CASE WHEN {v} >= 5 AND {v} <= 999999 THEN {cap} END")
    return F.expr(f"coalesce({', '.join(candidates)}, CAST(NULL AS STRING))")


def product_code_unified(name: str) -> Column:
    """Priority: bracket code → first known brand contained in the name →
    general name code if length ≥ 4 (ref main.py:1712-1750)."""
    brands = ", ".join(f"CASE WHEN contains(upper({name}), '{b}') THEN '{b}' END" for b in BRANDS)
    # Single instance of the (large) C5 expression: the length-guard is
    # applied via array filter instead of `CASE WHEN length(x) >= 4 ...`,
    # which would duplicate the whole expression tree in the generated code.
    name_code_ge4 = (
        f"get(filter(array({_name_code_sql(name)}), c -> c IS NOT NULL AND length(c) >= 4), 0)"
    )
    return F.expr(
        f"coalesce({_bracket_sql(name)}, coalesce({brands}, CAST(NULL AS STRING)), {name_code_ge4})"
    )
