import difflib

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mistocksync_spark.operators.fuzzy import (
    _bounded_partition_scorer,
    annotate_new_items_with_fuzzy,
    fuzzy_best_match,
)


def _cand(spark, rows):
    return spark.createDataFrame(rows, "supplier_index long, name string, price_usd double")


def _base(spark, rows):
    return spark.createDataFrame(rows, "row_id long, name string, price double, article string, color string")


BASE_ROWS = [
    (0, "Повербанк GREENOE Power bank 60000mah (C60)", 100.0, "a0", "black"),
    (1, "Повербанк GREENOE Power bank 20000mah (C20)", 50.0, "a1", "white"),
    (2, "Кабель Type-C 1m черный", 5.0, "a2", None),
    (3, "Чайник электрический", 30.0, "a3", "white"),
]


def test_fuzzy_match_full_batch_end_to_end(spark, sf_dir):
    """The COMPLETE registered fuzzy batch (no sampling) vs a literal
    replica of the reference's nested difflib loop (main.py:2874-2898)
    over the same oracle-checked inputs — closes the gap left by the
    rows-only driver check."""
    import difflib
    import re

    from mistocksync_spark.plans.queries import QUERIES, base_feed

    got = {
        r["supplier_index"]: (r["base_index"], round(r["similarity_ratio"], 9))
        for r in QUERIES["fuzzy_match"](spark, sf_dir).collect()
    }

    cands = [
        (r["supplier_index"], re.sub(r"^\s+|\s+$", "", str(r["name"])))
        for r in QUERIES["new_items_for_base"](spark, sf_dir).collect()
        if r["name"] is not None
    ]
    bases = sorted(
        (r["row_id"], re.sub(r"^\s+|\s+$", "", str(r["name"])))
        for r in base_feed(spark, sf_dir).select("row_id", "name").collect()
        if r["name"] is not None
    )
    bases = [(i, n) for i, n in bases if n != ""]

    want = {}
    for ci, cname in cands:
        best_r, best_i = 0.0, None
        for bi, bname in bases:  # ascending row order + strict > == first-wins
            r = difflib.SequenceMatcher(None, cname.lower(), bname.lower()).ratio()
            if r > best_r:
                best_r, best_i = r, bi
        if best_i is not None and best_r >= 0.33:
            want[ci] = (best_i, round(best_r, 9))

    assert len(got) > 0
    assert got == want


def test_fuzzy_matches_difflib_exactly(spark):
    cands = [(0, "Повербанк GREENOE Power bank 60000mah", 90.0)]
    out = fuzzy_best_match(_cand(spark, cands), _base(spark, BASE_ROWS)).collect()
    assert len(out) == 1
    best = out[0]
    # independently compute the expected best ratio with difflib
    expected = max(
        difflib.SequenceMatcher(None, cands[0][1].lower(), b[1].lower()).ratio()
        for b in BASE_ROWS
    )
    assert abs(best.similarity_ratio - expected) < 1e-12
    assert best.base_index == 0


def test_fuzzy_threshold(spark):
    cands = [(0, "zzzz qqqq xxxx", 1.0)]
    out = fuzzy_best_match(_cand(spark, cands), _base(spark, BASE_ROWS)).collect()
    assert out == []


def test_fuzzy_tie_break_first_row(spark):
    base = _base(
        spark,
        [(0, "abcd", 1.0, "a0", None), (1, "abcd", 2.0, "a1", None)],
    )
    out = fuzzy_best_match(_cand(spark, [(0, "abcd", 1.0)]), base).collect()
    # equal ratios → first base row wins (strict > in the reference loop)
    assert out[0].base_index == 0


def test_annotate_new_items(spark):
    new_items = spark.createDataFrame(
        [(0, "Повербанк GREENOE Power bank 60000mah", 90.0, "n1"),
         (1, "жжжжж ыыыыы ёёёёё", 1.0, "n2")],
        "supplier_index long, name string, price_usd double, article string",
    )
    out = {r.supplier_index: r for r in annotate_new_items_with_fuzzy(
        new_items, _base(spark, BASE_ROWS)
    ).collect()}
    assert out[0].fuzzy_match_name.startswith("Повербанк GREENOE")
    assert out[0].fuzzy_match_row == "2"  # base row 0 + 2 header offset
    assert out[0].fuzzy_match_price == "$100.00"
    assert out[1].fuzzy_match_name == ""
    assert out[1].fuzzy_match_similarity == 0.0


def test_bounded_blocking_exact_parity(spark):
    """blocking='bounded' (upper-bound-pruned mapInPandas scorer) must agree
    with the exhaustive path pair-for-pair: same best rows, same ratios, same
    tie-breaks — including the equal-ratio/lowest-index case."""
    base = _base(
        spark,
        BASE_ROWS
        + [(4, "abcd", 1.0, "a4", None), (5, "abcd", 2.0, "a5", None)],
    )
    cands = _cand(
        spark,
        [
            (0, "Повербанк GREENOE Power bank 60000mah", 90.0),
            (1, "abcd", 1.0),  # ties rows 4/5 → lowest base_index must win
            (2, "zzzz qqqq xxxx", 1.0),  # below threshold → absent
            (3, "Кабель Type-C 2m черный", 4.0),
        ],
    )
    key = lambda rows: sorted(
        (r.supplier_index, r.base_index, r.similarity_ratio, r.base_name, r.base_price)
        for r in rows
    )
    exact = fuzzy_best_match(cands, base, blocking="none").collect()
    bounded = fuzzy_best_match(cands, base, blocking="bounded").collect()
    assert key(exact) == key(bounded)
    assert {r.supplier_index for r in bounded} == {0, 1, 3}
    assert next(r.base_index for r in bounded if r.supplier_index == 1) == 4


_name = st.text(alphabet="abcабв 0-", min_size=0, max_size=12)


@settings(max_examples=300, deadline=None)
@given(
    cnames=st.lists(_name, min_size=1, max_size=5),
    bnames=st.lists(_name, min_size=1, max_size=12),
    threshold=st.sampled_from([0.2, 0.33, 0.6, 0.9]),
    batch_split=st.integers(min_value=1, max_value=3),
)
def test_bounded_scorer_property_parity(cnames, bnames, threshold, batch_split):
    """The upper-bound-pruned scorer (pure Python, no Spark) must equal the
    literal reference nested loop on arbitrary strings — tiny alphabet so
    hypothesis hits equal-ratio ties, chars outside the candidate alphabet,
    empty strings, and multi-batch partition state."""
    cand_rows = [
        {
            "supplier_index": i,
            "supplier_name": n,
            "supplier_price": float(i),
            "supplier_article": f"a{i}",
            "supplier_color": None,
        }
        for i, n in enumerate(cnames)
    ]
    score = _bounded_partition_scorer(cand_rows, threshold)

    # the scorer only ever sees prefiltered base rows (_prep_sides drops
    # base_name == '' — same contract as every other fuzzy path); keep the
    # original indices so tie-breaks still reference real row ids
    kept = [(j, n) for j, n in enumerate(bnames) if n != ""]
    base = pd.DataFrame(
        {
            "base_index": [j for j, _ in kept],
            "base_name": [n for _, n in kept],
            "base_price": [float(j) for j, _ in kept],
            "base_article": [f"b{j}" for j, _ in kept],
            "base_color": [None] * len(kept),
        }
    )
    # one partition, possibly several Arrow-style batches
    step = max(1, len(base) // batch_split)
    batches = [base.iloc[k : k + step] for k in range(0, len(base), step)]
    got = {}
    for out in score(batches):
        for r in out.itertuples():
            got[r.supplier_index] = (r.base_index, round(r.similarity_ratio, 12))

    want = {}
    for ci, cname in enumerate(cnames):
        best_r, best_i = 0.0, None
        for bi, bname in kept:  # ascending + strict > == first-wins
            r = difflib.SequenceMatcher(None, cname.lower(), bname.lower()).ratio()
            if r > best_r:
                best_r, best_i = r, bi
        if best_i is not None and best_r >= threshold:
            want[ci] = (best_i, round(best_r, 12))
    assert got == want


def test_ngram_blocking_agrees_on_realistic_names(spark):
    cands = _cand(spark, [(0, "Повербанк GREENOE Power bank 60000mah", 90.0)])
    exact = fuzzy_best_match(cands, _base(spark, BASE_ROWS), blocking="none").collect()
    blocked = fuzzy_best_match(cands, _base(spark, BASE_ROWS), blocking="ngram").collect()
    assert [(r.supplier_index, r.base_index, r.similarity_ratio) for r in exact] == [
        (r.supplier_index, r.base_index, r.similarity_ratio) for r in blocked
    ]


def test_candidate_pairs_rejects_unknown_blocking(spark):
    """``fuzzy_candidate_pairs`` serves only the cross-join shapes; a
    blocking it does not implement raises instead of silently running a
    full cross join."""
    from mistocksync_spark.operators.fuzzy import fuzzy_candidate_pairs

    cands = _cand(spark, [(0, "Повербанк GREENOE Power bank 60000mah", 90.0)])
    for blocking in ("ngram", "bounded", "nonsense"):
        with pytest.raises(ValueError, match="blocking"):
            fuzzy_candidate_pairs(cands, _base(spark, BASE_ROWS), blocking=blocking)
    assert fuzzy_candidate_pairs(cands, _base(spark, BASE_ROWS), blocking="none").count() > 0


def test_ngram_scale_path_full_batch_parity(spark, sf_dir):
    """The 100×-scale ngram equi-join path must return the SAME matches as
    the exact bounded path on the FULL registered candidate batch — the
    switchover is a recorded bench number (BASELINE.md) and this pins that
    it trades plan shape, not answers."""
    from mistocksync_spark.plans.queries import QUERIES

    key = lambda rows: [
        (r.supplier_index, r.base_index, round(r.similarity_ratio, 12))
        for r in rows
    ]
    exact = QUERIES["fuzzy_match"](spark, sf_dir).collect()
    ngram = QUERIES["fuzzy_match_ngram"](spark, sf_dir).collect()
    assert len(exact) > 0
    assert key(exact) == key(ngram)
