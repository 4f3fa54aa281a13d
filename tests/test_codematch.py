from mistocksync_spark.operators.codematch import bracket_code_match, product_code_match


def _sup(spark, rows):
    return spark.createDataFrame(
        rows, "row_id long, name string, color string, price_usd double, article_vitya string"
    )


def _base(spark, rows):
    return spark.createDataFrame(
        rows,
        "row_id long, name string, color string, price double, article string, "
        "article_vitya string, article_dimi string, article_mila string, "
        "price_vitya_usd double",
    )


def test_tier_priority_color_and_capacity(spark):
    # Base has 3 variants of code (XMUP21YM): the color+capacity exact match
    # must win even though it is not first in row order.
    sup = _sup(spark, [(0, "Увлажнитель (XMUP21YM) 5000mah", "Black", 10.0, "s1")])
    base = _base(
        spark,
        [
            (0, "Увлажнитель (XMUP21YM) 9000mah", "black", 20.0, "b0", None, None, None, 20.0),
            (1, "Увлажнитель (XMUP21YM) 5000mah", "white", 30.0, "b1", None, None, None, 30.0),
            (2, "Увлажнитель (XMUP21YM) 5000mah", "black", 40.0, "b2", None, None, None, 40.0),
        ],
    )
    out = bracket_code_match(sup, base, "article_vitya", "price_vitya_usd")
    # the b1–b4 lookups are broadcast build sides
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    m = out.collect()
    assert len(m) == 1
    assert m[0].base_article == "b2"
    assert m[0].color_match and m[0].capacity_match


def test_tier_priority_color_over_capacity(spark):
    sup = _sup(spark, [(0, "Увлажнитель (XMUP21YM) 5000mah", "Black", 10.0, "s1")])
    base = _base(
        spark,
        [
            (0, "Увлажнитель (XMUP21YM) 5000mah", "white", 20.0, "b0", None, None, None, 20.0),
            (1, "Увлажнитель (XMUP21YM) 9000mah", "black", 30.0, "b1", None, None, None, 30.0),
        ],
    )
    m = bracket_code_match(sup, base, "article_vitya", "price_vitya_usd").collect()
    assert m[0].base_article == "b1"
    assert m[0].color_match and not m[0].capacity_match


def test_tier_fallback_first_variant(spark):
    sup = _sup(spark, [(0, "Увлажнитель (XMUP21YM) 5000mah", "Red", 10.0, "s1")])
    base = _base(
        spark,
        [
            (1, "Увлажнитель (XMUP21YM) 9000mah", "white", 30.0, "b1", None, None, None, 30.0),
            (0, "Увлажнитель (XMUP21YM) 7000mah", "black", 20.0, "b0", None, None, None, 20.0),
        ],
    )
    m = bracket_code_match(sup, base, "article_vitya", "price_vitya_usd").collect()
    # no color/capacity match anywhere → first variant in base row order
    assert m[0].base_article == "b0"
    assert not m[0].color_match and not m[0].capacity_match


def test_base_codes_mined_from_article_columns(spark):
    # supplier bracket code matches a bracketed code found in
    # base.article_dimi, not the name (the reference applies the *bracket*
    # extractor to article columns too, main.py:2646-2651)
    sup = _sup(spark, [(0, "Кабель (XM-999A)", None, 5.0, "s1")])
    base = _base(
        spark,
        [(0, "Кабель без кода в имени", "black", 7.0, "b0", None, "(XM-999A)", None, 7.0)],
    )
    m = bracket_code_match(sup, base, "article_vitya", "price_vitya_usd").collect()
    assert len(m) == 1
    assert m[0].matched_in == "article_dimi"
    assert m[0].base_article == "b0"

    # an unbracketed article value must NOT produce a bracket variant
    base2 = _base(
        spark,
        [(0, "Кабель без кода в имени", "black", 7.0, "b0", None, "XM-999A", None, 7.0)],
    )
    assert bracket_code_match(sup, base2, "article_vitya", "price_vitya_usd").count() == 0


def test_product_code_brand_grouping(spark):
    # both sides share the brand XIAOMI (no brackets) → matched via J2
    sup = _sup(spark, [(0, "Powerbank XIAOMI 5000mah", "black", 9.0, "s1")])
    base = _base(
        spark,
        [(0, "Зарядка XIAOMI 5000mah", "black", 11.0, "b0", None, None, None, 11.0)],
    )
    m = product_code_match(sup, base, "article_vitya", "price_vitya_usd").collect()
    assert len(m) == 1
    assert m[0].code == "XIAOMI"
    assert m[0].capacity_match and m[0].color_match
