
from mistocksync_spark.functions import (
    battery_capacity,
    bracket_code,
    product_code_in_name,
    product_code_unified,
)


def _run(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(fn("v")).collect()]


def test_bracket_code(spark):
    cases = {
        "Кабель (P27QDA-RGP) черный": "P27QDA-RGP",
        "Зарядка (EU) базовая": None,          # len < 4
        "Увлажнитель (XMUP21YM)": "XMUP21YM",
        "Чайник (MJJMQ07YM) белый": "MJJMQ07YM",
        "Лампа (1L)": None,
        "без скобок": None,
        "Штука (codeX99)": "CODEX99",           # lowercase accepted, uppercased
        "Вилка (A B)": None,                    # space → invalid charset
        None: None,
    }
    got = _run(spark, bracket_code, list(cases))
    assert got == list(cases.values())


def test_product_code_in_name(spark):
    cases = {
        "Адаптер AC-M25-SC белый": "AC-M25-SC",          # dashed wins
        "Наушники MJKDDYJ02HT": "MJKDDYJ02HT",           # letters-digits
        "Powerbank 60000mah 100w": None,                  # spec tokens excluded
        "Кабель USB-C POWER": None,                       # stoplist (USB-C is dashed but excluded)
        "Повербанк GREENOE Protable": "GREENOE",          # 4-8 caps
        "Банка C60 зеленая": "C60",                       # letter+digits
        None: None,
    }
    got = _run(spark, product_code_in_name, list(cases))
    assert got == list(cases.values())


def test_product_code_unified_priority(spark):
    cases = {
        # bracket beats brand
        "Повербанк XIAOMI (P27QDA-RGP)": "P27QDA-RGP",
        # brand beats generic name code
        "Повербанк XIAOMI AC-M25-SC": "XIAOMI",
        # brand list order: GREENOE before SAMSUNG
        "GREENOE SAMSUNG двойной": "GREENOE",
        # name code needs len ≥ 4: C60 (len 3) rejected at unified level
        "Банка C60 зеленая": None,
        # falls through to long name code
        "Адаптер AC-M25-SC белый": "AC-M25-SC",
        None: None,
    }
    got = _run(spark, product_code_unified, list(cases))
    assert got == list(cases.values())


def test_battery_capacity(spark):
    cases = {
        "Повербанк 60000mah 100w": "60000",
        "Повербанк 20000MAH 25w": "20000",
        "Power Bank 10000 mAh Portable": "10000",
        "Повербанк 20000мач": "20000",
        "Повербанк 15000 мч": "15000",
        "Зарядка 100w": None,
        "3 mah маленький": None,   # below range 5
        None: None,
    }
    got = _run(spark, battery_capacity, list(cases))
    assert got == list(cases.values())


def test_battery_capacity_fallthrough(spark):
    # first pattern's match is out of range; the no-space variant finds
    # another occurrence (reference tries patterns in order)
    got = _run(spark, battery_capacity, ["x 3 mah y 5000mah z"])
    assert got == ["5000"]
