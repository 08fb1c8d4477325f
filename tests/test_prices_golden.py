"""Golden-corpus tests for the price suite (reference ops 21-40).

The engine's Spark and DuckDB sides are built from shared templates, so they
can't disagree with each other; this file checks them against an INDEPENDENT
clean-room Python model of the reference semantics
(dags/utils/price_processing.py:5-389, behavior verified by execution) and
against the hand-derived FIXTURES.md §B7 expectations.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd
import pytest

from sales_telegram_bot_data_pipeline_spark.functions.dialect import DUCKDB, SPARK
from sales_telegram_bot_data_pipeline_spark.functions.prices import (
    CLASS_IDS,
    FIELDS,
    SHOPS,
    dispatcher_fields,
    hoist_price_context_extended,
    price_context_sql,
)

# --------------------------------------------------------------------------
# clean-room Python model
# --------------------------------------------------------------------------
_DIGITS = set("0123456789")


def model_parse_price(s):
    c = "".join(ch for ch in s if ch in _DIGITS or ch in ".,").replace(",", ".")
    if not c:
        return None
    if "." in c:
        try:
            return float(c)
        except ValueError:
            return None
    return int(c) / 100.0 if len(c) > 2 else float(c)


def _toks(s):
    return [model_parse_price(t) for t in re.findall(r"\d+[.,]?\d*", s)]


def _merge(a, b):
    return float(f"{int(a)}.{int(b)}")


def model_dispatch(shop, text, cls):
    out = {f: None for f in FIELDS}
    if cls not in CLASS_IDS:
        return out

    if shop == "EsoMarket":
        p = model_parse_price(text)
        if p:  # falsy 0.0 dropped
            out[_cls_field(cls)] = p
        return out

    if shop in ("Lidl", "CBA Potraviny", "Bene", "CBA Premium", "Lidl Shop", "CBA Market"):
        out[_cls_field(cls)] = model_parse_price(text)
        return out

    if shop == "Penny":
        p = _toks(text)
        if len(p) == 3:
            out["item_price"], out["initial_price"] = _merge(p[0], p[1]), p[2]
        elif len(p) == 2:
            if p[1] in (90, 99):
                out["item_price"] = _merge(p[0], p[1])
            else:
                out["item_price"], out["initial_price"] = p[0], p[1]
        elif len(p) == 1:
            out["item_price"] = p[0]
        return out

    if shop == "Billa":
        low = text.lower()
        if "bodi" in low or "bodu" in low:
            out["member_price_note"] = "75bodi"
            return out
        p = _toks(text)
        if len(p) == 2:
            if p[1] < 5 and float(p[1]).is_integer():
                out["item_price"], out["volume"] = p[0], str(int(p[1]))
            else:
                out["item_price"], out["initial_price"] = p[0], p[1]
        elif len(p) == 1:
            out["item_price"] = p[0]
        return out

    if shop in ("Albert Hypermarket", "Albert Supermarket"):
        cleaned = re.sub(r"[^0-9\s.,'\-:]", "", text)
        vals = []
        for tok in cleaned.split():
            if tok.endswith(("-", ":")):
                vals.append(model_parse_price(tok[:-1]))
            elif "'" in tok:
                bits = tok.split("'")
                if len(bits) == 2 and bits[0].isdigit() and bits[1].isdigit():
                    vals.append(model_parse_price(bits[0] + "." + bits[1]))
                else:
                    vals.append(model_parse_price(tok))
            else:
                vals.append(model_parse_price(tok))
        vals = [v for v in vals if v is not None]
        if vals and vals[0] >= 5:
            out[_cls_field(cls)] = vals[0]
        return out

    if shop in ("Tesco Supermarket", "Tesco Hypermarket"):
        cleaned = re.sub(r"\d{1,2}\.\d{1,2}\.\s*-\s*\d{1,2}\.\d{1,2}\.", "", text)
        if "%" in cleaned or "HOP" in cleaned:
            return out
        p = _toks(cleaned)
        if p:
            out[_cls_field(cls)] = p[0]
        return out

    if shop == "Kaufland":
        if re.search(r"(\d+[.,]\d+)\s+(\d+[.,]\d+)", text):
            return out
        p = _toks(text)
        if len(p) == 2:
            out["item_price"], out["initial_price"] = p[1], p[0]
        elif len(p) == 1:
            out["item_price"] = p[0]
        return out

    if shop in ("Flop Top", "Flop"):
        p = _toks(text)
        if len(p) == 2:
            out["item_price"], out["initial_price"] = p[0], p[1]
        elif len(p) == 1:
            out["item_price"] = p[0]
        return out

    if shop == "Travel Free":
        p = _toks(text.replace("€", "").strip())
        if len(p) == 2:
            out["item_price"], out["initial_price"] = min(p), max(p)
        elif len(p) == 1:
            out["item_price"] = p[0]
        return out

    if shop == "Makro":
        m = re.match(r"^(\d+-?\d?\s*(BAL|ks|A VICE|AViCE))", text)
        pkg, rest = (m.group(), text[len(m.group()) :].strip()) if m else (None, text)
        p = _toks(rest)
        if len(p) >= 2:
            out["item_price"], out["initial_price"], out["packaging"] = p[0], p[1], pkg
        elif len(p) == 1:
            out["item_price"], out["packaging"] = p[0], pkg
        return out

    if shop == "Globus":
        if "%" in text or re.search(r"[^0-9.,'\s\-]", text):
            return out
        y = text.replace("'", ".")
        if re.search(r"\d+\s+\d{2}", y):
            y = y.replace(" ", ".")
        p = _toks(y)
        if len(p) == 1 and cls in ("item_price", "item_member_price"):
            out[_cls_field(cls)] = p[0]
        return out

    if shop == "Tamda Foods":
        if "%" in text or "(" in text:
            return out
        p = _toks(re.sub(r"[KCkc]+", "", text).strip())
        if len(p) == 1 and cls in ("item_price", "item_member_price"):
            out[_cls_field(cls)] = p[0]
        return out

    if shop == "Ratio":
        p = _toks(text)
        if len(p) == 2:
            out["price_ex_vat"], out["item_price"] = p[0], p[1]
        return out

    return out  # unknown shop


def _cls_field(cls):
    return {
        "item_price": "item_price",
        "item_member_price": "member_price",
        "item_initial_price": "initial_price",
    }[cls]


# --------------------------------------------------------------------------
# FIXTURES.md §B7 hand-derived expectations (subset keyed by nonnull fields)
# --------------------------------------------------------------------------
B7 = [
    ("EsoMarket", "item_price", "890", {"item_price": 8.90}),
    ("EsoMarket", "item_price", "25", {"item_price": 25.0}),
    ("Penny", "item_price", "19 90 25.90", {"item_price": 19.90, "initial_price": 25.90}),
    ("Penny", "item_price", "19 90 25.90 2", {}),
    ("Penny", "item_price", "24 99", {"item_price": 24.99}),
    ("Penny", "item_price", "15.90 19.90", {"item_price": 15.90, "initial_price": 19.90}),
    ("Billa", "item_price", "75 bodu", {"member_price_note": "75bodi"}),
    ("Billa", "item_price", "29.90 2", {"item_price": 29.90, "volume": "2"}),
    ("Albert Supermarket", "item_price", "31'90", {"item_price": 31.90}),
    ("Albert Supermarket", "item_price", "3990:", {"item_price": 39.90}),
    ("Albert Supermarket", "item_price", "129-", {}),
    ("Albert Supermarket", "item_price", "4.90", {}),
    ("Tesco Supermarket", "item_price", "12.7. - 14.7. 1990", {"item_price": 19.90}),
    ("Tesco Supermarket", "item_price", "-30%", {}),
    ("Lidl", "item_price", "1490", {"item_price": 14.90}),
    ("Kaufland", "item_price", "39.90 2990", {"item_price": 29.90, "initial_price": 39.90}),
    ("Kaufland", "item_price", "19,90 24,90 29,90", {}),
    ("Flop Top", "item_price", "990 1290", {"item_price": 9.90, "initial_price": 12.90}),
    ("Travel Free", "item_price", "€12.99 €9.99", {"item_price": 9.99, "initial_price": 12.99}),
    ("Makro", "item_price", "2BAL 199 249", {"item_price": 1.99, "initial_price": 2.49, "packaging": "2BAL"}),
    ("Ratio", "item_price", "bezDPH 82.60 99.95", {"price_ex_vat": 82.60, "item_price": 99.95}),
    ("Globus", "item_price", "17 90", {"item_price": 17.90}),
    ("Globus", "item_price", "-25%", {}),
    ("Tamda Foods", "item_price", "1290 KC", {"item_price": 12.90}),
    ("Tamda Foods", "item_member_price", "3490Kc", {"member_price": 34.90}),
    ("AnyShopNotListed", "item_price", "100", {}),
    ("Penny", "other_class", "100", {}),
]

FUZZ_TEXTS = [
    "890", "25", "1990", "19 90 25.90", "19 90 25.90 2", "24 99", "15.90 19.90",
    "75 bodu", "29.90 2", "31'90", "3990:", "129-", "4.90", "12.7. - 14.7. 1990",
    "-30%", "1490", "39.90 2990", "19,90 24,90 29,90", "990 1290", "€12.99 €9.99",
    "2BAL 199 249", "bezDPH 82.60 99.95", "17 90", "-25%", "1290 KC", "3490Kc",
    "100", "", "abc", "0", "000", "12.", ".", "1.2.3", "44'90", "12-", "7 90",
    "10ks 25.90", "pri koupi 2 ks 39.90", "19.90.25", "1 2 3 4", "99", "9",
]


def _corpus():
    rows = []
    shops = list(SHOPS) + ["UnknownShop"]
    classes = list(CLASS_IDS) + ["other_class"]
    for i, text in enumerate(FUZZ_TEXTS):
        for j, shop in enumerate(shops):
            cls = classes[(i + j) % 4]
            rows.append((len(rows), shop, cls, text))
    for shop, cls, text, _ in B7:
        rows.append((len(rows), shop, cls, text))
    return rows


def test_model_matches_b7_fixtures():
    for shop, cls, text, want in B7:
        got = model_dispatch(shop, text, cls)
        nonnull = {k: v for k, v in got.items() if v is not None}
        assert nonnull == pytest.approx(want), f"{shop}/{cls}/{text!r}: {nonnull} != {want}"


def _hoisted_dispatch_sql(d, table: str) -> str:
    """The dispatcher as production runs it (``price_dispatcher_suite``,
    ``detected_data*``): per-field CASEs reading the gated context columns
    of ``price_context_sql``, over ``table`` (id, shop_name, class_id,
    ocr_text)."""
    fields = dispatcher_fields(d, "shop_name", "ocr_text", "class_id")
    cols = ", ".join(
        f"{hoist_price_context_extended(sql, d, 'ocr_text')} AS {name}"
        for name, sql in fields.items()
    )
    ctx = price_context_sql(d, "shop_name", "ocr_text", "class_id")
    return f"SELECT id, {cols} FROM (SELECT *, {ctx} FROM {table}) c ORDER BY id"


def _assert_matches_model(rows, res):
    bad = []
    for (rid, *vals), (rid2, shop, cls, text) in zip(res, rows, strict=True):
        assert rid == rid2
        want = [model_dispatch(shop, text, cls)[f] for f in FIELDS]
        if vals != pytest.approx(want):
            bad.append((shop, cls, text, want, vals))
    assert not bad, f"{len(bad)} mismatches; first: {bad[0]}"


def test_spark_matches_model(spark):
    rows = _corpus()
    df = spark.createDataFrame(rows, "id long, shop_name string, class_id string, ocr_text string")
    # a test-local view, not a spark.sql keyword: keyword binding formats
    # the text, and the dispatcher carries literal braces (Tesco's \d{1,2})
    df.createOrReplaceTempView("golden_price_corpus")
    try:
        res = spark.sql(_hoisted_dispatch_sql(SPARK, "golden_price_corpus")).collect()
    finally:
        spark.catalog.dropTempView("golden_price_corpus")
    _assert_matches_model(rows, [tuple(r) for r in res])


def test_duckdb_matches_model():
    rows = _corpus()
    pdf = pd.DataFrame(rows, columns=["id", "shop_name", "class_id", "ocr_text"])
    con = duckdb.connect()
    con.register("corpus", pdf)
    _assert_matches_model(rows, con.execute(_hoisted_dispatch_sql(DUCKDB, "corpus")).fetchall())


def test_price_value_col_matches_model(spark):
    """The DataFrame-API dispatcher (the flyer pipeline's) returns, for
    every corpus row, the model's field for that row's class."""
    from sales_telegram_bot_data_pipeline_spark.functions.prices import price_value_col

    rows = _corpus()
    df = spark.createDataFrame(rows, "id long, shop_name string, class_id string, ocr_text string")
    got = dict(df.select("id", price_value_col()).collect())
    bad = []
    for rid, shop, cls, text in rows:
        want = model_dispatch(shop, text, cls)[_cls_field(cls)] if cls in CLASS_IDS else None
        if got[rid] != pytest.approx(want):
            bad.append((shop, cls, text, want, got[rid]))
    assert not bad, f"{len(bad)} mismatches; first: {bad[0]}"


def test_dispatcher_hoisted_tree_stays_small(spark):
    """Planning-cost regression guard: the hoisted dispatched-value SQL
    must stay an order of magnitude below the inline form's ~65k chars
    (per-call Catalyst analysis of that tree cost ~1.4 s, data-independent
    — it dominated the detected_data bench rows for two rounds), every
    per-shop pipeline must be hoisted out (no leftover heavy fragments),
    and ``price_value_col`` (hoisted pv plus its gated context) must stay
    near a third of the inline form."""
    from sales_telegram_bot_data_pipeline_spark.functions.dialect import DUCKDB, SPARK
    from sales_telegram_bot_data_pipeline_spark.functions.prices import (
        dispatcher_value_sql,
        extended_price_context_exprs,
        hoist_price_context_extended,
        price_value_col,
    )

    col_text = str(price_value_col("shop_name", "ocr_text", "class_name"))
    assert len(col_text) < 25_000, f"price_value_col regrew to {len(col_text)} chars"

    for d in (SPARK, DUCKDB):
        pv = hoist_price_context_extended(
            dispatcher_value_sql(d, "shop_name", "ocr_text", "class_name"), d, "ocr_text"
        )
        assert len(pv) < 10_000, f"{d.name}: hoisted pv regrew to {len(pv)} chars"
        for marker in ("splitws", "BAL|ks", "HOP"):
            assert marker not in pv, f"{d.name}: {marker} pipeline not hoisted"
        for name in extended_price_context_exprs(d, "ocr_text"):
            assert name in pv, f"{d.name}: hoisted column {name} unused in pv"


def test_price_context_gates_cover_every_shop_and_column():
    """Every hoisted context column carries a shop gate (ungated, every row
    pays every shop's token pipeline — measured 2x the per-call cost), and
    the gates jointly cover all 21 dispatcher shops exactly once each."""
    import re

    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK
    from sales_telegram_bot_data_pipeline_spark.functions.prices import (
        SHOPS,
        extended_price_context_exprs,
        price_context_gates,
    )

    gates = price_context_gates("shop_name")
    assert set(gates) == set(extended_price_context_exprs(SPARK, "ocr_text"))
    seen = []
    for col, gate in gates.items():
        shops = re.findall(r"'([^']+)'", gate)
        assert shops, f"{col}: empty gate"
        if col not in ("__mkr_v1", "__mkr_v2"):  # makro has two columns
            seen.extend(shops)
    seen.extend(re.findall(r"'([^']+)'", gates["__mkr_v1"]))
    assert sorted(seen) == sorted(SHOPS), "gates must partition the shop set"
