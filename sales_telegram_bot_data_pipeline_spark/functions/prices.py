"""Price-parsing scalar suite: ``parse_price`` + 17 shop parsers + dispatcher
(reference ops 21-40, dags/utils/price_processing.py:5-389).

Each parser is defined ONCE as a SQL template over the dialect shims
(functions/dialect.py) and instantiated for Spark SQL (the engine) and DuckDB
(the oracle) — parity by construction.  Everything is native column
expressions: regexp/CASE/array lambdas inside whole-stage codegen, no Python
in the hot path.

The reference's ragged returns (float | dict with varying keys | None) are
normalized into seven nullable fields::

    item_price DOUBLE, initial_price DOUBLE, member_price DOUBLE,
    member_price_note STRING, volume STRING, packaging STRING,
    price_ex_vat DOUBLE

Faithfulness notes (each verified against the reference by execution):
- implied-cents rule: no decimal point and len>2 ⇒ last 2 digits are cents
  ('890'→8.90, '1990'→19.90); len<=2 ⇒ integer ('25'→25.0)
  (price_processing.py:12-18);
- bare-float parsers (EsoMarket/Lidl/CBA*/Bene/Lidl Shop) route the value to
  the requested price_type's field — the reference stringifies the float into
  that class's column (data_pipeline.py:126-140);
- EsoMarket drops falsy prices including 0.0 (price_processing.py:26);
- Penny: 3 numbers ⇒ int(p0).int(p1) merged + p2 initial; 2 ⇒ merge only on
  common cents {90,99}; >=4 numbers ⇒ None (the reference comment's own
  example returns None) (price_processing.py:29-56);
- Kaufland returns (price=last, initial=first) — reversed — and rejects
  adjacent decimal pairs (price_processing.py:166-177);
- Travel Free sorts the pair: price=min, initial=max (price_processing.py:202-205);
- Albert rejects when the first parsed price < 5 (price_processing.py:114-116);
- Billa 'bodi/bodu' yields the literal member note '75bodi'
  (price_processing.py:70-71) — kept in member_price_note;
- Globus/Tamda accept only item/member price types; unknown class_id or shop
  ⇒ all fields NULL (price_processing.py:302-334, 338-389).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .dialect import SPARK, Dialect

FIELDS = (
    "item_price",
    "initial_price",
    "member_price",
    "member_price_note",
    "volume",
    "packaging",
    "price_ex_vat",
)

# dispatcher literals, price_processing.py:352-387
SHOPS = (
    "EsoMarket",
    "Penny",
    "Billa",
    "Albert Hypermarket",
    "Albert Supermarket",
    "Tesco Supermarket",
    "Tesco Hypermarket",
    "Lidl",
    "Kaufland",
    "Flop Top",
    "Flop",
    "Travel Free",
    "CBA Potraviny",
    "Bene",
    "CBA Premium",
    "Lidl Shop",
    "CBA Market",
    "Makro",
    "Globus",
    "Tamda Foods",
    "Ratio",
)

CLASS_IDS = ("item_price", "item_member_price", "item_initial_price")


# --------------------------------------------------------------------------
# core fragments
# --------------------------------------------------------------------------
def _clean(d: Dialect, x: str) -> str:
    """strip non-[0-9.,] then ','→'.' (price_processing.py:7-8)."""
    return f"replace({d.re_all(x, '[^0-9.,]', '')}, ',', '.')"


def _pp(c: str) -> str:
    """parse_price on an already-cleaned string (only [0-9.] left)."""
    return (
        f"CASE WHEN {c} IS NULL OR {c} = '' THEN NULL "
        f"WHEN contains({c}, '.') THEN try_cast({c} AS DOUBLE) "
        f"WHEN length({c}) > 2 THEN try_cast(substr({c}, 1, length({c})-2) || '.' || substr({c}, length({c})-1, 2) AS DOUBLE) "
        f"ELSE try_cast({c} AS DOUBLE) END"
    )


def parse_price_sql(d: Dialect, x: str) -> str:
    return _pp(_clean(d, x))


def _parsed(d: Dialect, x: str) -> str:
    """findall number tokens → parse each → drop NULLs."""
    per_token = _pp("replace(t, ',', '.')")
    return d.filter(d.transform(d.tokens(x), f"t -> {per_token}"), "p -> p IS NOT NULL")


def _floorb(x: str) -> str:
    return f"cast(floor({x}) as bigint)"


def _merged(d: Dialect, a: str, b: str) -> str:
    """float(f"{int(a)}.{int(b)}") — Penny's merged decimal (:42, :49)."""
    return f"try_cast({d.strcast(_floorb(a))} || '.' || {d.strcast(_floorb(b))} AS DOUBLE)"


def _null_fields() -> dict[str, str]:
    return {f: "NULL" for f in FIELDS}


def _route(val: str, cls: str, member: bool = True, initial: bool = True) -> dict[str, str]:
    """Key a single value by price_type (the Albert/Tesco/Globus/Tamda shape
    and our normalization of bare-float parsers)."""
    out = _null_fields()
    out["item_price"] = f"CASE WHEN {cls} = 'item_price' THEN {val} END"
    if member:
        out["member_price"] = f"CASE WHEN {cls} = 'item_member_price' THEN {val} END"
    if initial:
        out["initial_price"] = f"CASE WHEN {cls} = 'item_initial_price' THEN {val} END"
    return out


# --------------------------------------------------------------------------
# shop parsers (each returns {field: sql})
# --------------------------------------------------------------------------
def esomarket(d: Dialect, x: str, cls: str) -> dict[str, str]:
    p = parse_price_sql(d, x)
    val = f"nullif({p}, 0.0)"  # falsy 0.0 dropped (:26)
    return _route(val, cls)


def passthrough(d: Dialect, x: str, cls: str) -> dict[str, str]:
    """Lidl / CBA Potraviny / Bene / CBA Premium / Lidl Shop / CBA Market."""
    return _route(parse_price_sql(d, x), cls)


def penny(d: Dialect, x: str, cls: str) -> dict[str, str]:
    P = _parsed(d, x)
    n = d.alen(P)
    g1, g2, g3 = d.get1(P, 1), d.get1(P, 2), d.get1(P, 3)
    out = _null_fields()
    out["item_price"] = (
        f"CASE WHEN {n} = 3 THEN {_merged(d, g1, g2)} "
        f"WHEN {n} = 2 THEN (CASE WHEN {g2} IN (90, 99) THEN {_merged(d, g1, g2)} ELSE {g1} END) "
        f"WHEN {n} = 1 THEN {g1} END"
    )
    out["initial_price"] = (
        f"CASE WHEN {n} = 3 THEN {g3} "
        f"WHEN {n} = 2 AND NOT ({g2} IN (90, 99)) THEN {g2} END"
    )
    return out


def billa(d: Dialect, x: str, cls: str) -> dict[str, str]:
    note = f"(contains(lower({x}), 'bodi') OR contains(lower({x}), 'bodu'))"
    P = _parsed(d, x)
    n = d.alen(P)
    g1, g2 = d.get1(P, 1), d.get1(P, 2)
    is_vol = f"({g2} < 5 AND {g2} = floor({g2}))"
    out = _null_fields()
    out["member_price_note"] = f"CASE WHEN {note} THEN '75bodi' END"
    out["item_price"] = f"CASE WHEN NOT {note} AND {n} IN (1, 2) THEN {g1} END"
    out["initial_price"] = f"CASE WHEN NOT {note} AND {n} = 2 AND NOT {is_vol} THEN {g2} END"
    out["volume"] = f"CASE WHEN NOT {note} AND {n} = 2 AND {is_vol} THEN {d.strcast(_floorb(g2))} END"
    return out


def _albert_val(d: Dialect, x: str) -> str:
    """Albert's class-independent parsed value (NULL unless first >= 5) —
    factored out so the extended hoist can compute it ONCE per row as a
    context column; the three class-gated fields reference this exact
    string (CASE WHEN first >= 5 is NULL-safe: NULL >= 5 is NULL, so the
    old explicit IS NOT NULL guard is redundant in both engines)."""
    cleaned = d.re_all(x, r"[^0-9\s.,'\-:]", "")
    toks = d.splitws(cleaned)
    parts = d.split_char("t", "''")
    p1, p2 = d.get1(parts, 1), d.get1(parts, 2)
    two_digit_parts = (
        f"({d.alen(parts)} = 2 AND {d.fullmatch(p1, '[0-9]+')} AND {d.fullmatch(p2, '[0-9]+')})"
    )
    joined = f"{p1} || '.' || {p2}"
    per_token = (
        f"CASE WHEN t LIKE '%-' OR t LIKE '%:' THEN {_pp(_clean(d, 'substr(t, 1, length(t)-1)'))} "
        f"WHEN contains(t, '''') THEN (CASE WHEN {two_digit_parts} THEN {_pp(joined)} ELSE {_pp(_clean(d, 't'))} END) "
        f"ELSE {_pp(_clean(d, 't'))} END"
    )
    P = d.filter(d.transform(toks, f"t -> {per_token}"), "p -> p IS NOT NULL")
    first = d.get1(P, 1)
    return f"(CASE WHEN {first} >= 5 THEN {first} END)"


def albert(d: Dialect, x: str, cls: str) -> dict[str, str]:
    val = _albert_val(d, x)
    out = _null_fields()
    out["item_price"] = f"CASE WHEN {cls} = 'item_price' THEN {val} END"
    out["member_price"] = f"CASE WHEN {cls} = 'item_member_price' THEN {val} END"
    out["initial_price"] = f"CASE WHEN {cls} = 'item_initial_price' THEN {val} END"
    return out


def _tesco_val(d: Dialect, x: str) -> str:
    """Tesco's class-independent parsed value (see _albert_val)."""
    cleaned = d.re_all(x, r"\d{1,2}\.\d{1,2}\.\s*-\s*\d{1,2}\.\d{1,2}\.", "")
    reject = f"(contains({cleaned}, '%') OR contains({cleaned}, 'HOP'))"
    first = d.get1(_parsed(d, cleaned), 1)
    return f"(CASE WHEN NOT {reject} THEN {first} END)"


def tesco(d: Dialect, x: str, cls: str) -> dict[str, str]:
    val = _tesco_val(d, x)
    out = _null_fields()
    out["item_price"] = f"CASE WHEN {cls} = 'item_price' THEN {val} END"
    out["member_price"] = f"CASE WHEN {cls} = 'item_member_price' THEN {val} END"
    out["initial_price"] = f"CASE WHEN {cls} = 'item_initial_price' THEN {val} END"
    return out


def kaufland(d: Dialect, x: str, cls: str) -> dict[str, str]:
    reject = d.re_search(x, r"(\d+[.,]\d+)\s+(\d+[.,]\d+)")
    P = _parsed(d, x)
    n = d.alen(P)
    g1, g2 = d.get1(P, 1), d.get1(P, 2)
    out = _null_fields()
    out["item_price"] = (
        f"CASE WHEN {reject} THEN NULL WHEN {n} = 2 THEN {g2} WHEN {n} = 1 THEN {g1} END"
    )
    out["initial_price"] = f"CASE WHEN NOT {reject} AND {n} = 2 THEN {g1} END"
    return out


def flop(d: Dialect, x: str, cls: str) -> dict[str, str]:
    P = _parsed(d, x)
    n = d.alen(P)
    g1, g2 = d.get1(P, 1), d.get1(P, 2)
    out = _null_fields()
    out["item_price"] = f"CASE WHEN {n} IN (1, 2) THEN {g1} END"
    out["initial_price"] = f"CASE WHEN {n} = 2 THEN {g2} END"
    return out


def travel_free(d: Dialect, x: str, cls: str) -> dict[str, str]:
    P = _parsed(d, x)
    n = d.alen(P)
    g1, g2 = d.get1(P, 1), d.get1(P, 2)
    out = _null_fields()
    out["item_price"] = f"CASE WHEN {n} = 2 THEN least({g1}, {g2}) WHEN {n} = 1 THEN {g1} END"
    out["initial_price"] = f"CASE WHEN {n} = 2 THEN greatest({g1}, {g2}) END"
    return out


def _makro_vals(d: Dialect, x: str) -> tuple[str, str, str]:
    """Makro's class-independent (item, initial, packaging) value exprs —
    factored out so the extended hoist can compute the two price values
    ONCE per row as context columns."""
    pkg = d.re_extract(x, r"^(\d+-?\d?\s*(BAL|ks|A VICE|AViCE))", 1)
    rest = f"(CASE WHEN {pkg} <> '' THEN trim(substr({x}, length({pkg}) + 1)) ELSE {x} END)"
    P = _parsed(d, rest)
    n = d.alen(P)
    g1, g2 = d.get1(P, 1), d.get1(P, 2)
    v1 = f"(CASE WHEN {n} >= 1 THEN {g1} END)"
    v2 = f"(CASE WHEN {n} >= 2 THEN {g2} END)"
    vpkg = f"CASE WHEN {n} >= 1 THEN nullif({pkg}, '') END"
    return v1, v2, vpkg


def makro(d: Dialect, x: str, cls: str) -> dict[str, str]:
    v1, v2, vpkg = _makro_vals(d, x)
    out = _null_fields()
    out["item_price"] = v1
    out["initial_price"] = v2
    out["packaging"] = vpkg
    return out


def ratio(d: Dialect, x: str, cls: str) -> dict[str, str]:
    P = _parsed(d, x)
    n = d.alen(P)
    out = _null_fields()
    out["price_ex_vat"] = f"CASE WHEN {n} = 2 THEN {d.get1(P, 1)} END"
    out["item_price"] = f"CASE WHEN {n} = 2 THEN {d.get1(P, 2)} END"
    return out


def _globus_val(d: Dialect, x: str) -> str:
    """Globus's class-independent parsed value (see _albert_val)."""
    # reject '%' or any char outside [0-9.,'whitespace-] (:288)
    reject = f"(contains({x}, '%') OR {d.re_search(x, r_globus_cls())})"
    y = f"replace({x}, '''', '.')"
    space_pair = r"\d+\s+\d{2}"  # "17 90" → join with '.' (:295-296)
    z = f"(CASE WHEN {d.re_search(y, space_pair)} THEN replace({y}, ' ', '.') ELSE {y} END)"
    P = _parsed(d, z)
    n = d.alen(P)
    g1 = d.get1(P, 1)
    return f"(CASE WHEN NOT {reject} AND {n} = 1 THEN {g1} END)"


def globus(d: Dialect, x: str, cls: str) -> dict[str, str]:
    val = _globus_val(d, x)
    out = _null_fields()
    out["item_price"] = f"CASE WHEN {cls} = 'item_price' THEN {val} END"
    out["member_price"] = f"CASE WHEN {cls} = 'item_member_price' THEN {val} END"
    return out


def r_globus_cls() -> str:
    """chars outside [0-9.,'whitespace-] reject the Globus string (:288)."""
    return r"[^0-9.,'\s\-]"


def _tamda_val(d: Dialect, x: str) -> str:
    """Tamda's class-independent parsed value (see _albert_val)."""
    reject = f"(contains({x}, '%') OR contains({x}, '('))"
    y = f"trim({d.re_all(x, '[KCkc]+', '')})"
    P = _parsed(d, y)
    n = d.alen(P)
    g1 = d.get1(P, 1)
    return f"(CASE WHEN NOT {reject} AND {n} = 1 THEN {g1} END)"


def tamda(d: Dialect, x: str, cls: str) -> dict[str, str]:
    val = _tamda_val(d, x)
    out = _null_fields()
    out["item_price"] = f"CASE WHEN {cls} = 'item_price' THEN {val} END"
    out["member_price"] = f"CASE WHEN {cls} = 'item_member_price' THEN {val} END"
    return out


_PARSERS: list[tuple[tuple[str, ...], object]] = [
    (("EsoMarket",), esomarket),
    (("Penny",), penny),
    (("Billa",), billa),
    (("Albert Hypermarket", "Albert Supermarket"), albert),
    (("Tesco Supermarket", "Tesco Hypermarket"), tesco),
    (("Lidl", "CBA Potraviny", "Bene", "CBA Premium", "Lidl Shop", "CBA Market"), passthrough),
    (("Kaufland",), kaufland),
    (("Flop Top", "Flop"), flop),
    (("Travel Free",), travel_free),
    (("Makro",), makro),
    (("Globus",), globus),
    (("Tamda Foods",), tamda),
    (("Ratio",), ratio),
]


_FIELD_TYPES = {
    "item_price": "double",
    "initial_price": "double",
    "member_price": "double",
    "member_price_note": "str",
    "volume": "str",
    "packaging": "str",
    "price_ex_vat": "double",
}


def _ftype(d: Dialect, field: str) -> str:
    t = _FIELD_TYPES[field]
    if t == "str":
        return "string" if d.name == "spark" else "varchar"
    return t


def _shop_cond(shop: str, shops: tuple[str, ...]) -> str:
    if len(shops) == 1:
        return f"{shop} = '{shops[0]}'"
    return f"{shop} IN ({', '.join(repr(s) for s in shops)})"


def dispatcher_fields(d: Dialect, shop: str, x: str, cls: str) -> dict[str, str]:
    """op 40 (price_processing.py:338-389) as one CASE per output field:
    invalid class / unknown shop → NULL.  Multi-field consumers hoist the
    shared parses out first (``hoist_price_context_extended`` over
    ``price_context_sql``), which leaves each parser body once per field
    instead of once per parse call."""
    valid_cls = f"{cls} IN ('item_price', 'item_member_price', 'item_initial_price')"
    out = {}
    for field in FIELDS:
        branches = []
        for shops, fn in _PARSERS:
            branches.append(f"WHEN {_shop_cond(shop, shops)} THEN {fn(d, x, cls)[field]}")
        out[field] = f"CASE WHEN NOT ({valid_cls}) THEN NULL " + " ".join(branches) + " END"
    return out


def dispatcher_value_sql(d: Dialect, shop: str, x: str, cls: str) -> str:
    """Scalar dispatcher for detection ROWS: the one parsed value this row's
    class_id selects (price classes only; item_name / unknown → NULL).

    This is the smallest possible formulation for per-row dispatch: the
    class is re-stated as a LITERAL inside each branch, so every per-class
    gate inside the parser bodies constant-folds away and each (shop, field)
    body appears at most once in the whole expression.  (Extracting N
    fields from one struct-valued CASE instead replicates the full 7-field
    CASE N times — SimplifyExtractValueOps pushes the extraction into every
    branch — which is what once blew detected_data's task binaries past
    1 MiB.)
    """
    pairs = (
        ("item_price", "item_price"),
        ("item_member_price", "member_price"),
        ("item_initial_price", "initial_price"),
    )
    branches = []
    for cls_lit, field in pairs:
        body = dispatcher_fields(d, shop, x, f"'{cls_lit}'")[field]
        branches.append(f"WHEN {cls} = '{cls_lit}' THEN cast(({body}) as double)")
    return "CASE " + " ".join(branches) + " END"


def price_value_col(
    shop: str = "shop_name", text: str = "ocr_text", cls: str = "class_id"
) -> Column:
    """DataFrame-API entry: the scalar per-row dispatched price value.

    The hoisted dispatcher in ONE Column: the gated context
    (``price_context_sql``'s columns) is bound once per row as the struct
    of a one-element array, and ``dispatcher_value_sql`` rewritten by
    ``hoist_price_context_extended`` reads its fields — ~22k chars where
    the inline form is ~65k, which Catalyst re-analysed on every call."""
    ctx = ", ".join(f"'{n}', {e}" for n, e in _gated_context(SPARK, shop, text, cls).items())
    pv = hoist_price_context_extended(
        dispatcher_value_sql(SPARK, shop, text, cls), SPARK, text, prefix="__ctx."
    )
    return F.expr(f"transform(array(named_struct({ctx})), __ctx -> {pv})[0]")


# Shared-subexpression hoisting: every parser body re-derives the token
# parse (``_parsed``) and/or the whole-string parse (``parse_price_sql``)
# of the input text — ~60 textual copies across the 21-shop dispatcher,
# which is what pushes serialized plans toward 1 MiB task binaries and
# multi-second Janino compiles.  The generators are deterministic string
# builders, so the copies are textually identical and can be replaced by a
# column reference computed once per row.  (Catalyst will NOT collapse the
# producing Project back into the consumer: CollapseProject refuses to
# inline a non-cheap expression referenced more than once.)
TOK_COL = "__price_tokens"
PP_COL = "__price_parsed"


def extended_price_context_exprs(d: Dialect, x: str) -> dict[str, str]:
    """The hoisted shared subexpressions of the dispatcher over ``x``: the
    token parse, the whole-string parse, and the five shops whose parsers
    run their OWN token pipeline over a transformed input (Albert, Tesco,
    Globus, Tamda, Makro).  Those five each re-instantiated that pipeline
    once per class branch of ``dispatcher_value_sql`` — three textual
    copies apiece, which pushed the dispatched-value SQL to ~65k chars and
    made per-call Catalyst analysis+optimization (~1.4 s, data-independent)
    the dominant cost of the detected_data queries.  Hoisting each shop's
    class-independent parsed VALUE to one context column shrinks the tree
    ~3x; runtime work also drops (one parse per row instead of one per
    matching branch)."""
    ctx = {TOK_COL: _parsed(d, x), PP_COL: parse_price_sql(d, x)}
    ctx["__alb_val"] = _albert_val(d, x)
    ctx["__tsc_val"] = _tesco_val(d, x)
    ctx["__glb_val"] = _globus_val(d, x)
    ctx["__tmd_val"] = _tamda_val(d, x)
    v1, v2, _ = _makro_vals(d, x)
    ctx["__mkr_v1"] = v1
    ctx["__mkr_v2"] = v2
    return ctx


def hoist_price_context_extended(sql: str, d: Dialect, x: str, prefix: str = "") -> str:
    """Rewrite a dispatcher SQL string to reference ALL hoisted context
    columns, each as ``prefix + name`` (longest expression first, so a
    shop value containing a shorter hoisted fragment is replaced wholesale
    before the fragment)."""
    ctx = extended_price_context_exprs(d, x)
    for name, expr in sorted(ctx.items(), key=lambda kv: -len(kv[1])):
        sql = sql.replace(expr, prefix + name)
    return sql


def price_context_gates(shop: str = "shop_name") -> dict[str, str]:
    """Per-context-column SHOP gate: each hoisted column is only read by
    its own shops' dispatcher branches, so computing it for other rows is
    pure waste — the inline (pre-hoist) form got this for free from CASE
    branch laziness, and WITHOUT these gates every row paid every shop's
    token pipeline (~6x the regex work; measured 2.3 -> 4.5 s per call on
    the sf0.1 detection feed).  Derived from the _PARSERS table so a shop
    reassignment cannot silently drift the gates."""
    by_fn = {fn.__name__: shops for shops, fn in _PARSERS}
    tok_shops = tuple(
        s
        for fn_name in ("penny", "billa", "kaufland", "flop", "travel_free", "ratio")
        for s in by_fn[fn_name]
    )
    pp_shops = by_fn["esomarket"] + by_fn["passthrough"]

    def gate(shops: tuple[str, ...]) -> str:
        return _shop_cond(shop, shops)

    return {
        TOK_COL: gate(tok_shops),
        PP_COL: gate(pp_shops),
        "__alb_val": gate(by_fn["albert"]),
        "__tsc_val": gate(by_fn["tesco"]),
        "__glb_val": gate(by_fn["globus"]),
        "__tmd_val": gate(by_fn["tamda"]),
        "__mkr_v1": gate(by_fn["makro"]),
        "__mkr_v2": gate(by_fn["makro"]),
    }


def _gated_context(d: Dialect, shop: str, x: str, cls: str) -> dict[str, str]:
    """Each hoisted context expression gated to price-class rows and to
    its own shops (``price_context_gates``)."""
    price_cls = f"{cls} IN ('item_price', 'item_member_price', 'item_initial_price')"
    gates = price_context_gates(shop)
    return {
        name: f"CASE WHEN {price_cls} AND {gates[name]} THEN {expr} END"
        for name, expr in extended_price_context_exprs(d, x).items()
    }


def price_context_sql(d: Dialect, shop: str, x: str, cls: str) -> str:
    """The gated context columns as one SELECT-list fragment, for a
    relation with columns ``shop``, ``x`` and ``cls``.  Dispatcher text
    rewritten by ``hoist_price_context_extended`` reads these columns."""
    return ", ".join(f"{e} AS {n}" for n, e in _gated_context(d, shop, x, cls).items())


# --------------------------------------------------------------------------
# driver-facing queries: deterministic OCR-ish samples synthesized from the
# part table (integer-only string math so both engines build identical text),
# then the full dispatcher applied.
# --------------------------------------------------------------------------
def _samples_sql(d: Dialect, part_table: str) -> str:
    pk = "p_partkey"
    cents = "cast(round(p_retailprice * 100) as bigint)"
    whole = d.idiv(cents, 100)
    frac = f"lpad({d.strcast(f'({cents} % 100)')}, 2, '0')"
    p1 = f"{d.strcast(whole)} || '.' || {frac}"
    p2 = d.strcast(cents)
    w2 = d.strcast(f"({whole} + 5)")
    shops_arr = d.array_lit(list(SHOPS) + ["UnknownShop"])
    cls_arr = d.array_lit(list(CLASS_IDS) + ["other_class"])
    if d.name == "spark":
        shop_pick = f"element_at({shops_arr}, cast({pk} % 22 as int) + 1)"
        cls_pick = f"element_at({cls_arr}, cast({pk} % 4 as int) + 1)"
    else:
        shop_pick = f"({shops_arr})[{pk} % 22 + 1]"
        cls_pick = f"({cls_arr})[{pk} % 4 + 1]"
    text = (
        f"CASE {pk} % 17 "
        f"WHEN 0 THEN {p1} "
        f"WHEN 1 THEN {p2} "
        f"WHEN 2 THEN {p2} || ' Kc' "
        f"WHEN 3 THEN {p1} || ' ' || {w2} || '.90' "
        f"WHEN 4 THEN replace({p1}, '.', ',') "
        f"WHEN 5 THEN {d.strcast(whole)} || '''' || {frac} "
        f"WHEN 6 THEN {d.strcast(whole)} || '-' "
        f"WHEN 7 THEN '-30%' "
        f"WHEN 8 THEN '12.7. - 14.7. ' || {p2} "
        f"WHEN 9 THEN '2BAL ' || {p1} || ' ' || {w2} || '.90' "
        f"WHEN 10 THEN '75 bodu' "
        f"WHEN 11 THEN '€' || {p1} || ' ' || '€' || {w2} || '.99' "
        f"WHEN 12 THEN {d.strcast(whole)} || ' 90' "
        f"WHEN 13 THEN {p1} || ' 2' "
        f"WHEN 14 THEN {d.strcast(whole)} || ' 90 ' || {w2} || '.90' "
        f"WHEN 15 THEN 'bezDPH ' || {p1} || ' ' || {w2} || '.95' "
        f"ELSE {p1} || ' ' || {w2} || ',90 ' || {w2} || '.90' END"
    )
    return (
        f"SELECT {pk} AS sample_id, {shop_pick} AS shop_name, "
        f"{cls_pick} AS class_id, {text} AS ocr_text FROM {part_table}"
    )


def build_dispatcher_query_sql(d: Dialect, part_table: str) -> str:
    # Seven per-field dispatchers over the gated, hoisted context columns
    # (the same projection detected_data's tail runs): each parser body
    # appears once per field instead of once per shared-parse call.
    fields = dispatcher_fields(d, "shop_name", "ocr_text", "class_id")
    cols = ", ".join(
        f"cast({hoist_price_context_extended(fields[f], d, 'ocr_text')} as {_ftype(d, f)}) AS {f}"
        for f in FIELDS
    )
    ctx_cols = price_context_sql(d, "shop_name", "ocr_text", "class_id")
    return (
        f"WITH samples AS ({_samples_sql(d, part_table)}), "
        f"ctx AS (SELECT *, {ctx_cols} FROM samples) "
        f"SELECT sample_id, shop_name, class_id, {cols} FROM ctx ORDER BY sample_id"
    )


def build_parse_price_query_sql(d: Dialect, part_table: str) -> str:
    """op 21 alone: the core parser over the raw sample strings."""
    return (
        f"WITH samples AS ({_samples_sql(d, part_table)}) "
        f"SELECT sample_id, ocr_text, {parse_price_sql(d, 'ocr_text')} AS parsed_price "
        f"FROM samples ORDER BY sample_id"
    )


# --- registry entries ------------------------------------------------------
from ..registry import register_sql  # noqa: E402


register_sql(
    "parse_price_core",
    build_parse_price_query_sql,
    ("part",),
    doc="Reference op 21 parse_price: strip/normalize separators + "
    "implied-cents rule, as a native expression over synthesized OCR text.",
    tags=("scalar", "prices"),
)


register_sql(
    "price_dispatcher_suite",
    build_dispatcher_query_sql,
    ("part",),
    doc="Reference ops 22-40: all 17 shop parsers + class_id dispatcher over "
    "synthesized per-shop OCR samples, returning the normalized price struct "
    "as columns.",
    tags=("scalar", "prices", "dispatcher"),
)


# --------------------------------------------------------------------------
# pandas-UDF fallback of parse_price (SURVEY §2.D: kept for cross-checking
# the native expression; NOT the hot path)
# --------------------------------------------------------------------------
def parse_price_udf():
    """Arrow-batched scalar UDF computing the same implied-cents semantics
    in plain Python — used in tests to cross-check the native expression,
    and available as an escape hatch for exotic inputs."""
    def _one(s):
        if s is None:
            return None
        c = "".join(ch for ch in s if ch in "0123456789.,").replace(",", ".")
        if not c:
            return None
        if "." in c:
            try:
                return float(c)
            except ValueError:
                return None
        return int(c) / 100.0 if len(c) > 2 else float(c)

    @F.pandas_udf("double")
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(_one)

    return _udf
