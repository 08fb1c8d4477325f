"""detected_data, fully native and oracle-checked end-to-end.

operators/inference.py synthesizes the DAG #1 detections with mapInPandas
stubs (the real deployment shape — external model calls live in Python).
This module synthesizes the same feed in native SQL with portable hash
math, so the ENTIRE chain — detection synthesis → deterministic last-wins
pivot → price dispatcher → wide record — is hash-compared against DuckDB.
Both pipelines run ONE tail, ``_wide_sql``, over their own detection feed:
the plumbing is exercised with real Python batching, AND the relational
semantics of the tail are oracle-proven.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..functions.prices import (
    SHOPS,
    dispatcher_value_sql,
    hoist_price_context_extended,
    price_context_sql,
)
from ..registry import register
from ..session import session_view
from ..sources.tables import table_view

CLASSES = ("item_name", "item_price", "item_member_price", "item_initial_price")
NAME_WORDS = ("mleko", "jogurt", "cerstve", "smetanovy", "florian", "maslo")


PAGE_MOD = 3  # keep in sync with inference.PAGE_MOD (1 + pk % PAGE_MOD pages)


def _detections_sql(d: Dialect, part_table: str) -> str:
    """Deterministic per-image detections: op-3 page fan-out (1 + pk %
    PAGE_MOD pages per source document, reference filename scheme
    ``{base}_page_{i}.png``) crossed with class x slot combos, kept when
    slot < (seed %% 3), with portable md5-based seeds — the relational twin
    of inference.synthesize_pages + _stub_infer_batch."""
    image_id = (
        "('pages/valid/part_' || " + d.strcast("p_partkey")
        + " || '_page_' || " + d.strcast("page_num") + " || '.png')"
    )
    shops_arr = d.array_lit(list(SHOPS))
    if d.name == "spark":
        shop = f"element_at({shops_arr}, cast(p_partkey % {len(SHOPS)} as int) + 1)"
        combos = ", ".join(
            f"named_struct('cls', '{c}', 'slot', {s}, 'cidx', {ci})"
            for ci, c in enumerate(CLASSES)
            for s in (0, 1)
        )
        explode_rel = (
            f"SELECT {image_id} AS image_id, {shop} AS shop_name, "
            f"e.cls AS class_name, e.slot AS slot, e.cidx AS cidx "
            f"FROM {part_table} "
            f"LATERAL VIEW explode(sequence(1, 1 + cast(p_partkey % {PAGE_MOD} as int))) "
            f"pg AS page_num "
            f"LATERAL VIEW explode(array({combos})) t AS e"
        )
    else:
        shop = f"({shops_arr})[p_partkey % {len(SHOPS)} + 1]"
        combos = ", ".join(
            f"{{'cls': '{c}', 'slot': {s}, 'cidx': {ci}}}"
            for ci, c in enumerate(CLASSES)
            for s in (0, 1)
        )
        pages_rel = (
            f"(SELECT p_partkey, unnest(generate_series(1, 1 + p_partkey % {PAGE_MOD}))"
            f" AS page_num FROM {part_table})"
        )
        explode_rel = (
            f"SELECT image_id, shop_name, u.cls AS class_name, u.slot AS slot, u.cidx AS cidx "
            f"FROM (SELECT {image_id} AS image_id, {shop} AS shop_name, "
            f"unnest([{combos}]) AS u FROM {pages_rel} pgs) s"
        )
    count_seed = d.md5_prefix_int("(image_id || '|' || class_name)")
    s2 = d.md5_prefix_int("(image_id || '|' || class_name || '|' || " + d.strcast("slot") + ")")
    words = d.array_lit(list(NAME_WORDS))
    if d.name == "spark":
        word = lambda sh: f"element_at({words}, cast(({d.shr('s2', sh)}) % {len(NAME_WORDS)} as int) + 1)"
    else:
        word = lambda sh: f"({words})[({d.shr('s2', sh)}) % {len(NAME_WORDS)} + 1]"
    whole = "(5 + s2 % 495)"
    cents = f"lpad({d.strcast('(s2 % 100)')}, 2, '0')"
    w_s = d.strcast(whole)
    w5_s = d.strcast(f"({whole} + 5)")
    ocr = (
        f"CASE WHEN class_name = 'item_name' THEN "
        f"{word(0)} || ' ' || {word(5)} || ' ' || {word(9)} "
        f"ELSE CASE s2 % 5 "
        f"WHEN 0 THEN {w_s} || '.' || {cents} "
        f"WHEN 1 THEN {w_s} || {cents} "
        f"WHEN 2 THEN {w_s} || ',' || {cents} "
        f"WHEN 3 THEN {w_s} || '.' || {cents} || ' ' || {w5_s} || '.90' "
        f"ELSE {w_s} || ' ' || (CASE WHEN s2 % 2 = 1 THEN '90' ELSE '99' END) END END"
    )
    return f"""
SELECT image_id, shop_name, class_name, (cidx * 2 + slot) AS det_idx, {ocr} AS ocr_text
FROM (
  SELECT *, {s2} AS s2 FROM (
    SELECT * FROM ({explode_rel}) raw WHERE slot < ({count_seed}) % 3
  ) kept
) seeded
"""


def _wide_sql(d: Dialect, part_table: str, detections_rel: str | None = None) -> str:
    det = detections_rel or _detections_sql(d, part_table)

    def pick(value: str, cls: str, alias: str) -> str:
        # DuckDB ARG_MAX skips rows whose ARG is NULL — a failed parse at
        # the winning det_idx would resurrect an earlier successful one.
        # Wrapping the arg in a struct (never NULL) keeps the reference
        # semantics: the LAST detection wins even when its parse is NULL.
        # Spark's max_by only ignores NULL *ordering* values, which the
        # class-gated CASE ord already provides.
        if d.name == "duckdb":
            return (
                f"(ARG_MAX({{'v': {value}}}, det_idx) "
                f"FILTER (WHERE class_name = '{cls}'))['v'] AS {alias}"
            )
        return (
            f"max_by(CASE WHEN class_name = '{cls}' THEN {value} END, "
            f"CASE WHEN class_name = '{cls}' THEN det_idx END) AS {alias}"
        )

    # Dispatch BEFORE the pivot, as ONE SCALAR expression: the row's
    # class_name selects its parsed value (dispatcher_value_sql), with the
    # shared subexpressions hoisted to CTE columns computed once per row —
    # the token/whole-string parses AND the five per-shop token pipelines
    # (extended_price_context_exprs; the three class branches otherwise
    # carried a textual copy each, and per-call Catalyst analysis of the
    # ~65k-char tree cost ~1.4 s regardless of data size).  parse() is
    # deterministic per text, so arg_max(parse(text), idx) ==
    # parse(arg_max(text, idx)).  A struct-valued dispatcher is unusable:
    # extracting 3 fields replicates the whole 7-field parser chain 3x
    # (SimplifyExtractValueOps), >1 MiB task binaries and 10 s+ Janino
    # compiles.  Context columns are gated to price-class rows AND to each
    # column's own shops (price_context_sql — the inline form's CASE
    # laziness got this for free; ungated, every row paid every shop's
    # token pipeline), and projections are narrowed to the pivot's input.
    ctx_cols = price_context_sql(d, "shop_name", "ocr_text", "class_name")
    pv = hoist_price_context_extended(
        dispatcher_value_sql(d, "shop_name", "ocr_text", "class_name"), d, "ocr_text"
    )
    picks = ", ".join(
        [pick("ocr_text", c, c) for c in CLASSES]
        + [
            pick("pv", cls, f"processed_{cls}")
            for cls in ("item_price", "item_member_price", "item_initial_price")
        ]
    )
    return f"""
WITH detections AS ({det}),
ctx AS (SELECT image_id, shop_name, class_name, det_idx, ocr_text, {ctx_cols} FROM detections),
parsed AS (SELECT image_id, shop_name, class_name, det_idx, ocr_text, {pv} AS pv FROM ctx),
wide AS (
  SELECT image_id, shop_name, {picks}
  FROM parsed GROUP BY image_id, shop_name
)
SELECT image_id, shop_name,
       item_name, lower(item_name) AS processed_item_name,
       item_price, item_member_price, item_initial_price,
       processed_item_price, processed_item_member_price,
       processed_item_initial_price,
       true AS valid
FROM wide ORDER BY image_id
"""


@register(
    "detected_data_native",
    oracle=_wide_sql(DUCKDB, "part"),
    doc="The DAG #1 tail (detections → last-wins pivot → price dispatcher → "
    "wide detected_data) as pure native SQL with portable hash synthesis — "
    "the END-TO-END oracle check of the pipeline's relational semantics "
    "(the mapInPandas twin is detected_data_pipeline).",
    tags=("pipeline", "pivot", "prices"),
)
def detected_data_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthesized detection feed is a stored session relation (the
    # reference stores detection records once per DAG run; r9 verdict
    # task 4) — the dispatcher + last-wins pivot stay live-measured
    det = _detections_view(spark, sf_dir)
    return spark.sql(
        _wide_sql(SPARK, "unused", detections_rel=f"SELECT * FROM {det}")
    )


def _detections_view(spark: SparkSession, sf_dir: str) -> str:
    """The relational synthetic detection feed (`_detections_sql` over
    part) as a stored session view — the native twin of
    ``inference._det2_feed_view``.  Synthesis stays live-measured by
    ``nested_detections_table`` (mapInPandas path) and by this view's
    one warm-up build."""
    return session_view(
        spark, sf_dir, "detfeed",
        lambda: spark.sql(_detections_sql(SPARK, table_view(spark, sf_dir, "part"))),
    )


def _wide_view(spark: SparkSession, sf_dir: str) -> str:
    """The wide detected_data relation as a stored session view.  This
    mirrors the reference dataflow: DAG #1 STORES detected_data
    (DynamoDB put, op 5) and the regroup ops 48/49 READ the stored table
    (regroup_by_shop.py reads, never recomputes) — so downstream queries
    here consume the materialized relation instead of re-deriving the
    whole explode+parse pipeline per query (3.8 s -> ~0.4 s for
    shop_valid_files at sf0.1).  ``detected_data_native`` keeps the
    build live-measured."""

    def build():
        det = _detections_view(spark, sf_dir)  # reuse the stored detection feed
        return spark.sql(_wide_sql(SPARK, "unused", detections_rel=f"SELECT * FROM {det}"))

    return session_view(spark, sf_dir, "wide", build)


def _shop_valid_files_sql(
    d: Dialect, part_table: str, wide_rel: str | None = None
) -> str:
    """Reference op 49 (README.md:98 regroup_shop_to_valid_file) literal
    shape: filter(valid) -> groupBy(shop) -> collect_list(file).  Validity =
    the stored flag AND a successful price parse (a file whose dispatcher
    output is NULL has nothing to notify about).  The file list is sorted and
    joined for order-insensitive hashing."""
    wide = wide_rel or _wide_sql(d, part_table)
    if d.name == "spark":
        files = "array_join(array_sort(collect_list(image_id)), ',')"
    else:
        files = "array_to_string(list_sort(list(image_id)), ',')"
    return f"""
WITH wide_rel AS ({wide})
SELECT shop_name,
       COUNT(*) AS n_valid_files,
       {files} AS files
FROM wide_rel
WHERE valid AND processed_item_price IS NOT NULL
GROUP BY shop_name
ORDER BY shop_name
"""


@register(
    "shop_valid_files",
    oracle=_shop_valid_files_sql(DUCKDB, "part"),
    doc="Reference op 49 regroup_shop_to_valid_file (README.md:98) in its "
    "literal form: valid detected records regrouped into a per-shop sorted "
    "file list — one shuffle on shop_name, list bounded by files-per-shop.",
    tags=("pipeline", "agg", "nesting"),
)
def shop_valid_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consume the MATERIALIZED detected_data relation, as the reference's
    # regroup task does (it reads the stored table, never re-runs DAG #1)
    wide = _wide_view(spark, sf_dir)
    return spark.sql(
        _shop_valid_files_sql(SPARK, "unused", wide_rel=f"SELECT * FROM {wide}")
    )
