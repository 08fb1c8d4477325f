"""Record-linkage operators: SymSpell-style fuzzy name correction (a
delete-neighborhood equi-join) and a point-in-time join of facts against
SCD Type-2 dimension versions.

Reference parity: the reference corrects OCR-corrupted item names against a
35,859-line vocabulary one word at a time (correct_names.py:52-114 — trie
probe, then confusion-variant expansion, then Hunspell).  The trie/DP path
is ops 16-20 (operators/segmentation.py); THIS module is the set-oriented
generalization a corpus-scale engine needs: correct EVERY unknown token in
one relational pass instead of per-row Python.  The temporal half pairs the
reference's validity model (valid_from/valid_to re-checks, README.md:66-99)
with the warehouse-standard "which dimension version was current when this
fact happened" lookup over the SCD2 history that operators/scale.py builds.

Scale design (100 TB):
- SymSpell correction NEVER compares all tokens to all vocabulary words.
  Each string s of length L expands to L+1 keys ({s} union its L
  single-character deletions); two strings within Damerau/Levenshtein
  distance 1 necessarily share a key (substitution -> same-position
  deletions collide; insertion/deletion -> one string IS a deletion of the
  other).  Candidate generation is therefore an EQUI-join on the key — the
  pair count is bounded by key-bucket products, fan-out is linear in token
  length, and the expensive ``levenshtein`` refine runs only on candidates.
  This is the SymSpell inverted-deletion index re-expressed as a shuffle
  join; vocabulary-side keys would be broadcast when the vocabulary is
  dimension-sized (the reference's 24k-word vocab is ~1 MB).
- The point-in-time join is an equi-join on the dimension key with the
  [valid_from, valid_to) containment as a RESIDUAL predicate — never a
  range-only join: each fact row meets only its own key's few versions
  (SCD2 version counts per key are small by construction), so the shuffle
  is the same as any fact-dim join and AQE/skew handling applies unchanged.
- Both operators are single dual-dialect SQL templates (functions/
  dialect.py): the Spark query and its DuckDB oracle are the same
  expression, fully JVM-native (whole-stage codegen, zero Python UDFs).
"""

from __future__ import annotations

from ..functions.dialect import Dialect
from ..registry import register_sql

MIN_TOKEN_LEN = 4  # tokens shorter than this are ambiguous at distance 1


def _delete_keys(d: Dialect, s: str) -> str:
    """{s} ∪ {s with char i removed} — the SymSpell k=1 index key set.
    ``substr``/``||`` are shared syntax; only the array builders differ."""
    body = f"i -> substr({s}, 1, i - 1) || substr({s}, i + 1)"
    if d.name == "spark":
        return f"concat(array({s}), transform(sequence(1, length({s})), {body}))"
    return f"list_prepend({s}, list_transform(generate_series(1, length({s})), {body}))"


def _explode_keys(d: Dialect, rel: str, col: str, out: str) -> str:
    """(col, key) pairs from exploding the delete-key set of ``rel.col``."""
    keys = _delete_keys(d, col)
    if d.name == "spark":
        inner = f"SELECT {col}, key FROM ({rel}) r LATERAL VIEW explode({keys}) t AS key"
    else:
        inner = f"SELECT {col}, unnest({keys}) AS key FROM ({rel}) r"
    return f"SELECT DISTINCT {col} AS {out}, key FROM ({inner}) e"


def _symspell_sql(d: Dialect, table: str, part_table: str) -> str:
    """Vocabulary = the corpus's distinct words UNION the part-name
    vocabulary (the engine's stand-in for the reference's 24k-word item
    vocabulary, data_pipeline.py:25-33), len >= MIN_TOKEN_LEN; query
    tokens = a deterministic OCR-style corruption of each vocabulary word
    (one character deleted at an md5-chosen position — the same
    fixture-injection pattern as pii_redaction).  Correction = SymSpell
    candidate join + levenshtein refine + best-match (min distance, then
    lexicographic) per token."""
    w = d.splitws("lower(text)")
    pn = d.splitws("lower(p_name)")
    if d.name == "spark":
        word_rel = (
            f"SELECT word FROM (SELECT {w} AS ws FROM {table}) s "
            f"LATERAL VIEW explode(ws) t AS word "
            f"UNION ALL "
            f"SELECT word FROM (SELECT {pn} AS ws FROM {part_table}) p "
            f"LATERAL VIEW explode(ws) t AS word"
        )
    else:
        word_rel = (
            f"SELECT unnest({w}) AS word FROM {table} "
            f"UNION ALL SELECT unnest({pn}) AS word FROM {part_table}"
        )
    h = d.md5_prefix_int("word")
    qk = _explode_keys(d, "SELECT q FROM queries", "q", "q")
    vk = _explode_keys(d, "SELECT word FROM vocab", "word", "word")
    return f"""
WITH vocab AS (
  SELECT DISTINCT word FROM ({word_rel}) x WHERE length(word) >= {MIN_TOKEN_LEN}
),
queries AS (
  SELECT DISTINCT substr(word, 1, pos - 1) || substr(word, pos + 1) AS q
  FROM (SELECT word, 1 + (({h}) % length(word)) AS pos FROM vocab) c
),
qk AS ({qk}),
vk AS ({vk}),
cand AS (
  SELECT DISTINCT qk.q, vk.word FROM qk JOIN vk ON vk.key = qk.key
),
ranked AS (
  -- levenshtein is evaluated exactly ONCE per candidate pair: it is
  -- projected below the window, and the dist filter sits ABOVE the window
  -- in the final SELECT, where Catalyst cannot push it back through the
  -- PARTITION BY q boundary (a plain project+filter form relied on engine
  -- CSE, and Spark's filter pushdown re-inlined the call into the
  -- predicate — measured 2 levenshtein evals per pair in the plan).
  -- (dist > 1) sorts refuted collisions last and the conditional count
  -- keeps n_cand = |dist<=1 candidates|, so the output is row-identical
  -- to the filter-below-window form.
  SELECT q, word, dist,
         ROW_NUMBER() OVER (PARTITION BY q ORDER BY (dist > 1), dist, word) AS rk,
         COUNT(CASE WHEN dist <= 1 THEN 1 END) OVER (PARTITION BY q) AS n_cand
  FROM (SELECT q, word, levenshtein(q, word) AS dist FROM cand) lev
)
SELECT q AS token, word AS corrected, CAST(dist AS INT) AS edit_distance,
       CAST(n_cand AS INT) AS n_candidates
FROM ranked WHERE rk = 1 AND dist <= 1
ORDER BY token
"""


register_sql(
    "symspell_name_correction",
    _symspell_sql,
    ("documents", "part"),
    doc="SymSpell fuzzy name correction as a delete-neighborhood EQUI-join: "
    "every string expands to its k=1 deletion keys, distance<=1 pairs "
    "necessarily collide on a key, levenshtein refines candidates only — "
    "the set-oriented, no-cross-join form of the reference's per-word OCR "
    "name correction (correct_names.py:52-114) against a corpus+part-name "
    "vocabulary.",
    tags=("linkage", "text", "join"),
)


# --------------------------------------------------------------------------
# point-in-time (as-of-version) join against SCD2 dimension history
# --------------------------------------------------------------------------
CUSTKEY_MOD = 20  # fact-side sample keeps the driver-hashed output bounded

# Engine-neutral ANSI SQL: the SCD2 history (same construction as
# operators/scale.py::scd2_dimension_update, with the initial version opened
# at the fact table's epoch so every fact date is covered) joined to facts
# on the KEY, with version-interval containment as a residual predicate.
def _pit_sql(d: Dialect, orders: str, customer: str) -> str:
    return f"""
WITH upd_keys AS (
  SELECT DISTINCT o_custkey FROM {orders}
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
),
base AS (
  SELECT c_custkey, c_mktsegment,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
  FROM {customer}
),
versions AS (
  SELECT b.c_custkey, b.c_mktsegment, b.acctbal,
         DATE '1992-01-01' AS valid_from, DATE '1996-07-01' AS valid_to,
         FALSE AS is_current
  FROM base b JOIN upd_keys u ON u.o_custkey = b.c_custkey
  UNION ALL
  SELECT b.c_custkey, 'UPGRADED' AS c_mktsegment,
         CAST(CAST(b.acctbal + 100 AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
         DATE '1996-07-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
         TRUE AS is_current
  FROM base b JOIN upd_keys u ON u.o_custkey = b.c_custkey
  UNION ALL
  SELECT b.c_custkey, b.c_mktsegment, b.acctbal,
         DATE '1992-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
         TRUE AS is_current
  FROM base b WHERE NOT EXISTS (SELECT 1 FROM upd_keys u WHERE u.o_custkey = b.c_custkey)
),
facts AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
  FROM {orders} WHERE o_custkey % {CUSTKEY_MOD} = 0
)
SELECT f.o_orderkey, f.o_custkey, f.o_orderdate, f.total_price,
       v.c_mktsegment AS segment_at_order,
       v.acctbal AS acctbal_at_order,
       v.is_current AS from_current_version
FROM facts f
JOIN versions v
  ON v.c_custkey = f.o_custkey
 AND f.o_orderdate >= CAST(v.valid_from AS TIMESTAMP)
 AND (v.valid_to IS NULL OR f.o_orderdate < CAST(v.valid_to AS TIMESTAMP))
ORDER BY f.o_orderkey
"""


register_sql(
    "pit_join_scd2",
    _pit_sql,
    ("orders", "customer"),
    doc="Point-in-time join: each fact row picks the SCD2 dimension version "
    "current AT its event time — equi-join on the dimension key with "
    "[valid_from, valid_to) containment as a residual predicate (never a "
    "range-only join; per-key version counts are small by construction). "
    "The warehouse-standard companion to scd2_dimension_update, and the "
    "engine form of the reference's valid_from/valid_to validity model.",
    tags=("linkage", "temporal", "join", "scd2"),
)


# --------------------------------------------------------------------------
# blocked pairwise record linkage (dirty -> clean entity resolution)
# --------------------------------------------------------------------------
LINK_DIRTY_MOD = 3  # every 3rd customer gets a corrupted twin
LINK_MAX_DIST = 1  # accept matches within this edit distance


def _record_linkage_sql(d: Dialect, table: str) -> str:
    """Entity resolution by BLOCKED fuzzy join — the other half of record
    linkage next to SymSpell's token correction: link whole dirty RECORDS
    back to a clean master table.  Self-contained ground truth: every
    LINK_DIRTY_MOD-th customer gets a deterministically corrupted twin
    (digit at position 10 replaced with '~', edit distance exactly 1), and
    ``is_correct`` reports whether blocking + refine recovered the origin.

    Scale design: NEVER all-pairs — candidates come from an EQUI-join on a
    blocking key the corruption provably preserves (last 4 name chars +
    length; the corruption touches position 10 only), so block sizes are
    bounded by key collisions, not table size.  The expensive
    ``levenshtein`` refine runs once per candidate, projected BELOW the
    per-dirty ranking window and filtered above it (same Catalyst
    double-eval trap as symspell_name_correction).  The ranking window
    partitions by dirty_key — bounded by block fan-out."""
    corrupt = "substr(c_name, 1, 9) || '~' || substr(c_name, 11)"
    return f"""
WITH dirty AS (
  SELECT c_custkey AS dirty_key, {corrupt} AS dirty_name
  FROM {table}
  WHERE c_custkey % {LINK_DIRTY_MOD} = 0
),
cands AS (
  SELECT dd.dirty_key, cc.c_custkey AS cand_key,
         levenshtein(dd.dirty_name, cc.c_name) AS lev_dist
  FROM dirty dd
  JOIN {table} cc
    ON substr(dd.dirty_name, 15, 4) = substr(cc.c_name, 15, 4)
   AND length(dd.dirty_name) = length(cc.c_name)
),
best AS (
  SELECT dirty_key, cand_key, lev_dist,
         ROW_NUMBER() OVER (PARTITION BY dirty_key
                            ORDER BY lev_dist, cand_key) AS rn
  FROM cands
)
SELECT dirty_key,
       cand_key AS matched_key,
       CAST(lev_dist AS INT) AS lev_dist,
       (cand_key = dirty_key) AS is_correct
FROM best
WHERE rn = 1 AND lev_dist <= {LINK_MAX_DIST}
ORDER BY dirty_key
"""


register_sql(
    "record_linkage_blocked",
    _record_linkage_sql,
    ("customer",),
    doc="Blocked pairwise record linkage: deterministically corrupted "
    "customer twins linked back to the master table via a "
    "corruption-preserved blocking key (last-4-chars + length equi-join) "
    "and a levenshtein refine evaluated once per candidate below the "
    "per-dirty ranking window. Ground truth is self-contained "
    "(is_correct column). Never all-pairs.",
    tags=("linkage", "fuzzy-join", "blocking"),
)
