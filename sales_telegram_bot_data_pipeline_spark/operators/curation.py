"""Dataset-curation operators over the documents table: deterministic
train/val/test hash splits, stratified (per-language) sampling,
benchmark-contamination scan, repetition-based quality metrics,
overlapping document chunking, and PII redaction.

These are the corpus-management ops a large-scale training-data pipeline
runs beside dedup/similarity (the reference's closest surface is its
valid/invalid file regrouping, README.md:96-99 — routing rows to output
sets by a computed property; these generalize that to hash-routing and
quality-routing at corpus scale).

Scale design (100 TB):
- splits and samples are PROJECTIONS over a portable 60-bit md5 hash of the
  key — no shuffle, no RNG state, no sampling seed to ship; membership is
  reproducible from the row alone, so a re-run (or a different engine — the
  DuckDB oracle) lands every row in the same split.  This is how production
  corpora pin eval sets: hash routing survives repartitioning, backfills,
  and incremental appends, where row-number sampling does not.
- the contamination scan builds the benchmark shingle set (small by
  construction: benchmarks are thousands of docs, not billions) and
  broadcast-joins it against corpus shingles — map-side, corpus text never
  shuffles; only (doc_id, hit) pairs aggregate.
- repetition metrics are per-doc explode→count→ratio chains: the only
  shuffle key is doc_id (the natural parallel unit), partial aggregation
  applies, and every count is O(doc length).
- chunking is a pure 1→N generator (explode over computed chunk starts):
  row-parallel, no shuffle, output size = O(total tokens × overlap factor).
  This is the context-window prep step every training pipeline runs last.
- PII redaction is a pure projection (regexp count + replace chains) —
  row-parallel, shuffle-free, and the patterns stay inside whole-stage
  codegen (no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK, Dialect, strip_order_by
from ..registry import register, register_sql
from ..sources.tables import load_table, table_view
from .dedup import _shingles_sql

TRAIN_PCT = 80  # hash-bucket boundaries of the 3-way split
VAL_PCT = 90
EN_RATE_PERMILLE = 100  # stratified sample: keep 10% of en ...
OTHER_RATE_PERMILLE = 300  # ... and 30% of every other language
BENCH_MOD = 97  # doc_id % 97 == 0 marks the frozen benchmark set


# --------------------------------------------------------------------------
# deterministic train/val/test split
# --------------------------------------------------------------------------
def _hash_split_sql(d: Dialect, table: str) -> str:
    """Route each doc to train/val/test by md5(doc_id) % 100 (the hash is a
    positive 60-bit int in both engines, so plain % is portable); report
    per-split row/char totals.  The per-split aggregate keeps the query's
    output O(1) — the split itself is the WHERE-clause predicate a consumer
    applies to the full corpus."""
    h = d.md5_prefix_int(d.strcast("doc_id"))
    return f"""
WITH routed AS (
  SELECT doc_id, n_chars,
         CASE WHEN ({h}) % 100 < {TRAIN_PCT} THEN 'train'
              WHEN ({h}) % 100 < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split_name
  FROM {table}
)
SELECT split_name, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM routed GROUP BY split_name ORDER BY split_name
"""


register_sql(
    "dataset_hash_split",
    _hash_split_sql,
    ("documents",),
    doc=f"Deterministic {TRAIN_PCT}/{VAL_PCT - TRAIN_PCT}/{100 - VAL_PCT} "
    "train/val/test split by portable md5(doc_id) hash bucket — no RNG, no "
    "seed, membership reproducible from the row alone (survives "
    "repartitioning and appends); per-split stats.",
    tags=("curation", "sampling"),
)


# --------------------------------------------------------------------------
# stratified deterministic sampling (language rebalancing)
# --------------------------------------------------------------------------
def _stratified_sample_sql(d: Dialect, table: str) -> str:
    """Per-stratum hash-threshold sampling: dominant-language docs kept at
    a lower rate than the tail languages — the standard corpus-rebalancing
    move.  The sample hash is salted ('samp|') so split and sample
    membership are independent."""
    h = d.md5_prefix_int(f"('samp|' || {d.strcast('doc_id')})")
    return f"""
SELECT doc_id, lang, source, n_chars
FROM {table}
WHERE ({h}) % 1000 <
      CASE WHEN lang = 'en' THEN {EN_RATE_PERMILLE} ELSE {OTHER_RATE_PERMILLE} END
ORDER BY doc_id
"""


register_sql(
    "stratified_sample",
    _stratified_sample_sql,
    ("documents",),
    doc=f"Stratified deterministic sample: keep {EN_RATE_PERMILLE / 10:.0f}% "
    f"of dominant-language (en) docs and {OTHER_RATE_PERMILLE / 10:.0f}% of "
    "tail languages via a salted hash threshold — shuffle-free projection, "
    "reproducible without RNG state.",
    tags=("curation", "sampling"),
)


# --------------------------------------------------------------------------
# benchmark-contamination scan
# --------------------------------------------------------------------------
def _contamination_sql(d: Dialect, table: str) -> str:
    """Shingle-overlap contamination check: the frozen benchmark set's
    distinct word-3-grams (small side → broadcast) semi-joined against every
    candidate doc's shingles; report docs sharing any shingle with the
    benchmark, with the shared fraction."""
    sh = _shingles_sql(d, table)
    return f"""
WITH shingles AS ({sh}),
bench AS (
  SELECT DISTINCT sh FROM shingles WHERE doc_id % {BENCH_MOD} = 0
),
doc_counts AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM shingles
  WHERE doc_id % {BENCH_MOD} <> 0 GROUP BY doc_id
),
hits AS (
  SELECT s.doc_id, COUNT(*) AS n_overlap
  FROM shingles s JOIN bench b ON s.sh = b.sh
  WHERE s.doc_id % {BENCH_MOD} <> 0
  GROUP BY s.doc_id
)
SELECT h.doc_id, dc.n_shingles, h.n_overlap,
       CAST(ROUND(h.n_overlap * 1.0 / dc.n_shingles, 6) AS DOUBLE) AS overlap_frac
FROM hits h JOIN doc_counts dc ON dc.doc_id = h.doc_id
ORDER BY h.doc_id
"""


register_sql(
    "contamination_overlap",
    _contamination_sql,
    ("documents",),
    doc="Benchmark-contamination scan: distinct shingles of the frozen "
    f"benchmark subset (doc_id % {BENCH_MOD} = 0) broadcast against corpus "
    "shingles; per-doc overlap count + fraction. Map-side semi-join shape — "
    "corpus text never shuffles.",
    tags=("curation", "text", "join"),
)


# --------------------------------------------------------------------------
# repetition-based quality metrics
# --------------------------------------------------------------------------
def _repetition_sql(d: Dialect, table: str) -> str:
    """Per-doc repetition signals in the Gopher-rules family, adapted to
    whitespace corpora: mass of the most frequent word, mass of the most
    frequent bigram, and total mass sitting in repeated (count >= 2)
    bigrams.  High values flag boilerplate / spammy documents."""
    w = d.splitws("lower(text)")
    words_rel = f"(SELECT doc_id, {w} AS w FROM {table}) src"
    if d.name == "spark":
        word_rel = f"SELECT doc_id, word FROM {words_rel} LATERAL VIEW explode(w) t AS word"
        bigram_arr = "transform(sequence(1, size(w) - 1), i -> array_join(slice(w, i, 2), ' '))"
        bigram_rel = (
            f"SELECT doc_id, bigram FROM {words_rel} "
            f"LATERAL VIEW explode({bigram_arr}) t AS bigram WHERE size(w) >= 2"
        )
    else:
        word_rel = f"SELECT doc_id, unnest(w) AS word FROM {words_rel}"
        bigram_arr = (
            "list_transform(generate_series(1, len(w) - 1), "
            "i -> array_to_string(list_slice(w, i, i + 1), ' '))"
        )
        bigram_rel = f"SELECT doc_id, unnest({bigram_arr}) AS bigram FROM {words_rel} WHERE len(w) >= 2"
    return f"""
WITH wc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM ({word_rel}) x GROUP BY doc_id, word
),
wstats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, MAX(c) AS top_word_count
  FROM wc GROUP BY doc_id
),
bc AS (
  SELECT doc_id, bigram, COUNT(*) AS c FROM ({bigram_rel}) x GROUP BY doc_id, bigram
),
bstats AS (
  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_count,
         COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS dup_bigram_mass
  FROM bc GROUP BY doc_id
)
SELECT w.doc_id, w.n_words,
       CAST(ROUND(w.top_word_count * 1.0 / w.n_words, 6) AS DOUBLE) AS top_word_frac,
       CAST(ROUND(b.top_bigram_count * 1.0 / NULLIF(b.n_bigrams, 0), 6) AS DOUBLE) AS top_bigram_frac,
       CAST(ROUND(b.dup_bigram_mass * 1.0 / NULLIF(b.n_bigrams, 0), 6) AS DOUBLE) AS dup_bigram_frac
FROM wstats w JOIN bstats b ON b.doc_id = w.doc_id
ORDER BY w.doc_id
"""


# --------------------------------------------------------------------------
# overlapping document chunking (context-window prep)
# --------------------------------------------------------------------------
CHUNK_TOKENS = 32  # chunk size in whitespace tokens
CHUNK_STRIDE = 24  # stride between chunk starts (8-token overlap)


def _chunking_sql(d: Dialect, table: str) -> str:
    """Split each document into overlapping fixed-size token windows — the
    1→N explode shape of the reference's PDF→pages source (SURVEY.md §2 op 3)
    applied to context-window preparation.  Chunk starts are 1, 1+stride,
    …; a start whose window would add no tokens beyond the previous chunk
    (short tail fully contained in its predecessor) is dropped, so chunk
    boundaries are deterministic and non-redundant."""
    w = d.splitws("text")
    n = d.alen("w")
    if d.name == "spark":
        # greatest(1, n): Spark's sequence() raises on (1, 0, +step) and the
        # LATERAL VIEW evaluates before the WHERE can drop empty docs.
        starts_rel = (
            f"SELECT doc_id, w, start FROM words "
            f"LATERAL VIEW explode(sequence(1, greatest(1, {n}), {CHUNK_STRIDE})) t AS start "
            f"WHERE {n} >= 1"
        )
        chunk_words = f"slice(w, start, {CHUNK_TOKENS})"
        join_ws = f"array_join({chunk_words}, ' ')"
    else:
        starts_rel = (
            f"SELECT doc_id, w, unnest(generate_series(1, {n}, {CHUNK_STRIDE})) AS start "
            f"FROM words WHERE {n} >= 1"
        )
        chunk_words = f"list_slice(w, start, start + {CHUNK_TOKENS - 1})"
        join_ws = f"array_to_string({chunk_words}, ' ')"
    return f"""
WITH words AS (SELECT doc_id, {w} AS w FROM {table}),
starts AS ({starts_rel})
SELECT doc_id,
       CAST({d.idiv('(start - 1)', CHUNK_STRIDE)} AS INT) AS chunk_idx,
       CAST({d.alen(chunk_words)} AS INT) AS n_tokens,
       {join_ws} AS chunk_text
FROM starts
WHERE start = 1 OR start <= {d.alen('w')} - {CHUNK_TOKENS} + {CHUNK_STRIDE}
ORDER BY doc_id, chunk_idx
"""


register_sql(
    "document_chunking",
    _chunking_sql,
    ("documents",),
    doc=f"Overlapping context-window chunking: {CHUNK_TOKENS}-token windows "
    f"every {CHUNK_STRIDE} tokens (1→N generator/explode, row-parallel, no "
    "shuffle); redundant short tails dropped deterministically.",
    tags=("curation", "text", "explode"),
)


# --------------------------------------------------------------------------
# PII detection + redaction
# --------------------------------------------------------------------------
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\+[0-9]{3} [0-9]{3} [0-9]{3}"
IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def _pii_sql(d: Dialect, table: str) -> str:
    """Count and redact emails / phone numbers / IPv4 addresses.  The corpus
    text is digit- and @-free by construction, so reference-shaped PII is
    appended deterministically per row (same fixture-injection pattern as
    textops._dirty) and the detection regexes do the real work.  Counts are
    computed on the raw string; redaction chains email→phone→ip."""
    c = d.strcast
    pii = (
        "(text || ' Contact: user' || {id} || '@mail.example or admin.' || {id} || "
        "'@corp.example tel +420 ' || {p1} || ' ' || {p2} || ' from 10.' || {o1} || '.0.' || {o2})"
    ).format(
        id=c("doc_id"),
        p1=c("(100 + doc_id % 900)"),
        p2=c("(100 + (doc_id * 7) % 900)"),
        o1=c("(doc_id % 256)"),
        o2=c("((doc_id * 3) % 256)"),
    )
    redacted = d.re_all(d.re_all(d.re_all("pii", EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"), IPV4_RE, "[IP]")
    return f"""
WITH src AS (SELECT doc_id, {pii} AS pii FROM {table})
SELECT doc_id,
       {d.re_count('pii', EMAIL_RE)} AS n_emails,
       {d.re_count('pii', PHONE_RE)} AS n_phones,
       {d.re_count('pii', IPV4_RE)} AS n_ips,
       {redacted} AS redacted
FROM src
ORDER BY doc_id
"""


register_sql(
    "pii_redaction",
    _pii_sql,
    ("documents",),
    doc="PII detection + redaction: email/phone/IPv4 regex counts and "
    "[EMAIL]/[PHONE]/[IP] replacement over PII-injected document text — "
    "pure projection, shuffle-free, whole-stage-codegen regexes.",
    tags=("curation", "text", "scalar"),
)


register_sql(
    "quality_repetition",
    _repetition_sql,
    ("documents",),
    doc="Gopher-style repetition quality metrics per doc: top-word mass, "
    "top-bigram mass, and duplicate-bigram mass — explode→count→ratio "
    "chains whose only shuffle key is doc_id (partial agg applies).",
    tags=("curation", "text", "quality"),
)


# --------------------------------------------------------------------------
# sequence packing (concat-and-split into fixed token budgets)
# --------------------------------------------------------------------------
PACK_BUDGET = 2048  # tokens per training sequence
PACK_TARGET_DOCS_PER_SHARD = 125  # shard count = ceil(n_docs / this)


def _sequence_packing_sql(d: Dialect, table: str) -> str:
    """Pack documents into fixed-token-budget training sequences by
    concatenation order: docs are routed to independent streams by a salted
    hash, ordered by doc_id within the stream, and a running token offset
    assigns each doc to the pack where its first token lands (GPT-style
    concat-and-split — a doc may straddle its pack boundary and spill into
    the next, which consumers handle by carrying the remainder).

    Scale: the ONLY wide operation is a window SUM partitioned by shard,
    and the shard count is DERIVED from the corpus
    (ceil(n_docs / PACK_TARGET_DOCS_PER_SHARD), a one-row scalar subquery
    broadcast to every row), so each window partition is bounded by
    construction at any corpus size; no global ordering is ever required.
    Membership and offsets are reproducible from (doc_id, corpus count)
    alone — the running SUM is cast to BIGINT at emission because DuckDB
    widens integer window SUMs to HUGEINT, which the driver's typed hash
    would (correctly) refuse to match against Spark's BIGINT."""
    h = d.md5_prefix_int(f"('pack|' || {d.strcast('doc_id')})")
    n_tokens = d.alen(d.splitws("text"))
    return f"""
WITH nsh AS (
  SELECT GREATEST(CAST(1 AS BIGINT),
                  CAST(CEIL(COUNT(*) * 1.0 / {PACK_TARGET_DOCS_PER_SHARD}) AS BIGINT))
           AS n_shards
  FROM {table}
),
toks AS (
  SELECT doc_id, ({h}) % n_shards AS shard,
         CAST({n_tokens} AS BIGINT) AS n_tokens
  FROM {table} CROSS JOIN nsh
),
offs AS (
  SELECT shard, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS start_offset
  FROM toks
),
packed AS (
  SELECT shard, doc_id, n_tokens, start_offset,
         CAST({d.idiv('start_offset', 'PACK_BUDGET_LIT')} AS BIGINT) AS pack_id
  FROM offs
)
SELECT shard, pack_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard, pack_id ORDER BY doc_id) AS INT)
         AS pos_in_pack,
       doc_id, n_tokens, start_offset
FROM packed
ORDER BY shard, pack_id, pos_in_pack
""".replace("PACK_BUDGET_LIT", str(PACK_BUDGET))


register_sql(
    "sequence_packing",
    _sequence_packing_sql,
    ("documents",),
    doc=f"Sequence packing: concat-and-split docs into {PACK_BUDGET}-token "
    "training sequences across hash-routed shards whose count scales with "
    f"the corpus (ceil(n_docs/{PACK_TARGET_DOCS_PER_SHARD})) — running "
    "token offset via a shard-partitioned window SUM (bounded partitions "
    "by construction, no global order), pack = offset div budget; fully "
    "deterministic.",
    tags=("curation", "packing", "window"),
)


# --------------------------------------------------------------------------
# table audit (data-quality validation)
# --------------------------------------------------------------------------
def _table_audit_sql(d: Dialect, table: str) -> str:
    """One-pass data-quality audit of the orders table — the schema-contract
    check a pipeline runs before promoting a dataset: null counts, domain
    violations, key uniqueness, value ranges.  Everything folds into a
    single aggregation (one scan, map-side partials, O(1) output); the
    uniqueness check compares COUNT(*) to COUNT(DISTINCT key) instead of
    materializing duplicates."""
    return f"""
SELECT
  COUNT(*) AS n_rows,
  COUNT(*) - COUNT(o_custkey) AS null_custkey,
  COUNT(*) - COUNT(o_orderdate) AS null_orderdate,
  COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_orderkeys,
  COUNT(*) FILTER (WHERE o_totalprice <= 0) AS nonpositive_totals,
  COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS bad_status,
  COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1990-01-01'
                      OR o_orderdate > TIMESTAMP '2030-01-01') AS out_of_range_dates,
  CAST(MIN(o_totalprice) AS DOUBLE) AS min_total,
  CAST(MAX(o_totalprice) AS DOUBLE) AS max_total
FROM {table}
"""


register_sql(
    "table_audit_orders",
    _table_audit_sql,
    ("orders",),
    doc="Data-quality audit in ONE scan: null counts, duplicate-key check "
    "via COUNT vs COUNT DISTINCT, domain/range violations, min/max — the "
    "pre-promotion contract check; O(1) output, map-side partial aggs.",
    tags=("curation", "audit", "agg"),
)


# --------------------------------------------------------------------------
# end-to-end curation pipeline (capstone: quality -> dedup -> split)
# --------------------------------------------------------------------------
QUAL_TOP_WORD_MAX = 0.12  # drop docs whose top word carries > 12% of mass
QUAL_DUP_BIGRAM_MAX = 0.10  # drop docs with > 10% repeated-bigram mass


def _curation_pipeline_tail_sql(d: Dialect, table: str, rep_rel: str) -> str:
    """Everything after cluster-representative selection: quality filter ->
    canonical-only keep -> hash-routed split stats.  ``rep_rel`` supplies
    the canonical doc_ids (Spark: the iterative connected-components
    labels, materialized; DuckDB: the recursive-CTE closure)."""
    q = strip_order_by(_repetition_sql(d, table))
    h = d.md5_prefix_int(d.strcast("doc_id"))
    return f"""
WITH rep AS ({rep_rel}),
q AS ({q}),
keep AS (
  SELECT t.doc_id, t.n_chars
  FROM {table} t
  JOIN rep r ON r.doc_id = t.doc_id
  JOIN q ON q.doc_id = t.doc_id
  WHERE q.top_word_frac <= {QUAL_TOP_WORD_MAX}
    AND COALESCE(q.dup_bigram_frac, 0) <= {QUAL_DUP_BIGRAM_MAX}
),
routed AS (
  SELECT doc_id, n_chars,
         CASE WHEN ({h}) % 100 < {TRAIN_PCT} THEN 'train'
              WHEN ({h}) % 100 < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split_name
  FROM keep
)
SELECT split_name, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM routed GROUP BY split_name ORDER BY split_name
"""


def _curation_pipeline_oracle_sql(d: Dialect, table: str) -> str:
    from .dedup import _cc_oracle_sql

    cc = strip_order_by(_cc_oracle_sql(d, table))
    rep = f"SELECT doc_id FROM ({cc}) c WHERE doc_id = cluster_rep"
    return _curation_pipeline_tail_sql(d, table, rep)


@register(
    "curation_pipeline_end2end",
    oracle=_curation_pipeline_oracle_sql(DUCKDB, "documents"),
    doc="CAPSTONE — the full corpus-curation pipeline as ONE query: "
    f"Gopher-style quality gate (top-word mass <= {QUAL_TOP_WORD_MAX}, "
    f"repeated-bigram mass <= {QUAL_DUP_BIGRAM_MAX}) -> near-dup removal "
    "(MinHash-LSH pairs -> connected components -> min-id canonical only) "
    "-> deterministic hash train/val/test split, reported as per-split "
    "stats.  Composes the dedup, quality, and routing families; every "
    "stage keeps its scale shape (banded pair join, one-shuffle-per-"
    "iteration CC, shuffle-free hash routing).  The pair + CC-label "
    "relations are read from the stored session views (_lsh_pairs_view / "
    "_cc_labels_view — identical nodes/pairs, CC is order-insensitive): "
    "production stores exactly these tables once per corpus and every "
    "selection rule reads them; the pair generation and the CC fixpoint "
    "stay live-measured by dedup_minhash_lsh / "
    "dedup_connected_components.",
    tags=("curation", "dedup", "pipeline"),
)
def curation_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _cc_labels_view
    from ..functions.dialect import SPARK as _S

    view = table_view(spark, sf_dir, "documents")
    labels = spark.table(_cc_labels_view(spark, sf_dir))
    return spark.sql(
        _curation_pipeline_tail_sql(_S, view, "SELECT doc_id FROM {reps}"),
        reps=labels.where(F.col("doc_id") == F.col("cluster_rep")).select("doc_id"),
    )


# --------------------------------------------------------------------------
# per-source document cap (domain-cap sampling)
# --------------------------------------------------------------------------
SOURCE_CAP = 15  # max docs admitted per source


def _source_cap_sql(d: Dialect, table: str) -> str:
    """RefinedWeb/C4-style per-domain cap: within each source, rank docs by
    fluency (stopword ratio — the cheap quality proxy shared with
    token_budget_selection) and admit at most SOURCE_CAP.  Prevents any one
    domain from dominating the corpus mix regardless of its crawl volume.

    Scale: one window partitioned by source — the natural parallel unit,
    and the partition size is the pre-cap docs-per-source, not the corpus.
    A pathologically hot source (spam domain with 10^9 pages) would first
    pass through a coarse pre-filter (per-(source, salt) local rank <=
    CAP, union, re-rank — the two-phase top-k in operators/scale.py);
    admitting only CAP rows per salt bounds the final window's input at
    salt_count * CAP rows per source by construction."""
    from ..functions.text import stopword_ratio_over_sql, words_sql

    fluency = stopword_ratio_over_sql(d, "ws")
    return f"""
WITH words AS (SELECT source, doc_id, {words_sql(d, "text")} AS ws FROM {table}),
scored AS (
  SELECT source, doc_id, COALESCE({fluency}, 0.0) AS fluency
  FROM words
),
ranked AS (
  SELECT source, doc_id, fluency,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY fluency DESC, doc_id) AS rk
  FROM scored
)
SELECT source, doc_id, fluency, CAST(rk AS BIGINT) AS source_rank
FROM ranked WHERE rk <= {SOURCE_CAP}
ORDER BY source, source_rank
"""


register_sql(
    "source_cap_sample",
    _source_cap_sql,
    ("documents",),
    doc=f"Per-source document cap (domain-cap sampling): within each source "
    f"keep the {SOURCE_CAP} most fluent docs (ROW_NUMBER over a source-"
    "partitioned window).  The data-mixing guard that stops one hot domain "
    "from dominating the corpus; the count-capped sibling of "
    "token_budget_selection's token-budget fill.",
    tags=("curation", "sampling", "window"),
)


# --------------------------------------------------------------------------
# temperature-scaled source mixture weights (data-mixing math)
# --------------------------------------------------------------------------
MIX_ALPHA = "0.3e0"  # sampling temperature: weight_i ∝ n_tokens_i ^ alpha


def _mixture_weights_sql(d: Dialect, table: str) -> str:
    """Per-source sampling weights for corpus mixing: weight_i ∝ tokens_i^α
    (α < 1 upsamples tail sources — the standard multilingual/multi-source
    temperature rebalancing), plus the effective epochs each source would
    run at that mix (weight_i * total_tokens / tokens_i, the oversampling
    factor reviewers check against memorization risk).

    Scale: one scan → per-source token totals (map-side partial agg,
    O(sources) rows out), a one-row total joined back by broadcast.  The
    heavy input never shuffles; all the mixing math runs on the tiny
    per-source relation."""
    n_tokens = d.alen(d.splitws("text"))
    return f"""
WITH per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({n_tokens}) AS BIGINT) AS n_tokens
  FROM {table} GROUP BY source
),
pw AS (
  SELECT source, n_docs, n_tokens,
         POW(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) AS w
  FROM per_source
),
tot AS (
  SELECT SUM(w) AS tw, CAST(SUM(n_tokens) AS DOUBLE) AS tt FROM pw
)
SELECT source, n_docs, n_tokens,
       CAST(ROUND(w / tw, 6) AS DOUBLE) AS mix_weight,
       CAST(ROUND((w / tw) * tt / n_tokens, 6) AS DOUBLE) AS effective_epochs
FROM pw CROSS JOIN tot
ORDER BY source
"""


register_sql(
    "mixture_weights_alpha",
    _mixture_weights_sql,
    ("documents",),
    doc="Temperature-scaled data-mixing weights: per-source token counts in "
    "one scan, weight ∝ tokens^0.3 normalized over sources, plus effective "
    "epochs (oversampling factor) — the corpus-mixing math run before "
    "training; O(sources) output, broadcast total.",
    tags=("curation", "sampling", "agg"),
)


# --------------------------------------------------------------------------
# one-pass column profiler (ANALYZE-style table statistics)
# --------------------------------------------------------------------------
_PROFILE_AGG = """
  SELECT COUNT(*) AS n,
    COUNT(l_orderkey) AS nn_ok, COUNT(DISTINCT l_orderkey) AS ndv_ok,
    CAST(MIN(l_orderkey) AS DOUBLE) AS min_ok, CAST(MAX(l_orderkey) AS DOUBLE) AS max_ok,
    COUNT(l_partkey) AS nn_pk, COUNT(DISTINCT l_partkey) AS ndv_pk,
    CAST(MIN(l_partkey) AS DOUBLE) AS min_pk, CAST(MAX(l_partkey) AS DOUBLE) AS max_pk,
    COUNT(l_quantity) AS nn_q, COUNT(DISTINCT l_quantity) AS ndv_q,
    CAST(MIN(l_quantity) AS DOUBLE) AS min_q, CAST(MAX(l_quantity) AS DOUBLE) AS max_q,
    COUNT(l_extendedprice) AS nn_ep, COUNT(DISTINCT l_extendedprice) AS ndv_ep,
    CAST(MIN(l_extendedprice) AS DOUBLE) AS min_ep, CAST(MAX(l_extendedprice) AS DOUBLE) AS max_ep,
    COUNT(l_discount) AS nn_d, COUNT(DISTINCT l_discount) AS ndv_d,
    CAST(MIN(l_discount) AS DOUBLE) AS min_d, CAST(MAX(l_discount) AS DOUBLE) AS max_d,
    COUNT(l_returnflag) AS nn_rf, COUNT(DISTINCT l_returnflag) AS ndv_rf
  FROM {table}
"""

# the six (column, null, ndv, min, max) tuples the unpivot emits
_PROFILE_COLS = [
    ("l_orderkey", "ok", True),
    ("l_partkey", "pk", True),
    ("l_quantity", "q", True),
    ("l_extendedprice", "ep", True),
    ("l_discount", "d", True),
    ("l_returnflag", "rf", False),
]


def _profile_tuples(sep: str) -> str:
    rows = []
    for col, sfx, numeric in _PROFILE_COLS:
        mn = f"min_{sfx}" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"max_{sfx}" if numeric else "CAST(NULL AS DOUBLE)"
        rows.append(
            f"'{col}', CAST(n - nn_{sfx} AS BIGINT), CAST(ndv_{sfx} AS BIGINT), {mn}, {mx}"
        )
    return sep.join(rows)


def _profile_sql(d: Dialect, table: str) -> str:
    """Spark unpivots the ONE-row aggregate with ``stack`` so the aggregate
    (and therefore the table scan) is referenced exactly once — a WITH-CTE
    UNION ALL form inlines the CTE per branch and re-scans the table six
    times (measured: 18 parquet scans).  DuckDB keeps the UNION ALL form
    (same values; the oracle's plan is not under test)."""
    agg = _PROFILE_AGG.format(table=table)
    if d.name == "spark":
        return f"""
SELECT column_name, n_null, ndv, min_val, max_val FROM (
  SELECT stack({len(_PROFILE_COLS)},
    {_profile_tuples(',' + chr(10) + '    ')}
  ) AS (column_name, n_null, ndv, min_val, max_val)
  FROM ({agg}) agg
) u
ORDER BY column_name
"""
    branches = " UNION ALL ".join(
        f"SELECT '{col}' AS column_name, CAST(n - nn_{sfx} AS BIGINT) AS n_null, "
        f"CAST(ndv_{sfx} AS BIGINT) AS ndv, "
        + (f"min_{sfx} AS min_val, max_{sfx} AS max_val"
           if numeric
           else "CAST(NULL AS DOUBLE) AS min_val, CAST(NULL AS DOUBLE) AS max_val")
        + " FROM agg"
        for col, sfx, numeric in _PROFILE_COLS
    )
    return f"WITH agg AS ({agg}) {branches} ORDER BY column_name"


register_sql(
    "column_profile_lineitem",
    _profile_sql,
    ("lineitem",),
    doc="ANALYZE-style column profiler: per-column null count, exact NDV, "
    "min/max for six lineitem columns, stack()-unpivoted from ONE wide "
    "aggregate so the scan is referenced once (the UNION-ALL-per-column "
    "form re-scanned the table 18x). Exact multi-DISTINCT plans via "
    "Expand; at 100 TB the exact NDVs swap for approx_count_distinct HLL "
    "sketches (see sketch_cardinality_audit) and the Expand disappears — "
    "same query shape. Column-level sibling of table_audit_orders.",
    tags=("curation", "audit", "agg"),
)


# --------------------------------------------------------------------------
# split-balance audit (chi-square stratification check)
# --------------------------------------------------------------------------
def _split_balance_sql(d: Dialect, table: str) -> str:
    """Did the hash split stay stratified?  Contingency table of split x
    lang with expected counts under independence and per-cell chi-square
    contributions — the audit run after dataset_hash_split to verify the
    hash didn't correlate with a stratum (a skewed split silently biases
    eval sets).  One pass to the O(splits x langs) contingency table
    (map-side partial agg); the marginals join back on the tiny aggregated
    relation, never on the corpus."""
    h = d.md5_prefix_int(d.strcast("doc_id"))
    return f"""
WITH routed AS (
  SELECT lang,
         CASE WHEN ({h}) % 100 < {TRAIN_PCT} THEN 'train'
              WHEN ({h}) % 100 < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split_name
  FROM {table}
),
obs AS (SELECT split_name, lang, COUNT(*) AS o FROM routed GROUP BY split_name, lang),
splits AS (SELECT split_name, CAST(SUM(o) AS BIGINT) AS ns FROM obs GROUP BY split_name),
langs AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS nl FROM obs GROUP BY lang),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
cells AS (
  SELECT o.split_name, o.lang, o.o, s.ns * 1.0 * l.nl / t.n AS e
  FROM obs o
  JOIN splits s ON s.split_name = o.split_name
  JOIN langs l ON l.lang = o.lang
  CROSS JOIN tot t
)
SELECT split_name, lang, CAST(o AS BIGINT) AS observed,
       CAST(ROUND(e, 6) AS DOUBLE) AS expected,
       CAST(ROUND((o - e) * (o - e) / e, 6) AS DOUBLE) AS chi2_term
FROM cells
ORDER BY split_name, lang
"""


register_sql(
    "split_balance_audit",
    _split_balance_sql,
    ("documents",),
    doc="Stratification audit of the hash split: split x lang contingency "
    "table with expected-under-independence counts and chi-square terms — "
    "flags a hash that correlates with a stratum.  One corpus pass to an "
    "O(cells) table; marginals join on the aggregate, not the corpus.",
    tags=("curation", "audit", "sampling"),
)


# --------------------------------------------------------------------------
# order-independent table checksums (anti-entropy / replication audit)
# --------------------------------------------------------------------------
def _checksum_sql(d: Dialect, lineitem: str, orders: str, customer: str) -> str:
    """One row per table: row count plus two order-independent checksums
    (bit_xor and modular sum of a 60-bit row hash).  This is the
    anti-entropy audit run after a backfill, replication, or engine
    migration: both aggregates are commutative and partial-aggregable, so
    the checksum is identical under ANY partitioning or row order — and
    because the row hash is the portable md5 form, the same query on a
    different engine (here: the DuckDB oracle itself) must reproduce it
    bit-for-bit.  The modular sum accumulates per-row residues in
    DECIMAL(38,0) and reduces mod p once at the end: a raw BIGINT running
    sum of ~1e9 residues overflows past ~9.2e9 rows, where Spark (non-ANSI)
    wraps silently but DuckDB errors — the decimal accumulator keeps the
    checksum bounded and engine-portable at any realistic row count
    (overflow now needs ~1e29 rows).  Money columns fold in as exact cents
    via DECIMAL(18,2)*100
    — a raw double→BIGINT cast truncates in Spark but ROUNDS in DuckDB, so
    the decimal hop is what makes the hash portable — and never as rendered
    strings, so formatting differences can't leak in either."""
    c = d.strcast

    def row_hash(parts: list[str]) -> str:
        return d.md5_prefix_int(" || '|' || ".join(c(p) for p in parts))

    li = row_hash(["l_orderkey", "l_linenumber", "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"])
    ords = row_hash(["o_orderkey", "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)", "o_orderstatus"])
    cust = row_hash(["c_custkey", "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)", "c_mktsegment"])
    branches = []
    tables = (("lineitem", lineitem, li), ("orders", orders, ords), ("customer", customer, cust))
    for name, rel, h in tables:
        branches.append(f"""
SELECT '{name}' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(BIT_XOR({h}) AS BIGINT) AS xor_checksum,
       CAST(SUM(CAST(({h}) % 1000000007 AS DECIMAL(38,0))) % 1000000007 AS BIGINT) AS sum_checksum
FROM {rel}""")
    return " UNION ALL ".join(branches) + " ORDER BY table_name"


register_sql(
    "table_checksum_audit",
    _checksum_sql,
    ("lineitem", "orders", "customer"),
    doc="Anti-entropy table checksums: count + bit_xor + modular-sum of a "
    "portable 60-bit row hash per table — commutative, partial-aggregable, "
    "identical under any partitioning/order/engine; the post-backfill "
    "integrity check, O(1) output per table.",
    tags=("curation", "audit", "agg"),
)


# --------------------------------------------------------------------------
# content-defined chunking (hash-boundary variable-size chunks)
# --------------------------------------------------------------------------
CDC_BOUNDARY_MOD = 16  # expected chunk length in tokens


def _cdc_sql(d: Dialect, table: str) -> str:
    """Content-defined chunking: chunk boundaries fall where a token's hash
    is 0 mod CDC_BOUNDARY_MOD, not at fixed offsets — so an insertion or
    deletion reshapes only the chunks it touches, while fixed-stride
    chunking (document_chunking) shifts every later boundary.  This is the
    rsync/storage-dedup primitive applied to text: chunk-level hashes of
    CDC chunks catch partially-edited near-duplicates that doc-level
    hashing misses and survive re-crawls of mutated pages.

    Scale: tokenize → per-token boundary flag (pure projection) → chunk id
    as a running SUM of flags windowed per doc (the only shuffle key is
    doc_id, the natural unit) → per-chunk aggregate.  The chunk-content
    hash is a commutative modular sum of token hashes, so it partial-
    aggregates and never re-materializes chunk text."""
    w = d.splitws("lower(text)")
    h = d.md5_prefix_int("word")
    word_at = d.get1("ws", "pos")
    if d.name == "spark":
        tok = (
            f"SELECT doc_id, pos, {word_at} AS word FROM words "
            f"LATERAL VIEW explode(sequence(1, greatest(1, {d.alen('ws')}))) t AS pos "
            f"WHERE {d.alen('ws')} >= 1"
        )
    else:
        tok = (
            f"SELECT doc_id, pos, {word_at} AS word FROM "
            f"(SELECT doc_id, ws, unnest(generate_series(1, {d.alen('ws')})) AS pos "
            f"FROM words WHERE {d.alen('ws')} >= 1) z"
        )
    return f"""
WITH words AS (SELECT doc_id, {w} AS ws FROM {table}),
toks AS ({tok}),
flags AS (
  SELECT doc_id, pos, word,
         CASE WHEN ({h}) % {CDC_BOUNDARY_MOD} = 0 THEN 1 ELSE 0 END AS is_boundary
  FROM toks
),
chunked AS (
  SELECT doc_id, pos, word,
         SUM(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS chunk_id
  FROM flags
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(COUNT(*) AS INT) AS n_tokens,
       CAST(MIN(pos) AS INT) AS first_pos, CAST(MAX(pos) AS INT) AS last_pos,
       CAST(SUM(({h}) % 1000000007) AS BIGINT) AS chunk_hash
FROM chunked
GROUP BY doc_id, chunk_id
ORDER BY doc_id, chunk_id
"""


register_sql(
    "content_defined_chunks",
    _cdc_sql,
    ("documents",),
    doc=f"Content-defined chunking: boundaries where token hash % "
    f"{CDC_BOUNDARY_MOD} = 0 (edit-stable, unlike fixed-stride chunking) — "
    "running boundary SUM per doc assigns chunk ids, per-chunk commutative "
    "modular hash enables chunk-level dedup of partially-edited docs; "
    "shuffle key is doc_id only.",
    tags=("curation", "dedup", "window"),
)


# --------------------------------------------------------------------------
# n-gram novelty (cross-doc uniqueness / memorization-risk signal)
# --------------------------------------------------------------------------
def _novelty_sql(d: Dialect, table: str) -> str:
    """Per-doc novelty: the fraction of a doc's distinct word-3-grams that
    occur in NO other document (corpus df = 1).  Low novelty marks
    boilerplate assembled from corpus-common phrasing (a dedup-adjacent
    quality gate); high novelty marks content whose n-grams would be
    memorized from exactly one source — the span-memorization risk signal
    next to contamination_overlap (cross-set) and quality_repetition
    (within-doc).

    Scale: reuses the dedup family's shingle relation — hashes computed at
    the explode, so only (doc_id, 8-byte shingle) pairs shuffle; df is a
    map-side-combinable count on the shingle key; the join back to docs is
    an equi-join on that key."""
    sh = _shingles_sql(d, table)
    return f"""
WITH shingles AS ({sh}),
df AS (SELECT sh, COUNT(*) AS n_docs FROM shingles GROUP BY sh),
per_doc AS (
  SELECT s.doc_id,
         COUNT(*) AS n_shingles,
         COALESCE(SUM(CASE WHEN f.n_docs = 1 THEN 1 ELSE 0 END), 0) AS n_unique
  FROM shingles s JOIN df f ON f.sh = s.sh
  GROUP BY s.doc_id
)
SELECT doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_unique AS BIGINT) AS n_unique,
       CAST(ROUND(n_unique * 1.0 / n_shingles, 6) AS DOUBLE) AS novelty_frac
FROM per_doc
ORDER BY doc_id
"""


register_sql(
    "ngram_novelty",
    _novelty_sql,
    ("documents",),
    doc="Per-doc n-gram novelty: fraction of the doc's distinct 3-gram "
    "shingles with corpus document-frequency 1 — the span-memorization "
    "risk / boilerplate signal beside contamination (cross-set) and "
    "repetition (within-doc); int-keyed shingle shuffle, map-side df.",
    tags=("curation", "text", "dedup", "quality"),
)


# --------------------------------------------------------------------------
# compression-ratio quality (zlib entropy proxy; rows-only)
# --------------------------------------------------------------------------
def compression_ratio(df: DataFrame, text_col: str = "text", level: int = 6) -> DataFrame:
    """Per-doc zlib compression ratio — the CCNet/RefinedWeb-style entropy
    proxy: highly repetitive boilerplate compresses far below natural
    prose, so a low ratio is a cheap, language-agnostic low-quality flag.
    REAL compression (stdlib zlib, fixed level → deterministic bytes), not
    a stub; runs as an Arrow-batched mapInPandas stage because no SQL
    engine exposes a compressor.  Row-parallel, shuffle-free at any
    corpus size."""
    import zlib

    import pandas as pd

    schema = "doc_id long, raw_len int, compressed_len int, compression_ratio double"

    def _compress(batches):
        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, level)))
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": raw.map(len),
                    "compressed_len": comp,
                }
            )
            out["compression_ratio"] = (
                (out["compressed_len"] / out["raw_len"].clip(lower=1)).round(6)
            )
            yield out

    return df.select("doc_id", text_col).mapInPandas(_compress, schema=schema)


@register(
    "compression_ratio_quality",
    oracle=None,  # no SQL engine exposes zlib — rows-only, golden-tested
    doc="Rows-only: per-doc zlib compression ratio (REAL stdlib "
    "compression at a fixed level, deterministic) — the entropy-proxy "
    "quality gate: boilerplate compresses far below natural prose. "
    "Arrow-batched mapInPandas projection, shuffle-free; pinned against "
    "direct zlib calls in test_curation.py.",
    tags=("curation", "quality", "python"),
)
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return compression_ratio(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis-Spirakis A-ES)
# --------------------------------------------------------------------------
WSAMP_K = 100  # sample size


def _weighted_sample_sql(d: Dialect, table: str) -> str:
    """Deterministic weighted sampling WITHOUT replacement: the A-ES scheme
    (Efraimidis & Spirakis 2006) assigns each row the key u^(1/w) for
    u ~ Uniform(0,1] and keeps the top-K keys — inclusion probability is
    proportional to weight, no sequential pass, no replacement bookkeeping.

    Engine shape: u derives from the salted portable row hash (no RNG, no
    seed — membership is reproducible from the row alone, the same
    property as the hash split), and the ranking uses the log-domain
    equivalent key ln(u)/w (monotone in u^(1/w)), FLOOR-quantized to 1e9
    integer units with doc_id tie-break so the top-K frontier is
    deterministic under any partitioning.  LN is libm — cross-engine
    agreement is empirically verified (sf<=0.1), not guaranteed, the same
    contract as the other transcendental scores.  The top-K is ORDER BY +
    LIMIT: TakeOrdered per partition + driver merge of K-row heads, never
    a global sort of the corpus."""
    h = d.md5_prefix_int(f"('wsamp|' || {d.strcast('doc_id')})")
    # (h + 1) / 2^60 in (0, 1]: md5_prefix_int is 60-bit
    u = f"(CAST({h} AS DOUBLE) + 1.0e0) / 1152921504606846976.0e0"
    key_units = f"CAST(FLOOR(LN({u}) / CAST(n_chars AS DOUBLE) * 1.0e9) AS BIGINT)"
    return f"""
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight, {key_units} AS key_units
FROM {table}
WHERE n_chars > 0
ORDER BY key_units DESC, doc_id
LIMIT {WSAMP_K}
"""


register_sql(
    "weighted_sample_aes",
    _weighted_sample_sql,
    ("documents",),
    doc=f"Deterministic weighted sample without replacement, K={WSAMP_K} "
    "(Efraimidis-Spirakis A-ES): key = u^(1/weight) from a salted portable "
    "row hash, ranked in the log domain with FLOOR integer-unit "
    "quantization; inclusion probability proportional to n_chars. "
    "TakeOrdered top-K — no RNG, no global sort, reproducible under "
    "repartitioning/appends.",
    tags=("curation", "sampling"),
)


# --------------------------------------------------------------------------
# count-min sketch heavy-hitter audit
# --------------------------------------------------------------------------
CMS_D = 4  # hash rows
CMS_W = 64  # buckets per row
CMS_TOPN = 20  # tracked heavy hitters


def _cms_wc_sql(d: Dialect, table: str) -> str:
    """Exact per-word counts of the corpus word stream: the relation the
    sketch, the tracked keys and the audit join all read."""
    w = d.splitws("lower(text)")
    if d.name == "spark":
        words_rel = (
            f"SELECT word FROM (SELECT {w} AS ws FROM {table}) s "
            f"LATERAL VIEW explode(ws) t AS word WHERE length(word) > 0"
        )
    else:
        words_rel = (
            f"SELECT word FROM (SELECT unnest({w}) AS word FROM {table}) s "
            f"WHERE length(word) > 0"
        )
    return f"SELECT word, COUNT(*) AS cnt FROM ({words_rel}) ws GROUP BY word"


def _countmin_sql(d: Dialect, table: str, wc: str) -> str:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the corpus word
    stream, audited against exact counts for the top heavy hitters.

    Scale shape: the sketch is a {CMS_D}x{CMS_W} grid of counts — COUNT
    grouped by (row, bucket), commutative and map-side-combinable, so at
    100 TB it builds in one pass with O(D*W) fixed-size state per partition
    and merges by addition (the property that makes CMS the streaming/
    distributed answer to 'how often does each key occur' when the key
    space is unbounded).  The word relation is referenced ONCE: the D hash
    rows come from an explode over the row index, not a D-way UNION that
    would rescan the corpus.  Point queries (the audit side) join the
    tracked keys' (row, bucket) coordinates against the sketch and take
    MIN over rows — CMS guarantees estimate >= true count (overcount
    only), which the emitted overcount column makes auditable.  Integer
    arithmetic end-to-end, portable md5 bucket hashes."""
    bucket = d.md5_prefix_int(f"('cms' || CAST(i AS STRING) || '|' || word)") if d.name == "spark" else d.md5_prefix_int("('cms' || CAST(i AS VARCHAR) || '|' || word)")
    if d.name == "spark":
        coords = (
            f"SELECT word, cnt, i, ({bucket}) % {CMS_W} AS bucket FROM wc "
            f"LATERAL VIEW explode(sequence(0, {CMS_D - 1})) t AS i"
        )
    else:
        coords = (
            f"SELECT word, cnt, i, ({bucket}) % {CMS_W} AS bucket "
            f"FROM (SELECT word, cnt, unnest(generate_series(0, {CMS_D - 1})) AS i FROM wc) x"
        )
    return f"""
WITH wc AS ({wc}),
coords AS ({coords}),
sketch AS (
  SELECT i, bucket, SUM(cnt) AS c FROM coords GROUP BY i, bucket
),
tracked AS (
  SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT {CMS_TOPN}
),
est AS (
  SELECT t.word, t.cnt, MIN(s.c) AS e
  FROM tracked t
  JOIN coords co ON co.word = t.word
  JOIN sketch s ON s.i = co.i AND s.bucket = co.bucket
  GROUP BY t.word, t.cnt
)
SELECT word, CAST(cnt AS BIGINT) AS true_count,
       CAST(e AS BIGINT) AS cms_estimate,
       CAST(e - cnt AS BIGINT) AS overcount
FROM est
ORDER BY true_count DESC, word
"""


register_sql(
    "countmin_heavy_hitters",
    _countmin_sql,
    ("documents",),
    heads={"cms_wc": _cms_wc_sql},
    doc=f"Count-min sketch audit: {CMS_D}x{CMS_W} mergeable count grid over "
    f"the corpus word stream (one scan, map-side combinable), top-{CMS_TOPN} "
    "heavy hitters' point-query estimates vs exact counts with the "
    "guaranteed-overcount column. The fixed-size-state answer to unbounded "
    "key spaces at 100 TB; integer-only, portable hashes.",
    tags=("curation", "sketch", "agg", "text"),
)


# --------------------------------------------------------------------------
# Zipf-fit corpus audit
# --------------------------------------------------------------------------
def _zipf_sql(d: Dialect, table: str) -> str:
    """Zipf's-law fit over the corpus word-frequency distribution: OLS of
    ln(freq) on ln(rank) via the built-in REGR_* aggregates — the one-pass
    corpus-health audit (a natural-language corpus fits slope ~ -1; a
    templated/boilerplate corpus bends the tail).

    Scale shape: the corpus collapses to the vocabulary ONCE (word counts,
    map-side combinable); ranking uses a single global ROW_NUMBER over the
    AGGREGATED vocab — O(|vocab|), not O(corpus), and at extreme vocab
    sizes the two-stage top-k rank pattern applies; the regression is a
    scalar aggregate.  LN is libm: slope/intercept/r2 floor-quantize to
    1e-6 and the cross-engine agreement is empirical (sf<=0.1), same
    contract as the other transcendental scores."""
    w = d.splitws("lower(text)")
    if d.name == "spark":
        words_rel = (
            f"SELECT word FROM (SELECT {w} AS ws FROM {table}) s "
            f"LATERAL VIEW explode(ws) t AS word WHERE length(word) > 0"
        )
    else:
        words_rel = (
            f"SELECT word FROM (SELECT unnest({w}) AS word FROM {table}) s "
            f"WHERE length(word) > 0"
        )
    q = "CAST(FLOOR({x} * 1e6) / 1e6 AS DOUBLE)"
    return f"""
WITH wc AS (SELECT word, COUNT(*) AS cnt FROM ({words_rel}) ws GROUP BY word),
ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rk FROM wc
),
xy AS (SELECT LN(CAST(rk AS DOUBLE)) AS x, LN(CAST(cnt AS DOUBLE)) AS y FROM ranked)
SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
       {q.format(x="REGR_SLOPE(y, x)")} AS zipf_slope,
       {q.format(x="REGR_INTERCEPT(y, x)")} AS zipf_intercept,
       {q.format(x="REGR_R2(y, x)")} AS fit_r2
FROM xy
"""


register_sql(
    "zipf_fit_audit",
    _zipf_sql,
    ("documents",),
    doc="Zipf-law corpus audit: OLS fit of ln(freq) ~ ln(rank) over the "
    "aggregated vocabulary via REGR_SLOPE/INTERCEPT/R2 — one corpus scan "
    "to O(|vocab|), one scalar regression; flags templated corpora whose "
    "frequency curve departs from the power law.",
    tags=("curation", "audit", "agg", "text"),
)


# --------------------------------------------------------------------------
# snapshot diff (table reconciliation between two corpus versions)
# --------------------------------------------------------------------------
SNAP_DEL_MOD = 11  # rows missing from snapshot A ("added" in B)
SNAP_MISS_MOD = 7  # rows missing from snapshot B ("removed" since A)
SNAP_CHG_MOD = 13  # rows whose content changed between snapshots


def _snapshot_diff_sql(d: Dialect, table: str) -> str:
    """Keyed snapshot reconciliation — the diff report a pipeline runs
    after a backfill or replication: FULL OUTER join two corpus versions on
    the primary key, classify every key as added / removed / changed /
    unchanged by comparing a portable content hash, and emit the O(1)
    summary.  (The two 'snapshots' derive deterministically from one table
    so the oracle can replay them: A drops doc_id%{SNAP_DEL_MOD}=0, B drops
    doc_id%{SNAP_MISS_MOD}=0 and rewrites text for doc_id%{SNAP_CHG_MOD}=0.)

    Scale shape: each side collapses to (key, hash) in its scan projection
    — 16 bytes/row into the join regardless of document size; the join is a
    key equi-join (sort-merge at corpus scale, DPP-prunable if snapshots
    are partition-aligned); the classification aggregate is map-side
    combinable.  This is the row-level sibling of table_checksum_audit
    (which answers 'equal or not' in O(1) state; this answers 'what
    changed' in O(diff) output)."""
    h = d.md5_prefix_int("text")
    h_chg = d.md5_prefix_int("('v2|' || text)")
    return f"""
WITH snap_a AS (
  SELECT doc_id, {h} AS content_hash FROM {table}
  WHERE doc_id % {SNAP_DEL_MOD} <> 0
),
snap_b AS (
  SELECT doc_id,
         CASE WHEN doc_id % {SNAP_CHG_MOD} = 0 THEN {h_chg} ELSE {h} END AS content_hash
  FROM {table}
  WHERE doc_id % {SNAP_MISS_MOD} <> 0
),
cls AS (
  SELECT CASE
           WHEN a.doc_id IS NULL THEN 'added'
           WHEN b.doc_id IS NULL THEN 'removed'
           WHEN a.content_hash <> b.content_hash THEN 'changed'
           ELSE 'unchanged'
         END AS change_type
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM cls
GROUP BY change_type
ORDER BY change_type
"""


register_sql(
    "snapshot_diff_audit",
    _snapshot_diff_sql,
    ("documents",),
    doc="Keyed snapshot diff: two corpus versions collapse to (key, "
    "portable content hash) at the scan, FULL OUTER equi-join on the key, "
    "added/removed/changed/unchanged counts. The row-level sibling of "
    "table_checksum_audit — O(16 bytes/row) join input, O(classes) output.",
    tags=("curation", "audit", "join"),
)


# --------------------------------------------------------------------------
# incremental aggregate maintenance (IVM merge check)
# --------------------------------------------------------------------------
IVM_DELTA_MOD = 10  # doc_id % 10 = 0 -> the newly-ingested delta batch


def _ivm_merge_sql(d: Dialect, table: str) -> str:
    """Incremental view maintenance for distributive aggregates: the
    per-language corpus stats are maintained as base + delta partials
    merged by ADDITION — never by rescanning the base corpus.  The query
    computes base partials, delta partials, their merge, and the
    from-scratch full aggregate in one conditional-aggregation scan.

    Honesty note: because all four quantities derive from the SAME scan,
    the emitted ``distributive_identity`` flag is true by algebra — it
    DEMONSTRATES the property that licenses O(delta) maintenance
    (COUNT/SUM distribute over a partition of the rows), it does not
    verify a stored materialization.  The production check against STORED
    base partials is a different operator: recompute the delta, add, and
    compare to the stored view via table_checksum_audit / snapshot_diff
    (which do read two independent sides)."""
    return f"""
SELECT lang,
       CAST(SUM(CASE WHEN doc_id % {IVM_DELTA_MOD} <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS base_docs,
       CAST(SUM(CASE WHEN doc_id % {IVM_DELTA_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS delta_docs,
       CAST(SUM(CASE WHEN doc_id % {IVM_DELTA_MOD} <> 0 THEN n_chars ELSE 0 END) AS BIGINT) AS base_chars,
       CAST(SUM(CASE WHEN doc_id % {IVM_DELTA_MOD} = 0 THEN n_chars ELSE 0 END) AS BIGINT) AS delta_chars,
       CAST(COUNT(*) AS BIGINT) AS full_docs,
       CAST(SUM(n_chars) AS BIGINT) AS full_chars,
       (SUM(CASE WHEN doc_id % {IVM_DELTA_MOD} <> 0 THEN 1 ELSE 0 END)
          + SUM(CASE WHEN doc_id % {IVM_DELTA_MOD} = 0 THEN 1 ELSE 0 END) = COUNT(*))
         AND (SUM(CASE WHEN doc_id % {IVM_DELTA_MOD} <> 0 THEN n_chars ELSE 0 END)
          + SUM(CASE WHEN doc_id % {IVM_DELTA_MOD} = 0 THEN n_chars ELSE 0 END) = SUM(n_chars))
         AS distributive_identity
FROM {table}
GROUP BY lang
ORDER BY lang
"""


register_sql(
    "incremental_agg_maintenance",
    _ivm_merge_sql,
    ("documents",),
    doc="Incremental view maintenance for distributive aggregates: base + "
    "delta partials merged by addition vs the from-scratch full aggregate, "
    "per group, in one conditional-aggregation scan. The emitted "
    "distributive_identity flag demonstrates the algebra that licenses "
    "O(delta) maintenance (true by construction from one scan — stored-"
    "partial verification is table_checksum_audit/snapshot_diff's job).",
    tags=("curation", "audit", "agg"),
)


# --------------------------------------------------------------------------
# split-leakage audit (near-dups crossing the train/val/test boundary)
# --------------------------------------------------------------------------
def _split_leakage_sql(d: Dialect, table: str, pairs_rel: str | None = None) -> str:
    """The train/test-leakage audit every eval pipeline needs and most
    skip: exact-contamination scans (contamination_overlap) catch verbatim
    copies, but a NEAR-duplicate of a test doc inside train leaks just as
    hard.  Route both ends of every MinHash-LSH near-dup pair through the
    SAME hash split the corpus ships with, and count pairs whose ends land
    in different splits — per (split_a, split_b) cell plus the leaking-pair
    rate per boundary.

    Compose-don't-rebuild: the pair relation is dedup's LSH candidate
    generation, the routing is curation's split predicate, the audit is one
    equi-join + O(cells) aggregate.  ``pairs_rel`` takes the materialized
    pair table on the Spark side (same discipline as pagerank/LPA)."""
    from .dedup import _lsh_pairs_sql

    pairs = pairs_rel or strip_order_by(_lsh_pairs_sql(d, table))
    h = d.md5_prefix_int(d.strcast("doc_id"))
    return f"""
WITH pairs AS ({pairs}),
routed AS (
  SELECT doc_id,
         CASE WHEN ({h}) % 100 < {TRAIN_PCT} THEN 'train'
              WHEN ({h}) % 100 < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split_name
  FROM {table}
),
cells AS (
  SELECT LEAST(ra.split_name, rb.split_name) AS split_a,
         GREATEST(ra.split_name, rb.split_name) AS split_b,
         COUNT(*) AS n_pairs
  FROM pairs p
  JOIN routed ra ON ra.doc_id = p.doc_a
  JOIN routed rb ON rb.doc_id = p.doc_b
  GROUP BY LEAST(ra.split_name, rb.split_name), GREATEST(ra.split_name, rb.split_name)
)
SELECT split_a, split_b, CAST(n_pairs AS BIGINT) AS n_pairs,
       (split_a <> split_b) AS leaking
FROM cells
ORDER BY split_a, split_b
"""


@register(
    "split_leakage_audit",
    oracle=_split_leakage_sql(DUCKDB, "documents"),
    doc="Near-dup split-leakage audit: every MinHash-LSH pair routed "
    "through the corpus hash split; cross-split pairs ARE eval leakage "
    "that exact-contamination scans miss. One equi-join over the pair "
    "relation + O(cells) aggregate.",
    tags=("curation", "dedup", "audit"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _lsh_pairs_view

    view = table_view(spark, sf_dir, "documents")
    pairs_rel = f"SELECT * FROM {_lsh_pairs_view(spark, sf_dir)}"
    return spark.sql(_split_leakage_sql(SPARK, view, pairs_rel=pairs_rel))


# --------------------------------------------------------------------------
# capstone v2: quality gate -> keep-BEST dedup -> weighted selection
# --------------------------------------------------------------------------
V2_SAMPLE_K = 50
V2_MIN_DISTINCT_WORDS = 10  # lexical-richness quality gate


def _curation_v2_sql(d: Dialect, table: str, reps_rel: str | None = None) -> str:
    """CAPSTONE v2 — the round-5 composition as ONE query: a lexical-
    richness quality gate, near-dup clustering that keeps the BEST-quality
    member per cluster (not min-id), and an Efraimidis-Spirakis weighted
    selection of the survivors — i.e. the production selection chain
    'clean -> dedup keeping the good copy -> sample by quality'.

    Every stage keeps its scale shape: the gate is a scan predicate, the
    clustering reuses the banded LSH pair machinery over the GATED
    relation, the per-cluster argmax is a cluster-partitioned window, and
    the final selection is a TakeOrdered top-K on quantized A-ES keys.
    ``reps_rel`` takes the Spark side's materialized kept-representative
    relation (CC runs imperatively there; the oracle replays it as the
    recursive-CTE closure over the same gated relation)."""
    from .dedup import _cc_oracle_sql

    w = d.splitws("lower(text)")
    richness = d.alen(d.adistinct(w))
    gated = (
        f"(SELECT * FROM {table} WHERE {richness} >= {V2_MIN_DISTINCT_WORDS}) gated_docs"
    )
    if reps_rel is None:
        cc = strip_order_by(_cc_oracle_sql(d, gated))
        reps_rel = f"""
SELECT doc_id, cluster_size FROM (
  SELECT cc.doc_id, cc.cluster_rep,
         ROW_NUMBER() OVER (PARTITION BY cc.cluster_rep
                            ORDER BY q.richness DESC, cc.doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY cc.cluster_rep) AS cluster_size
  FROM ({cc}) cc
  JOIN (SELECT doc_id, {richness} AS richness FROM {gated}) q
    ON q.doc_id = cc.doc_id
) r WHERE rk = 1
"""
    h = d.md5_prefix_int(f"('wsamp|' || {d.strcast('t.doc_id')})")
    u = f"(CAST({h} AS DOUBLE) + 1.0e0) / 1152921504606846976.0e0"
    key_units = f"CAST(FLOOR(LN({u}) / CAST(t.n_chars AS DOUBLE) * 1.0e9) AS BIGINT)"
    return f"""
WITH reps AS ({reps_rel})
SELECT t.doc_id, t.lang, CAST(t.n_chars AS BIGINT) AS weight,
       CAST(r.cluster_size AS BIGINT) AS cluster_size,
       {key_units} AS key_units
FROM reps r JOIN {table} t ON t.doc_id = r.doc_id
WHERE t.n_chars > 0
ORDER BY key_units DESC, t.doc_id
LIMIT {V2_SAMPLE_K}
"""


@register(
    "curation_pipeline_v2",
    oracle=_curation_v2_sql(DUCKDB, "documents"),
    doc="CAPSTONE v2 — the round-5 selection chain as ONE query: lexical-"
    f"richness gate (>= {V2_MIN_DISTINCT_WORDS} distinct words) -> near-dup "
    "clustering keeping the BEST-quality member per cluster -> "
    f"Efraimidis-Spirakis weighted top-{V2_SAMPLE_K}. Scan-predicate gate, "
    "banded pair join + one-shuffle-per-iteration CC, cluster-partitioned "
    "argmax window, TakeOrdered on quantized A-ES keys.",
    tags=("curation", "dedup", "sampling", "pipeline"),
)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dialect import SPARK as _S
    from .dedup import _lsh_pairs_view, connected_components

    view = table_view(spark, sf_dir, "documents")
    w = _S.splitws("lower(text)")
    richness = _S.alen(_S.adistinct(w))
    gated = spark.sql(
        f"SELECT *, {richness} AS richness FROM {view} "
        f"WHERE {richness} >= {V2_MIN_DISTINCT_WORDS}"
    )
    # A doc's MinHash bands depend only on its own text, so the gated
    # subset's LSH pairs are EXACTLY the stored corpus pair view
    # restricted to both endpoints passing the gate (band-bucket equi-join
    # is pair-local) — production filters the written candidate-pair
    # table after gating instead of re-minhashing the subset.  The CC
    # fixpoint still runs per call: components legitimately split when a
    # bridging doc is gated out, so subgraph labels can't come from the
    # stored corpus labels.
    gids = gated.select("doc_id")
    pairs = (
        spark.table(_lsh_pairs_view(spark, sf_dir))
        .join(gids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(gids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
    )
    labels = connected_components(spark, gated.select("doc_id"), pairs)
    from pyspark.sql.window import Window

    wrk = Window.partitionBy("cluster_rep").orderBy(F.desc("richness"), F.col("doc_id"))
    wsz = Window.partitionBy("cluster_rep")
    reps = (
        labels.join(gated.select("doc_id", "richness"), "doc_id")
        .withColumn("rk", F.row_number().over(wrk))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wsz))
        .where(F.col("rk") == 1)
        .select("doc_id", "cluster_size")
    )
    return spark.sql(
        _curation_v2_sql(_S, view, reps_rel="SELECT doc_id, cluster_size FROM {reps}"),
        reps=reps,
    )


# --------------------------------------------------------------------------
# split distribution drift (two-sample KS over bucketed CDFs)
# --------------------------------------------------------------------------
DRIFT_BUCKETS = 32
DRIFT_KS_C = "1.358e0"  # two-sample KS critical coefficient at alpha=0.05:
#                         flag when D > c * sqrt((n+m)/(n*m)).  Size-aware
#                         by construction — a 50-doc test split tolerates
#                         ~0.2 of sampling noise while a 10^9-doc one
#                         tolerates ~5e-5, so the same audit is calibrated
#                         from sf0.001 to 100 TB (a fixed threshold false-
#                         alarms small samples and under-fires huge ones).


def _split_drift_sql(d: Dialect, table: str) -> str:
    """Post-split drift audit: does the TEST split's length distribution
    match TRAIN's?  A hash split should be distribution-neutral; a skewed
    splitter (or a time/source-correlated key) silently trains on one
    distribution and evaluates on another.  Statistic = the two-sample
    Kolmogorov-Smirnov distance computed EXACTLY on a shared equi-width
    bucket grid (max over buckets of |CDF_train - CDF_test|) — the
    bucketed KS lower-bounds the continuous one and is the distributed
    form: per-(split,bucket) counts are one map-side-combinable aggregate,
    and every window below runs on the aggregated <= DRIFT_BUCKETS-row
    relation (bounded, same discipline as the Zipf rank).

    Bucket math is pure integer arithmetic (portable `div`); the CDF gap
    divides two exact integers per side in IEEE doubles, identical ops in
    both engines."""
    h = d.md5_prefix_int(d.strcast("doc_id"))
    bucket = d.idiv(f"(n_chars - mn) * {DRIFT_BUCKETS}", "(mx - mn + 1)")
    return f"""
WITH routed AS (
  SELECT n_chars,
         CASE WHEN ({h}) % 100 < {TRAIN_PCT} THEN 'train'
              WHEN ({h}) % 100 < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split_name
  FROM {table}
),
bounds AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM routed),
bucketed AS (
  SELECT split_name, {bucket} AS bucket
  FROM routed CROSS JOIN bounds
  WHERE split_name IN ('train', 'test')
),
per_bucket AS (
  SELECT bucket,
         SUM(CASE WHEN split_name = 'train' THEN 1 ELSE 0 END) AS c_tr,
         SUM(CASE WHEN split_name = 'test' THEN 1 ELSE 0 END) AS c_te
  FROM bucketed GROUP BY bucket
),
totals AS (
  SELECT SUM(c_tr) AS n_tr, SUM(c_te) AS n_te FROM per_bucket
),
cdf AS (
  SELECT bucket,
         SUM(c_tr) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tr,
         SUM(c_te) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_te
  FROM per_bucket
),
gaps AS (
  -- NULLIF/COALESCE: an EMPTY split must degrade, not throw (Spark ANSI
  -- mode raises on /0); its CDF reads as 0 so the gap is the other
  -- side's CDF
  SELECT bucket,
         ABS(COALESCE(cum_tr * 1.0e0 / NULLIF(n_tr, 0), 0.0e0)
             - COALESCE(cum_te * 1.0e0 / NULLIF(n_te, 0), 0.0e0)) AS gap
  FROM cdf CROSS JOIN totals
),
worst AS (
  SELECT bucket, gap,
         ROW_NUMBER() OVER (ORDER BY gap DESC, bucket) AS rn
  FROM gaps
)
SELECT CAST(t.n_tr AS BIGINT) AS n_train,
       CAST(t.n_te AS BIGINT) AS n_test,
       CAST(ROUND(w.gap, 6) AS DOUBLE) AS ks_distance,
       CAST(w.bucket AS INT) AS ks_bucket,
       CAST(ROUND({DRIFT_KS_C} * sqrt((t.n_tr + t.n_te) * 1.0e0 / NULLIF(t.n_tr * t.n_te, 0)), 6) AS DOUBLE) AS ks_critical,
       -- with a split empty the critical value is NULL and the comparison
       -- three-values to NULL: no statistic exists, so no drift claim
       COALESCE(w.gap > {DRIFT_KS_C} * sqrt((t.n_tr + t.n_te) * 1.0e0 / NULLIF(t.n_tr * t.n_te, 0)), FALSE) AS drift_flag
FROM worst w CROSS JOIN totals t
WHERE w.rn = 1
"""


register_sql(
    "split_distribution_drift",
    _split_drift_sql,
    ("documents",),
    doc=f"Two-sample KS drift audit between the hash split's train and "
    f"test length distributions: exact bucketed KS distance over a shared "
    f"{DRIFT_BUCKETS}-bucket equi-width grid, flagged above the SIZE-AWARE "
    f"critical value {DRIFT_KS_C}*sqrt((n+m)/(n*m)) (alpha=0.05).  One "
    "map-side-combinable (split,bucket) count aggregate; every window "
    "runs on the bounded aggregated grid.  The audit that catches a "
    "distribution-skewed splitter before a model trains on one "
    "distribution and evaluates on another.",
    tags=("curation", "audit", "stats"),
)


# --------------------------------------------------------------------------
# leakage-safe split (route by near-dup CLUSTER, not by doc)
# --------------------------------------------------------------------------
def _leakage_safe_split_sql(
    d: Dialect, table: str, cc_rel: str | None = None, pairs_rel: str | None = None
) -> str:
    """The FIX for what split_leakage_audit measures: hashing doc_id routes
    the two ends of a near-dup pair independently, so some pairs straddle
    the train/test boundary and leak.  Hash the CLUSTER representative
    instead — every member of a near-dup cluster shares its rep, so whole
    clusters land in one split and cross-split near-dup pairs are ZERO by
    construction (a pair's ends are in the same component by definition).
    The audit column proves it: cross_split_pairs re-routes every LSH pair
    through the cluster split and counts the stragglers.

    Scale: one equi-join of the corpus to the CC labels (doc_id-keyed),
    the same split predicate as dataset_hash_split applied to the rep, and
    an O(cells) aggregate; the pair audit is the split_leakage_audit join
    re-used against the new routing.  ``cc_rel`` / ``pairs_rel`` take the
    Spark side's materialized labels / pair relations."""
    from .dedup import _cc_oracle_sql, _lsh_pairs_sql

    cc = cc_rel or strip_order_by(_cc_oracle_sql(d, table))
    pairs = pairs_rel or strip_order_by(_lsh_pairs_sql(d, table))
    h = d.md5_prefix_int(d.strcast("cluster_rep"))
    return f"""
WITH cc AS ({cc}),
routed AS (
  SELECT doc_id, cluster_rep,
         CASE WHEN ({h}) % 100 < {TRAIN_PCT} THEN 'train'
              WHEN ({h}) % 100 < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split_name
  FROM cc
),
pairs AS ({pairs}),
cross_pairs AS (
  SELECT COUNT(*) AS n
  FROM pairs p
  JOIN routed ra ON ra.doc_id = p.doc_a
  JOIN routed rb ON rb.doc_id = p.doc_b
  WHERE ra.split_name <> rb.split_name
)
SELECT r.split_name,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT r.cluster_rep) AS BIGINT) AS n_clusters,
       CAST(cp.n AS BIGINT) AS cross_split_pairs
FROM routed r CROSS JOIN cross_pairs cp
GROUP BY r.split_name, cp.n
ORDER BY r.split_name
"""


@register(
    "leakage_safe_split",
    oracle=_leakage_safe_split_sql(DUCKDB, "documents"),
    doc="Cluster-aware train/val/test split: hash the near-dup cluster "
    "REP (not the doc) so whole clusters land in one split and "
    "cross-split near-dup pairs are zero by construction — the fix for "
    "what split_leakage_audit measures. Corpus-to-labels equi-join + the "
    "standard split predicate + the pair audit re-run as proof "
    "(cross_split_pairs column).",
    tags=("curation", "dedup", "audit"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:

    view = table_view(spark, sf_dir, "documents")
    # both the pair relation and the CC labels are stored production
    # artifacts — read the session views (pair generation is measured by
    # dedup_minhash_lsh, the fixpoint by dedup_connected_components)
    from .dedup import _cc_labels_view, _lsh_pairs_view

    pairs = _lsh_pairs_view(spark, sf_dir)
    labels = _cc_labels_view(spark, sf_dir)
    return spark.sql(
        _leakage_safe_split_sql(
            SPARK,
            view,
            cc_rel=f"SELECT doc_id, cluster_rep FROM {labels}",
            pairs_rel=f"SELECT doc_a, doc_b FROM {pairs}",
        )
    )


# --------------------------------------------------------------------------
# rank-blended quality ensemble (percentile-free, libm-free)
# --------------------------------------------------------------------------
BLEND_TOP_K = 50  # docs surfaced by the blended ranking


def _rank_blend_sql(d: Dialect, table: str) -> str:
    """Quality ENSEMBLE: no single signal survives contact with a real
    corpus (length favors rambling, distinct-words favors word salad), so
    curation stacks several and blends.  Blending raw scores needs
    per-signal normalization; blending RANKS needs none — rank is
    scale-free, outlier-proof, and pure integer arithmetic, so the blend
    is bit-portable across engines (no libm, no float normalization).

    blend = sum of the doc's ROW_NUMBER positions under three orderings
    (distinct-words, token count, char length; higher = better, doc_id
    tie-break), lower = better; surface the top ``BLEND_TOP_K``."""
    w = d.splitws("lower(text)")
    return f"""
WITH sig AS (
  SELECT doc_id,
         {d.alen(d.adistinct(w))} AS n_words,
         {d.alen(w)} AS n_tokens,
         n_chars
  FROM {table}
),
ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY n_words DESC, doc_id) AS r_words,
         ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS r_tokens,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r_chars
  FROM sig
)
SELECT doc_id,
       CAST(r_words AS BIGINT) AS r_words,
       CAST(r_tokens AS BIGINT) AS r_tokens,
       CAST(r_chars AS BIGINT) AS r_chars,
       CAST(r_words + r_tokens + r_chars AS BIGINT) AS blend_rank
FROM ranked
ORDER BY blend_rank, doc_id
LIMIT {BLEND_TOP_K}
"""


@register(
    "quality_rank_blend",
    oracle=_rank_blend_sql(DUCKDB, "documents"),
    doc=f"Rank-blended quality ensemble: per-signal global ROW_NUMBER "
    "(distinct-words / tokens / chars, doc_id tie-break) summed into a "
    "scale-free integer blend, top "
    f"{BLEND_TOP_K} surfaced.  Spark side computes each global rank with "
    "the DISTRIBUTED range-rank (repartitionByRange + per-partition "
    "row_number + bounded offset collect — never a single-partition "
    "window); final top-K is a TakeOrdered, not a global sort.",
    tags=("curation", "quality", "ranking"),
)
def quality_rank_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_ranked

    view = table_view(spark, sf_dir, "documents")
    w = SPARK.splitws("lower(text)")
    sig = spark.sql(
        f"SELECT doc_id, {SPARK.alen(SPARK.adistinct(w))} AS n_words, "
        f"{SPARK.alen(w)} AS n_tokens, n_chars FROM {view}"
    ).localCheckpoint()  # three rank jobs fan out over the signal relation
    out = None
    for col, alias in (
        ("n_words", "r_words"),
        ("n_tokens", "r_tokens"),
        ("n_chars", "r_chars"),
    ):
        part = sig.select("doc_id", (-F.col(col)).alias("__neg"))
        ranked, n = range_ranked(part, ["__neg", "doc_id"])
        if n == 0:
            return spark.createDataFrame(
                [],
                "doc_id bigint, r_words bigint, r_tokens bigint, "
                "r_chars bigint, blend_rank bigint",
            )
        ranked = ranked.select("doc_id", F.col("r").alias(alias))
        out = ranked if out is None else out.join(ranked, "doc_id")
    return (
        out.withColumn(
            "blend_rank",
            (F.col("r_words") + F.col("r_tokens") + F.col("r_chars")).cast("bigint"),
        )
        .orderBy("blend_rank", "doc_id")
        .limit(BLEND_TOP_K)
        .select("doc_id", "r_words", "r_tokens", "r_chars", "blend_rank")
    )


# --------------------------------------------------------------------------
# per-source Mann-Whitney rank-sum audit (which source skews the corpus?)
# --------------------------------------------------------------------------
RANKSUM_Z = "1.96e0"  # two-sided alpha = 0.05 on the normal approximation


def _ranksum_sql(d: Dialect, table: str, ranked_rel: str | None = None) -> str:
    """Which SOURCE's docs are systematically longer/shorter than the rest
    of the corpus?  The KS audit (split_distribution_drift) compares two
    fixed splits; this is the per-GROUP version over an arbitrary number
    of sources: a Mann-Whitney rank-sum per source vs everything else,
    computed from ONE global ranking — rank once, aggregate per source,
    derive every U statistic from the same rank column (k separate
    two-sample tests would rank the corpus k times).

    Rank = ROW_NUMBER over (n_chars, doc_id): ties break by doc_id rather
    than midranks — a documented deviation from the textbook tie
    correction; with hash-assigned synthetic lengths the tie noise is
    symmetric and the z-flag threshold absorbs it.  All pre-z arithmetic
    is integer-exact; sqrt/div are IEEE-portable, z rounded to 6.

    Scale: the global rank is the DISTRIBUTED range-rank on the Spark
    side; everything after is a map-side-combinable per-source aggregate
    joined to an O(1) total.

    Overflow domain: SUM(r) reaches N²/2 — past ~4e9 docs that exceeds
    BIGINT.  Neither engine wraps SILENTLY (Spark ANSI SUM raises, DuckDB
    promotes to HUGEINT and the final BIGINT cast raises), so the failure
    is loud; at that corpus size route the sum through DECIMAL(38,0) the
    way table_checksum_audit does and emit U as DOUBLE."""
    ranked = ranked_rel or (
        f"SELECT source, ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r FROM {table}"
    )
    half = d.idiv("(n_docs * (n_docs + 1))", "2")
    sig = "sqrt(n_docs * (t.n - n_docs) * (t.n + 1) / 12.0e0)"
    return f"""
WITH ranked AS ({ranked}),
tot AS (SELECT COUNT(*) AS n FROM ranked),
per_src AS (
  SELECT source, COUNT(*) AS n_docs, SUM(r) AS rank_sum
  FROM ranked GROUP BY source
)
SELECT p.source,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(p.rank_sum AS BIGINT) AS rank_sum,
       CAST(p.rank_sum - {half} AS BIGINT) AS u_stat,
       CAST(ROUND(p.n_docs * (t.n - p.n_docs) / 2.0e0, 6) AS DOUBLE) AS u_expected,
       CAST(ROUND((p.rank_sum - {half} - p.n_docs * (t.n - p.n_docs) / 2.0e0)
                  / NULLIF({sig}, 0.0e0), 6) AS DOUBLE) AS z_score,
       COALESCE(ABS((p.rank_sum - {half} - p.n_docs * (t.n - p.n_docs) / 2.0e0)
                    / NULLIF({sig}, 0.0e0)) > {RANKSUM_Z}, FALSE) AS skew_flag
FROM per_src p CROSS JOIN tot t
ORDER BY p.source
"""


@register(
    "source_quality_ranksum",
    oracle=_ranksum_sql(DUCKDB, "documents"),
    doc="Per-source Mann-Whitney rank-sum audit: ONE global length "
    "ranking (distributed range-rank on the Spark side), then every "
    "source's U statistic vs the rest derived from the same rank column — "
    "k two-sample skew tests for the price of one ranking. Integer-exact "
    "up to the z division; size-aware normal-approximation flag.",
    tags=("curation", "audit", "stats"),
)
def source_quality_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_ranked

    view = table_view(spark, sf_dir, "documents")
    docs = spark.table(view).select("doc_id", "source", "n_chars")
    ranked, n = range_ranked(docs, ["n_chars", "doc_id"])
    if n == 0:
        return spark.createDataFrame(
            [],
            "source string, n_docs bigint, rank_sum bigint, u_stat bigint, "
            "u_expected double, z_score double, skew_flag boolean",
        )
    return spark.sql(
        _ranksum_sql(SPARK, view, ranked_rel="SELECT source, r FROM {ranked}"),
        ranked=ranked.select("source", "r"),
    )


# --------------------------------------------------------------------------
# Misra-Gries mergeable heavy-hitter summary (deterministic CMS sibling)
# --------------------------------------------------------------------------
MG_CAPACITY = 512
MG_TOPK = 20

_MG_ORACLE = f"""
WITH wc AS (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word FROM documents
  ) w WHERE length(word) > 0
  GROUP BY word
)
SELECT word, CAST(cnt AS BIGINT) AS n
FROM wc ORDER BY n DESC, word LIMIT {MG_TOPK}
"""


def _mg_summarize(batches):
    """Per-partition Misra-Gries summary with the MERGEABLE-summaries
    reduction (Agarwal et al., PODS 2012): fold each Arrow batch's value
    counts into the counter set; when capacity overflows, subtract the
    (capacity+1)-th largest count from everything and drop non-positives.
    Guarantee preserved under arbitrary batching/merging: any token with
    true partition frequency > n_partition/(capacity+1) survives."""
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for w, c in pdf["word"].value_counts().items():
            counters[w] = counters.get(w, 0) + int(c)
        if len(counters) > MG_CAPACITY:
            kth = sorted(counters.values(), reverse=True)[MG_CAPACITY]
            counters = {w: c - kth for w, c in counters.items() if c - kth > 0}
    yield pd.DataFrame(
        {"word": list(counters.keys()), "lb": list(counters.values())}
    )


@register(
    "misra_gries_topk",
    oracle=_MG_ORACLE,
    doc=f"Misra-Gries heavy hitters: per-partition mergeable counter "
    f"summaries (capacity {MG_CAPACITY}, Arrow-batched mapInPandas) union "
    "into a candidate set, then ONE exact recount pass restricted to the "
    "candidates (broadcast semi-join) picks the true top-"
    f"{MG_TOPK}.  The DETERMINISTIC fixed-state sibling of "
    "countmin_heavy_hitters: no hash collisions, candidate-set guarantee "
    "freq > N/(capacity+1), and the exact final recount makes the output "
    "order-independent even though each partition's summary is not.  "
    "Oracle = exact top-k, equal ONLY under the precondition that every "
    f"true top-{MG_TOPK} token has global frequency > N/(capacity+1) "
    "(pigeonhole then guarantees it survives some partition's summary); a "
    "near-uniform vocabulary wider than capacity would violate it by "
    "design.  The precondition is asserted against each parity-swept "
    "testdata scale in tests/test_round6d_ops.py::"
    "test_misra_gries_parity_precondition_holds_on_testdata, and pinned "
    "adversarially in test_misra_gries_adversarial_superset.",
    tags=("curation", "sketch", "text", "python-stage"),
)
def misra_gries_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = table_view(spark, sf_dir, "documents")
    w = SPARK.splitws("lower(text)")
    words = spark.sql(
        f"SELECT word FROM (SELECT {w} AS ws FROM {view}) s "
        f"LATERAL VIEW explode(ws) t AS word WHERE length(word) > 0"
    )
    cand = (
        words.mapInPandas(_mg_summarize, schema="word string, lb long")
        .select("word")
        .distinct()
        .localCheckpoint()  # bounded: <= capacity x partitions rows
    )
    exact = words.join(F.broadcast(cand), "word").groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return exact.orderBy(F.desc("n"), "word").limit(MG_TOPK)


# --------------------------------------------------------------------------
# deterministic multi-epoch shuffle plan
# --------------------------------------------------------------------------
SHUFFLE_EPOCHS = 3
SHUFFLE_SHARDS = 16


def _epoch_shuffle_sql(d: Dialect, table: str) -> str:
    h = d.md5_prefix_int(f"('ep' || {d.strcast('e')} || '|' || {d.strcast('doc_id')})")
    if d.name == "spark":
        epochs = (
            f"SELECT doc_id, e FROM {table} "
            f"LATERAL VIEW explode(sequence(0, {SHUFFLE_EPOCHS - 1})) t AS e"
        )
    else:
        epochs = (
            f"SELECT doc_id, unnest(generate_series(0, {SHUFFLE_EPOCHS - 1})) AS e "
            f"FROM {table}"
        )
    return f"""
WITH assigned AS (
  SELECT doc_id, CAST(e AS INT) AS epoch,
         CAST(({h}) % {SHUFFLE_SHARDS} AS INT) AS shard
  FROM ({epochs}) x
)
SELECT epoch, shard, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM assigned GROUP BY epoch, shard
ORDER BY epoch, shard
"""


register_sql(
    "epoch_shuffle_plan",
    _epoch_shuffle_sql,
    ("documents",),
    doc=f"Deterministic multi-epoch shuffle plan: for each of "
    f"{SHUFFLE_EPOCHS} training epochs, every document routes to one of "
    f"{SHUFFLE_SHARDS} shards by a portable hash of (epoch, doc_id) — a "
    "DIFFERENT pseudo-random permutation per epoch with no RNG, no state, "
    "and no global sort (the trick that replaces 'shuffle the dataset "
    "between epochs' at 100 TB: readers consume shards, the hash is the "
    "permutation).  Output is the per-(epoch, shard) allocation audit; "
    "the hash-independence test pins cross-epoch decorrelation.",
    tags=("curation", "sampling", "sharding"),
)


# --------------------------------------------------------------------------
# exact-N deterministic uniform sample
# --------------------------------------------------------------------------
SAMPLE_EXACT_N = 500


def _exact_n_sql(d: Dialect, table: str) -> str:
    h = d.md5_prefix_int(f"('xn|' || {d.strcast('doc_id')})")
    return f"""
SELECT doc_id, source
FROM (SELECT doc_id, source, {h} AS hk FROM {table}) t
ORDER BY hk, doc_id
LIMIT {SAMPLE_EXACT_N}
"""


register_sql(
    "deterministic_sample_exact_n",
    _exact_n_sql,
    ("documents",),
    doc=f"Exact-size uniform sample without RNG: take the {SAMPLE_EXACT_N} "
    "documents with the smallest portable content hashes — hash order is a "
    "fixed pseudo-random permutation, so this is uniform, reproducible, "
    "and composable (the same doc is in every superset sample).  Plans as "
    "TakeOrdered (per-partition top-N + one merge), never a global sort — "
    "sample_fraction-then-limit gives nondeterministic membership, and "
    "ORDER BY rand() doesn't exist at 100 TB.",
    tags=("curation", "sampling", "topk"),
)


# --------------------------------------------------------------------------
# Neyman allocation plan for stratified sampling
# --------------------------------------------------------------------------
NEYMAN_BUDGET = 10_000


def _neyman_sql(d: Dialect, table: str) -> str:
    return f"""
WITH s AS (
  SELECT source,
         COUNT(*) AS n,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS DECIMAL(38,0)) AS sxx
  FROM {table} GROUP BY source
),
v AS (
  SELECT source, n,
         sqrt( (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) ) AS sd
  FROM s
),
w AS (SELECT source, n, sd, n * sd AS wgt FROM v),
t AS (SELECT SUM(wgt) AS total_w FROM w)
SELECT w.source,
       CAST(w.n AS BIGINT) AS n_docs,
       ROUND(w.sd, 6) AS stddev_chars,
       CAST(ROUND({NEYMAN_BUDGET} * w.wgt / t.total_w) AS BIGINT) AS allocated
FROM w CROSS JOIN t
ORDER BY w.source
"""


register_sql(
    "neyman_allocation_plan",
    _neyman_sql,
    ("documents",),
    doc=f"Neyman-optimal stratified-sampling allocation: a budget of "
    f"{NEYMAN_BUDGET} samples split across sources proportionally to "
    "stratum_size x stratum_stddev (of doc length) — variance-minimizing "
    "for a fixed budget, vs stratified_sample's proportional allocation.  "
    "Per-stratum moments are DECIMAL(38,0)-exact one-pass sums; the "
    "population stddev and shares are identical double ops; rounding "
    "residue (sum may differ from the budget by a few units) is the "
    "documented largest-remainder trade-off.",
    tags=("curation", "sampling", "stats"),
)


# --------------------------------------------------------------------------
# deterministic negative-sampling plan (training-pair construction)
# --------------------------------------------------------------------------
NEG_K = 4  # negatives per positive
NEG_ORDER_MOD = 50  # sampled positive subset keeps the plan oracle-sized


def _neg_sample_sql(
    d: Dialect, lineitem: str, orders: str, part: str,
    pairs_rel: str | None = None,
) -> str:
    h = d.md5_prefix_int(
        f"('neg|' || {d.strcast('o_custkey')} || '|' || "
        f"{d.strcast('l_partkey')} || '|' || {d.strcast('i')})"
    )
    if d.name == "spark":
        expl = f"LATERAL VIEW explode(sequence(1, {NEG_K})) t AS i"
        unnest_sel = ""
    else:
        expl = ""
        unnest_sel = f", unnest(generate_series(1, {NEG_K})) AS i"
    if pairs_rel:
        pos_from = (
            f"SELECT o_custkey, l_partkey FROM {pairs_rel} WHERE in_pos = 1"
        )
        allpos_from = f"SELECT o_custkey, l_partkey FROM {pairs_rel}"
    else:
        pos_from = (
            f"SELECT DISTINCT o.o_custkey, l.l_partkey FROM {lineitem} l "
            f"JOIN {orders} o ON o.o_orderkey = l.l_orderkey "
            f"WHERE o.o_orderkey % {NEG_ORDER_MOD} = 0"
        )
        allpos_from = (
            f"SELECT DISTINCT o.o_custkey, l.l_partkey "
            f"FROM {lineitem} l JOIN {orders} o ON o.o_orderkey = l.l_orderkey"
        )
    if d.name == "spark":
        cand_src = f"SELECT o_custkey, l_partkey, i FROM pos {expl}"
    else:
        cand_src = f"SELECT o_custkey, l_partkey{unnest_sel} FROM pos"
    return f"""
WITH pos AS ({pos_from}),
mx AS (SELECT MAX(p_partkey) AS max_pk FROM {part}),
cand AS (
  SELECT c.o_custkey, c.l_partkey AS pos_partkey, CAST(c.i AS INT) AS neg_idx,
         CAST(({h}) % m.max_pk + 1 AS BIGINT) AS neg_partkey
  FROM ({cand_src}) c CROSS JOIN mx m
),
allpos AS ({allpos_from})
SELECT c.o_custkey, c.pos_partkey, c.neg_idx, c.neg_partkey
FROM cand c
LEFT JOIN allpos a
  ON a.o_custkey = c.o_custkey AND a.l_partkey = c.neg_partkey
WHERE a.l_partkey IS NULL  -- drop accidental positives (true-pair collisions)
ORDER BY c.o_custkey, c.pos_partkey, c.neg_idx
"""


# Examined r14 and kept the two-relation form: fusing pos/allpos into
# one tagged grouped pass + checkpoint measured SLOWER (1.95 -> 2.62 s
# same host) — the saved join is the CHEAP filtered one, while the
# checkpoint materializes the large unfiltered pair set.
register_sql(
    "negative_sampling_plan",
    _neg_sample_sql,
    ("lineitem", "orders", "part"),
    doc=f"Deterministic negative sampling for training-pair construction: "
    f"for each (customer, purchased part) positive, {NEG_K} hash-derived "
    "candidate negatives over the part-key domain, accidental positives "
    "removed by an anti-join against the TRUE pair set (the correctness "
    "step naive random sampling skips).  Seed-free md5 routing — "
    "re-runs and engines agree bit-for-bit; at 100 TB this is one "
    "explode + one key-level LEFT join, never a per-row RNG service.  "
    "The recsys/contrastive twin of the curation samplers.",
    tags=("curation", "sampling", "training"),
)


# --------------------------------------------------------------------------
# T5-style span-corruption plan (deterministic mask offsets per document)
# --------------------------------------------------------------------------
SPAN_MASK_RATIO_PCT = 15  # percent of tokens to corrupt
SPAN_MEAN_LEN = 3  # tokens per span
SPAN_DOC_MOD = 25  # sampled doc subset keeps the span list oracle-sized


def _span_plan_sql(d: Dialect, table: str) -> str:
    ntok = d.alen(d.splitws("text"))
    # exact integer floor division in BOTH engines (a double divide +
    # CAST would round in DuckDB but truncate in Spark)
    nspans = d.idiv(f"(CAST({ntok} AS BIGINT) * {SPAN_MASK_RATIO_PCT})", str(100 * SPAN_MEAN_LEN))
    h = d.md5_prefix_int(
        f"('span|' || {d.strcast('doc_id')} || '|' || {d.strcast('s')})"
    )
    if d.name == "spark":
        spans_src = (
            "SELECT doc_id, n_tokens, s FROM sized "
            "LATERAL VIEW explode(sequence(1, n_spans)) t AS s "
            "WHERE n_spans >= 1"
        )
    else:
        spans_src = (
            "SELECT doc_id, n_tokens, unnest(generate_series(1, n_spans)) AS s "
            "FROM sized WHERE n_spans >= 1"
        )
    return f"""
WITH sized AS (
  SELECT doc_id,
         CAST({ntok} AS BIGINT) AS n_tokens,
         CAST({nspans} AS BIGINT) AS n_spans
  FROM {table} WHERE doc_id % {SPAN_DOC_MOD} = 0
),
spans AS (
  SELECT doc_id, n_tokens, CAST(s AS INT) AS span_idx,
         CAST(({h}) % n_tokens AS BIGINT) AS start_tok
  FROM ({spans_src}) x
)
SELECT doc_id, n_tokens, span_idx, start_tok,
       CAST(LEAST(start_tok + {SPAN_MEAN_LEN}, n_tokens) - start_tok AS INT)
         AS span_len
FROM spans
ORDER BY doc_id, span_idx
"""


register_sql(
    "span_corruption_plan",
    _span_plan_sql,
    ("documents",),
    doc=f"T5-style span-corruption PLAN: per document, "
    f"~{SPAN_MASK_RATIO_PCT}% of tokens in {SPAN_MEAN_LEN}-token spans, "
    "each span's offset derived from a seed-free md5 of (doc_id, span "
    "index) — the masking schedule is a pure projection + bounded "
    "explode, reproducible across runs, engines and epochs (pair it with "
    "epoch_shuffle_plan for per-epoch variation).  Emitting the PLAN "
    "rather than rewritten text keeps the corpus scan write-free: the "
    "trainer's data loader applies offsets at read time.",
    tags=("curation", "training", "text"),
)


# --------------------------------------------------------------------------
# padding-waste audit: length-bucketed batching vs one global max length
# --------------------------------------------------------------------------
PAD_BUCKET = 64  # sequence lengths round up to multiples of this


def _padding_waste_sql(d: Dialect, table: str) -> str:
    """Batch-packing efficiency: every doc pads to the next multiple of
    {PAD_BUCKET} tokens (length-bucketed batching); compare the padded
    token mass per bucket, and globally, against padding everything to the
    corpus max length (the naive single-bucket loader).  One tokenize
    pass, one bounded groupBy (<= max_len / bucket groups), scalar totals
    broadcast — the data-loader sizing audit before a 100-TB training run."""
    from ..functions.text import words_sql

    ntok = f"CAST({d.alen(words_sql(d, 'text'))} AS BIGINT)"
    bucket = d.idiv("(n_tok + {b1})".format(b1=PAD_BUCKET - 1), str(PAD_BUCKET))
    return f"""
WITH toks AS (SELECT {ntok} AS n_tok FROM {table}),
b AS (
  SELECT n_tok, CAST({bucket} * {PAD_BUCKET} AS BIGINT) AS bucket_len
  FROM toks WHERE n_tok > 0
),
tot AS (
  SELECT MAX(n_tok) AS max_len, CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM b
)
SELECT bucket_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(bucket_len * COUNT(*) AS BIGINT) AS padded_tokens,
       ROUND(1.0 - CAST(SUM(n_tok) AS DOUBLE) / (bucket_len * COUNT(*)), 6)
         AS waste_frac,
       ROUND(1.0 - CAST(t.sum_tok AS DOUBLE) / (CAST(t.max_len AS DOUBLE) * t.n_docs), 6)
         AS global_pad_waste_frac
FROM b CROSS JOIN tot t
GROUP BY bucket_len, t.sum_tok, t.max_len, t.n_docs
ORDER BY bucket_len
"""


register_sql(
    "padding_waste_audit",
    _padding_waste_sql,
    ("documents",),
    doc=f"Padding-waste audit for length-bucketed batching: token counts "
    f"round up to {PAD_BUCKET}-token buckets, per-bucket padded-vs-real "
    "token mass and waste fraction, beside the single-max-length loader's "
    "global waste (same scalar in every row, from a one-row broadcast). "
    "One tokenize pass, one bounded groupBy — the sequence-packing "
    "sibling that QUANTIFIES what sequence_packing eliminates.",
    tags=("curation", "training", "agg"),
)


# --------------------------------------------------------------------------
# stratified k-fold cross-validation plan
# --------------------------------------------------------------------------
KFOLD_K = 5


def _kfold_sql(d: Dialect, table: str) -> str:
    """Deterministic stratified k-fold assignment: fold = md5(lang:doc_id)
    mod K, so folds are reproducible, disjoint, and stratified BY
    CONSTRUCTION (hashing is independent within each stratum).  Emits the
    per-(lang, fold) plan with each stratum's fold-size spread as the
    balance audit.  Routing is a pure projection; the audit is one bounded
    groupBy + a |langs|-row join — the cross-validation sibling of
    dataset_hash_split (train/val/test) and leakage_safe_split."""
    h = d.md5_prefix_int(f"(lang || ':' || {d.strcast('doc_id')})")
    return f"""
WITH f AS (
  SELECT lang, ({h}) % {KFOLD_K} AS fold, n_chars FROM {table}
),
g AS (
  SELECT lang, CAST(fold AS INT) AS fold,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
  FROM f GROUP BY lang, fold
),
l AS (
  SELECT lang, MAX(n_docs) AS mx, MIN(n_docs) AS mn,
         CAST(SUM(n_docs) AS BIGINT) AS tot
  FROM g GROUP BY lang
)
SELECT g.lang, g.fold, g.n_docs, g.sum_chars,
       ROUND(CAST(g.n_docs AS DOUBLE) * {KFOLD_K} / l.tot, 6) AS share_x_k,
       CAST(l.mx - l.mn AS BIGINT) AS lang_fold_spread
FROM g JOIN l ON l.lang = g.lang
ORDER BY g.lang, g.fold
"""


register_sql(
    "stratified_kfold_plan",
    _kfold_sql,
    ("documents",),
    doc=f"Stratified {KFOLD_K}-fold cross-validation plan: seed-free "
    "md5(lang:doc_id) mod K routing (reproducible, disjoint, stratified "
    "per language), per-(lang, fold) sizes plus each stratum's fold-size "
    "spread as the balance audit.  share_x_k ~ 1 when folds are balanced. "
    "Pure projection + bounded aggregates.",
    tags=("curation", "split", "projection"),
)


# --------------------------------------------------------------------------
# PSI split drift: population stability index between train and test
# --------------------------------------------------------------------------
PSI_BUCKETS = 16


def _psi_counts_sql(d: Dialect, table: str) -> str:
    """The bounded Laplace-smoothed bucket-count grid — the relation every
    tail CTE of the PSI references (tots/contrib/total expanded it into
    16 static corpus scans per statement, guide §3.3)."""
    h = d.md5_prefix_int(d.strcast("doc_id"))
    return f"""
WITH routed AS (
  SELECT n_chars,
         CASE WHEN ({h}) % 100 < {TRAIN_PCT} THEN 'train'
              WHEN ({h}) % 100 < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split_name
  FROM {table}
),
b AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM routed),
bucketed AS (
  -- integer div, not CAST(double): DuckDB rounds on cast where Spark
  -- truncates (the documented round-on-cast trap)
  SELECT LEAST(CAST({d.idiv(f"({PSI_BUCKETS} * (n_chars - b.lo))", "(b.hi - b.lo + 1)")} AS INT),
               {PSI_BUCKETS - 1}) AS bucket,
         split_name
  FROM routed CROSS JOIN b
  WHERE split_name <> 'val'
)
SELECT bucket,
       CAST(SUM(CASE WHEN split_name = 'train' THEN 1 ELSE 0 END) + 1 AS BIGINT)
         AS n_train,
       CAST(SUM(CASE WHEN split_name = 'test' THEN 1 ELSE 0 END) + 1 AS BIGINT)
         AS n_test
FROM bucketed GROUP BY bucket
"""


def _psi_sql(d: Dialect, table: str, counts: str) -> str:
    """Population Stability Index between the hash split's train and test
    doc-length distributions on a shared equal-width grid — the industry
    drift metric beside the KS statistic (split_distribution_drift): PSI =
    sum (p_i - q_i) * ln(p_i / q_i), with Laplace +1 smoothing so empty
    buckets stay finite and deterministic.  Per-bucket contributions
    quantize to nano-unit BIGINTs before the cross-bucket total (libm LN,
    empirical cross-engine contract); grid bounds are one O(1) scalar
    broadcast.  Rule of thumb thresholds: < 0.1 stable, > 0.25 shifted."""
    return f"""
WITH counts AS ({counts}),
tots AS (
  SELECT CAST(SUM(n_train) AS BIGINT) AS tt, CAST(SUM(n_test) AS BIGINT) AS te
  FROM counts
),
contrib AS (
  SELECT c.bucket, c.n_train, c.n_test,
         CAST(FLOOR((CAST(c.n_train AS DOUBLE) / t.tt - CAST(c.n_test AS DOUBLE) / t.te)
                    * LN((CAST(c.n_train AS DOUBLE) / t.tt)
                         / (CAST(c.n_test AS DOUBLE) / t.te))
                    * 1000000000) AS BIGINT) AS psi_u
  FROM counts c CROSS JOIN tots t
),
total AS (SELECT CAST(SUM(psi_u) AS BIGINT) AS psi_total_u FROM contrib)
SELECT c.bucket, c.n_train, c.n_test,
       ROUND(CAST(c.psi_u AS DOUBLE) / 1000000000, 6) AS psi_contrib,
       ROUND(CAST(t2.psi_total_u AS DOUBLE) / 1000000000, 6) AS psi_total,
       (t2.psi_total_u < 100000000) AS stable
FROM contrib c CROSS JOIN total t2
ORDER BY c.bucket
"""


register_sql(
    "psi_split_drift",
    _psi_sql,
    ("documents",),
    heads={"psi_counts": _psi_counts_sql},
    doc=f"Population Stability Index between the hash split's train/test "
    f"length distributions on a shared {PSI_BUCKETS}-bucket equal-width "
    "grid, Laplace-smoothed; per-bucket contributions quantized to "
    "nano-units before the total so the cross-bucket sum is order-free. "
    "The industry drift monitor beside split_distribution_drift's KS "
    "(size-aware critical value); stable flag at the 0.1 rule-of-thumb.",
    tags=("curation", "split", "stats"),
)


# --------------------------------------------------------------------------
# Neyman allocation APPLIED: per-stratum exact-N hash sample
# --------------------------------------------------------------------------
def _neyman_sample_sql(d: Dialect, table: str, ranked_rel: str | None = None) -> str:
    """Close the plan->action loop on neyman_allocation_plan: draw EXACTLY
    the allocated count from each stratum, deterministically — per-source
    md5 ordering, keep rank_within_source <= allocated.  The Spark side
    ranks with the composite-order distributed range-rank (source, hash):
    sources are contiguous in that order, so within-stratum rank = global
    rank - stratum start offset (a |sources|-row join) — a PARTITION BY
    source window would put a whole stratum in one task at 100 TB.  The
    oracle may use the per-source window."""
    h = d.md5_prefix_int(d.strcast("doc_id"))
    if ranked_rel is None:
        ranked_rel = f"""
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS rs
  FROM {table}
"""
    return f"""
WITH s AS (
  SELECT source,
         COUNT(*) AS n,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS DECIMAL(38,0)) AS sxx
  FROM {table} GROUP BY source
),
v AS (
  SELECT source, n,
         n * sqrt( (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) ) AS wgt
  FROM s
),
t AS (SELECT SUM(wgt) AS total_w FROM v),
alloc AS (
  SELECT v.source, CAST(v.n AS BIGINT) AS n_docs,
         CAST(ROUND({NEYMAN_BUDGET} * v.wgt / t.total_w) AS BIGINT) AS allocated
  FROM v CROSS JOIN t
),
ranked AS ({ranked_rel}),
sampled AS (
  SELECT r.source, r.n_chars
  FROM ranked r JOIN alloc a ON a.source = r.source
  WHERE r.rs <= a.allocated
)
SELECT a.source, a.n_docs, a.allocated,
       CAST(COUNT(sp.n_chars) AS BIGINT) AS n_sampled,
       ROUND(CAST(SUM(sp.n_chars) AS DOUBLE) / NULLIF(COUNT(sp.n_chars), 0), 6)
         AS sample_mean_chars
FROM alloc a LEFT JOIN sampled sp ON sp.source = a.source
GROUP BY a.source, a.n_docs, a.allocated
ORDER BY a.source
"""


@register(
    "neyman_allocated_sample",
    oracle=_neyman_sample_sql(DUCKDB, "documents"),
    doc="Neyman allocation APPLIED: exactly the variance-optimal per-"
    "stratum count drawn from each source by deterministic md5 order — "
    "the action half of neyman_allocation_plan (n_sampled == allocated "
    "whenever the stratum is big enough, pinned in tests).  Spark ranks "
    "within strata via the composite-order distributed range-rank with "
    "per-stratum offsets subtracted (a PARTITION BY source window would "
    "put a whole stratum in one task at 100 TB); the oracle keeps the "
    "window form.",
    tags=("curation", "sampling", "distributed-rank"),
)
def neyman_allocated_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F2

    from .scalars_extra import range_ranked

    view = table_view(spark, sf_dir, "documents")
    h = SPARK.md5_prefix_int(SPARK.strcast("doc_id"))
    base = spark.sql(f"SELECT source, doc_id, n_chars, ({h}) AS h FROM {view}")
    ranked, _n = range_ranked(base, ["source", "h", "doc_id"])
    if ranked is None:
        return spark.createDataFrame(
            [],
            "source string, n_docs bigint, allocated bigint, n_sampled bigint,"
            " sample_mean_chars double",
        )
    ranked = ranked.localCheckpoint(eager=False)
    t = ranked.groupBy("source").agg(F2.count(F2.lit(1)).cast("bigint").alias("c"))
    ta, tb = t.alias("ta"), t.alias("tb")
    starts = (
        ta.join(tb, F2.col("tb.source") < F2.col("ta.source"), "left")
        .groupBy(F2.col("ta.source").alias("source"))
        .agg(F2.coalesce(F2.sum("tb.c"), F2.lit(0)).cast("bigint").alias("off"))
    )
    ranked = ranked.join(F2.broadcast(starts), "source").select(
        "source", "doc_id", "n_chars", (F2.col("r") - F2.col("off")).alias("rs")
    )
    return spark.sql(
        _neyman_sample_sql(
            SPARK, view, ranked_rel="SELECT source, doc_id, n_chars, rs FROM {ranked}"
        ),
        ranked=ranked,
    )
