"""Text-analysis queries over the documents table: normalization (op 15),
language-ID heuristic, quality scoring, token counting, fingerprinting.

These generalize the reference's OCR-text cleanup surface
(correct_names.py:13-18) into the text-analysis family a large-scale
training-data pipeline runs over billions of documents.  Everything is a
projection — embarrassingly parallel, no shuffle except the final orderBy
(dropped at scale); filters/column pruning reach the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..functions.text import (
    fingerprint_fields_sql,
    normalize_sql,
    quality_fields_sql,
    stopword_ratio_sql,
    token_count_sql,
)
from ..registry import register, register_sql
from ..sources.tables import table_view


# Inject reference-shaped dirt (tab, pipe, NBSP, diacritics) so the
# normalization actually exercises every rule — documents.text is plain
# ASCII.  Unicode goes into the literal directly (chr(n) is byte-valued in
# Spark and code-point-valued in DuckDB, so it is only safe for ASCII).
def _dirty(d: Dialect, x: str) -> str:
    nbsp = " "
    return f"('Smetanový' || chr(9) || 'jogurt | ' || {x} || '{nbsp}mléko™')"


def _norm_query_sql(d: Dialect, table: str) -> str:
    dirty = _dirty(d, "text")
    return (
        f"SELECT doc_id, {normalize_sql(d, dirty)} AS normalized "
        f"FROM {table} ORDER BY doc_id"
    )


register_sql(
    "preprocess_text_normalize",
    _norm_query_sql,
    ("documents",),
    doc="Reference op 15 preprocess_text: delete tab/newline/pipe, NBSP→space, "
    "lower, fold Czech diacritics, non-ASCII→space — native expressions over "
    "dirtied document text ('Smetanový\\tjogurt | …' prefix exercises every rule).",
    tags=("text", "scalar"),
)


def _lang_query_sql(d: Dialect, table: str) -> str:
    ratio = stopword_ratio_sql(d, "text")
    return (
        f"SELECT doc_id, lang AS declared_lang, {ratio} AS en_stopword_ratio, "
        f"CASE WHEN {ratio} >= 0.05 THEN 'en' ELSE 'other' END AS guessed_lang "
        f"FROM {table} ORDER BY doc_id"
    )


register_sql(
    "lang_id_heuristic",
    _lang_query_sql,
    ("documents",),
    doc="Language-ID heuristic: English-stopword density over tokens; "
    "row-parallel, no shuffle.",
    tags=("text",),
)


def _quality_query_sql(d: Dialect, table: str) -> str:
    fields = quality_fields_sql(d, "text")
    cols = ", ".join(f"{sql} AS {name}" for name, sql in fields.items())
    return f"SELECT doc_id, {cols} FROM {table} ORDER BY doc_id"


register_sql(
    "text_quality_stats",
    _quality_query_sql,
    ("documents",),
    doc="Quality scoring: token count, avg token length, type-token ratio, "
    "stopword ratio, punctuation count per document.",
    tags=("text",),
)


def _tokcount_query_sql(d: Dialect, table: str) -> str:
    return (
        f"SELECT doc_id, n_chars, {token_count_sql(d, 'text')} AS n_bpe_ish_tokens, "
        f"{d.alen(d.splitws('text'))} AS n_ws_tokens "
        f"FROM {table} ORDER BY doc_id"
    )


register_sql(
    "token_count",
    _tokcount_query_sql,
    ("documents",),
    doc="Token counting: whitespace tokens + BPE-ish regex pieces "
    "(word chars / isolated punctuation).",
    tags=("text",),
)


def _fp_query_sql(d: Dialect, table: str) -> str:
    fields = fingerprint_fields_sql(d, "text")
    cols = ", ".join(f"{sql} AS {name}" for name, sql in fields.items())
    return f"SELECT doc_id, {cols} FROM {table} ORDER BY doc_id"


register_sql(
    "doc_fingerprint",
    _fp_query_sql,
    ("documents",),
    doc="Document fingerprinting: md5 of canonicalized text + portable "
    "60-bit integer prefix (identical across engines).",
    tags=("text", "hash"),
)


# --------------------------------------------------------------------------
# corpus-vocabulary coverage score (two-phase: train on corpus, apply per doc)
# --------------------------------------------------------------------------
VOCAB_TOP_K = 1000


def _vocab_coverage_sql(d: Dialect, table: str) -> str:
    """Fraction of each doc's token INSTANCES that fall in the corpus-wide
    top-K vocabulary — the cheap LM-free fluency/quality signal (gibberish,
    boilerplate, and non-target-language docs score low).

    Two-phase shape a production pipeline runs constantly: an aggregate
    over the whole corpus trains a small model (here: the top-K vocab, a
    TakeOrdered of the word-frequency table), which then broadcasts and
    scores every document.  Token instances aggregate by doc_id with
    map-side partial counts; the vocab side is O(K) regardless of corpus
    size.  Ties at the frequency boundary break lexicographically, so both
    engines freeze the identical vocabulary.  Coverage uses the integer
    half-up ratio convention (portable to the last digit)."""
    w = d.splitws("lower(text)")
    if d.name == "spark":
        toks = (
            f"SELECT doc_id, tok FROM (SELECT doc_id, {w} AS ws FROM {table}) src "
            f"LATERAL VIEW explode(ws) t AS tok"
        )
    else:
        toks = f"SELECT doc_id, unnest({w}) AS tok FROM {table}"
    return f"""
WITH toks AS ({toks}),
freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
vocab AS (SELECT tok FROM freq ORDER BY tf DESC, tok LIMIT {VOCAB_TOP_K}),
per_doc AS (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_in_vocab
  FROM toks t JOIN vocab v ON v.tok = t.tok
  GROUP BY t.doc_id
)
SELECT p.doc_id, p.n_tokens,
       COALESCE(h.n_in_vocab, 0) AS n_in_vocab,
       CAST(((COALESCE(h.n_in_vocab, 0) * 2000000 + p.n_tokens) {('div' if d.name == 'spark' else '//')} (2 * p.n_tokens)) AS DOUBLE) / 1000000 AS vocab_coverage
FROM per_doc p LEFT JOIN hits h ON h.doc_id = p.doc_id
ORDER BY p.doc_id
"""


register_sql(
    "vocab_coverage_score",
    _vocab_coverage_sql,
    ("documents",),
    doc=f"Vocabulary-coverage quality score: corpus top-{VOCAB_TOP_K} vocab "
    "(deterministic frequency+lexicographic TakeOrdered) broadcast-joined "
    "against token instances, per-doc covered fraction via integer half-up "
    "ratio — the two-phase train-then-score shape.",
    tags=("text", "quality", "two-phase"),
)


# --------------------------------------------------------------------------
# lexical diversity (entropy / type-token / hapax quality signals)
# --------------------------------------------------------------------------
def _lexical_diversity_sql(d: Dialect, table: str) -> str:
    """Per-doc lexical-diversity signals complementary to curation.py's
    repetition metrics: type/token ratio, hapax fraction, and unigram
    Shannon entropy.  Entropy uses the ln(n) - sum(c*ln(c))/n identity so
    the per-word relation aggregates in ONE pass (no join back for the
    total); ln() already has oracle precedent (bm25, bigram_lm) and the
    result rounds to 6 places for cross-engine hash stability."""
    w = d.splitws("lower(text)")
    words_rel = f"(SELECT doc_id, {w} AS ws FROM {table}) src"
    if d.name == "spark":
        word_rel = f"SELECT doc_id, word FROM {words_rel} LATERAL VIEW explode(ws) t AS word"
    else:
        word_rel = f"SELECT doc_id, unnest(ws) AS word FROM {words_rel}"
    return f"""
WITH wc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM ({word_rel}) x GROUP BY doc_id, word
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(ROUND(COUNT(*) * 1.0 / SUM(c), 6) AS DOUBLE) AS type_token_ratio,
       CAST(ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS DOUBLE)
         AS hapax_frac,
       CAST(ROUND(LN(CAST(SUM(c) AS DOUBLE))
                  - SUM(c * LN(CAST(c AS DOUBLE))) / SUM(c), 6) AS DOUBLE)
         AS word_entropy
FROM wc GROUP BY doc_id
ORDER BY doc_id
"""


register_sql(
    "lexical_diversity",
    _lexical_diversity_sql,
    ("documents",),
    doc="Per-doc lexical diversity: type/token ratio, hapax fraction, "
    "unigram Shannon entropy via the one-pass ln(n) - sum(c ln c)/n "
    "identity — the low-entropy/low-diversity gate next to the repetition "
    "metrics; only shuffle key is doc_id, partial agg applies.",
    tags=("text", "quality"),
)


# --------------------------------------------------------------------------
# collocation mining: adjacent-bigram PMI
# --------------------------------------------------------------------------
PMI_MIN_COUNT = 5
PMI_TOP_K = 30


def _pmi_sql(d: Dialect, table: str) -> str:
    """Pointwise-mutual-information collocations over adjacent word pairs —
    the classic phrase-mining signal (Church & Hanks 1990): PMI =
    ln(P(a,b) / (P(a)P(b))), high when a pair co-occurs far above chance.

    ONE corpus scan: the bigram relation is the only explode, and the
    unigram margins derive from it (n_a = bigrams starting with a, n_b =
    bigrams ending with b — the bigram-margin convention, documented so the
    probabilities are well-defined on exactly the relation that is
    aggregated).  Margins join back BROADCAST (vocabulary-sized); the
    final ranking is TakeOrdered top-K on the FLOOR-quantized PMI with a
    word tie-break (LN is libm — empirical cross-engine contract, same as
    the other transcendental scores)."""
    w = d.splitws("lower(text)")
    if d.name == "spark":
        bigrams = (
            f"SELECT w[i] AS w1, w[i+1] AS w2 "
            f"FROM (SELECT {w} AS w FROM {table}) s "
            f"LATERAL VIEW explode(sequence(0, size(w) - 2)) t AS i "
            f"WHERE size(w) >= 2"
        )
    else:
        bigrams = (
            f"SELECT w[i] AS w1, w[i+1] AS w2 "
            f"FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i "
            f"      FROM (SELECT {w} AS w FROM {table}) s0 WHERE len(w) >= 2) s"
        )
    return f"""
WITH bg AS (SELECT w1, w2, COUNT(*) AS n_ab FROM ({bigrams}) b GROUP BY w1, w2),
tot AS (SELECT SUM(n_ab) AS n FROM bg),
ma AS (SELECT w1, SUM(n_ab) AS n_a FROM bg GROUP BY w1),
mb AS (SELECT w2, SUM(n_ab) AS n_b FROM bg GROUP BY w2),
scored AS (
  SELECT bg.w1, bg.w2, bg.n_ab,
         CAST(FLOOR(LN(bg.n_ab * t.n * 1.0e0 / (ma.n_a * mb.n_b)) * 1e6) AS BIGINT) AS pmi_units
  FROM bg
  JOIN ma ON ma.w1 = bg.w1
  JOIN mb ON mb.w2 = bg.w2
  CROSS JOIN tot t
  WHERE bg.n_ab >= {PMI_MIN_COUNT}
)
SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_pair,
       CAST(pmi_units / 1e6 AS DOUBLE) AS pmi
FROM scored
ORDER BY pmi_units DESC, w1, w2
LIMIT {PMI_TOP_K}
"""


register_sql(
    "collocation_pmi",
    _pmi_sql,
    ("documents",),
    doc=f"PMI collocation mining (Church & Hanks): adjacent-bigram counts "
    "in ONE corpus explode, unigram margins derived from the same bigram "
    f"relation (broadcast join-back), top-{PMI_TOP_K} pairs with count >= "
    f"{PMI_MIN_COUNT} by FLOOR-quantized PMI, TakeOrdered.",
    tags=("text", "agg", "retrieval"),
)


# --------------------------------------------------------------------------
# corpus-frequency boilerplate removal (CCNet/Dolma-style line dedup)
# --------------------------------------------------------------------------
BOILER_SEG_TOKENS = 3  # segment width; stands in for "line" (synthetic docs
#                        are single-line, so segments are fixed token spans —
#                        the df/reassembly machinery is line-identical)
BOILER_DF_CAP = 2  # a segment appearing in MORE distinct docs is boilerplate


def _boilerplate_sql(d: Dialect, table: str) -> str:
    """Boilerplate removal by CORPUS frequency: headers, footers, cookie
    banners, and share-bars repeat verbatim across documents, so a segment
    whose document frequency exceeds a cap is boilerplate REGARDLESS of
    its content — remove the segment, KEEP the document, preserving the
    order of what remains.  This is the between-doc complement of the
    within-doc repetition gate (quality_repetition) and the
    sub-document complement of whole-doc dedup.

    Scale: segments explode row-parallel (no shuffle), the df relation is
    one map-side-combinable (segment -> distinct-doc count) aggregate, the
    drop is an equi-join on segment text, and reassembly is a per-doc
    grouped aggregate whose state is the doc's own segment list — bounded
    by doc length.  Nothing global, nothing quadratic."""
    w = d.splitws("lower(text)")
    n = d.alen("w")
    seg = BOILER_SEG_TOKENS
    if d.name == "spark":
        starts_rel = (
            f"SELECT doc_id, w, start FROM words "
            f"LATERAL VIEW explode(sequence(1, greatest(1, {n}), {seg})) t AS start "
            f"WHERE {n} >= 1"
        )
        seg_text = f"array_join(slice(w, start, {seg}), ' ')"
        rebuild = (
            "array_join(transform(array_sort(collect_list(struct(seg_idx, seg_text))), "
            "s -> s.seg_text), ' ')"
        )
    else:
        starts_rel = (
            f"SELECT doc_id, w, unnest(generate_series(1, {n}, {seg})) AS start "
            f"FROM words WHERE {n} >= 1"
        )
        seg_text = f"array_to_string(list_slice(w, start, start + {seg - 1}), ' ')"
        rebuild = "string_agg(seg_text, ' ' ORDER BY seg_idx)"
    return f"""
WITH words AS (SELECT doc_id, {w} AS w FROM {table}),
starts AS ({starts_rel}),
segs AS (
  SELECT doc_id,
         CAST({d.idiv('(start - 1)', seg)} AS INT) AS seg_idx,
         {seg_text} AS seg_text
  FROM starts
),
df AS (
  SELECT seg_text, COUNT(DISTINCT doc_id) AS seg_df
  FROM segs GROUP BY seg_text
),
kept AS (
  SELECT s.doc_id, s.seg_idx, s.seg_text
  FROM segs s JOIN df ON s.seg_text = df.seg_text
  WHERE df.seg_df <= {BOILER_DF_CAP}
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept, {rebuild} AS clean_text
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_segments FROM segs GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n_segments AS INT) AS n_segments,
       CAST(COALESCE(r.n_kept, 0) AS INT) AS n_kept,
       COALESCE(r.clean_text, '') AS clean_text
FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
ORDER BY t.doc_id
"""


register_sql(
    "boilerplate_segment_removal",
    _boilerplate_sql,
    ("documents",),
    doc=f"Corpus-frequency boilerplate removal: {BOILER_SEG_TOKENS}-token "
    f"segments appearing in > {BOILER_DF_CAP} distinct docs are dropped "
    "from every doc (doc kept, order preserved) — the between-doc "
    "complement of the within-doc repetition gate and the sub-document "
    "complement of whole-doc dedup. Row-parallel explode, one df "
    "aggregate, equi-join drop, per-doc bounded reassembly.",
    tags=("text", "curation", "dedup"),
)


# --------------------------------------------------------------------------
# Gopher-rules document quality gate (Rae et al. 2021, Table A1)
# --------------------------------------------------------------------------
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1   # '#' or '...' per word
GOPHER_MIN_ALPHA_FRAC = 0.8     # words containing >= 1 alphabetic char
GOPHER_MIN_STOP_HITS = 2        # occurrences from the paper's stop set
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _gopher_sql(d: Dialect, table: str) -> str:
    """The published Gopher quality heuristics as one projection.  Doc-level
    rules only (the line-level rules live in boilerplate_segment_removal /
    blocklist_scan): word-count bounds, mean-word-length bounds,
    symbol-to-word ratio, alphabetic-word fraction, minimum stop-word hits.
    Synthetic documents are clean ASCII word salad, so docs with
    doc_id % 13 == 0 get a deterministic dirt suffix ('### ... 4711 9999')
    to exercise the symbol and alpha rules — same injected-dirt discipline
    as preprocess_text_normalize.  One scan, zero shuffles (the ORDER BY
    drops at scale); every metric folds the words array once from a shared
    CTE column."""
    txt = "CASE WHEN doc_id % 13 = 0 THEN text || ' ### ... #4711 9999' ELSE text END"
    words = d.splitws(f"lower({txt})")
    stops = d.array_lit(GOPHER_STOPS)
    n = d.alen("w")
    total_wlen = d.asum_int(d.transform("w", "t -> length(t)"))
    n_symbols = f"({d.re_count('txt', '#')} + {d.re_count('txt', chr(92) + '.' + chr(92) + '.' + chr(92) + '.')})"
    n_alpha = d.alen(d.filter("w", f"t -> {d.re_search('t', '[a-z]')}"))
    stop_hits = d.alen(d.filter("w", f"t -> {d.contains_arr(stops, 't')}"))
    return f"""
WITH toks AS (
  SELECT doc_id, {txt} AS txt, {words} AS w FROM {table}
),
metrics AS (
  SELECT doc_id,
         CAST({n} AS BIGINT) AS n_words,
         CAST(round({total_wlen} * 1.0e0 / nullif({n}, 0), 6) AS DOUBLE) AS mean_word_len,
         CAST(round({n_symbols} * 1.0e0 / nullif({n}, 0), 6) AS DOUBLE) AS symbol_word_ratio,
         CAST(round({n_alpha} * 1.0e0 / nullif({n}, 0), 6) AS DOUBLE) AS alpha_word_frac,
         CAST({stop_hits} AS BIGINT) AS n_stop_hits
  FROM toks
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, alpha_word_frac,
       n_stop_hits,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND mean_word_len >= {GOPHER_MIN_MEAN_WLEN} AND mean_word_len <= {GOPHER_MAX_MEAN_WLEN}
        AND symbol_word_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
        AND alpha_word_frac >= {GOPHER_MIN_ALPHA_FRAC}
        AND n_stop_hits >= {GOPHER_MIN_STOP_HITS}) AS gopher_pass
FROM metrics
ORDER BY doc_id
"""


register_sql(
    "gopher_quality_gate",
    _gopher_sql,
    ("documents",),
    doc="Gopher quality heuristics (Rae et al. 2021 Table A1) as one "
    "projection: word-count and mean-word-length bounds, symbol-to-word "
    "ratio, alphabetic-word fraction, minimum stop-word hits, and the "
    "conjunction gate — the doc-level published-rules sibling of "
    "text_quality_stats (metrics) and quality_logreg_score (model-based). "
    "Deterministic dirt on doc_id % 13 exercises the symbol/alpha rules.",
    tags=("text", "quality", "curation"),
)


# --------------------------------------------------------------------------
# Flesch-style readability score per source
# --------------------------------------------------------------------------
def _readability_sql(d: Dialect, table: str) -> str:
    """Flesch reading ease with a vowel-group syllable proxy: 206.835 -
    1.015*(words/sentences) - 84.6*(syllables/words); sentence count floors
    at 1 (synthetic corpora may carry no terminal punctuation).  Per-doc
    scores quantize to exact 1e-3 units so the per-source mean is an
    integer sum + one double division (order-independent)."""
    words = d.alen(d.splitws("text"))
    syllables = d.re_count("lower(text)", "[aeiouy]+")
    sentences = f"GREATEST(1, {d.re_count('text', '[.!?]+')})"
    score = (
        f"(206.835e0 - 1.015e0 * (CAST(w AS DOUBLE) / s)"
        f" - 84.6e0 * (CAST(y AS DOUBLE) / NULLIF(w, 0)))"
    )
    return f"""
WITH counted AS (
  SELECT source, {words} AS w, {syllables} AS y, {sentences} AS s
  FROM {table}
),
scored AS (
  SELECT source, CAST(ROUND(1000 * {score}) AS BIGINT) AS ms
  FROM counted WHERE w > 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(ms) AS DOUBLE) / (1000.0 * COUNT(*)), 6) AS mean_flesch
FROM scored GROUP BY source ORDER BY source
"""


register_sql(
    "readability_score",
    _readability_sql,
    ("documents",),
    doc="Flesch-style readability per source: vowel-group syllable proxy, "
    "whitespace words, terminal-punctuation sentences (floor 1) — the "
    "classic text-quality gate next to gopher_quality_gate's ratio "
    "heuristics.  Pure regex-count projections (JVM-native), per-doc "
    "scores quantized to exact 1e-3 units so per-source means are "
    "order-independent integer sums.",
    tags=("text", "quality", "agg"),
)


# --------------------------------------------------------------------------
# window co-occurrence PPMI (skip-gram distance <= 2)
# --------------------------------------------------------------------------
PPMI_WINDOW = 2
PPMI_MIN_COUNT = 5
PPMI_TOP_K = 40


def _ppmi_pairs_sql(d: Dialect, table: str) -> str:
    """The windowed co-occurrence pair counts — the relation tot/marg/
    scored all reference (12 static scans per statement, guide §3.3)."""
    w = d.splitws("lower(text)")
    if d.name == "spark":
        pairs = (
            f"SELECT least(w[i], w[i+dd]) AS w1, greatest(w[i], w[i+dd]) AS w2 "
            f"FROM (SELECT {w} AS w FROM {table}) s "
            f"LATERAL VIEW explode(sequence(0, size(w) - 2)) t1 AS i "
            f"LATERAL VIEW explode(array(1, {PPMI_WINDOW})) t2 AS dd "
            f"WHERE size(w) >= 2 AND i + dd <= size(w) - 1 AND w[i] <> w[i+dd]"
        )
    else:
        pairs = (
            f"SELECT least(w[i], w[i+dd]) AS w1, greatest(w[i], w[i+dd]) AS w2 "
            f"FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i "
            f"      FROM (SELECT {w} AS w FROM {table}) s0 WHERE len(w) >= 2) s "
            f"CROSS JOIN (SELECT unnest([1, {PPMI_WINDOW}]) AS dd) ds "
            f"WHERE i + dd <= len(w) AND w[i] <> w[i+dd]"
        )
    return f"SELECT w1, w2, COUNT(*) AS n_ab FROM ({pairs}) p GROUP BY w1, w2"


def _ppmi_window_sql(d: Dialect, table: str, pr_rel: str | None = None) -> str:
    """Positive PMI over UNORDERED word pairs co-occurring within a
    +-{PPMI_WINDOW}-token window — the co-occurrence-matrix builder behind
    count-based word embeddings (GloVe / SVD-of-PPMI counts), one step
    beyond collocation_pmi's adjacent ordered bigrams.

    ONE corpus explode generates (position, distance) pairs — the distance
    dimension rides a 2-element literal array, so cost is 2x the token
    count, never quadratic; pairs canonicalize via LEAST/GREATEST,
    same-word pairs drop; symmetric margins derive from the pair relation
    itself (broadcast join-back).  Ranking is TakeOrdered on the
    FLOOR-quantized PMI (libm LN crosses engines — same empirical
    contract as collocation_pmi)."""
    pr = (
        f"SELECT w1, w2, n_ab FROM {pr_rel}"
        if pr_rel
        else _ppmi_pairs_sql(d, table)
    )
    return f"""
WITH pr AS ({pr}),
tot AS (SELECT SUM(n_ab) AS n FROM pr),
marg AS (
  SELECT w, SUM(n_ab) AS n_w FROM (
    SELECT w1 AS w, n_ab FROM pr
    UNION ALL
    SELECT w2 AS w, n_ab FROM pr
  ) m GROUP BY w
),
scored AS (
  SELECT pr.w1, pr.w2, pr.n_ab,
         CAST(FLOOR(LN(pr.n_ab * t.n * 1.0e0 / (ma.n_w * mb.n_w)) * 1e6) AS BIGINT)
           AS pmi_units
  FROM pr
  JOIN marg ma ON ma.w = pr.w1
  JOIN marg mb ON mb.w = pr.w2
  CROSS JOIN tot t
  WHERE pr.n_ab >= {PPMI_MIN_COUNT}
)
SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_pair,
       CAST(GREATEST(pmi_units, 0) / 1e6 AS DOUBLE) AS ppmi
FROM scored
ORDER BY pmi_units DESC, w1, w2
LIMIT {PPMI_TOP_K}
"""


@register(
    "ppmi_window_cooccurrence",
    oracle=_ppmi_window_sql(DUCKDB, "documents"),
    doc=f"PPMI word co-occurrence within a +-{PPMI_WINDOW}-token window "
    "(unordered canonical pairs, symmetric margins from the pair relation "
    "itself): the count-based embedding matrix builder next to "
    f"collocation_pmi's ordered bigrams.  Top-{PPMI_TOP_K} pairs with "
    f"count >= {PPMI_MIN_COUNT} by FLOOR-quantized PMI, TakeOrdered; the "
    "distance dimension rides a 2-element literal array (2x token count, "
    "never quadratic).",
    tags=("text", "agg", "embedding"),
)
def ppmi_window_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = table_view(spark, sf_dir, "documents")
    # Materialize the co-occurrence pair counts once (guide §3.3): tot,
    # both margin arms and the scoring join each re-ran the corpus
    # explode + groupBy (12 static scans per statement).
    pr = materialize_once(
        spark, _ppmi_pairs_sql(SPARK, view), "ppmi_pr", key=sf_dir
    )
    return spark.sql(_ppmi_window_sql(SPARK, view, pr_rel=pr))


# --------------------------------------------------------------------------
# vocabulary novelty by source: the data-acquisition diminishing-returns curve
# --------------------------------------------------------------------------
def _vocab_novelty_sql(d: Dialect, table: str) -> str:
    """Which source contributes NEW word types?  Every type attributes to
    its MIN source (lexicographic source order as the acquisition
    sequence); each source's novelty rate = newly-contributed types /
    types present in that source; the cumulative curve rides a bounded
    |sources|^2 self-join of the per-source aggregate (never a global
    window).  ONE token explode feeds both the first-source and the
    per-source-distinct relations."""
    w = d.splitws("lower(text)")
    toks = f"SELECT source, w FROM (SELECT source, {w} AS ws FROM {table}) s, "
    if d.name == "spark":
        toks = (
            f"SELECT source, w FROM (SELECT source, {w} AS ws FROM {table}) s "
            f"LATERAL VIEW explode(ws) t AS w"
        )
    else:
        toks = (
            f"SELECT source, unnest(ws) AS w "
            f"FROM (SELECT source, {w} AS ws FROM {table}) s"
        )
    return f"""
WITH toks AS (SELECT DISTINCT source, w FROM ({toks}) x),
firsts AS (SELECT w, MIN(source) AS first_source FROM toks GROUP BY w),
newt AS (SELECT first_source AS source, CAST(COUNT(*) AS BIGINT) AS new_types
         FROM firsts GROUP BY first_source),
pres AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS present_types
         FROM toks GROUP BY source)
SELECT p.source, p.present_types,
       CAST(COALESCE(n.new_types, 0) AS BIGINT) AS new_types,
       ROUND(CAST(COALESCE(n.new_types, 0) AS DOUBLE) / p.present_types, 6)
         AS novelty_rate,
       CAST((SELECT SUM(n2.new_types) FROM newt n2 WHERE n2.source <= p.source)
            AS BIGINT) AS cum_vocab
FROM pres p LEFT JOIN newt n ON n.source = p.source
ORDER BY p.source
"""


register_sql(
    "vocab_novelty_by_source",
    _vocab_novelty_sql,
    ("documents",),
    doc="Vocabulary-novelty curve by source (acquisition order = source "
    "name): each word type attributes to its MIN source, per-source "
    "new-type counts and novelty rate, cumulative vocabulary via a "
    "bounded |sources|^2 correlated aggregate over the TINY per-source "
    "relation — the diminishing-returns audit that tells a data-"
    "acquisition pipeline when another source of the same kind stops "
    "adding vocabulary.  One DISTINCT (source, type) explode feeds "
    "everything.",
    tags=("text", "curation", "agg"),
)


# --------------------------------------------------------------------------
# vocabulary coverage curve: OOV rate vs vocabulary budget
# --------------------------------------------------------------------------
VOCAB_BUDGETS = (250, 500, 1000, 2000, 4000)


def _coverage_curve_sql(d: Dialect, table: str, ranked_vocab: str) -> str:
    budgets = ", ".join(str(b) for b in VOCAB_BUDGETS)
    if d.name == "spark":
        brel = f"SELECT explode(array({budgets})) AS budget"
    else:
        brel = f"SELECT unnest([{budgets}]) AS budget"
    return f"""
WITH rv AS ({ranked_vocab}),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tok,
               CAST(COUNT(*) AS BIGINT) AS n_types FROM rv),
b AS ({brel})
SELECT b.budget,
       CAST(LEAST(b.budget, t.n_types) AS BIGINT) AS n_types_used,
       CAST(SUM(CASE WHEN rv.r <= b.budget THEN rv.cnt ELSE 0 END) AS BIGINT)
         AS covered_tokens,
       ROUND(CAST(SUM(CASE WHEN rv.r <= b.budget THEN rv.cnt ELSE 0 END) AS DOUBLE)
             / t.n_tok, 6) AS coverage,
       ROUND(1.0 - CAST(SUM(CASE WHEN rv.r <= b.budget THEN rv.cnt ELSE 0 END) AS DOUBLE)
             / t.n_tok, 6) AS oov_rate
FROM rv CROSS JOIN b CROSS JOIN tot t
GROUP BY b.budget, t.n_tok, t.n_types
ORDER BY b.budget
"""


def _ranked_vocab_oracle(d: Dialect, table: str) -> str:
    w = d.splitws("lower(text)")
    toks = (
        f"SELECT unnest(ws) AS w FROM (SELECT {w} AS ws FROM {table}) s"
        if d.name == "duckdb"
        else f"SELECT w FROM (SELECT {w} AS ws FROM {table}) s LATERAL VIEW explode(ws) t AS w"
    )
    return f"""
SELECT w, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS r
FROM (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM ({toks}) x GROUP BY w) v
"""


@register(
    "vocab_coverage_curve",
    oracle=_coverage_curve_sql(
        DUCKDB, "documents", _ranked_vocab_oracle(DUCKDB, "documents")
    ),
    doc=f"Vocabulary coverage curve: token-occurrence coverage and OOV "
    f"rate at vocabulary budgets {VOCAB_BUDGETS} — the tokenizer/vocab "
    "sizing decision plotted as data (pairs with bpe_fertility_by_source "
    "and mixture_weights_alpha).  The corpus collapses to its frequency-"
    "ranked vocabulary (rank via the DISTRIBUTED range-rank primitive on "
    "(-cnt, w); the oracle may use a global window over its aggregated "
    "vocab); budgets ride a literal array, one conditional aggregate.",
    tags=("text", "curation", "distributed-rank"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .scalars_extra import range_ranked

    view = table_view(spark, sf_dir, "documents")
    w = SPARK.splitws("lower(text)")
    vocab = spark.sql(
        f"SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM "
        f"(SELECT {w} AS ws FROM {view}) s LATERAL VIEW explode(ws) t AS w "
        f"GROUP BY w"
    ).withColumn("neg", -F.col("cnt"))
    ranked, _n = range_ranked(vocab, ["neg", "w"])
    if ranked is None:
        return spark.createDataFrame(
            [],
            "budget int, n_types_used bigint, covered_tokens bigint, "
            "coverage double, oov_rate double",
        )
    return spark.sql(
        _coverage_curve_sql(SPARK, view, "SELECT w, cnt, r FROM {rv}"),
        rv=ranked.drop("neg").localCheckpoint(eager=False),
    )
