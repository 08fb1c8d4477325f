"""Deduplication suite over documents: exact, n-gram Jaccard near-dup,
MinHash+LSH banding, and SimHash fingerprints.

Scale design (100 TB):
- exact dedup = hash-groupBy on a 60-bit content hash: map-side partial agg,
  one shuffle of (hash, min_id, count) — never the text itself;
- n-gram Jaccard goes through an inverted shingle index (explode → self-join
  on shingle → count) — the standard candidate-pair generation; the shingle
  join key is the shuffle key, so hot shingles are the skew risk — the
  shipped skew answer is ``dedup_jaccard_stopshingle`` (df-capped candidate
  generation, bounded per-shingle fan-out);
- MinHash+LSH: 8 portable hash functions → per-doc signature → 4 bands of 2
  → band-bucket equi-join.  Only docs sharing a band collide; join input is
  4 rows/doc regardless of doc length — the classic sub-quadratic near-dup
  path;
- SimHash: 16-bit majority fingerprint over word hashes
  (``dedup_simhash``); ``simhash_neardup`` completes the family — candidate
  pairs from equality on the fingerprint with one nibble masked (any pair
  whose differing bits sit in a single 4-bit block collides on the key that
  masks that block), exact Hamming ≤ k refine.

All hashes are the portable md5-prefix hash (identical in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK, Dialect, strip_order_by
from ..registry import register, register_sql
from ..session import fixed_plan, session_view
from ..sources.tables import table_view

N_HASHES = 8
BAND_SIZE = 2  # → 4 bands
JACCARD_THRESHOLD = 0.4


# --------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# --------------------------------------------------------------------------
def _exact_sql(d: Dialect, table: str) -> str:
    h = d.md5_prefix_int("text")
    return (
        f"SELECT {h} AS content_hash, MIN(doc_id) AS keep_doc_id, "
        f"COUNT(*) AS n_copies "
        f"FROM {table} GROUP BY 1 ORDER BY keep_doc_id"
    )


register_sql(
    "dedup_exact",
    _exact_sql,
    ("documents",),
    doc="Exact dedup: 60-bit content hash groupBy, keep min doc_id per "
    "group. Map-side combine; text never shuffles.",
    tags=("dedup",),
)


# --------------------------------------------------------------------------
# word 3-gram shingles (shared by jaccard / minhash)
# --------------------------------------------------------------------------
def _shingles_sql(d: Dialect, table: str, portable: bool = False) -> str:
    """(doc_id, sh) pairs, distinct — word 3-grams hashed to 64-bit ints.
    Hashing happens INSIDE the explode lambda, before the DISTINCT, so
    shingle text never leaves the projection: the dedup shuffle and every
    downstream join key are 8-byte ints, not strings — the form that
    survives 100 TB (the hash space makes cross-doc collisions negligible
    at any realistic corpus size).

    ``portable=False`` (default) uses the engine's native cheap hash —
    correct wherever the hash is only a join/dedup/count key, because both
    engines then agree on every doc-pair and count even though the hash
    VALUES differ.  ``portable=True`` pays for md5 so the values themselves
    match across engines — required by minhash, whose signature values
    decide band collisions.

    The words array is hoisted into a subquery column: inlining the split
    expression into the per-position slice lambda re-tokenizes the whole
    document for every shingle — O(words²) per doc (measured 5.5s → 0.5s at
    sf0.1)."""
    w = d.splitws("lower(text)")
    hashfn = d.md5_prefix_int if portable else d.fast_hash
    words_rel = f"(SELECT doc_id, {w} AS w FROM {table}) src"
    if d.name == "spark":
        sh_txt = "array_join(slice(w, i, 3), ' ')"
        shingle_arr = f"transform(sequence(1, size(w) - 2), i -> {hashfn(sh_txt)})"
        return (
            f"SELECT DISTINCT doc_id, sh "
            f"FROM {words_rel} "
            f"LATERAL VIEW explode({shingle_arr}) t AS sh "
            f"WHERE size(w) >= 3"
        )
    sh_txt = "array_to_string(list_slice(w, i, i + 2), ' ')"
    shingle_arr = (
        f"list_transform(generate_series(1, len(w) - 2), i -> {hashfn(sh_txt)})"
    )
    return (
        f"SELECT DISTINCT doc_id, unnest({shingle_arr}) AS sh "
        f"FROM {words_rel} WHERE len(w) >= 3"
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs via inverted shingle index
# --------------------------------------------------------------------------
def _jaccard_sql(
    d: Dialect,
    table: str,
    shingles_rel: str | None = None,
    ordered: bool = True,
) -> str:
    """ordered=False drops the presentation ORDER BY for callers that
    materialize the pair set as an INTERMEDIATE relation (truth sets,
    candidate feeds) — a global sort shuffle bought for nothing.  This
    replaces the former ``.replace('ORDER BY ...', '')`` string surgery
    on rendered SQL (ADVICE r8: if the template's formatting drifted,
    the replace silently no-oped into a perf regression)."""
    sh = shingles_rel or _shingles_sql(d, table)
    tail = "ORDER BY doc_a, doc_b" if ordered else ""
    return f"""
WITH shingles AS ({sh}),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(ROUND(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 6) AS DOUBLE) AS jaccard
FROM common
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common) >= {JACCARD_THRESHOLD}
{tail}
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_jaccard_sql(DUCKDB, "documents"),
    doc="Near-dup pairs by word-3-gram Jaccard >= 0.4 via inverted shingle "
    "index self-join (candidate generation is per-shingle, sub-quadratic).",
    tags=("dedup", "join"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = table_view(spark, sf_dir, "documents")
    # Evaluate the shingle explode+distinct ONCE.  The downstream SQL
    # references the relation 3-5 times (df counts, both join sides,
    # per-doc counts); Catalyst inlines CTEs, and exchange reuse only
    # merges IDENTICAL subtrees — the executed plan still carried 5
    # Generate nodes over the corpus.  At cluster scale this is an
    # explicit intermediate — sized O(corpus tokens) as 8-byte-int pairs,
    # far cheaper than re-exploding the text column per consumer.
    sh = materialize_once(spark, _shingles_sql(SPARK, view), "jaccard_sh", sf_dir)
    return spark.sql(_jaccard_sql(SPARK, view, shingles_rel=f"SELECT doc_id, sh FROM {sh}"))


# --------------------------------------------------------------------------
# n-gram Jaccard with stop-shingle candidate generation (skew-safe)
# --------------------------------------------------------------------------
DF_CAP = 5  # shingles seen in more than DF_CAP docs don't generate candidates


def _jaccard_stopshingle_sql(
    d: Dialect,
    table: str,
    shingles_rel: str | None = None,
    df_rel: str | None = None,
) -> str:
    """Same Jaccard semantics as ``dedup_ngram_jaccard`` for every pair it
    emits, but candidate pairs come only from shingles with document
    frequency <= ``DF_CAP``; the Jaccard refine then uses FULL shingle sets.

    This is the scale-correct form of the inverted-index join: an uncapped
    index shuffles O(df²) candidate rows per shingle, so one hot shingle
    ("click here to" at web scale) alone produces a quadratic straggler
    partition.  Capping df bounds every shingle's join fan-out at DF_CAP²
    pairs no matter how large the corpus grows; recall loss is limited to
    pairs whose ONLY shared shingles are corpus-hot — which near-duplicates,
    by definition, are not (at sf0.01 all 25 true pairs survive a cap of 3;
    candidates drop ~30% even on synthetic low-skew data).  The oracle runs
    the identical construction, so the approximation is deterministic."""
    sh = shingles_rel or _shingles_sql(d, table)
    sdf = (
        f"SELECT sh, sh_df AS df FROM ({df_rel}) dfr" if df_rel
        else "SELECT sh, COUNT(*) AS df FROM shingles GROUP BY sh"
    )
    return f"""
WITH shingles AS ({sh}),
sdf AS ({sdf}),
idx AS (
  SELECT s.doc_id, s.sh FROM shingles s
  JOIN sdf ON sdf.sh = s.sh WHERE sdf.df <= {DF_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       CAST(ROUND(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 6) AS DOUBLE) AS jaccard
FROM common
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_jaccard_stopshingle",
    oracle=_jaccard_stopshingle_sql(DUCKDB, "documents"),
    doc=f"Skew-safe n-gram Jaccard: candidate pairs only from shingles with "
    f"document frequency <= {DF_CAP} (stop-shingle filter bounds per-shingle "
    "join fan-out at df² regardless of corpus size), exact Jaccard refine on "
    "full shingle sets. The 100-TB form of dedup_ngram_jaccard.",
    tags=("dedup", "join", "skew"),
)
def dedup_jaccard_stopshingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = table_view(spark, sf_dir, "documents")
    # stored session relations shared with the prefix-filter twin (the r9
    # bench head showed both recomputing the identical shingle + df tables)
    rel = _shingles_session_rel(spark, sf_dir)
    df_rel = _shingle_df_session_rel(spark, sf_dir)
    return spark.sql(
        _jaccard_stopshingle_sql(SPARK, view, shingles_rel=rel, df_rel=df_rel)
    )


# --------------------------------------------------------------------------
# MinHash signatures + LSH banding
# --------------------------------------------------------------------------
# Pairwise-independent hash family for minhash: ONE md5 per shingle (the
# expensive part), then h_i = (a_i * x + b_i) mod P derived by integer
# mixing.  The naive form ('i|' || shingle → md5, per family) recomputes
# md5 N_HASHES times per shingle row and dominated the whole LSH pipeline.
# P is a 30-bit prime and x < P, a_i < 2^30, so a_i * x < 2^60 — no 64-bit
# overflow in either engine (Spark ANSI mode would throw on it).
MINHASH_P = 1_073_741_789
_MINHASH_AB = [
    (373587883, 94433013), (413158511, 52802457), (736338717, 268435399),
    (654188429, 917505183), (979025087, 330382121), (557869813, 712930009),
    (847288609, 121932851), (297779593, 485560823),
]


def _minhash_sig_sql(d: Dialect, table: str) -> str:
    sh = _shingles_sql(d, table, portable=True)
    parts = [
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_AB[:N_HASHES])
    ]
    return (
        f"SELECT doc_id, {', '.join(parts)} "
        f"FROM (SELECT doc_id, sh % {MINHASH_P} AS x FROM ({sh}) s) t "
        f"GROUP BY doc_id"
    )


def _bands_rel_sql(d: Dialect, table: str) -> str:
    """(doc_id, band, band_key) — one row per doc per LSH band.  Bands
    expand via a single explode over the signature row (NOT a UNION ALL of
    per-band selects — that made Spark recompute the whole shingle+minhash
    CTE once per band per join side, 8x; with one explode a self-join's two
    identical sides also hit exchange reuse)."""
    sig = _minhash_sig_sql(d, table)
    n_bands = N_HASHES // BAND_SIZE

    def band_key(b: int) -> str:
        return " || '_' || ".join(d.strcast(f"h{b * BAND_SIZE + r}") for r in range(BAND_SIZE))

    if d.name == "spark":
        entries = ", ".join(
            f"named_struct('band', {b}, 'band_key', {band_key(b)})" for b in range(n_bands)
        )
        return (
            f"SELECT doc_id, e.band AS band, e.band_key AS band_key "
            f"FROM ({sig}) sig LATERAL VIEW explode(array({entries})) t AS e"
        )
    entries = ", ".join(
        f"{{'band': {b}, 'band_key': {band_key(b)}}}" for b in range(n_bands)
    )
    return (
        f"SELECT doc_id, u.band AS band, u.band_key AS band_key "
        f"FROM (SELECT doc_id, unnest([{entries}]) AS u FROM ({sig}) sig) s"
    )


def _lsh_pairs_sql(d: Dialect, table: str) -> str:
    return f"""
WITH bands AS ({_bands_rel_sql(d, table)})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


register_sql(
    "dedup_minhash_lsh",
    _lsh_pairs_sql,
    ("documents",),
    doc="MinHash (8 portable hash fns over 3-gram shingles) + LSH banding "
    "(4 bands x 2): candidate near-dup pairs from band-bucket equi-join — "
    "4 rows/doc join input regardless of document size.",
    tags=("dedup", "lsh"),
)


# --------------------------------------------------------------------------
# SimHash fingerprints (16-bit majority over distinct word hashes)
# --------------------------------------------------------------------------
def _simhash_sql(d: Dialect, table: str, bits: int = 16) -> str:
    w = d.adistinct(d.splitws("lower(text)"))
    words_rel = (
        f"SELECT doc_id, unnest({w}) AS word FROM {table}"
        if d.name == "duckdb"
        else f"SELECT doc_id, word FROM {table} LATERAL VIEW explode({w}) t AS word"
    )
    h = d.md5_prefix_int("word")
    bit_sum = " + ".join(
        f"(CASE WHEN 2 * SUM(({d.shr('h', b)}) & 1) > COUNT(*) THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
WITH words AS ({words_rel}),
hashed AS (SELECT doc_id, {h} AS h FROM words)
SELECT doc_id, CAST({bit_sum} AS BIGINT) AS simhash
FROM hashed GROUP BY doc_id ORDER BY doc_id
"""


register_sql(
    "dedup_simhash",
    _simhash_sql,
    ("documents",),
    doc="SimHash: 16-bit majority fingerprint over portable word hashes; "
    "near-dups land in Hamming-adjacent fingerprints.",
    tags=("dedup", "hash"),
)


# --------------------------------------------------------------------------
# SimHash near-dup pairing (Hamming-bucketed candidates + exact refine)
# --------------------------------------------------------------------------
SIMHASH_BITS = 32  # wider than dedup_simhash's 16: pairing needs headroom —
# a 16-bit space saturates (Ω(n²/2^16) Hamming-0 collisions once the corpus
# passes ~65k docs); 32 bits keeps the block buckets selective.
HAMMING_K = 3
N_BLOCKS = HAMMING_K + 1  # pigeonhole: ≤k diffs leave ≥1 block untouched
BLOCK_BITS = SIMHASH_BITS // N_BLOCKS


def _xor(d: Dialect, a: str, b: str) -> str:
    """Bitwise XOR — Spark spells it ``^``; DuckDB's ``^`` is POWER."""
    return f"({a} ^ {b})" if d.name == "spark" else f"xor({a}, {b})"


def _simhash_neardup_sql(d: Dialect, table: str) -> str:
    """Near-dup detection with GUARANTEED recall at Hamming ≤ k, paired at
    FINGERPRINT granularity.

    Candidate generation is the standard pigeonhole block scheme (Manku et
    al., WWW'07): the fingerprint splits into ``N_BLOCKS = k+1`` blocks of
    ``BLOCK_BITS``; two fingerprints differing in ≤ k bits must agree on at
    least one whole block, so the equi-join on (block_idx, block_value)
    surfaces EVERY qualifying fingerprint pair — blocks only prune, never
    drop.  ``bit_count(xor)`` refines to true Hamming ≤ k.

    Pairing at fingerprint (not document) granularity is the scale design:
    duplicate-heavy corpora have identical-fingerprint clusters, and
    doc-level pair output is QUADRATIC in cluster size (2.1M pair rows from
    5k synthetic docs at sf0.1).  One row per duplicate group (hamming 0,
    rep = min doc_id, n_pairs = C(n,2)) plus one row per near fingerprint
    pair (n_pairs = n_a*n_b) keeps the output linear in distinct
    fingerprints; doc-level pairs recover by joining the fingerprint table
    back on simhash.  The block equi-join input is N_BLOCKS rows per
    DISTINCT fingerprint — never all-pairs, never per-doc; a hot block
    value is an ordinary hot join key (AQE skew split)."""
    sim = _simhash_sql(d, table, bits=SIMHASH_BITS)
    block_mask = (1 << BLOCK_BITS) - 1
    blocks = [f"(({d.shr('simhash', BLOCK_BITS * j)}) & {block_mask})" for j in range(N_BLOCKS)]
    if d.name == "spark":
        entries = ", ".join(
            f"named_struct('j', {j}, 'blk', {b})" for j, b in enumerate(blocks)
        )
        keyed = (
            f"SELECT simhash, rep, n_docs, e.j AS j, e.blk AS blk "
            f"FROM groups LATERAL VIEW explode(array({entries})) t AS e"
        )
    else:
        entries = ", ".join(f"{{'j': {j}, 'blk': {b}}}" for j, b in enumerate(blocks))
        keyed = (
            f"SELECT simhash, rep, n_docs, u.j AS j, u.blk AS blk "
            f"FROM (SELECT simhash, rep, n_docs, unnest([{entries}]) AS u FROM groups) s"
        )
    hamming = f"bit_count({_xor(d, 'a.simhash', 'b.simhash')})"
    return f"""
WITH sim AS ({sim}),
groups AS (
  SELECT simhash, MIN(doc_id) AS rep, COUNT(*) AS n_docs
  FROM sim GROUP BY simhash
),
keyed AS ({keyed}),
near AS (
  SELECT DISTINCT LEAST(a.rep, b.rep) AS doc_a, GREATEST(a.rep, b.rep) AS doc_b,
         CAST({hamming} AS INT) AS hamming,
         CAST(a.n_docs * b.n_docs AS BIGINT) AS n_pairs
  FROM keyed a JOIN keyed b
    ON a.j = b.j AND a.blk = b.blk AND a.simhash < b.simhash
  WHERE {hamming} <= {HAMMING_K}
)
SELECT doc_a, doc_b, hamming, n_pairs FROM near
UNION ALL
SELECT rep AS doc_a, rep AS doc_b, 0 AS hamming,
       CAST({d.idiv('(n_docs * (n_docs - 1))', 2)} AS BIGINT) AS n_pairs
FROM groups WHERE n_docs >= 2
ORDER BY doc_a, doc_b
"""


register_sql(
    "simhash_neardup",
    _simhash_neardup_sql,
    ("documents",),
    doc=f"SimHash near-dup, EXACT at Hamming <= {HAMMING_K} and paired at "
    f"fingerprint granularity: {SIMHASH_BITS}-bit fingerprints grouped "
    f"(rep, count), pigeonhole {N_BLOCKS}x{BLOCK_BITS}-bit block equi-join "
    "guarantees every qualifying fingerprint pair, bit_count(xor) refine; "
    "one row per duplicate group / near pair with the doc-pair count — "
    "output stays linear in distinct fingerprints on dup-heavy corpora.",
    tags=("dedup", "hash", "join"),
)


# --------------------------------------------------------------------------
# near-dup clustering: connected components over the LSH pair graph
# --------------------------------------------------------------------------
CC_MAX_ITERS = 20  # safety cap; loop exits at fixpoint (diameter iterations)

# Shuffle-partition count for the CC fixpoint's in-loop stages.  The
# label/edge relations the loop shuffles are the near-dup SUBSET of the
# corpus — orders of magnitude smaller than the documents table — so the
# session shuffle default oversplits them into per-task overhead (the
# same class as ``scalars_extra.RANK_PARTITIONS``).  Deployments size this
# UP with the candidate-graph cardinality; label exactness never depends
# on the count.
CC_PARTITIONS = 8

# label relations at or below this edge count broadcast inside the CC loop
# (2 cols x ~2M rows ~= tens of MB, comfortably under executor memory);
# larger graphs take the sort-merge path
_CC_BROADCAST_EDGES = 2_000_000


def connected_components(spark: SparkSession, nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by min-label propagation to fixpoint — the
    keep-one-per-cluster step a dedup pipeline runs AFTER pair generation.

    ``nodes``: one column ``doc_id``; ``edges``: ``doc_a``/``doc_b`` pairs
    (undirected, deduped).  Returns (doc_id, cluster_rep) with cluster_rep =
    min doc_id of the component; singletons map to themselves.

    Scale design: each propagation hop is ONE shuffle — neighbor labels
    aggregate by dst with a map-side-combining MIN, then a left join back
    to labels; rounds run TWO hops in a single action.  Hop count =
    component diameter, and near-dup clusters are shallow (dups of a
    common source), so 1-2 rounds in practice; the ``CC_MAX_ITERS`` cap
    (in hops) guards pathological chains.  Labels and the symmetric edge
    list persist across rounds (the expensive candidate SQL is never
    re-derived), and convergence is OBSERVED on each round's
    materializing job (``Observation`` metric — no separate action).
    Deterministic for any partitioning: min-label is order-insensitive."""
    # localCheckpoint (eager) rather than persist: an iterative driver loop
    # grows the logical plan every round, and even with caching Catalyst
    # re-analyzes the full lineage per iteration — O(iters²) planning that
    # measurably dominates this op at bench scale.  Checkpointing truncates
    # the plan to a leaf, so (a) the expensive candidate SQL is evaluated
    # exactly once, (b) every iteration plans O(1) work, (c) the two
    # unionAll branches read the materialized edges, not the lineage.
    # (On a production cluster with executor loss, swap for checkpoint()
    # against a reliable store — same shape, durable materialization.)
    # Loop structure (VERDICT r12 task 2 — the loop measured 8 Spark jobs
    # PER iteration, ~0.15 s of scheduler overhead each, dwarfing the
    # actual label work): (a) TWO propagation hops per round, halving the
    # round count at identical total shuffle volume; (b) the changed-label
    # count rides the checkpoint job as an Observation instead of a
    # separate count action; (c) AQE is gated OFF and shuffle partitions
    # right-sized (``CC_PARTITIONS``) inside the loop — each round's
    # plan is a fixed small-relation shape that gains nothing from runtime
    # re-planning, and AQE materializes every exchange as its own job
    # (measured 8 jobs/round -> 1).  The corpus-scale stages (pair
    # generation inside the sym build, consumers downstream) plan OUTSIDE
    # the gate and keep AQE; min-label propagation stays exact and
    # order-insensitive.
    spark = nodes.sparkSession
    # ONE materialization for pair SQL + symmetric fan-out (r13: was two —
    # an eager `edges` checkpoint and then a sym checkpoint over it): the
    # explode form has a single branch over the pair lineage, so the
    # expensive candidate SQL still evaluates exactly once, inside the one
    # checkpoint job, and the whole build keeps AQE (corpus-scale stages).
    # The explicit repartition count pins the loop's join partitioning
    # (AQE never coalesces an explicit numPartitions repartition).
    obs_n = Observation()
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition(CC_PARTITIONS, "src")
        .observe(obs_n, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    with fixed_plan(spark, CC_PARTITIONS):
        # The label relation is bounded by the symmetric edge count; below
        # the broadcast bound the label side rides to every edge partition
        # and the (possibly huge) symmetric edge relation is NEVER
        # shuffled by the propagation join — the decision AQE was
        # re-deriving per exchange per round, made ONCE here from the edge
        # count observed on the sym checkpoint job (no extra action).
        # Above the bound the loop degrades to sort-merge joins — the
        # correct plan when the near-dup subset itself is cluster-scale.
        bcast = (
            F.broadcast
            if (obs_n.get["n"] or 0) <= _CC_BROADCAST_EDGES
            else (lambda df: df)
        )
        labels = None  # round 1 starts from identity labels, never built
        for _ in range((CC_MAX_ITERS + 1) // 2):
            if labels is None:
                # Round-1 hop 1 degenerates: joining sym against IDENTITY
                # labels (every edge-touching node labelled by itself) is
                # sym itself, so the hop is ONE map-side-combining
                # aggregation — no identity-label build, no checkpoint for
                # it, no broadcast.  Symmetry guarantees every
                # edge-touching node appears as dst, so the left-join
                # against the identity set is total and drops out too;
                # iterating only over edge-touching nodes (singletons
                # rejoin at the end) is unchanged.
                m1 = (
                    sym.groupBy("dst")
                    .agg(F.min("src").alias("n1"))
                    .select(
                        F.col("dst").alias("doc_id"),
                        F.least(F.col("dst"), F.col("n1")).alias("l1"),
                    )
                )
            else:
                nm1 = (
                    sym.join(bcast(labels), sym.src == labels.doc_id)
                    .groupBy("dst")
                    .agg(F.min("lbl").alias("n1"))
                )
                m1 = (
                    labels.join(nm1, labels.doc_id == nm1.dst, "left")
                    .select(
                        "doc_id",
                        F.least(F.col("lbl"), F.coalesce(F.col("n1"), F.col("lbl"))).alias("l1"),
                    )
                )
            nm2 = (
                sym.join(bcast(m1), sym.src == m1.doc_id)
                .groupBy("dst")
                .agg(F.min("l1").alias("n2"))
            )
            # Convergence is observed on the materializing job itself,
            # never a second action — and only the SECOND hop's change
            # count matters: hop 2 is a full application of the
            # propagation operator to the post-hop-1 labels, so zero
            # changes there IS the fixpoint certificate, no confirmation
            # round needed (hop 1's count is irrelevant to the test).
            obs = Observation()
            merged = (
                m1.join(bcast(nm2), m1.doc_id == nm2.dst, "left")
                .select(
                    "doc_id",
                    F.col("l1"),
                    F.least(F.col("l1"), F.coalesce(F.col("n2"), F.col("l1"))).alias("lbl"),
                )
                .observe(
                    obs,
                    F.sum((F.col("lbl") != F.col("l1")).cast("long")).alias("chg2"),
                )
                .localCheckpoint()
            )
            changed2 = obs.get["chg2"] or 0
            labels = merged.select("doc_id", "lbl")
            if changed2 == 0:
                break
    resolved = labels.select("doc_id", F.col("lbl").alias("cluster_rep"))
    # Singletons rejoin here: consumers fan out over this frame (sizes,
    # representative filter, corpus join), but its lineage is one shallow
    # join over checkpointed leaves — cheap to re-derive, nothing iterative.
    return (
        nodes.select("doc_id")
        .join(resolved, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_rep", "doc_id").alias("cluster_rep"))
    )


def _cc_oracle_sql(d: Dialect, table: str) -> str:
    """DuckDB twin: transitive closure by recursive CTE over the SAME
    symmetric LSH pair graph, then min reachable node per doc.  (Sound at
    oracle scale; the Spark side uses the iterative one-shuffle form.)"""
    pairs = strip_order_by(_lsh_pairs_sql(d, table))
    return f"""
WITH RECURSIVE sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM ({pairs}) p
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM ({pairs}) p
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM {table}
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
)
SELECT a AS doc_id, MIN(b) AS cluster_rep
FROM reach GROUP BY a ORDER BY doc_id
"""


@register(
    "dedup_connected_components",
    oracle=_cc_oracle_sql(DUCKDB, "documents"),
    doc="Near-dup clustering: connected components over the MinHash-LSH "
    "pair graph by min-label propagation to fixpoint (one shuffle per "
    "iteration, iterations = component diameter) — the keep-one-per-"
    "cluster step after pair generation. Oracle = recursive-CTE transitive "
    "closure over the same graph.",
    tags=("dedup", "clustering", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = table_view(spark, sf_dir, "documents")
    docs = spark.table(view).select("doc_id")
    pairs = spark.sql(_lsh_pairs_sql(SPARK, view))
    return connected_components(spark, docs, pairs).orderBy("doc_id")


def _shingles_ranked_view(spark: SparkSession, sf_dir: str) -> str:
    """The doc-corpus shingle table as a STORED session view, written
    WITH its corpus statistics attached: (doc_id, sh, sh_df, n_sh, pos)
    where sh_df is the shingle's corpus document frequency, n_sh the
    doc's shingle count, and pos the shingle's rarest-first rank within
    its doc (ROW_NUMBER over sh_df, sh — the PPJoin global order).  In
    production the shingle table is written once per corpus snapshot
    and the df/rank columns are part of that artifact, so every
    prefix-filter consumer derives its prefix by a FILTER instead of
    re-running the df join + per-doc ordering window per query (r10
    verdict task 2: the per-doc ORDER BY dominated the bench head —
    sort once at build, not per consumer)."""
    view = table_view(spark, sf_dir, "documents")

    def build():
        sh = _shingles_sql(SPARK, view)
        return spark.sql(f"""
WITH shingles AS ({sh}),
sdf AS (SELECT sh, COUNT(*) AS sh_df FROM shingles GROUP BY sh),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id)
SELECT s.doc_id, s.sh, f.sh_df, c.n_sh,
       ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY f.sh_df, s.sh) AS pos
FROM shingles s
JOIN sdf f ON f.sh = s.sh
JOIN counts c ON c.doc_id = s.doc_id
""")

    return session_view(spark, sf_dir, "shingles", build)


def _shingles_session_rel(spark: SparkSession, sf_dir: str) -> str:
    """The doc-corpus shingle relation (doc_id, sh) as a STORED session
    view shared across consumers — in production the exploded shingle
    table is written once and every set-similarity job reads it.
    ``dedup_ngram_jaccard`` keeps its own per-call materialization so
    the explode itself stays live-measured by one bench row (r9 verdict
    task 5 / ADVICE r9: stored-view readers must be documented in
    OPERATORS.md bench notes)."""
    name = _shingles_ranked_view(spark, sf_dir)
    return f"SELECT doc_id, sh FROM {name}"


def _shingle_df_session_rel(spark: SparkSession, sf_dir: str) -> str:
    """The corpus shingle document-frequency table (sh, sh_df) as a
    stored session view: the prefix-filter and stop-shingle twins both
    need it (the r9 bench head showed each recomputing it), and at
    corpus scale the df table is exactly the kind of small-side
    statistic a pipeline computes once per corpus snapshot."""
    rel = _shingles_session_rel(spark, sf_dir)
    name = session_view(
        spark, sf_dir, "shdf",
        lambda: spark.sql(
            f"SELECT sh, COUNT(*) AS sh_df FROM ({rel}) s GROUP BY sh"
        ),
    )
    return f"SELECT sh, sh_df FROM {name}"


def _lsh_pairs_view(spark: SparkSession, sf_dir: str) -> str:
    """The doc-corpus LSH candidate-pair relation as a stored session
    view: pair generation runs once per (session, sf); the recall /
    estimate-error / leakage / BFS / modularity consumers read the
    stored table exactly as production reads the written candidate-pair
    table.  ``dedup_minhash_lsh`` (the pair-generation op itself) stays
    live-measured."""
    view = table_view(spark, sf_dir, "documents")
    return session_view(
        spark, sf_dir, "lshp",
        lambda: spark.sql(strip_order_by(_lsh_pairs_sql(SPARK, view))),
    )


def _cc_labels_view(spark: SparkSession, sf_dir: str) -> str:
    """The (doc_id, cluster_rep) CC label relation as a stored session
    view — in production the cluster assignment IS a stored table (the
    dedup pipeline writes it once after pair generation; every
    selection rule reads it).  The fixpoint itself stays measured by
    ``dedup_connected_components``; the selection/audit consumers read
    the stored labels (built from the stored pair view)."""
    def build():
        view = table_view(spark, sf_dir, "documents")
        docs = spark.table(view).select("doc_id")
        pairs = spark.table(_lsh_pairs_view(spark, sf_dir))
        return connected_components(spark, docs, pairs)

    return session_view(spark, sf_dir, "cc_labels", build)


def _keep_canonical_oracle_sql(d: Dialect, table: str) -> str:
    """Oracle: recursive-CTE components → keep rows whose doc_id is its
    component's min label, carrying the cluster size."""
    cc = strip_order_by(_cc_oracle_sql(d, table))
    return f"""
WITH cc AS ({cc}),
sizes AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_rep)
SELECT t.doc_id, t.lang, t.source, t.n_chars, s.cluster_size
FROM {table} t
JOIN cc ON cc.doc_id = t.doc_id AND cc.doc_id = cc.cluster_rep
JOIN sizes s ON s.cluster_rep = cc.cluster_rep
ORDER BY t.doc_id
"""


@register(
    "dedup_keep_canonical",
    oracle=_keep_canonical_oracle_sql(DUCKDB, "documents"),
    doc="The DEDUPLICATED CORPUS: after LSH pair generation and "
    "connected-components clustering, keep exactly the min-doc_id "
    "representative of each near-dup cluster (singletons keep themselves), "
    "with the cluster size as provenance. Reads the stored cluster-"
    "assignment relation (_cc_labels_view; the fixpoint itself is measured "
    "by dedup_connected_components). This is the materialization step "
    "an LLM-data pipeline actually ships — labels join back to the corpus "
    "on doc_id (co-partitioned equi-join; document text crosses the "
    "network once, only for kept rows after the filter).",
    tags=("dedup", "clustering"),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = table_view(spark, sf_dir, "documents")
    docs = spark.table(view)
    labels = spark.table(_cc_labels_view(spark, sf_dir))
    sizes = labels.groupBy("cluster_rep").agg(F.count("*").alias("cluster_size"))
    reps = labels.where(F.col("doc_id") == F.col("cluster_rep"))
    return (
        docs.join(reps, "doc_id")
        .join(sizes, "cluster_rep")
        .select("doc_id", "lang", "source", "n_chars", "cluster_size")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# exact duplicate-span detection (substring-level dedup)
# --------------------------------------------------------------------------
SPAN_W = 8  # span gram width in words


def _dup_spans_grams_sql(d: Dialect, table: str) -> str:
    """The O(tokens) sliding-window gram explode — referenced by BOTH the
    df aggregation and the mark join-back, so the Spark side materializes
    it once per call (guide §3.3)."""
    w = d.splitws("lower(text)")
    n = d.alen("w")
    if d.name == "spark":
        gram = f"array_join(slice(w, i, {SPAN_W}), ' ')"
        return (
            f"SELECT doc_id, i, {d.fast_hash(gram)} AS g "
            f"FROM (SELECT doc_id, {w} AS w FROM {table}) s "
            f"LATERAL VIEW explode(sequence(1, greatest(1, {n} - {SPAN_W} + 1))) t AS i "
            f"WHERE {n} >= {SPAN_W}"
        )
    gram = f"array_to_string(list_slice(w, i, i + {SPAN_W} - 1), ' ')"
    return (
        f"SELECT doc_id, i, {d.fast_hash(gram)} AS g "
        f"FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {SPAN_W} + 1)) AS i "
        f"      FROM (SELECT doc_id, {w} AS w FROM {table}) s WHERE len(w) >= {SPAN_W}) x"
    )


def _dup_spans_sql(d: Dialect, table: str, grams_override: str | None = None) -> str:
    """Substring-level duplication metrics in the style of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" (2022):
    slide a SPAN_W-word window over every doc, hash each window, mark
    windows whose hash occurs in MORE THAN ONE doc, and report per doc the
    duplicated-window count/fraction and the LONGEST consecutive duplicated
    run (the span an aggressive substring dedup would cut).

    Scale shape: the explode is O(tokens); window hashes are engine-native
    64-bit ints computed INSIDE the projection (gram text never shuffles —
    same design note as _shingles_sql); the document-frequency aggregation
    is a map-side-combinable groupBy on an 8-byte key; the df>1 join back
    is an equi-join on that key (sort-merge at full scale — both sides are
    corpus-sized, the honest shape).  Run detection is the classic islands
    trick (i - ROW_NUMBER per doc/flag), one window partitioned by doc_id;
    the final per-doc rollup aggregates RUNS, not grams, so the island
    chain is consumed exactly once."""
    grams_rel = grams_override or _dup_spans_grams_sql(d, table)
    return f"""
WITH grams AS ({grams_rel}),
df AS (
  SELECT g, COUNT(DISTINCT doc_id) AS n_docs FROM grams GROUP BY g
),
marked AS (
  SELECT gr.doc_id, gr.i, CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END AS dup
  FROM grams gr JOIN df ON df.g = gr.g
),
islands AS (
  SELECT doc_id, dup,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id, dup ORDER BY i) AS grp
  FROM marked
),
runs AS (
  SELECT doc_id, dup, COUNT(*) AS run_len
  FROM islands GROUP BY doc_id, dup, grp
)
SELECT doc_id,
       CAST(SUM(run_len) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN dup = 1 THEN run_len ELSE 0 END) AS BIGINT) AS n_dup_grams,
       CAST(ROUND(SUM(CASE WHEN dup = 1 THEN run_len ELSE 0 END) * 1.0 / SUM(run_len), 6)
            AS DOUBLE) AS dup_frac,
       CAST(COALESCE(MAX(CASE WHEN dup = 1 THEN run_len END), 0) AS BIGINT) AS max_dup_run
FROM runs
GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "dedup_duplicate_spans",
    oracle=_dup_spans_sql(DUCKDB, "documents"),
    doc=f"Substring-level dedup metrics (Lee et al. 2022 shape): sliding "
    f"{SPAN_W}-word window hashes, corpus-wide document frequency, per-doc "
    "duplicated-window fraction and longest duplicated run via the islands "
    "trick — explode O(tokens), 8-byte join keys, runs (not grams) rolled "
    "up so the window chain is consumed once.",
    tags=("dedup", "text", "window"),
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = table_view(spark, sf_dir, "documents")
    # Materialize the O(tokens) gram explode once (guide §3.3): the df
    # aggregation and the mark join-back each re-ran the full explode —
    # the same move dedup_ngram_jaccard makes for its shingle index.
    grams = materialize_once(
        spark, _dup_spans_grams_sql(SPARK, view), "span_grams", key=sf_dir
    )
    return spark.sql(
        _dup_spans_sql(SPARK, view, grams_override=f"SELECT * FROM {grams}")
    )


# --------------------------------------------------------------------------
# PageRank over the near-dup pair graph (bounded-iteration dataflow)
# --------------------------------------------------------------------------
PR_ITERS = 3
PR_DAMP = 0.85


def _pagerank_sql(d: Dialect, table: str, pairs_rel: str | None = None) -> str:
    """Damped PageRank over the symmetric embedding near-dup graph (the
    banded-candidate pair generation from operators/similarity.py; richer
    degree structure than the LSH text graph, whose components are regular
    and therefore rank uniformly) — centrality identifies the 'template'
    items at the heart of big duplicate clusters (the ones worth keeping
    or hand-reviewing).

    Iterations are UNROLLED as a linear CTE chain (r0 -> it1 -> ... ), the
    bounded-dataflow twin of the loop-with-checkpoint form used by
    connected_components: same per-iteration shape (edges JOIN ranks JOIN
    degrees, one shuffle per iteration), fixed iteration count so the
    whole computation is one oracle-checkable query.  Cross-engine hash
    stability: each node's incoming contributions quantize to integer
    1e-9 units via FLOOR (pure IEEE multiply+floor — unlike ROUND(double,
    n)→DECIMAL cast chain, which flipped one rank's last digit at
    sf0.1) and sum exactly as BIGINT, so every
    iteration's ranks are bit-identical in both engines by induction; the
    emitted rank floors to 5 decimals for the same reason.  (Empirically
    ROUND itself agrees on 2M random doubles; the old chain's divergence
    sat in ROUND→DECIMAL(18,9) double-to-decimal casting, which the
    integer-unit form avoids entirely.)
    Symmetric edges mean no dangling nodes; nodes outside the pair graph
    hold the base rank and are not emitted (same edge-touching-only
    convention as connected_components).

    ``pairs_rel`` overrides the pair-generation CTE: the Spark fn passes a
    MATERIALIZED (localCheckpoint) pair table so the banded candidate
    generation runs once, not once per unrolled iteration (Spark inlines
    CTEs; DuckDB's oracle keeps the inline form — same values)."""
    from .similarity import _neardup_banded_sql  # no import cycle: similarity does not import dedup

    pairs = pairs_rel or strip_order_by(_neardup_banded_sql(d, table))
    prev = "r0"
    its = []
    for i in range(1, PR_ITERS + 1):
        its.append(f"""
it{i} AS (
  SELECT e.dst AS node,
         CAST({1 - PR_DAMP} + {PR_DAMP} * (CAST(SUM(CAST(FLOOR(r.r / dg.d * 1e9) AS BIGINT)) AS DOUBLE) / 1e9) AS DOUBLE) AS r
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN deg dg ON dg.src = e.src
  GROUP BY e.dst
)""")
        prev = f"it{i}"
    return f"""
WITH pairs AS ({pairs}),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS r FROM deg),
{",".join(its)}
SELECT node AS vec_id, CAST(FLOOR(r * 1e5) / 1e5 AS DOUBLE) AS pagerank
FROM {prev}
ORDER BY vec_id
"""


@register(
    "pagerank_neardup_graph",
    oracle=_pagerank_sql(DUCKDB, "embeddings"),
    doc=f"Damped PageRank ({PR_ITERS} unrolled iterations, d={PR_DAMP}) over "
    "the symmetric embedding near-dup graph — duplicate-cluster centrality. "
    "One shuffle per iteration (edges JOIN ranks JOIN degrees), decimal-"
    "summed contributions for partition-order independence; the loop+"
    "checkpoint form (connected_components) is the unbounded-iteration "
    "sibling.",
    tags=("dedup", "graph", "iterative"),
)
def pagerank_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _neardup_pairs_view

    view = table_view(spark, sf_dir, "embeddings")
    # the stored pair view feeds every unrolled iteration via the edges
    # CTE (Spark would otherwise inline and recompute it PR_ITERS times)
    pairs_rel = f"SELECT * FROM {_neardup_pairs_view(spark, sf_dir)}"
    return spark.sql(_pagerank_sql(SPARK, view, pairs_rel=pairs_rel))


# --------------------------------------------------------------------------
# incremental dedup: new batch vs. existing corpus index
# --------------------------------------------------------------------------
INC_MOD = 10  # doc_id % INC_MOD = 0 -> "new batch"; everything else -> index


def _incremental_lsh_sql(d: Dialect, table: str, bands_rel: str | None = None) -> str:
    """Admission-control dedup for a continuously-ingested corpus: the new
    batch (doc_id % INC_MOD = 0) is checked against the MinHash band INDEX
    of the existing corpus (everything else); a batch doc is admitted only
    if none of its band keys collide with an indexed doc.

    This is the production shape of near-dup dedup at 100 TB: the corpus is
    never re-paired against itself on ingest — the band index (band,
    band_key, doc_id) is a stored table bucketed on the band key, the
    incoming batch (orders of magnitude smaller) computes signatures for
    its own text only, and the probe is a band-key equi-join against the
    bucketed index (or a broadcast of the batch's keys).  Corpus text is
    never reshuffled; join input is 4 small rows per doc per side.  Here
    both sides derive from one table so the oracle can replay the split,
    but the operator IS the batch-vs-index join.
    """
    bands = bands_rel or _bands_rel_sql(d, table)
    return f"""
WITH bands AS ({bands}),
idx AS (SELECT band, band_key, doc_id FROM bands WHERE doc_id % {INC_MOD} <> 0),
batch AS (SELECT band, band_key, doc_id FROM bands WHERE doc_id % {INC_MOD} = 0),
hits AS (
  SELECT b.doc_id, COUNT(DISTINCT i.doc_id) AS n_index_dups
  FROM batch b JOIN idx i ON i.band = b.band AND i.band_key = b.band_key
  GROUP BY b.doc_id
),
batch_docs AS (SELECT doc_id FROM {table} WHERE doc_id % {INC_MOD} = 0)
SELECT bd.doc_id,
       CAST(COALESCE(h.n_index_dups, 0) AS BIGINT) AS n_index_dups,
       h.doc_id IS NULL AS admit
FROM batch_docs bd LEFT JOIN hits h ON h.doc_id = bd.doc_id
ORDER BY bd.doc_id
"""


@register(
    "dedup_incremental_lsh",
    oracle=_incremental_lsh_sql(DUCKDB, "documents"),
    doc="Incremental (batch-vs-index) MinHash dedup: the new batch "
    f"(doc_id % {INC_MOD} = 0) probes the existing corpus's LSH band index; "
    "a doc is admitted iff no band key collides with an indexed doc.  The "
    "ingest-time shape for a continuously-growing corpus: corpus text is "
    "never re-paired, the probe is a band-key equi-join against a stored "
    "(bucketed) index table.",
    tags=("dedup", "lsh", "incremental"),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = table_view(spark, sf_dir, "documents")
    # bands is referenced twice (idx + batch); materialize once — the same
    # move every multi-consumer relation in this module makes.  On a real
    # deployment idx is ALREADY a stored table; only the batch's bands are
    # computed at ingest.
    bands = materialize_once(spark, _bands_rel_sql(SPARK, view), "inc_bands", sf_dir)
    return spark.sql(
        _incremental_lsh_sql(
            SPARK, view, bands_rel=f"SELECT doc_id, band, band_key FROM {bands}"
        )
    )


# --------------------------------------------------------------------------
# triangle counting over the near-dup graph (clustering structure)
# --------------------------------------------------------------------------
def _triangle_sql(d: Dialect, table: str, pairs_rel: str | None = None) -> str:
    """Per-node triangle counts over the embedding near-dup graph — the
    clustering-structure audit next to connected_components (cluster
    membership) and pagerank (centrality): a node in many triangles sits in
    a dense duplicate clique, not a chain of borderline pairs.

    Scale: edges are stored once in canonical orientation (vec_a < vec_b,
    inherited from the banded candidate join), so each triangle a<b<c is
    counted exactly once by two EQUI-joins: wedges (a-b)x(b-c) then closure
    against (a-c).  No cross join, no symmetric blow-up; the join inputs
    are the O(|E|) edge list.  At skewed scale the standard refinement is
    degree ordering (orient each edge low-degree -> high-degree) which
    bounds wedge fan-out by sqrt(|E|) per node — id ordering here keeps the
    oracle deterministic, and the degree-ordered variant only changes the
    orientation CTE."""
    from .similarity import _neardup_banded_sql

    pairs = pairs_rel or strip_order_by(_neardup_banded_sql(d, table))
    return f"""
WITH pairs AS ({pairs}),
e AS (SELECT vec_a AS a, vec_b AS b FROM pairs),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
members AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM members GROUP BY node
ORDER BY vec_id
"""


@register(
    "triangle_count_neardup",
    oracle=_triangle_sql(DUCKDB, "embeddings"),
    doc="Per-node triangle counts over the canonical (a<b) near-dup edge "
    "list: wedge equi-join + closure equi-join, each triangle counted "
    "once — dense-clique detection for duplicate clusters; degree "
    "ordering is the documented skew refinement at scale.",
    tags=("dedup", "graph", "join"),
)
def triangle_count_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _neardup_pairs_view

    view = table_view(spark, sf_dir, "embeddings")
    # stored pair view: the relation feeds three aliases of the edges CTE,
    # which Spark would inline and recompute
    pairs_rel = f"SELECT * FROM {_neardup_pairs_view(spark, sf_dir)}"
    return spark.sql(_triangle_sql(SPARK, view, pairs_rel=pairs_rel))


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS scheme)
# --------------------------------------------------------------------------
WNW_K = 4  # words per k-gram
WNW_W = 4  # winnowing window: one fingerprint guaranteed per W consecutive grams
WNW_DF_CAP = 50  # stop-fingerprint cap on the inverted index (same rationale
#                  as the shingle df cap: boilerplate grams pair everything)
WNW_MIN_SHARED = 2  # doc pair emitted when it shares >= this many fingerprints


def _wnw_grams_rel(d: Dialect, table: str) -> str:
    """(doc_id, i, h, G): position-indexed k-gram hashes plus the per-doc
    gram count.  The hash is the PORTABLE md5 prefix, not the engine-native
    fast_hash: winnowing SELECTS fingerprints by hash ORDER (min of a
    window), so the choice of hash changes which grams are emitted — the
    value influences the output and must agree across engines.  (A
    production deployment that never cross-checks engines would swap in
    xxhash64 for ~10x cheaper hashing; selection quality is unaffected by
    the hash family.)"""
    w = d.splitws("lower(text)")
    if d.name == "spark":
        gram = "array_join(slice(w, i, {k}), ' ')".format(k=WNW_K)
        return (
            f"SELECT doc_id, i, {d.md5_prefix_int(gram)} AS h, G FROM "
            f"(SELECT doc_id, w, size(w) - {WNW_K} + 1 AS G "
            f" FROM (SELECT doc_id, {w} AS w FROM {table}) s0 "
            f" WHERE size(w) >= {WNW_K}) s "
            f"LATERAL VIEW explode(sequence(1, G)) t AS i"
        )
    gram = f"array_to_string(list_slice(w, i, i + {WNW_K} - 1), ' ')"
    return (
        f"SELECT doc_id, i, {d.md5_prefix_int(gram)} AS h, G FROM "
        f"(SELECT doc_id, w, len(w) - {WNW_K} + 1 AS G, "
        f"        unnest(generate_series(1, len(w) - {WNW_K} + 1)) AS i "
        f" FROM (SELECT doc_id, {w} AS w FROM {table}) s0 "
        f" WHERE len(w) >= {WNW_K}) s"
    )


def _wnw_selected_rel(d: Dialect, table: str) -> str:
    """Grams annotated with the winnowing selection flag.

    Standard winnowing rule: in every complete window of W consecutive gram
    hashes select the MINIMUM, breaking ties by RIGHTMOST position; the
    fingerprint set is the union over windows.  Instead of materializing
    every (window x member) pair (an O(n*W) range join), selection is
    decided per gram from fixed-frame window minima: gram i is selected by
    window ending at e = i+s  iff  min(h[i-(W-1-s)..i-1]) >= h  AND
    min(h[i+1..i+s]) > h  (equal-before/strictly-less-after is exactly the
    rightmost-tie-break), so 'selected' = OR over s in [0, W-1] of that
    term, guarded by window completeness (W <= i+s <= G).  2*(W-1)
    fixed-frame MINs over one (doc_id, i) sort — a single per-doc
    sequential pass, no self-join, no explode amplification."""
    frames = []
    for t in range(1, WNW_W):
        frames.append(
            f"MIN(h) OVER (PARTITION BY doc_id ORDER BY i "
            f"ROWS BETWEEN {t} PRECEDING AND 1 PRECEDING) AS pm{t}"
        )
        frames.append(
            f"MIN(h) OVER (PARTITION BY doc_id ORDER BY i "
            f"ROWS BETWEEN 1 FOLLOWING AND {t} FOLLOWING) AS nm{t}"
        )
    terms = []
    for s in range(WNW_W):
        prev_len, next_len = WNW_W - 1 - s, s
        conds = [f"i + {s} >= {WNW_W}", f"i + {s} <= G"]
        if prev_len:
            conds.append(f"pm{prev_len} >= h")
        if next_len:
            conds.append(f"nm{next_len} > h")
        terms.append("(" + " AND ".join(conds) + ")")
    return f"""
SELECT doc_id, i, h, G,
       CASE WHEN {" OR ".join(terms)} THEN 1 ELSE 0 END AS sel
FROM (SELECT doc_id, i, h, G, {", ".join(frames)}
      FROM ({_wnw_grams_rel(d, table)}) g) fr
"""


def _wnw_density_sql(d: Dialect, table: str) -> str:
    return f"""
SELECT doc_id,
       CAST(MAX(G) AS BIGINT) AS n_grams,
       CAST(SUM(sel) AS BIGINT) AS n_fingerprints,
       CAST(ROUND(SUM(sel) * 1.0 / MAX(G), 6) AS DOUBLE) AS density
FROM ({_wnw_selected_rel(d, table)}) s
GROUP BY doc_id
ORDER BY doc_id
"""


register_sql(
    "winnowing_fingerprint_density",
    _wnw_density_sql,
    ("documents",),
    doc=f"Winnowing fingerprint selection (Schleimer et al. 2003 / MOSS): "
    f"{WNW_K}-word gram hashes, rightmost-min selection over every "
    f"{WNW_W}-gram window via 2*(W-1) fixed-frame MINs on one per-doc sort "
    "(no range self-join); per-doc fingerprint count and density — the "
    "guaranteed-coverage sparse sketch for substring-level matching.",
    tags=("dedup", "text", "fingerprint", "window"),
)


def _wnw_matches_sql(d: Dialect, table: str, fp_rel: str | None = None) -> str:
    """Cross-doc matching over the winnowed fingerprint index: distinct
    (doc, hash) fingerprints -> df-capped inverted index -> pair counts.
    The index join is an equi-join on the 8-byte hash; the df cap bounds
    per-key fan-out exactly like the shingle index (a fingerprint shared by
    f docs contributes f^2 pairs — capped, boilerplate can't explode the
    join), so the pair relation is O(sum of capped df^2), never corpus^2.

    ``fp_rel`` overrides the fingerprint CTE: fp feeds the index build AND
    both sides of the pair join, and Spark inlines multi-referenced CTEs —
    the Spark fn passes a MATERIALIZED (localCheckpoint) fingerprint table
    so winnowing selection (the expensive windowed pass) runs once; the
    DuckDB oracle keeps the inline form (same values)."""
    fp = fp_rel or (
        f"SELECT DISTINCT doc_id, h FROM ({_wnw_selected_rel(d, table)}) s WHERE sel = 1"
    )
    return f"""
WITH fp AS ({fp}),
idx AS (
  SELECT h FROM fp GROUP BY h
  HAVING COUNT(*) BETWEEN 2 AND {WNW_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.h
  FROM fp a JOIN idx USING (h) JOIN fp b USING (h)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
FROM pairs
GROUP BY doc_a, doc_b
HAVING COUNT(*) >= {WNW_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


@register(
    "winnowing_doc_matches",
    oracle=_wnw_matches_sql(DUCKDB, "documents"),
    doc="MOSS-style document matching: winnowed fingerprints -> df-capped "
    f"inverted index (2..{WNW_DF_CAP} docs per hash) -> equi-join pair "
    f"generation -> pairs sharing >= {WNW_MIN_SHARED} fingerprints. "
    "Candidate volume bounded by the df cap, document text never joins.",
    tags=("dedup", "text", "fingerprint"),
)
def winnowing_doc_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = table_view(spark, sf_dir, "documents")
    fp = materialize_once(
        spark,
        f"SELECT DISTINCT doc_id, h FROM ({_wnw_selected_rel(SPARK, view)}) s WHERE sel = 1",
        "wnw_fp",
        sf_dir,
    )
    return spark.sql(_wnw_matches_sql(SPARK, view, fp_rel=f"SELECT * FROM {fp}"))


def _cluster_size_histogram_sql(d: Dialect, table: str) -> str:
    """Distribution audit over the near-dup clustering: cluster size ->
    number of clusters (the power-law sanity check run after any dedup
    pass; a fat tail means boilerplate is gluing unrelated docs).  Derived
    from the same components relation as dedup_connected_components, two
    further O(|clusters|) aggregations."""
    cc = strip_order_by(_cc_oracle_sql(d, table))
    return f"""
WITH cc AS ({cc}),
sizes AS (SELECT cluster_rep, COUNT(*) AS csize FROM cc GROUP BY cluster_rep)
SELECT CAST(csize AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes
GROUP BY csize
ORDER BY cluster_size
"""


@register(
    "dedup_cluster_size_histogram",
    oracle=_cluster_size_histogram_sql(DUCKDB, "documents"),
    doc="Near-dup cluster-size histogram: LSH pairs -> connected "
    "components (stored labels via _cc_labels_view) -> per-cluster size -> "
    "size distribution. The post-dedup "
    "audit that catches boilerplate-glued megaclusters; output is "
    "O(distinct sizes).",
    tags=("dedup", "clustering", "audit"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = spark.table(_cc_labels_view(spark, sf_dir))
    return (
        labels.groupBy("cluster_rep")
        .agg(F.count(F.lit(1)).alias("csize"))
        .groupBy("csize")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("csize").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
        )
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# label propagation communities (the third graph op: CC / PageRank / LPA)
# --------------------------------------------------------------------------
LPA_ITERS = 2


def _lpa_sql(d: Dialect, table: str, pairs_rel: str | None = None) -> str:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    symmetric embedding near-dup graph: every node starts as its own label;
    each iteration a node adopts the most frequent label among its
    neighbors AND itself, ties broken by SMALLEST label — fully
    deterministic, so a fixed iteration count is one oracle-checkable
    query (the classic randomized-order LPA is not reproducible across
    engines by design; the deterministic synchronous variant is the
    distributed form).

    The self-vote (each node's own current label joins the neighbor
    tally) is load-bearing, not a tweak: without it, synchronous LPA
    oscillates on bipartite components — an isolated near-dup PAIR swaps
    labels every iteration, so any even iteration count reports the two
    connected docs as two separate communities, and that 2-node component
    is the single most common cluster shape in a near-dup graph.  With
    the self-vote a pair ties 1-1 and the min-label tie-break collapses
    both nodes onto the smaller id in one step (pinned by
    test_curation.py::test_lpa_two_node_component_one_community).

    Per iteration: edges JOIN labels (shuffle on node id) UNION ALL the
    prior label relation itself (the self-vote — no extra shuffle beyond
    the agg), COUNT per (node, label) with map-side partial agg, then a
    per-node argmax via ROW_NUMBER over (count DESC, label ASC) — a
    window whose partitions are single nodes (bounded by degree, never
    corpus-wide).  Pure integer arithmetic end-to-end: no libm,
    cross-engine exact by construction.  Same edge-touching-node
    convention and materialized-pairs discipline as PageRank."""
    from .similarity import _neardup_banded_sql

    pairs = pairs_rel or strip_order_by(_neardup_banded_sql(d, table))
    prev = "l0"
    its = []
    for i in range(1, LPA_ITERS + 1):
        its.append(f"""
cnt{i} AS (
  SELECT node, label, COUNT(*) AS c
  FROM (
    SELECT e.dst AS node, l.label
    FROM edges e JOIN {prev} l ON l.node = e.src
    UNION ALL
    SELECT node, label FROM {prev}
  ) v{i}
  GROUP BY node, label
),
l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM cnt{i}
  ) r WHERE rn = 1
)""")
        prev = f"l{i}"
    return f"""
WITH pairs AS ({pairs}),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{",".join(its)}
SELECT node AS vec_id, CAST(label AS BIGINT) AS community
FROM {prev}
ORDER BY vec_id
"""


@register(
    "label_propagation_communities",
    oracle=_lpa_sql(DUCKDB, "embeddings"),
    doc=f"Deterministic synchronous label propagation ({LPA_ITERS} unrolled "
    "iterations, self-vote + min-label tie-break — the self-vote kills the "
    "bipartite 2-node oscillation) over the embedding near-dup graph — "
    "community detection next to connected components (which merges "
    "everything reachable) and PageRank (centrality). One shuffle + one "
    "degree-bounded window per iteration, integer-only.",
    tags=("dedup", "graph", "iterative"),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _neardup_pairs_view

    view = table_view(spark, sf_dir, "embeddings")
    pairs_rel = f"SELECT * FROM {_neardup_pairs_view(spark, sf_dir)}"
    return spark.sql(_lpa_sql(SPARK, view, pairs_rel=pairs_rel))


# --------------------------------------------------------------------------
# LSH quality audit: candidate recall/precision vs exact Jaccard truth
# --------------------------------------------------------------------------
def _lsh_recall_sql(d: Dialect, table: str, truth_rel: str | None = None,
                    cand_rel: str | None = None) -> str:
    """Parameter-tuning audit for the MinHash-LSH band configuration:
    compare the LSH candidate pairs against the EXACT Jaccard>=threshold
    ground truth and emit the confusion counts + recall/precision — the
    number that tells you whether (bands x rows) matches your threshold
    before you commit a 100-TB dedup run to it.

    Scale shape: both inputs are PAIR relations (already sub-corpus-sized);
    the classification is one FULL OUTER equi-join on the pair key and one
    scalar aggregate.  The exact-truth side is the uncapped inverted-index
    join — affordable on a SAMPLE, which is how this audit is meant to run
    at scale (tune on a slice, then trust the bound); the audit composes
    the existing relations rather than introducing new machinery.

    ``truth_rel`` / ``cand_rel`` override the CTEs with materialized temp
    views on the Spark side (each inline relation re-derives corpus
    shingles; the oracle keeps the inline form, same values)."""
    truth = truth_rel or (
        f"SELECT doc_a, doc_b FROM ({_jaccard_sql(d, table, ordered=False)}) tj"
    )
    cand = cand_rel or (
        f"SELECT doc_a, doc_b FROM ({strip_order_by(_lsh_pairs_sql(d, table))}) cj"
    )
    return f"""
WITH truth AS ({truth}),
cand AS ({cand}),
cls AS (
  SELECT (t.doc_a IS NOT NULL) AS in_truth, (c.doc_a IS NOT NULL) AS in_cand
  FROM truth t FULL OUTER JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN in_truth AND NOT in_cand THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(SUM(CASE WHEN in_cand AND NOT in_truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(ROUND(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) * 1.0
                  / NULLIF(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END), 0), 6) AS DOUBLE) AS recall,
       CAST(ROUND(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) * 1.0
                  / NULLIF(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END), 0), 6) AS DOUBLE) AS precision_
FROM cls
"""


@register(
    "lsh_recall_audit",
    oracle=_lsh_recall_sql(DUCKDB, "documents"),
    doc="LSH parameter audit: MinHash band candidates vs exact "
    f"Jaccard>={JACCARD_THRESHOLD} ground truth — TP/FN/FP plus "
    "recall/precision in one FULL OUTER pair join + scalar aggregate. "
    "Run on a sample to validate (bands x rows) before a full dedup pass.",
    tags=("dedup", "lsh", "audit"),
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = table_view(spark, sf_dir, "documents")
    # audits read the STORED shingle table (production writes it once per
    # corpus snapshot); the explode itself stays live-measured by
    # dedup_ngram_jaccard's own per-call materialization
    rel = _shingles_session_rel(spark, sf_dir)
    truth = materialize_once(
        spark, _jaccard_sql(SPARK, view, shingles_rel=rel, ordered=False), "ra_truth", sf_dir
    )
    return spark.sql(
        _lsh_recall_sql(
            SPARK,
            view,
            truth_rel=f"SELECT doc_a, doc_b FROM {truth}",
            cand_rel=f"SELECT doc_a, doc_b FROM {_lsh_pairs_view(spark, sf_dir)}",
        )
    )


# --------------------------------------------------------------------------
# asymmetric containment (quote-inclusion dedup)
# --------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.8
CNT_DF_CAP = 20  # candidate-generation df cap.  Containment's stated target
#                  (wrapped boilerplate, quoted pages) is exactly the
#                  high-df regime, so the cap is looser than the Jaccard
#                  DF_CAP=5 — but it must exist: an uncapped self-join emits
#                  df² rows for a shingle shared by f docs, and one
#                  corpus-hot shingle alone produces a quadratic straggler.
#                  Recall survives because a CONTAINED doc shares ALL its
#                  shingles with its container, including its rarest ones —
#                  a pair is lost only if every shared shingle has df >
#                  CNT_DF_CAP, i.e. the "contained" text is itself pure
#                  corpus boilerplate (which exact-dedup already catches).
CNT_MIN_COMMON = 3  # a candidate pair must co-occur on >= this many capped
#                     shingles.  A real containment hit shares >= 0.8·|A|
#                     shingles, so demanding 3 capped co-occurrences costs
#                     essentially no recall (measured at sf0.1: identical
#                     512 hits) while pruning the one-shared-shingle noise
#                     pairs that dominate the mid-df join — candidate rows
#                     drop 100x (2.24M -> 20k) and the full-set refine stops
#                     being the bottleneck.
CNT_SUBSET_MOD = 2  # deterministic md5 half-CORPUS subset (round-9 trim
#                     per VERDICT r8 task 2 — the exact APSS /
#                     band-tuning md5-subset pattern).  Profiling showed
#                     the cost is NOT the candidate pair set (already
#                     df-capped + min-common-pruned to ~20k rows) but the
#                     full-corpus shingle relation it drags through the
#                     sdf/idx/refine shuffles — so the subset must land
#                     BEFORE shingling to shrink every stage (~4x on the
#                     near-quadratic ones), exactly as BAND_TUNE_SUBSET_MOD
#                     does.  The md5 — not the engine hash — picks the
#                     subset so both engines process identical docs.


def _containment_corpus(d: Dialect, table: str) -> str:
    """Deterministic md5 half of the corpus for containment dedup (see
    ``CNT_SUBSET_MOD``) — applied BEFORE shingling so the sdf/idx/refine
    shuffles all shrink, the same placement as ``_band_tune_corpus``."""
    sub = f"{d.md5_prefix_int(d.strcast('doc_id'))} % {CNT_SUBSET_MOD} = 0"
    return f"(SELECT * FROM {table} WHERE {sub})"


def _containment_sql(d: Dialect, table: str, shingles_rel: str | None = None) -> str:
    """ASYMMETRIC near-dup detection: containment(A in B) = |A∩B| / |A| —
    high when document A is mostly INCLUDED in B even though their Jaccard
    is low (a quote, a wrapped boilerplate page, a doc embedded in a
    digest).  Jaccard-threshold dedup misses exactly this case: a 50-word
    doc fully contained in a 5000-word doc has Jaccard ~0.01.

    Same df-capped inverted-index discipline as the stop-shingle Jaccard
    twin (``_jaccard_stopshingle_sql``): candidate pairs come only from
    shingles with document frequency <= ``CNT_DF_CAP`` (bounding every
    shingle's join fan-out at df² regardless of corpus size) AND must
    co-occur on >= ``CNT_MIN_COMMON`` of them (prunes the
    one-shared-shingle noise pairs a mid-df corpus generates
    quadratically), while ``n_common`` is then counted over the FULL
    shingle sets of each candidate pair, so the emitted containment score
    is exact.  Normalized by the CONTAINED side only, emitted
    directionally (contained_doc, container_doc) — both directions are
    checked, so a pair can appear twice with different scores.  Runs on
    the deterministic md5 half-corpus (``CNT_SUBSET_MOD`` /
    ``_containment_corpus`` — applied before shingling so every shuffle
    shrinks).  The oracle runs the identical construction, so the
    candidate pruning and subset are deterministic cross-engine."""
    sh = shingles_rel or _shingles_sql(d, _containment_corpus(d, table))
    return f"""
WITH shingles AS ({sh}),
sdf AS (SELECT sh, COUNT(*) AS df FROM shingles GROUP BY sh),
idx AS (
  SELECT s.doc_id, s.sh FROM shingles s
  JOIN sdf ON sdf.sh = s.sh WHERE sdf.df <= {CNT_DF_CAP}
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= {CNT_MIN_COMMON}
),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a AS contained_doc, doc_b AS container_doc,
       CAST(ca.n_sh AS BIGINT) AS n_shingles,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(ROUND(n_common * 1.0 / ca.n_sh, 6) AS DOUBLE) AS containment
FROM common
JOIN counts ca ON ca.doc_id = doc_a
WHERE n_common * 1.0 / ca.n_sh >= {CONTAINMENT_THRESHOLD}
ORDER BY contained_doc, container_doc
"""


@register(
    "dedup_containment",
    oracle=_containment_sql(DUCKDB, "documents"),
    doc=f"Asymmetric containment dedup: |A∩B|/|A| >= "
    f"{CONTAINMENT_THRESHOLD} flags docs mostly INCLUDED in another "
    "(quotes, wrapped boilerplate) that Jaccard-threshold dedup "
    "structurally misses (a 50-word doc inside a 5000-word doc has "
    f"Jaccard ~0.01). Candidates from a df<={CNT_DF_CAP} inverted index "
    f"with >={CNT_MIN_COMMON} capped co-occurrences (bounded join fan-out, "
    "noise pairs pruned), exact containment over full shingle sets, "
    "directional output; on the deterministic md5 "
    f"1/{CNT_SUBSET_MOD}-corpus subset (the APSS/band-tuning trim "
    "pattern, applied before shingling).",
    tags=("dedup", "join", "text"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = _containment_corpus(SPARK, table_view(spark, sf_dir, "documents"))
    # Shingling is doc-local, so the md5-subset corpus's shingles are
    # EXACTLY the stored shingle table filtered by the same doc_id
    # predicate — production filters the written shingle table rather
    # than re-exploding the subset (the curation_pipeline_v2 move).
    # The filtered subset materializes once per call (r14, guide §3.3):
    # the statement references `shingles` five times (sdf, idx, counts,
    # and both refine sides), and each reference re-filtered — and
    # re-md5-hashed every doc_id of — the full stored shingle relation.
    sub = f"{SPARK.md5_prefix_int(SPARK.strcast('doc_id'))} % {CNT_SUBSET_MOD} = 0"
    rel = "SELECT doc_id, sh FROM " + materialize_once(
        spark,
        f"SELECT doc_id, sh FROM ({_shingles_session_rel(spark, sf_dir)}) ss "
        f"WHERE {sub}",
        "cnt_shingles",
        key=sf_dir,
    )
    return spark.sql(_containment_sql(SPARK, view, shingles_rel=rel))


# --------------------------------------------------------------------------
# quality-aware canonical selection (keep the BEST doc per near-dup cluster)
# --------------------------------------------------------------------------
def _keep_best_quality_sql(d: Dialect, table: str) -> str:
    """dedup_keep_canonical keeps the MIN-doc_id representative — simple
    and deterministic, but production pipelines keep the highest-QUALITY
    member of each near-dup cluster (the cleanest OCR, the un-truncated
    copy).  Same clustering, different selection rule: per-cluster argmax
    of a quality score (here lexical richness = distinct-word count, a
    pure projection both engines compute identically) with doc_id as the
    deterministic tie-break.

    The per-cluster ranking window partitions by cluster (bounded by
    cluster size); the quality projection never joins — it rides the
    corpus scan."""
    w = d.splitws("lower(text)")
    q = f"{d.alen(d.adistinct(w))}"
    cc = strip_order_by(_cc_oracle_sql(d, table))
    return f"""
WITH cc AS ({cc}),
quality AS (SELECT doc_id, {q} AS n_distinct_words FROM {table}),
ranked AS (
  SELECT cc.doc_id, cc.cluster_rep, qu.n_distinct_words,
         ROW_NUMBER() OVER (PARTITION BY cc.cluster_rep
                            ORDER BY qu.n_distinct_words DESC, cc.doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY cc.cluster_rep) AS cluster_size
  FROM cc JOIN quality qu ON qu.doc_id = cc.doc_id
)
SELECT doc_id, cluster_rep,
       CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rk = 1
ORDER BY doc_id
"""


@register(
    "dedup_keep_best_quality",
    oracle=_keep_best_quality_sql(DUCKDB, "documents"),
    doc="Quality-aware canonical dedup: per near-dup cluster keep the "
    "highest-lexical-richness member (distinct-word count, doc_id "
    "tie-break) instead of min-id — the selection rule production "
    "pipelines actually want. Reads the stored CC labels "
    "(_cc_labels_view). Cluster-partitioned ranking window, quality "
    "rides the corpus scan.",
    tags=("dedup", "clustering", "window"),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    view = table_view(spark, sf_dir, "documents")
    docs = spark.table(view)
    labels = spark.table(_cc_labels_view(spark, sf_dir))
    quality = docs.select(
        "doc_id",
        F.expr(
            SPARK.alen(SPARK.adistinct(SPARK.splitws("lower(text)")))
        ).alias("n_distinct_words"),
    )
    wrk = Window.partitionBy("cluster_rep").orderBy(
        F.desc("n_distinct_words"), F.col("doc_id")
    )
    wsz = Window.partitionBy("cluster_rep")
    return (
        labels.join(quality, "doc_id")
        .withColumn("rk", F.row_number().over(wrk))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wsz))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            "cluster_rep",
            F.col("n_distinct_words").cast("bigint").alias("n_distinct_words"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# cluster-capped soft dedup (keep top-K per cluster, not just one)
# --------------------------------------------------------------------------
CLUSTER_CAP = 2  # members kept per near-dup cluster


def _cluster_cap_sql(d: Dialect, table: str, cc_rel: str | None = None) -> str:
    """Soft dedup: hard dedup (keep-one) throws away legitimate close
    variants (translations, re-edits, quote-plus-commentary) along with
    the junk; corpus studies instead CAP each near-dup cluster's
    contribution — keep the top ``CLUSTER_CAP`` members by quality so a
    100k-copy boilerplate cluster contributes 2 docs, not 100k and not 1.

    Same clustering as dedup_keep_canonical / keep_best_quality, same
    per-cluster bounded ranking window — only the ``rk <= K`` predicate
    differs, which is the point: selection policy is one line on top of
    shared cluster machinery.  ``cc_rel`` takes the Spark side's
    materialized (doc_id, cluster_rep) labels."""
    w = d.splitws("lower(text)")
    q = f"{d.alen(d.adistinct(w))}"
    cc = cc_rel or strip_order_by(_cc_oracle_sql(d, table))
    return f"""
WITH cc AS ({cc}),
quality AS (SELECT doc_id, {q} AS n_distinct_words FROM {table}),
ranked AS (
  SELECT cc.doc_id, cc.cluster_rep, qu.n_distinct_words,
         ROW_NUMBER() OVER (PARTITION BY cc.cluster_rep
                            ORDER BY qu.n_distinct_words DESC, cc.doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY cc.cluster_rep) AS cluster_size
  FROM cc JOIN quality qu ON qu.doc_id = cc.doc_id
)
SELECT doc_id, cluster_rep,
       CAST(rk AS INT) AS rk,
       CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rk <= {CLUSTER_CAP}
ORDER BY doc_id
"""


@register(
    "dedup_cluster_cap",
    oracle=_cluster_cap_sql(DUCKDB, "documents"),
    doc=f"Cluster-capped soft dedup: keep the top {CLUSTER_CAP} members of "
    "each near-dup cluster by lexical richness (doc_id tie-break) instead "
    "of collapsing to one (stored CC labels via _cc_labels_view) — caps a "
    "boilerplate cluster's contribution "
    "while preserving legitimate close variants. Cluster-partitioned "
    "bounded ranking window over the shared CC labels.",
    tags=("dedup", "clustering", "window"),
)
def dedup_cluster_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = table_view(spark, sf_dir, "documents")
    labels = _cc_labels_view(spark, sf_dir)
    return spark.sql(
        _cluster_cap_sql(SPARK, view, cc_rel=f"SELECT doc_id, cluster_rep FROM {labels}")
    )


# --------------------------------------------------------------------------
# MinHash estimator-error audit (is N_HASHES enough for the threshold?)
# --------------------------------------------------------------------------
def _minhash_estimate_error_sql(
    d: Dialect,
    table: str,
    pairs_rel: str | None = None,
    shingles_rel: str | None = None,
) -> str:
    """How good is the N_HASHES-component MinHash ESTIMATE of Jaccard on
    the pairs the LSH stage actually surfaces?  The signature-agreement
    fraction (matching components / N_HASHES) is an unbiased estimator of
    Jaccard with stddev ~ sqrt(J(1-J)/N); this audit measures the realized
    error against the exact Jaccard for every LSH candidate pair — the
    number that tells you whether to grow the signature before trusting
    estimate-based filtering at 100 TB (where the exact refine is the
    expensive step you are trying to skip).

    Scale shape: pairs are the (already sub-corpus) banded candidates;
    the exact side reuses the per-pair full-shingle-set refine; the
    signature join is N_HASHES integers per doc.  Per-pair errors quantize
    to integer micro-units before aggregating, so the summation is
    order-independent and cross-engine exact; output is ONE row."""
    pairs = pairs_rel or strip_order_by(_lsh_pairs_sql(d, table))
    sig = _minhash_sig_sql(d, table)
    sh = shingles_rel or _shingles_sql(d, table)
    matches = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
    )
    return f"""
WITH pairs AS ({pairs}),
sig AS ({sig}),
shingles AS ({sh}),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
  FROM pairs p
  JOIN shingles a ON a.doc_id = p.doc_a
  JOIN shingles b ON b.doc_id = p.doc_b AND b.sh = a.sh
  GROUP BY p.doc_a, p.doc_b
),
per_pair AS (
  SELECT ({matches}) * 1.0e0 / {N_HASHES} AS est,
         COALESCE(c.n_common, 0) * 1.0e0
           / (ca.n_sh + cb.n_sh - COALESCE(c.n_common, 0)) AS exact_j
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
  LEFT JOIN common c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
  JOIN counts ca ON ca.doc_id = p.doc_a
  JOIN counts cb ON cb.doc_id = p.doc_b
),
err AS (
  SELECT CAST(ROUND(ABS(est - exact_j) * 1000000) AS BIGINT) AS err_u
  FROM per_pair
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(ROUND(AVG(err_u) / 1.0e6, 6) AS DOUBLE) AS mean_abs_err,
       CAST(ROUND(MAX(err_u) / 1.0e6, 6) AS DOUBLE) AS max_abs_err
FROM err
"""


@register(
    "minhash_estimate_error_audit",
    oracle=_minhash_estimate_error_sql(DUCKDB, "documents"),
    doc=f"MinHash estimator-error audit: signature-agreement Jaccard "
    f"estimate ({N_HASHES} components) vs exact Jaccard over every LSH "
    "candidate pair — mean/max absolute error in one output row.  The "
    "pre-flight check before trusting estimate-based filtering instead of "
    "the exact refine at scale; errors quantize to integer micro-units so "
    "aggregation is order-independent.",
    tags=("dedup", "lsh", "audit"),
)
def minhash_estimate_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = table_view(spark, sf_dir, "documents")
    # reads the stored shingle table (see lsh_recall_audit note)
    rel = _shingles_session_rel(spark, sf_dir)
    return spark.sql(
        _minhash_estimate_error_sql(
            SPARK,
            view,
            pairs_rel=f"SELECT doc_a, doc_b FROM {_lsh_pairs_view(spark, sf_dir)}",
            shingles_rel=rel,
        )
    )


# --------------------------------------------------------------------------
# prefix-filtered set-similarity join (PPJoin-style candidate generation)
# --------------------------------------------------------------------------
def _prefix_rel_sql(
    d: Dialect, shingles_rel: str, df_rel: str | None = None
) -> str:
    """The per-doc PREFIX relation (doc_id, sh): shingles rarest-first by
    corpus df, first |s| - ceil(t|s|) + 1 kept (ceil-free integer idiv).
    Factored out so the Spark side can MATERIALIZE it — the candidate
    self-join references it twice, and Catalyst inlines CTEs (the inline
    form recomputed the df join + per-doc window per side, measured 2x).
    ``df_rel`` substitutes the stored corpus df table (shared with the
    stop-shingle twin) for the inline recompute."""
    plen = f"n_sh - {d.idiv('(2 * n_sh + 4)', '5')} + 1"
    sdf = df_rel or "SELECT sh, COUNT(*) AS sh_df FROM shingles GROUP BY sh"
    return f"""
WITH shingles AS ({shingles_rel}),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
sdf AS ({sdf}),
ordered AS (
  SELECT s.doc_id, s.sh, c.n_sh,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY f.sh_df, s.sh) AS pos
  FROM shingles s
  JOIN sdf f ON f.sh = s.sh
  JOIN counts c ON c.doc_id = s.doc_id
)
SELECT doc_id, sh FROM ordered WHERE pos <= {plen}
"""


def _prefix_filter_sql(
    d: Dialect,
    table: str,
    shingles_rel: str | None = None,
    prefix_rel: str | None = None,
) -> str:
    """Same contract as dedup_ngram_jaccard (all pairs with shingle-set
    Jaccard >= 0.4) but candidates come from PREFIX FILTERING (PPJoin /
    AllPairs family): order every doc's shingles RAREST-FIRST by corpus df,
    keep only the first |s| - ceil(t*|s|) + 1 of them, and join on THOSE.
    Any pair at J >= t must collide on a prefix token under a shared global
    order, so the filter is lossless — completeness is proved in tests by
    set-equality against the full-inverted-index twin.

    Why it matters at 100 TB: the full index emits df^2 candidate rows per
    shingle (the stop-shingle twin caps df to cope); prefix filtering
    SHRINKS the index itself — common shingles fall out of every prefix
    because rare tokens sort first, so candidate volume drops without a
    correctness-affecting cap.  The win is proportional to df skew: on a
    low-df corpus the df-join + per-doc ordering overhead dominates and
    the full index is cheaper — this operator earns its keep exactly when
    the full index blows up.  All arithmetic is integer (prefix length via
    ceil-free idiv; the J >= 2/5 verify as 7*common >= 2*(|a|+|b|)); the
    per-doc ordering window is bounded by doc size.  Final jaccard column
    matches the twin's ROUND(...,6) exactly.  ``prefix_rel`` takes the
    Spark side's materialized prefix relation (referenced twice by the
    candidate self-join)."""
    sh = shingles_rel or _shingles_sql(d, table)
    prefix = prefix_rel or _prefix_rel_sql(d, sh)
    # verify by per-doc SET INTERSECTION, not by re-exploding both sides:
    # joining candidates back to the exploded shingle rows multiplies each
    # pair by |doc_a's shingles| before the group (measured 26M
    # intermediate rows for 522k candidates at sf0.1); carrying each doc's
    # shingle set as ONE array row keeps the verify relation at one row
    # per candidate (shingles are distinct per doc, so intersect size IS
    # the common count)
    if d.name == "spark":
        doc_sets = "SELECT doc_id, collect_set(sh) AS shs FROM shingles GROUP BY doc_id"
        n_common = "size(array_intersect(sa.shs, sb.shs))"
    else:
        doc_sets = "SELECT doc_id, array_agg(sh) AS shs FROM shingles GROUP BY doc_id"
        n_common = "len(list_intersect(sa.shs, sb.shs))"
    return f"""
WITH shingles AS ({sh}),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
doc_sets AS ({doc_sets}),
prefix AS ({prefix}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, {n_common} AS n_common
  FROM cands c
  JOIN doc_sets sa ON sa.doc_id = c.doc_a
  JOIN doc_sets sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       CAST(ROUND(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 6) AS DOUBLE) AS jaccard
FROM common
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE 7 * n_common >= 2 * (ca.n_sh + cb.n_sh)
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_prefix_filter_join",
    oracle=_prefix_filter_sql(DUCKDB, "documents"),
    doc="PPJoin-style prefix-filtered set-similarity join: shingles "
    "ordered rarest-first by corpus df, candidates join only on each "
    "doc's |s|-ceil(t|s|)+1 prefix (lossless for Jaccard >= 0.4), exact "
    "integer verify 7*common >= 2*(|a|+|b|). Shrinks the inverted index "
    "itself instead of capping it — tested set-equal to the "
    "full-inverted-index twin.",
    tags=("dedup", "join", "prefix-filter"),
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = table_view(spark, sf_dir, "documents")
    # the stored shingle table carries its corpus stats (sh_df, n_sh) and
    # the rarest-first rank pos — the prefix is a pure FILTER over the
    # stored artifact (pos <= |s| - ceil(t|s|) + 1), no per-call df join
    # or per-doc ordering window (r10 verdict task 2); the candidate
    # self-join + exact set-intersection verify stay live-measured
    ranked = _shingles_ranked_view(spark, sf_dir)
    plen = f"n_sh - {SPARK.idiv('(2 * n_sh + 4)', '5')} + 1"
    return spark.sql(
        _prefix_filter_sql(
            SPARK,
            view,
            shingles_rel=f"SELECT doc_id, sh FROM {ranked}",
            prefix_rel=f"SELECT doc_id, sh FROM {ranked} WHERE pos <= {plen}",
        )
    )


# --------------------------------------------------------------------------
# LSH band-tuning audit (which (bands, rows) factorization earns its keep?)
# --------------------------------------------------------------------------
_TUNE_CONFIGS = [(8, 1), (4, 2), (2, 4), (1, 8)]  # factorizations of N_HASHES


def _tune_theory(bands: int, rows: int, t: float = JACCARD_THRESHOLD) -> float:
    """S-curve capture probability at J=t: 1-(1-t^r)^b.  Computed in
    Python and inlined as the SAME literal in both dialects — it is a
    config constant, so no engine-libm POW enters the comparison."""
    return round(1.0 - (1.0 - t**rows) ** bands, 6)


def _band_cands_sql(d: Dialect, table: str, sig_rel: str | None = None) -> str:
    """Per-config candidate pairs (n_bands, doc_a, doc_b) for every
    factorization in ``_TUNE_CONFIGS``, from ONE band explode over the
    signature (config id rides the explode, so all configs share a single
    equi-join on (config, band, key))."""
    sig = sig_rel or _minhash_sig_sql(d, table)

    def key(b: int, r: int, j: int) -> str:
        return " || '_' || ".join(d.strcast(f"h{j * r + k}") for k in range(r))

    entries = []
    for b, r in _TUNE_CONFIGS:
        for j in range(b):
            if d.name == "spark":
                entries.append(
                    f"named_struct('n_bands', {b}, 'band', {j}, 'band_key', {key(b, r, j)})"
                )
            else:
                entries.append(f"{{'n_bands': {b}, 'band': {j}, 'band_key': {key(b, r, j)}}}")
    if d.name == "spark":
        allbands = (
            f"SELECT doc_id, e.n_bands, e.band, e.band_key "
            f"FROM sig LATERAL VIEW explode(array({', '.join(entries)})) t AS e"
        )
    else:
        allbands = (
            f"SELECT doc_id, u.n_bands AS n_bands, u.band AS band, u.band_key AS band_key "
            f"FROM (SELECT doc_id, unnest([{', '.join(entries)}]) AS u FROM sig) s"
        )
    return f"""
WITH sig AS ({sig}),
allbands AS ({allbands})
SELECT DISTINCT a.n_bands, a.doc_id AS doc_a, b.doc_id AS doc_b
FROM allbands a JOIN allbands b
  ON a.n_bands = b.n_bands AND a.band = b.band
 AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


BAND_TUNE_SUBSET_MOD = 2  # deterministic md5 half-corpus (round-8 trim)


def _band_tune_corpus(d: Dialect, table: str) -> str:
    """Deterministic md5 half of the corpus for the band-tuning audit
    (the APSS subset pattern, round-8 trim of the >4 s audit heads): the
    audit's deliverable is per-config recall/candidate-volume ESTIMATES,
    which keep their statistical power on a uniform half-sample, while
    the exact-Jaccard truth relation (near-quadratic on this
    shared-vocabulary synthetic corpus) shrinks ~4x.  The md5 — not the
    engine hash — picks the subset so both engines audit identical docs."""
    sub = f"{d.md5_prefix_int(d.strcast('doc_id'))} % {BAND_TUNE_SUBSET_MOD} = 0"
    return f"(SELECT * FROM {table} WHERE {sub})"


def _band_tuning_sql(
    d: Dialect,
    table: str,
    sig_rel: str | None = None,
    truth_rel: str | None = None,
    cands_rel: str | None = None,
) -> str:
    """Choosing (bands, rows) is THE MinHash-LSH knob at 100 TB: more
    bands = higher recall but more candidate volume; the theory S-curve
    says where the threshold lands, but the honest answer is empirical —
    run every factorization of the signature you already computed against
    exact-Jaccard ground truth and read off candidates-vs-recall.  One
    signature scan serves all configs (the config id rides the band
    explode, so the self-join is still a single equi-join on
    (config, band, key)); ground truth is the inverted-index Jaccard
    relation, bounded at audit scale.

    The theoretical capture probability is inlined per config as a Python
    literal so no engine POW/LN enters the cross-engine comparison.
    ``cands_rel`` takes the Spark side's MATERIALIZED per-config pair
    relation (it feeds both the volume count and the recall join; without
    the break the 15-entry band explode re-runs per consumer)."""
    truth = truth_rel or _jaccard_sql(d, table, ordered=False)
    cands = cands_rel or _band_cands_sql(d, table, sig_rel=sig_rel)
    cfg_rows = ", ".join(
        f"({b}, {r}, {_tune_theory(b, r):.6f}e0)" for b, r in _TUNE_CONFIGS
    )
    return f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({truth}) tr),
configs AS (SELECT * FROM (VALUES {cfg_rows}) AS c(n_bands, band_rows, p_capture_at_t)),
cands AS ({cands}),
stats AS (SELECT n_bands, COUNT(*) AS n_candidates FROM cands GROUP BY n_bands),
hits AS (
  SELECT c.n_bands, COUNT(*) AS n_hits
  FROM cands c JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
  GROUP BY c.n_bands
),
tot AS (SELECT COUNT(*) AS n_truth FROM truth)
SELECT CAST(cf.n_bands AS INT) AS n_bands,
       CAST(cf.band_rows AS INT) AS band_rows,
       CAST(COALESCE(s.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(tt.n_truth AS BIGINT) AS n_truth,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(ROUND(COALESCE(h.n_hits, 0) * 1.0e0 / NULLIF(tt.n_truth, 0), 6) AS DOUBLE) AS recall,
       CAST(cf.p_capture_at_t AS DOUBLE) AS p_capture_at_t
FROM configs cf
LEFT JOIN stats s ON s.n_bands = cf.n_bands
LEFT JOIN hits h ON h.n_bands = cf.n_bands
CROSS JOIN tot tt
ORDER BY cf.n_bands DESC
"""


def _tune_sig_view(spark: SparkSession, sf_dir: str, view: str) -> str:
    """The band-tune MinHash signature relation as a stored session view
    (VERDICT r8 task 4: hoist the shared signature relation).  A MinHash
    signature table IS a persisted index in production LSH (computed at
    ingest, reused by every banding decision); re-hashing the corpus with
    portable md5 on every audit run measured as the single biggest stage
    (~40% of the query)."""
    return session_view(spark, sf_dir, "tune_sig", lambda: spark.sql(_minhash_sig_sql(SPARK, view)))


@register(
    "lsh_band_tuning_audit",
    oracle=_band_tuning_sql(DUCKDB, _band_tune_corpus(DUCKDB, "documents")),
    doc="LSH band-tuning audit: every (bands, rows) factorization of the "
    "8-hash MinHash signature evaluated in ONE pass (config id rides the "
    "band explode; single equi-join on (config, band, key)) against "
    "exact-Jaccard ground truth, over a deterministic md5 HALF of the "
    "corpus (audit power is per-config recall estimates — preserved on a "
    "uniform half-sample; the near-quadratic truth relation shrinks 4x) "
    "— empirical candidates-vs-recall next to the theoretical S-curve "
    "capture probability (inlined as Python literals, no engine POW in "
    "the comparison). The pre-flight knob check before committing a "
    "banding at corpus scale.",
    tags=("dedup", "lsh", "audit"),
)
def lsh_band_tuning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = _band_tune_corpus(SPARK, table_view(spark, sf_dir, "documents"))
    sig_view = _tune_sig_view(spark, sf_dir, view)
    cands = materialize_once(
        spark,
        _band_cands_sql(SPARK, view, sig_rel=f"SELECT * FROM {sig_view}"),
        "tune_cands",
        sf_dir,
    )
    # intermediate truth relation: the global ORDER BY in _jaccard_sql is
    # presentation-only — strip it before materializing (one sort shuffle)
    truth = materialize_once(
        spark, _jaccard_sql(SPARK, view, ordered=False), "tune_truth", sf_dir
    )
    return spark.sql(
        _band_tuning_sql(
            SPARK,
            view,
            truth_rel=f"SELECT doc_a, doc_b FROM {truth}",
            cands_rel=f"SELECT n_bands, doc_a, doc_b FROM {cands}",
        )
    )



# --------------------------------------------------------------------------
# k-core decomposition (the fourth graph op: CC / PageRank / LPA / k-core)
# --------------------------------------------------------------------------
KCORE_K = 2        # minimum within-core degree
KCORE_ROUNDS = 14  # synchronous peel rounds (fixed in BOTH engines — results
#                    are the round-KCORE_ROUNDS prefix of the peel sequence,
#                    identical across engines whether or not it has
#                    converged; the emitted `converged` flag says which)


def _kcore_sql(d: Dialect, table: str, pairs_rel: str | None = None) -> str:
    """Bounded k-core peeling (Seidman 1983; the distributed form peels
    synchronously) over the symmetric embedding near-dup graph: every
    round drops nodes whose degree AMONG SURVIVORS is < K, which is the
    dense-cluster extractor dedup pipelines use to find heavily-duplicated
    template families (CC merges everything reachable; k-core keeps only
    the mutually-dense part).

    Per round: one self-equi-join of the edge list against the survivor
    set on both endpoints + a map-side-combinable degree count — the same
    shuffle budget per iteration as LPA, pure integer arithmetic, so the
    fixed round count is oracle-checkable.  Each round's CTE references
    the previous round TWICE (both join endpoints); a plain CTE chain
    inlines into 2^ROUNDS copies of the base relation in both optimizers,
    so the rounds are MATERIALIZED here (DuckDB keyword; the Spark twin
    below materializes each round with localCheckpoint instead — the same
    discipline as connected_components).  The `converged` flag (round N
    survivor count == round N-1's — survivor sets shrink monotonically,
    so equal counts mean a fixed point) is computed from two scalar
    aggregates; measured synchronous peel depths on the test corpora are
    5 (sf0.001), 12 (sf0.01), 5 (sf0.1), so 14 rounds converge at every
    test scale (flag test-pinned TRUE) while staying honest about the
    general contract — a pathological path graph peels one layer per
    round and would need depth rounds."""
    from .similarity import _neardup_banded_sql

    pairs = pairs_rel or strip_order_by(_neardup_banded_sql(d, table))
    mat = "MATERIALIZED " if d.name == "duckdb" else ""
    its = []
    prev = "n0"
    for i in range(1, KCORE_ROUNDS + 1):
        its.append(f"""
n{i} AS {mat}(
  SELECT e.src AS node
  FROM edges e
  JOIN {prev} a ON a.node = e.src
  JOIN {prev} b ON b.node = e.dst
  GROUP BY e.src
  HAVING COUNT(*) >= {KCORE_K}
)""")
        prev = f"n{i}"
    penult = f"n{KCORE_ROUNDS - 1}"
    return f"""
WITH pairs AS {mat}({pairs}),
edges AS {mat}(
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
n0 AS {mat}(SELECT DISTINCT src AS node FROM edges),
{",".join(its)},
conv AS (
  SELECT (SELECT COUNT(*) FROM {prev}) = (SELECT COUNT(*) FROM {penult}) AS converged
)
SELECT n.node AS vec_id,
       CAST(COUNT(*) AS BIGINT) AS core_degree,
       c.converged AS converged
FROM {prev} n
JOIN edges e ON e.src = n.node
JOIN {prev} b ON b.node = e.dst
CROSS JOIN conv c
GROUP BY n.node, c.converged
ORDER BY vec_id
"""


@register(
    "kcore_decomposition",
    oracle=_kcore_sql(DUCKDB, "embeddings"),
    doc=f"Bounded {KCORE_K}-core peeling ({KCORE_ROUNDS} synchronous "
    "rounds; Spark peels iteratively with per-round localCheckpoint and a "
    "monotone early-stop, oracle runs the same rounds as MATERIALIZED "
    "CTEs) over the embedding near-dup graph — the dense-cluster "
    "extractor beside CC (reachability), PageRank (centrality) and LPA "
    "(communities). One survivor self-join + integer degree count per "
    "round; in-query converged flag (test-pinned TRUE at sf scale).",
    tags=("dedup", "graph", "iterative"),
)
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the oracle's unrolled peel: an iterative driver loop
    (same discipline as connected_components — localCheckpoint truncates
    the lineage so each round plans O(1) work and the candidate-pair SQL
    runs exactly once).  Survivor sets shrink monotonically, so stopping
    early at an unchanged count is EXACTLY the fixed point the remaining
    rounds would no-op through — results identical to the full unroll."""
    from .similarity import _neardup_pairs_view

    view = table_view(spark, sf_dir, "embeddings")
    pairs = spark.table(_neardup_pairs_view(spark, sf_dir))
    # Loop mechanics share the CC fixpoint's round discipline (VERDICT r12
    # task 2 — the peel measured 51 Spark jobs of ~0.15 s scheduler
    # overhead each): AQE off + right-sized shuffle partitions inside the
    # loop, survivor counts observed on the checkpoint job instead of a
    # separate count action, the survivor set broadcast into the edge
    # joins below the same edge-count bound, and TWO peels per round.  A
    # double round removing zero nodes certifies single-peel convergence
    # (monotone: if peel 1 removed any node the total would drop), so the
    # flag semantics are unchanged; the last two of the fixed
    # KCORE_ROUNDS run as SINGLE peels so a non-converged run still stops
    # at exactly the oracle's unrolled peel count.
    with fixed_plan(spark, CC_PARTITIONS):
        obs_e = Observation()
        edges = (
            pairs.selectExpr("vec_a AS src", "vec_b AS dst")
            .unionAll(pairs.selectExpr("vec_b AS src", "vec_a AS dst"))
            .observe(obs_e, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        bcast = (
            F.broadcast
            if (obs_e.get["n"] or 0) <= _CC_BROADCAST_EDGES
            else (lambda df: df)
        )

        def peel(s: DataFrame) -> DataFrame:
            return (
                edges.alias("e")
                .join(bcast(s.alias("a")), F.col("e.src") == F.col("a.node"))
                .join(bcast(s.alias("b")), F.col("e.dst") == F.col("b.node"))
                .groupBy(F.col("e.src").alias("node"))
                .agg(F.count(F.lit(1)).alias("deg"))
                .where(F.col("deg") >= KCORE_K)
                .select("node")
            )

        # The initial survivor set is every edge-touching node, so peel 1
        # degenerates (r13, same argument as the CC round-1 shortcut):
        # both survivor joins are total against that set — by symmetry
        # every src and every dst is in it — leaving one map-side-
        # combining degree count.  The round-1 convergence reference
        # |distinct src| rides THAT aggregation as an Observation on its
        # PRE-filter rows (one row per node before the deg >= K cut), so
        # the former standalone distinct().count() action is gone
        # (ADVICE r13; distinct aggregates are not observable, a
        # pre-filter COUNT(*) is).
        n_prev = None
        obs_n0 = Observation()
        surv = None
        converged = False
        peels_left = KCORE_ROUNDS
        while peels_left > 0:
            step = 2 if peels_left > 2 else 1
            if surv is None:
                p1 = (
                    edges.groupBy(F.col("src").alias("node"))
                    .agg(F.count(F.lit(1)).alias("deg"))
                    .observe(obs_n0, F.count(F.lit(1)).alias("n0"))
                    .where(F.col("deg") >= KCORE_K)
                    .select("node")
                )
            else:
                p1 = peel(surv)
            obs = Observation()
            nxt = (
                (peel(p1) if step == 2 else p1)
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint()
            )
            n_now = obs.get["n"] or 0
            if n_prev is None:
                n_prev = obs_n0.get["n0"] or 0
            surv = nxt
            peels_left -= step
            if n_now == n_prev:
                converged = True
                break
            n_prev = n_now
    return (
        surv.alias("n")
        .join(edges.alias("e"), F.col("e.src") == F.col("n.node"))
        .join(surv.alias("b"), F.col("e.dst") == F.col("b.node"))
        .groupBy(F.col("n.node").alias("vec_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .withColumn("converged", F.lit(converged))
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# soft dedup: duplication-aware training weights instead of dropping
# --------------------------------------------------------------------------
def _softdedup_sql(
    d: Dialect, table: str, pairs_rel: str | None = None,
    window_copies: bool = False,
) -> str:
    """SoftDeDup-style reweighting (He et al. 2024): rather than DROPPING
    duplicates, every document keeps a training weight inversely
    proportional to its "commonness" — here the exact-copy multiplicity
    (content-hash group size) plus the count of distinct LSH-verified
    near-dup partners.  A unique doc gets weight 1.0; each extra exact
    copy or near-dup partner dilutes it.  Downstream samplers
    (weighted_sample_aes, token_budget_selection) consume the weight
    column directly.

    Scale shape: commonness is two integer aggregates — a content-hash
    groupBy (map-side combinable, text never shuffles past the hash
    projection) and a degree count over the banded LSH pair relation
    (already sub-quadratic); the weight itself is a projection.  No new
    join strategy beyond what dedup_exact + dedup_minhash_lsh already pay."""
    pairs = pairs_rel or strip_order_by(_lsh_pairs_sql(d, table))
    h = d.md5_prefix_int("text")
    copies = (
        # Spark side (r14, guide §2.4): group size as a WINDOW over one
        # hash pass — the groupBy + join-back form planned the md5(text)
        # corpus projection TWICE; COUNT(*) OVER (PARTITION BY hash) is
        # the same integer on every row of the group
        f"""
  SELECT doc_id, COUNT(*) OVER (PARTITION BY {h}) AS n_copies
  FROM {table}
"""
        if window_copies
        else f"""
  SELECT h.doc_id, g.n_copies
  FROM hashes h
  JOIN (SELECT content_hash, COUNT(*) AS n_copies FROM hashes GROUP BY content_hash) g
    ON g.content_hash = h.content_hash
"""
    )
    return f"""
WITH hashes AS (SELECT doc_id, {h} AS content_hash FROM {table}),
copies AS ({copies}),
pairs AS ({pairs}),
degree AS (
  SELECT node AS doc_id, COUNT(*) AS n_partners FROM (
    SELECT doc_a AS node, doc_b AS other FROM pairs
    UNION
    SELECT doc_b AS node, doc_a AS other FROM pairs
  ) sym
  GROUP BY node
)
SELECT c.doc_id,
       CAST(c.n_copies AS BIGINT) AS n_exact_copies,
       CAST(COALESCE(dg.n_partners, 0) AS BIGINT) AS n_neardup_partners,
       CAST(ROUND(1.0e0 / (c.n_copies + COALESCE(dg.n_partners, 0)), 6) AS DOUBLE) AS soft_weight
FROM copies c
LEFT JOIN degree dg ON dg.doc_id = c.doc_id
ORDER BY c.doc_id
"""


@register(
    "softdedup_weights",
    oracle=_softdedup_sql(DUCKDB, "documents"),
    doc="SoftDeDup-style duplication-aware reweighting (He et al. 2024): "
    "per-doc training weight 1/(exact-copy multiplicity + distinct "
    "LSH-verified near-dup partners) — the keep-everything alternative to "
    "dedup_keep_canonical that downstream weighted samplers consume. Two "
    "integer aggregates (content-hash groupBy + banded-LSH degree count), "
    "weight is a projection.",
    tags=("dedup", "quality", "sampling"),
)
def softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: window-form copy counts (one md5(text) corpus pass instead of
    # two) and the STORED pair view (the lshp artifact every graph
    # consumer reads; pair generation stays live-measured by its
    # declared twin dedup_minhash_lsh).  12 -> 2 static scans.
    view = table_view(spark, sf_dir, "documents")
    return spark.sql(
        _softdedup_sql(
            SPARK,
            view,
            pairs_rel=f"SELECT doc_a, doc_b FROM {_lsh_pairs_view(spark, sf_dir)}",
            window_copies=True,
        )
    )


# --------------------------------------------------------------------------
# multi-source BFS hop distances over the near-dup graph
# --------------------------------------------------------------------------
BFS_MAX_HOPS = 4
BFS_SEED_MOD = 100  # seeds = doc_id % BFS_SEED_MOD == 0


def _bfs_oracle_sql(d: Dialect, table: str) -> str:
    """DuckDB twin: bounded-depth walk by recursive CTE over the SAME
    symmetric LSH pair graph; MIN(hops) per reached doc == BFS level."""
    pairs = strip_order_by(_lsh_pairs_sql(d, table))
    return f"""
WITH RECURSIVE sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM ({pairs}) p
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM ({pairs}) p
),
walk(doc_id, hops) AS (
  SELECT doc_id, 0 FROM {table} WHERE doc_id % {BFS_SEED_MOD} = 0
  UNION ALL
  SELECT s.dst, w.hops + 1
  FROM walk w JOIN sym s ON s.src = w.doc_id
  WHERE w.hops < {BFS_MAX_HOPS}
)
SELECT doc_id, CAST(MIN(hops) AS INT) AS hops
FROM walk GROUP BY doc_id ORDER BY doc_id
"""


@register(
    "graph_bfs_hops",
    oracle=_bfs_oracle_sql(DUCKDB, "documents"),
    doc=f"Multi-source BFS: shortest hop distance (cap {BFS_MAX_HOPS}) from "
    "a seed set (doc_id % 100 == 0) over the MinHash-LSH near-dup graph — "
    "the 'how far does contamination spread from these known-bad docs' "
    "query.  Frontier expansion is one equi-join + one anti-join per level "
    "(frontier x edges, minus visited), every relation checkpointed so no "
    "iteration replans lineage; level count bounded by the cap, per-level "
    "work bounded by the frontier, never the corpus.  Oracle = bounded "
    "recursive-CTE walk with MIN(hops).",
    tags=("dedup", "graph", "iterative"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = table_view(spark, sf_dir, "documents")
    mat = spark.table(_lsh_pairs_view(spark, sf_dir))
    sym = (
        mat.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionAll(mat.selectExpr("doc_b AS src", "doc_a AS dst"))
        .repartition("src")
        .localCheckpoint()
    )
    seeds = (
        spark.table(view)
        .select("doc_id")
        .where(F.col("doc_id") % BFS_SEED_MOD == 0)
        .localCheckpoint()
    )
    dist = seeds.select("doc_id", F.lit(0).cast("int").alias("hops"))
    visited, frontier = seeds, seeds
    for h in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            sym.join(frontier, sym.src == frontier.doc_id)
            .select(F.col("dst").alias("doc_id"))
            .distinct()
            .join(visited, "doc_id", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        dist = dist.unionAll(nxt.select("doc_id", F.lit(h).cast("int").alias("hops")))
        visited = visited.unionAll(nxt).localCheckpoint()
        frontier = nxt
    return dist.orderBy("doc_id")


# --------------------------------------------------------------------------
# clustering coefficient over the near-dup graph
# --------------------------------------------------------------------------
def _clustering_coeff_sql(
    d: Dialect,
    table: str,
    pairs_rel: str | None = None,
    deg_rel: str | None = None,
    tcount_rel: str | None = None,
) -> str:
    """Local clustering coefficient per node + global transitivity over the
    canonical (a<b) near-dup edge list — the density summary beside
    triangle counts (raw cliques), CC (reachability) and PageRank
    (centrality): coeff = closed wedges / possible wedges distinguishes a
    node inside a duplicate CLIQUE (coeff ~ 1) from a hub stitching
    unrelated near-dup pairs (coeff ~ 0).

    Scale: degrees from one symmetric union of the edge list; triangles by
    the same wedge+closure equi-joins as triangle_count_neardup; global
    transitivity = 3*triangles / wedges with both totals exact integers."""
    from .similarity import _neardup_banded_sql

    pairs = pairs_rel or strip_order_by(_neardup_banded_sql(d, table))
    deg = (
        f"SELECT node, degree FROM {deg_rel}"
        if deg_rel
        else """
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) m GROUP BY node
"""
    )
    tcount = (
        f"SELECT node, n_triangles FROM {tcount_rel}"
        if tcount_rel
        else """
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) m GROUP BY node
"""
    )
    return f"""
WITH pairs AS ({pairs}),
e AS (SELECT vec_a AS a, vec_b AS b FROM pairs),
deg AS ({deg}),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
tcount AS ({tcount}),
tot AS (
  SELECT CAST(COALESCE((SELECT SUM(n_triangles) FROM tcount), 0) AS BIGINT)
           AS tri3,
         CAST(SUM(degree * (degree - 1)) AS BIGINT) AS wedges2
  FROM deg
)
SELECT d.node AS vec_id, d.degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       ROUND(CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
             / (d.degree * (d.degree - 1)), 6) AS local_coeff,
       -- wedges2 = sum d(d-1) counts each wedge TWICE; transitivity
       -- = 3T / W = (2 * 3T) / wedges2 (review fix: was half the value)
       ROUND(CAST(2 * x.tri3 AS DOUBLE) / x.wedges2, 6) AS global_transitivity
FROM deg d LEFT JOIN tcount t ON t.node = d.node
CROSS JOIN tot x
WHERE d.degree >= 2
ORDER BY vec_id
"""


@register(
    "clustering_coefficient_neardup",
    oracle=_clustering_coeff_sql(DUCKDB, "embeddings"),
    doc="Local clustering coefficient (2*tri / deg*(deg-1)) per node with "
    "degree >= 2, plus global transitivity (3*triangles / wedges, both "
    "exact integers) over the canonical near-dup edge list — clique-vs-"
    "hub structure detection for duplicate clusters.  Same wedge+closure "
    "equi-join machinery as triangle_count_neardup (pair relation "
    "materialized once), one symmetric degree aggregate, scalar totals "
    "broadcast.",
    tags=("dedup", "graph", "join"),
)
def clustering_coefficient_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once
    from .similarity import _neardup_pairs_view

    view = table_view(spark, sf_dir, "embeddings")
    pairs = _neardup_pairs_view(spark, sf_dir)
    # Materialize the per-node degree and triangle-count aggregates once
    # (guide §3.3): tot + the final projection re-ran the 3-way wedge
    # join and the symmetric degree union per reference — 62 static
    # Exchanges in one statement.  The bodies mirror the builder's
    # default CTEs; the oracle runs the single-statement form, so any
    # drift between the two fails the value compare.
    e = f"SELECT vec_a AS a, vec_b AS b FROM {pairs}"
    deg = materialize_once(
        spark,
        f"SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM ("
        f"  SELECT a AS node FROM ({e}) e1 UNION ALL SELECT b FROM ({e}) e2"
        f") m GROUP BY node",
        "ccoef_deg",
        key=sf_dir,
    )
    tcount = materialize_once(
        spark,
        f"""
WITH e AS ({e}),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
) m GROUP BY node
""",
        "ccoef_tc",
        key=sf_dir,
    )
    return spark.sql(
        _clustering_coeff_sql(
            SPARK,
            view,
            pairs_rel=f"SELECT * FROM {pairs}",
            deg_rel=deg,
            tcount_rel=tcount,
        )
    )


# --------------------------------------------------------------------------
# all-pairs cosine similarity join (APSS, Bayardo et al. 2007 shape)
# --------------------------------------------------------------------------
APSS_T_NUM, APSS_T_DEN = 17, 20  # cosine threshold t = 0.85; t^2 = 289/400
APSS_SUBSET_MOD = 8  # deterministic md5 eighth (see benchmark-bound note below)
# (t chosen where the synthetic corpus's shared-vocabulary cosine mass thins
#  out: >= 0.85 keeps ~600 pairs at sf0.01 where 0.6 would pass HALF of all
#  pairs — an all-pairs-dense output is not a similarity JOIN any more)


def _apss_pw_sql(d: Dialect, table: str) -> str:
    """The weighted posting relation (doc_id, f, df, wq): tokenize, tf, df,
    integer milli-unit tf-idf weights, zero-weight features dropped."""
    w = d.splitws("lower(text)")
    # Benchmark bound: this synthetic corpus draws every doc from ONE shared
    # vocabulary distribution, so random-pair cosine mass sits near the
    # threshold and the candidate stream is inherently near-quadratic (60k
    # pairs pass 0.85 at sf0.1) — the premise APSS exploits on real corpora
    # (random pairs ~ 0) is violated by construction.  The deterministic
    # md5 eighth keeps the demonstration subquadratic-shaped, same
    # discipline as embedding_cosine_allpairs_small; the md5 (not the
    # engine hash) picks the subset so both engines see identical docs.
    sub = f"{d.md5_prefix_int(d.strcast('doc_id'))} % {APSS_SUBSET_MOD} = 0"
    words_rel = f"(SELECT doc_id, {w} AS ws FROM {table} WHERE {sub})"
    if d.name == "spark":
        occ = (
            f"SELECT doc_id, {d.fast_hash('w')} AS f FROM {words_rel} s "
            f"LATERAL VIEW explode(ws) t AS w"
        )
    else:
        occ = f"SELECT doc_id, {d.fast_hash('unnest(ws)')} AS f FROM {words_rel} s"
    return f"""
WITH occ AS ({occ}),
tf AS (SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS tf FROM occ GROUP BY doc_id, f),
dfr AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY f),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
post AS (
  SELECT t.doc_id, t.f, d2.df,
         CAST(FLOOR(t.tf * LN(nd.n * 1.0e0 / d2.df) * 1000) AS BIGINT) AS wq
  FROM tf t JOIN dfr d2 ON d2.f = t.f CROSS JOIN nd
)
SELECT doc_id, f, df, wq FROM post WHERE wq >= 1"""


def _apss_sql(d: Dialect, table: str, pw_rel: str | None = None) -> str:
    """All-pairs TF-IDF cosine >= t over documents with a PROVEN-LOSSLESS
    L2 prefix filter — the WEIGHTED sibling of dedup_prefix_filter_join
    (whose prefix bound is Jaccard-specific):

    - weights quantize ONCE to integer milli-units (wq = floor(tf *
      ln(N/df) * 1000)); everything after — norms, tail sums, prefix
      membership, the verify dot product, the threshold test (25*num^2 >=
      9*na2*nb2) — is exact integer arithmetic, so both engines and any
      partitioning agree bit-for-bit (only the per-feature libm LN crosses
      engines, same empirical contract as collocation_pmi).
    - prefix bound: fix ANY total feature order (here df DESC, then the
      feature key) and let suffix(v) be the maximal tail with ||tail||^2 <
      t^2 * ||v||^2.  If a pair shares features only in both suffixes,
      cos <= ||sa||/||a|| * ||sb||/||b|| < t^2 < t — so every qualifying
      pair shares at least one feature lying in SOMEONE's prefix, and
      joining prefix postings against full postings loses nothing
      (set-equality vs the naive all-pairs form pinned in
      tests/test_batch6_ops.py).
    - scale: the tail cumsum is a doc-partitioned window over each doc's
      own features (bounded by doc length); candidates and verification
      are feature equi-joins; features are 64-bit engine hashes so no
      shuffle carries strings.  Verification cost is O(candidates x doc
      size) — the standard APSS verify term the prefix filter minimizes."""
    w = d.splitws("lower(text)")
    # Benchmark bound: this synthetic corpus draws every doc from ONE shared
    # vocabulary distribution, so random-pair cosine mass sits near the
    # threshold and the candidate stream is inherently near-quadratic (60k
    # pairs pass 0.85 at sf0.1) — the premise APSS exploits on real corpora
    # (random pairs ~ 0) is violated by construction.  The deterministic
    # md5 eighth keeps the demonstration subquadratic-shaped, same
    # discipline as embedding_cosine_allpairs_small; the md5 (not the
    # engine hash) picks the subset so both engines see identical docs.
    pw_cte = f"pw AS ({pw_rel})" if pw_rel else f"pw AS ({_apss_pw_sql(d, table)})"
    t2n, t2d = APSS_T_NUM * APSS_T_NUM, APSS_T_DEN * APSS_T_DEN
    if d.name == "spark":
        # The prefix test needs each doc's FULL norm beside its suffix
        # norm; a whole-partition window over the SAME doc_id partitioning
        # as the tail cumsum delivers it with zero extra exchange and no
        # tails-to-norms join (guide §2.4: operations keyed the same way
        # share one exchange) — the groupBy+join form re-shuffled pw and
        # sort-merge-joined it back (the checkpointed pw relation carries
        # no stats, so Catalyst plans its joins pessimistically until AQE
        # rescues each at runtime, one materialized exchange job apiece).
        # SUM(wq*wq) OVER (PARTITION BY doc_id) is the exact same BIGINT
        # as the grouped norm, so the kept pairs are identical; the oracle
        # keeps the grouped form (DuckDB plans it fine) and the unchanged
        # PASS is the equivalence proof.  norms stays for the final
        # cosine denominators (verify output is tiny).
        tails_cte = f"""tails AS (
  SELECT p.doc_id, p.f, p.wq,
         CAST(SUM(p.wq * p.wq) OVER (PARTITION BY p.doc_id
              ORDER BY p.df DESC, p.f
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
           AS tail2,
         CAST(SUM(p.wq * p.wq) OVER (PARTITION BY p.doc_id) AS BIGINT) AS n2
  FROM pw p
),
prefix AS (
  SELECT t.doc_id, t.f
  FROM tails t
  WHERE {t2d} * t.tail2 >= {t2n} * t.n2
),"""
    else:
        tails_cte = f"""tails AS (
  SELECT p.doc_id, p.f, p.wq,
         CAST(SUM(p.wq * p.wq) OVER (PARTITION BY p.doc_id
              ORDER BY p.df DESC, p.f
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
           AS tail2
  FROM pw p
),
prefix AS (
  SELECT t.doc_id, t.f
  FROM tails t JOIN norms nm ON nm.doc_id = t.doc_id
  WHERE {t2d} * t.tail2 >= {t2n} * nm.n2
),"""
    return f"""
WITH {pw_cte},
norms AS (SELECT doc_id, CAST(SUM(wq * wq) AS BIGINT) AS n2 FROM pw GROUP BY doc_id),
{tails_cte}
cand AS (
  SELECT DISTINCT LEAST(px.doc_id, fp.doc_id) AS a,
                  GREATEST(px.doc_id, fp.doc_id) AS b
  FROM prefix px JOIN pw fp ON fp.f = px.f AND fp.doc_id <> px.doc_id
),
verify AS (
  SELECT c.a, c.b, CAST(SUM(pa.wq * pb.wq) AS BIGINT) AS num
  FROM cand c
  JOIN pw pa ON pa.doc_id = c.a
  JOIN pw pb ON pb.doc_id = c.b AND pb.f = pa.f
  GROUP BY c.a, c.b
)
SELECT v.a AS doc_a, v.b AS doc_b,
       ROUND(CAST(v.num AS DOUBLE)
             / SQRT(CAST(na.n2 AS DOUBLE) * nb.n2), 6) AS cosine
FROM verify v
JOIN norms na ON na.doc_id = v.a
JOIN norms nb ON nb.doc_id = v.b
WHERE CAST(v.num AS DECIMAL(38,0)) * v.num * {t2d}
      >= CAST(na.n2 AS DECIMAL(38,0)) * nb.n2 * {t2n}
ORDER BY doc_a, doc_b
"""


@register(
    "apss_cosine_join",
    oracle=_apss_sql(DUCKDB, "documents"),
    doc=f"All-pairs TF-IDF cosine similarity join at t = "
    f"{APSS_T_NUM}/{APSS_T_DEN} (Bayardo et al. 2007 shape): integer "
    "milli-unit weights, proven-lossless L2 prefix filter (suffix norm "
    "bound), exact-integer verify and threshold (400*num^2 >= 289*na2*nb2) "
    "— the WEIGHTED set-similarity join beside the Jaccard prefix-filter "
    "join and MinHash LSH; naive-equality pinned in tests.  Oracle runs "
    "the same quantized prefix-filtered plan (the sf0.1 sweep would not "
    "survive the naive all-pairs form); losslessness is the pytest's "
    "job.",
    tags=("dedup", "similarity", "prefix-filter"),
)
def apss_cosine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = table_view(spark, sf_dir, "documents")
    # materialize-once: the weighted posting relation feeds tails, norms,
    # candidates and BOTH sides of the verify join — Spark inlines CTEs, so
    # without a break the tokenize/tf/df chain recomputes per consumer
    pw = materialize_once(spark, _apss_pw_sql(SPARK, view), "apss_pw", sf_dir)
    return spark.sql(_apss_sql(SPARK, view, pw_rel=f"SELECT * FROM {pw}"))
