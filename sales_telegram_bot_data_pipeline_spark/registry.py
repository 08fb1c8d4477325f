"""Named-query registry.

Every operator the engine claims (SURVEY.md §2) registers here as a named
query: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus, where the
semantics are SQL-expressible, the equivalent ANSI SQL that DuckDB runs on the
same parquet tables (the driver's correctness oracle).  Column names/aliases
must match exactly between the two sides — the driver sorts columns by name
before value-hashing.

Hash-stability rules used throughout the suite:
- money/quantity aggregates go through exact DECIMAL casts before SUM so the
  result is order-independent and bit-identical across engines, then cast to
  double at the end;
- genuinely fractional outputs (averages, rates, cosine similarities) are
  rounded to 6 decimals on both sides;
- array-valued results are sorted and joined to strings;
- portable 60-bit hashes use ``conv(substr(md5(x),1,15),16,10)`` (Spark) ≡
  ``('0x'||substr(md5(x),1,15))::bigint`` (DuckDB) — verified identical.

Two ways to register:
- ``register_sql(name, build, tables, ...)`` when the Spark side IS the
  oracle's template: ``build(dialect, *relations)`` renders one statement,
  the oracle is ``build(DUCKDB, *tables)`` and Spark runs
  ``build(SPARK, ...)`` over this session's ``table_view``s of the same
  tables.  Such a query has no hand-written Spark function.  This also
  covers a query whose DataFrame-API form would plan identically to its
  oracle text: the DataFrame API and SQL are two front ends to one
  optimizer, so that form is the same query written twice.
- ``@register`` when the Spark side really differs from the oracle text
  (build-time checkpoints, ``materialize_once``, stored session views,
  DataFrame-API forms that plan differently, Python stages, streaming),
  or when the query oracle-checks a library function that production
  code also calls.  ``tests/test_views.py`` fails on an ``@register``
  query whose plans are ``sameResult`` with its oracle's.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .functions.dialect import DUCKDB, SPARK
from .sources.tables import table_view

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does a rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}

# Why each rows-only query has NO DuckDB oracle (VERDICT r8 task 8: the
# standing justification, one line per query, surfaced in REGISTRY.md so
# it never has to be re-derived).  Every oracle=None registration MUST
# have an entry here — tests/test_correctness_oracle.py enforces it, and
# registry_report refuses to render without one.  Three classes:
#   sketch    — estimator output differs across engines by design; the
#               accuracy band is pinned within-engine in pytest
#   binary/py — decodes binary columns or runs an iterative/stateful
#               Python algorithm with no SQL equivalent; pinned against
#               golden fixtures / direct stdlib calls in pytest
#   streaming — Structured Streaming semantics (watermarks, state,
#               triggers); pinned by batch-parity tests
NO_ORACLE_REASONS: dict[str, str] = {
    "approx_distinct_users": "sketch: HLL++ estimates differ from DuckDB's "
    "approx_count_distinct by design; tolerance vs exact pinned in pytest",
    "audio_window_features": "binary/py: windowed feature extraction over "
    "synthetic waveform bytes (pandas UDF); pinned vs direct numpy in pytest",
    "blocklist_scan": "binary/py: broadcast Aho-Corasick automaton scan "
    "(Arrow-batched UDF); golden-tested against a naive find-all",
    "bpe_fertility_by_source": "binary/py: BPE merge induction is "
    "iterative/stateful; encoder pinned by golden fixtures in pytest",
    "bpe_token_count": "binary/py: BPE merge induction is iterative/"
    "stateful; token counts pinned by golden fixtures in pytest",
    "compression_ratio_quality": "binary/py: real zlib compression inside "
    "mapInPandas; pinned against direct zlib calls in test_curation.py",
    "detected_data_pipeline": "binary/py: mapInPandas stub-inference DAG "
    "(external-service shape); its pure-SQL twin detected_data_native IS "
    "oracle-checked end-to-end",
    "embedding_pca_project": "binary/py: driver eigensolve on the reduced "
    "d x d Gram (sign/rotation engine-specific); invariants pinned in pytest",
    "image_phash_dedup": "binary/py: stdlib BMP/PNG decode + 8x8 DCT hash "
    "over binary columns; decoder golden-tested in test_imagecodec.py",
    "inference_http_echo": "binary/py: live-socket integration probe for "
    "the HTTP inference client (retry + dead-letter legs, env-gated to "
    "stub mode by default); parity counted Spark-side, full paths driven "
    "in test_inference_http.py",
    "mmr_diversified_topk": "binary/py: MMR selection is sequentially "
    "dependent (argmax over already-selected set); pinned by a brute-force "
    "reimplementation in pytest",
    "multimodal_features": "binary/py: decodes image bytes via the stdlib "
    "codec inside mapInPandas; pinned vs direct decode in pytest",
    "nested_detections_table": "binary/py: emits map<string,array<struct>> "
    "from the stubbed inference path; nested shape pinned in pytest "
    "(DuckDB hash-compare over map-of-struct is not supported by the "
    "driver's comparator)",
    "schema_contract_audit": "binary/py: audits Spark's live parquet "
    "schema metadata (no data rows read); contract violations pinned in "
    "pytest",
    "standardize_embeddings": "binary/py: grouped-map applyInPandas "
    "whitening emits array<double> vectors; moments re-checked in pytest",
    "streaming_attribution_join": "streaming: watermarked stream-stream "
    "join; batch-parity pinned in pytest",
    "streaming_attribution_left_join": "streaming: watermarked outer join "
    "with late-emit semantics; batch-parity pinned in pytest",
    "streaming_dedup_watermark": "streaming: dropDuplicates within "
    "watermark state; batch-parity pinned in pytest",
    "streaming_lsh_admission": "streaming: stateful LSH-bucket admission; "
    "batch-parity pinned in pytest",
    "streaming_misra_gries_topk": "streaming: bounded-state heavy hitters "
    "via flatMapGroupsWithState shape; batch twin pinned in pytest",
    "streaming_sessionization": "streaming: session_window aggregation "
    "under a watermark; batch-parity pinned in pytest",
    "streaming_tumbling_counts": "streaming: tumbling-window counts under "
    "a watermark; batch-parity pinned in pytest",
    "unigram_token_count": "binary/py: unigram-LM hard-EM + Viterbi "
    "encoding (iterative); pinned by golden fixtures in pytest",
    "video_frame_sample": "binary/py: deterministic frame sampling over "
    "opaque video bytes (generator mapInPandas); pinned in pytest",
    "word_segmentation": "binary/py: broadcast-trie DP segmentation "
    "(pandas UDF); pinned by golden fixtures from the reference's "
    "test vectors",
}


def register(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator: add ``fn`` to the registry under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


def register_sql(
    name: str,
    build: Callable[..., str],
    tables: tuple[str, ...],
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> None:
    """Register a query whose Spark side is its oracle's own template:
    ``build(DUCKDB, *tables)`` is the oracle, and Spark runs
    ``build(SPARK, ...)`` over this session's views of the same tables."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(build(SPARK, *(table_view(spark, sf_dir, t) for t in tables)))

    register(name, oracle=build(DUCKDB, *tables), doc=doc, tags=tags)(fn)
