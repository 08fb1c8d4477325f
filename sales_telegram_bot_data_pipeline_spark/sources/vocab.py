"""Vocabulary file source (reference op 7): the 35,859-line product-name
file read once at import, normalized, deduped and trie-built per process
(data_pipeline.py:25-33).

Engine form: ``spark.read.text`` → normalize (op 15) → explode/distinct →
one driver collect of the (small) vocabulary → ``sc.broadcast``.  The
collect is bounded by vocabulary size, not corpus size — the one acceptable
driver materialization in the engine.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalize_col


def load_vocabulary_from_text(spark: SparkSession, path: str) -> list[str]:
    """Read a newline-delimited vocabulary file into a sorted distinct list
    of normalized words."""
    words = (
        spark.read.text(path)
        .select(F.explode(F.split(normalize_col("value"), r"\s+")).alias("w"))
        .where(F.length("w") > 0)
        .distinct()
        .orderBy("w")
    )
    return [r[0] for r in words.collect()]


def broadcast_vocab_trie(spark: SparkSession, words: list[str]):
    """Build the confusion-variant trie once and ship it to executors."""
    from ..operators.segmentation import build_vocab_trie

    return spark.sparkContext.broadcast(build_vocab_trie(words))
