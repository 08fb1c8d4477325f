"""Golden tests for the trie+DP segmentation suite (reference ops 16-20),
pinned to FIXTURES.md §B8 (execution-verified against the reference;
hunspell stubbed/off)."""

from __future__ import annotations

from sales_telegram_bot_data_pipeline_spark.functions.text import normalize_col  # noqa: F401 (smoke import)
from sales_telegram_bot_data_pipeline_spark.operators.segmentation import (
    Trie,
    best_segmentation,
    build_vocab_trie,
    confusion_variants,
    segment_column,
)

VOCAB = ["florian", "smetanovy", "jogurt", "mleko", "cerstve"]


def _seg(text: str, vocab=VOCAB) -> str:
    trie = build_vocab_trie(vocab)
    return " ".join(best_segmentation(trie, "".join(text.split())))


def test_confusion_variant_count():
    # 'mleko': l→3, e→2, e→... chars: m,l,e,k,o → slots l,e,o → 3*2*2 = 12
    assert len(confusion_variants("mleko")) == 12
    assert "m1eko" in confusion_variants("mleko")
    assert confusion_variants("xyz") == ["xyz"]


def test_variants_accepted_verbatim_not_canonicalized():
    trie = build_vocab_trie(["mleko"])
    assert trie.search("m1eko")  # corrupted spelling IS in the trie
    assert _seg("m1eko", ["mleko"]) == "m1eko"  # and kept as-is (B8 row 3)


def test_b8_fixtures():
    assert _seg("florianjogurt") == "florian jogurt"
    assert _seg("cerstvem1eko") == "cerstve m1eko"
    assert _seg("xyzqq") == ""  # uncovered text ⇒ empty (B8 row 5)


def test_short_word_penalty():
    # 'ab' (len<=3 ⇒ -10) never beats leaving text uncovered? The DP only
    # emits full covers; a cover of all-short words still wins over nothing.
    trie = build_vocab_trie(["ab", "cd", "abcd"])
    assert best_segmentation(trie, "abcd") == ["abcd"]  # +4 beats -20


def test_find_all_words_positions():
    trie = Trie()
    trie.insert("ab", expand=False)
    trie.insert("abc", expand=False)
    assert trie.find_all_words("abc") == [("ab", 0, 2), ("abc", 0, 3)]


def test_variant_cap_keeps_literal():
    word = "ileoileoileoileoil"  # > 8 substitutable positions
    assert confusion_variants(word) == [word]


def test_segment_column_spark(spark):
    df = spark.createDataFrame(
        [(1, "Florian Smetanový jogurt"), (2, "cerstvem1eko"), (3, None)],
        "id long, raw string",
    )
    prepared = df.select("id", normalize_col("raw").alias("norm"))
    out = {r["id"]: r["seg"] for r in
           segment_column(spark, prepared, "norm", "seg", VOCAB).select("id", "seg").collect()}
    assert out[1] == "florian smetanovy jogurt"
    assert out[2] == "cerstve m1eko"
    assert out[3] is None


from sales_telegram_bot_data_pipeline_spark.operators.segmentation import DictSpeller as StubSpeller


def test_spell_fallback_stub_speller():
    # op 19 (correct_names.py:127-138): trie-accepted words pass through;
    # unknown words keep if the dictionary accepts, else first suggestion,
    # else verbatim.
    from sales_telegram_bot_data_pipeline_spark.operators.segmentation import apply_spell_fallback

    trie = build_vocab_trie(["mleko"])
    sp = StubSpeller(known={"jogurtt"}, suggestions={"xqz": ["xyz"]})
    assert apply_spell_fallback(trie, ["mleko", "jogurtt", "xqz", "qqq"], sp) == [
        "mleko",   # in trie
        "jogurtt", # dictionary-accepted
        "xyz",     # first suggestion
        "qqq",     # no suggestion -> verbatim
    ]


def test_segment_column_spell_fallback_spark(spark):
    # flag ON with an injected stub: trie-covered segmentations are unchanged
    # (every DP word is trie-accepted, so the speller is never consulted —
    # same as the reference, where the fallback only fires for non-trie words)
    df = spark.createDataFrame([(1, "cerstvem1eko")], "id long, raw string")
    prepared = df.select("id", normalize_col("raw").alias("norm"))
    out = segment_column(
        spark, prepared, "norm", "seg", VOCAB,
        spell_fallback=True, speller=StubSpeller(),
    ).select("seg").collect()
    assert out[0]["seg"] == "cerstve m1eko"


def test_spell_fallback_without_speller_requires_hunspell(spark):
    # import-gated: no injected speller and no hunspell package -> clear error
    import pytest

    df = spark.createDataFrame([(1, "x")], "id long, raw string")
    try:
        import hunspell  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="hunspell"):
            segment_column(spark, df, "raw", "seg", VOCAB, spell_fallback=True)


def test_vocab_bound_parity(spark):
    # Bounding the vocabulary to top-N-by-frequency must not change the
    # sf0.001 output (distinct corpus words << VOCAB_LIMIT there): pin the
    # bounded word_segmentation against an unbounded-vocab recomputation.
    from pyspark.sql import functions as F

    from sales_telegram_bot_data_pipeline_spark.operators.segmentation import word_segmentation
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    bounded = {r["doc_id"]: r["segmented"] for r in word_segmentation(spark, sf_dir).collect()}

    docs = load_table(spark, sf_dir, "documents")
    full_vocab = [
        r[0]
        for r in docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .where(F.length("w") > 0).distinct().collect()
    ]
    prepared = docs.select("doc_id", normalize_col("text").alias("norm"))
    unbounded = {
        r["doc_id"]: r["segmented"]
        for r in segment_column(spark, prepared, "norm", "segmented", full_vocab)
        .select("doc_id", "segmented").collect()
    }
    assert bounded == unbounded and len(bounded) > 0


def test_pipeline_wide_record_name_is_segmented(spark):
    # Op-20 wiring (round-5): detected_data_pipeline's processed_item_name
    # must be the reference composition process_single_word (preprocess →
    # space-strip → trie DP segmentation, data_pipeline.py:113-115), NOT the
    # native twin's lower().  The stub OCR emits space-joined vocab words,
    # so stripping + resegmenting must round-trip — which only happens if
    # the segmenter really runs (lower() would also round-trip here, so we
    # additionally pin the segmenter on a concatenated name below).
    from sales_telegram_bot_data_pipeline_spark.operators.inference import (
        ITEM_NAME_VOCAB,
        _item_trie_bc,
        detected_data_pipeline,
    )

    wide = detected_data_pipeline(spark, "/root/testdata/sf0.001")
    rows = (
        wide.select("item_name", "processed_item_name")
        .where("item_name is not null")
        .limit(20)
        .collect()
    )
    assert rows
    for r in rows:
        words = r.item_name.split()
        assert set(words) <= set(ITEM_NAME_VOCAB)
        assert r.processed_item_name == " ".join(words)

    # a CONCATENATED OCR name comes back segmented through the same trie
    # broadcast the pipeline uses
    trie = _item_trie_bc(spark).value
    assert " ".join(best_segmentation(trie, "mlekojogurtcerstve")) == "mleko jogurt cerstve"
    assert " ".join(best_segmentation(trie, "smetanovysparkline")) == "smetanovy sparkline"


def test_pipeline_columns_match_native_twin(spark):
    # detected_data_pipeline runs detected_data_native's SQL tail over the
    # mapInPandas detection feed, so the two emit one record shape: same
    # column names, order and types.
    from conftest import SF_SMOKE

    from sales_telegram_bot_data_pipeline_spark.operators.inference import (
        detected_data_pipeline,
    )
    from sales_telegram_bot_data_pipeline_spark.operators.pipeline_native import (
        detected_data_native,
    )

    assert (
        detected_data_pipeline(spark, SF_SMOKE).dtypes
        == detected_data_native(spark, SF_SMOKE).dtypes
    )
