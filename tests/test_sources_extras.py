"""Tests for the vocabulary source (op 7), ROI crop (op 10), and the HLL
sketch query's accuracy bound."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sales_telegram_bot_data_pipeline_spark.operators.inference import pad_clamp, stub_detect, synthesize_pages
from sales_telegram_bot_data_pipeline_spark.sources.binary import crop_regions
from sales_telegram_bot_data_pipeline_spark.sources.vocab import (
    broadcast_vocab_trie,
    load_vocabulary_from_text,
)

from conftest import SF_SMOKE

TMP = os.path.join(os.path.dirname(__file__), ".tmp")


def test_vocab_text_source(spark):
    os.makedirs(TMP, exist_ok=True)
    path = os.path.join(TMP, "vocab.txt")
    with open(path, "w") as f:
        f.write("Florian Smetanový\njogurt\nJOGURT\nmléko | mleko\n\n")
    words = load_vocabulary_from_text(spark, path)
    # normalized (op 15 applied), deduped, sorted; '|' deleted merges tokens
    assert words == ["florian", "jogurt", "mleko", "smetanovy"]
    bc = broadcast_vocab_trie(spark, words)
    assert bc.value.search("jogurt") and bc.value.search("m1eko")  # variant in trie
    bc.unpersist()


def test_crop_regions_shape(spark):
    pages = synthesize_pages(spark, SF_SMOKE).limit(20)
    det = pad_clamp(stub_detect(pages, model="model1").where(F.col("error").isNull()))
    with_bytes = det.withColumn("content", F.encode("image_id", "utf-8"))
    crops = crop_regions(
        with_bytes.select("image_id", "det_idx", "class_name", "content", "width",
                          F.col("px1").alias("x1"), F.col("px2").alias("x2"))
    ).collect()
    assert len(crops) > 0
    for r in crops:
        assert r["crop_len"] == len(r["crop"] or b"")
        assert r["crop_len"] >= 0


def test_approx_distinct_within_tolerance(spark):
    from sales_telegram_bot_data_pipeline_spark.operators.relational import approx_distinct_users

    got = {r["event_type"]: r["approx_users"] for r in approx_distinct_users(spark, SF_SMOKE).collect()}
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    exact = {
        r["event_type"]: r["exact"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    for k, approx in got.items():
        assert abs(approx - exact[k]) <= max(2, 0.05 * exact[k]), (k, approx, exact[k])


def test_parse_price_udf_matches_native(spark):
    """SURVEY §2.D: the pandas-UDF fallback must agree with the native
    expression on a mixed corpus."""
    from pyspark.sql import functions as F

    from sales_telegram_bot_data_pipeline_spark.functions.dialect import SPARK
    from sales_telegram_bot_data_pipeline_spark.functions.prices import parse_price_sql, parse_price_udf

    corpus = ["890", "25", "19.90", "19,90", "1990 Kc", "", "abc", None, "12.",
              "1.2.3", "€9.99", "0", "000", "31'90"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "id int, t string")
    out = df.select(
        "id",
        F.expr(parse_price_sql(SPARK, "t")).alias("native"),
        parse_price_udf()(F.col("t")).alias("udf"),
    ).collect()
    for r in out:
        assert r["native"] == r["udf"], (r["id"], corpus[r["id"]], r["native"], r["udf"])


def test_empty_relation_short_circuit(spark):
    """Reference op 44 (manual empty-input early return) is free in Spark:
    Catalyst propagates empty relations — a filter that eliminates all rows
    collapses the downstream join/agg into LocalTableScan (no scan work)."""
    from pyspark.sql import functions as F

    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMOKE, "orders").where(F.lit(False))
    li = load_table(spark, SF_SMOKE, "lineitem")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy("o_orderkey").count()
    assert joined.count() == 0
    plan = joined._sc._jvm.PythonSQLUtils.explainString(joined._jdf.queryExecution(), "simple")
    assert "LocalTableScan" in plan or "Empty" in plan


def test_udtf_matches_native(spark):
    """The Python-UDTF page fan-out must emit exactly the native
    posexplode operator's rows (same schema, same values) — the UDTF is
    the pluggable imperative shape, the native form the production path."""
    from sales_telegram_bot_data_pipeline_spark.operators.inference import synthesize_pages_udtf

    native = synthesize_pages(spark, SF_SMOKE)
    viaudtf = synthesize_pages_udtf(spark, SF_SMOKE)
    assert viaudtf.columns == native.columns
    assert sorted(map(tuple, viaudtf.collect())) == sorted(map(tuple, native.collect()))


def test_resize_images_contract(spark):
    """Resize is row-parallel 1:1 with fixed output dims and deterministic
    stub bytes; the real path is a clearly-gated NotImplementedError."""
    import pytest
    from pyspark.sql import functions as F

    from sales_telegram_bot_data_pipeline_spark.sources.binary import resize_images
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table
    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    binary = docs.select("doc_id", F.encode("text", "utf-8").alias("content"))
    out = resize_images(binary, 64, 48).collect()
    assert len(out) == 20
    want_len = 64 * 48 // 64
    assert all(r.width == 64 and r.height == 48 and r.resized_len == want_len for r in out)
    again = {r.doc_id: bytes(r.resized) for r in resize_images(binary, 64, 48).collect()}
    assert all(bytes(r.resized) == again[r.doc_id] for r in out)  # deterministic
    with pytest.raises(Exception, match="NotImplementedError|PIL|cv2"):
        resize_images(binary, 64, 48, real_decode=True).collect()


def test_sample_frames_fanout(spark):
    """Frame sampling is a 1->N generator: row count equals the sum of
    ceil(n_frames / every_n) over inputs, frame indices are the sampled
    arithmetic sequence."""
    import math

    from pyspark.sql import functions as F

    from sales_telegram_bot_data_pipeline_spark.sources.binary import (
        decode_stub,
        sample_frames,
        with_binary_metadata,
    )
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table
    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").limit(30)
    binary = docs.select("doc_id", F.encode("text", "utf-8").alias("content"))
    meta = decode_stub(with_binary_metadata(binary).select("doc_id", "content", "mime"))
    n_frames = {r.doc_id: r.n_frames for r in meta.select("doc_id", "n_frames").collect()}
    src = binary.join(meta.select("doc_id", "n_frames"), "doc_id")
    out = sample_frames(src, every_n=2).collect()
    want = sum(math.ceil(n / 2) for n in n_frames.values())
    assert len(out) == want
    for r in out:
        assert r.frame_idx % 2 == 0 and r.frame_idx < n_frames[r.doc_id]


def test_compact_dataset_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction must shrink the file count to ceil(rows/target) per
    partition, keep every row byte-identical, and be idempotent."""
    from pyspark.sql import functions as F

    from sales_telegram_bot_data_pipeline_spark.sinks.dataset import compact_dataset
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table
    from conftest import SF_SMOKE

    root = str(tmp_path / "corpus")
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "n_chars", F.expr("doc_id % 3").alias("bucket")
    )
    # fragment the real-world way: four incremental appends, each leaving
    # its own small files in every partition directory
    for i in range(4):
        docs.where(F.col("doc_id") % 4 == i).repartition(2).write.mode(
            "append"
        ).partitionBy("bucket").parquet(root)
    stats = compact_dataset(spark, root, partition_by=("bucket",), target_rows_per_file=10**6)
    assert stats["files_before"] > stats["files_after"]
    assert stats["files_after"] <= 3  # one file per partition at this size
    back = spark.read.parquet(root)
    assert back.count() == stats["rows"] == docs.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }
    again = compact_dataset(spark, root, partition_by=("bucket",), target_rows_per_file=10**6)
    assert again["files_after"] == stats["files_after"]  # idempotent


def test_schema_evolution_merge_read(spark, tmp_path):
    """Long-lived datasets accrete columns; mergeSchema reads must surface
    the union schema with NULLs for the missing side."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v1 string").write.parquet(p + "/batch=1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, v1 string, v2 double").write.parquet(
        p + "/batch=2"
    )
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert {f.name for f in df.schema.fields} >= {"id", "v1", "v2"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].v2 is None and rows[2].v2 == 9.5


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order layout: parquet footer min/max stats must let a box filter on
    EITHER clustered column skip files, where a single-column sort only
    prunes its own column.  Measured directly from the written footers —
    the same stats a 100-TB scan's file-skipping uses."""
    import pyarrow.parquet as pq

    from sales_telegram_bot_data_pipeline_spark.sinks.dataset import write_zordered
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    orders = load_table(spark, str(SF_SMOKE), "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    zdir, sdir = str(tmp_path / "zorder"), str(tmp_path / "single")
    write_zordered(orders, zdir, cols=("o_custkey", "o_totalprice"), n_files=8)
    (
        orders.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(sdir)
    )

    def file_ranges(root, col):
        out = []
        for p in sorted(os.listdir(root)):
            if not p.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, p)).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            out.append((min(los), max(his)))
        return out

    def touched(ranges, lo, hi):
        return sum(1 for a, b in ranges if not (b < lo or a > hi))

    # the box sits inside the lower half of BOTH dimensions: a box that
    # straddles a curve-split boundary (e.g. the 45-55%% band crossing the
    # top bit at 50%%) legitimately touches both sides and proves nothing
    stats = orders.agg(
        F.expr("percentile(o_custkey, array(0.20, 0.30))").alias("ck"),
        F.expr("percentile(o_totalprice, array(0.20, 0.30))").alias("tp"),
    ).first()
    (ck_lo, ck_hi), (tp_lo, tp_hi) = stats["ck"], stats["tp"]

    z_ck = touched(file_ranges(zdir, "o_custkey"), ck_lo, ck_hi)
    z_tp = touched(file_ranges(zdir, "o_totalprice"), tp_lo, tp_hi)
    s_ck = touched(file_ranges(sdir, "o_custkey"), ck_lo, ck_hi)
    s_tp = touched(file_ranges(sdir, "o_totalprice"), tp_lo, tp_hi)

    n_z = len(file_ranges(zdir, "o_custkey"))
    n_s = len(file_ranges(sdir, "o_custkey"))
    # single-column sort: its own column prunes hard, the other not at all
    assert s_ck <= n_s // 2
    assert s_tp == n_s
    # z-order: BOTH columns prune (neither box touches every file)
    assert z_ck < n_z
    assert z_tp < n_z
    # rows survive the layout rewrite
    assert spark.read.parquet(zdir).count() == orders.count()


def test_write_dataset_observed_metrics(spark, tmp_path):
    """observe() metrics ride the write job itself — values must match an
    independent count without having cost a second scan."""
    from sales_telegram_bot_data_pipeline_spark.sinks.dataset import write_dataset_observed
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, str(SF_SMOKE), "documents").select(
        "doc_id", "text", "lang"
    )
    root = str(tmp_path / "observed")
    metrics = write_dataset_observed(docs, root, partition_by=("lang",), n_shards=2)
    assert metrics["rows_written"] == docs.count()
    assert metrics["null_partition_keys"] == 0
    assert spark.read.parquet(root).count() == docs.count()


def test_audio_window_features_match_numpy(spark):
    """The Arrow-batched windowing must equal a single-node numpy
    recomputation: same window/hop arithmetic, same RMS/ZCR."""
    import numpy as np

    from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
    from sales_telegram_bot_data_pipeline_spark.sources.binary import AUDIO_HOP, AUDIO_WIN
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_id, r.window_idx): (r.n_samples, r.rms, r.zcr)
        for r in REGISTRY["audio_window_features"].fn(spark, sf).collect()
    }
    assert got
    want = {}
    for r in load_table(spark, sf, "documents").select("doc_id", "text").collect():
        content = r.text.encode()
        pcm = np.frombuffer(content[: (len(content) // 2) * 2], dtype="<i2").astype("float64") / 32768.0
        idx = 0
        for start in range(0, max(len(pcm) - AUDIO_WIN + 1, 0), AUDIO_HOP):
            w = pcm[start : start + AUDIO_WIN]
            rms = round(float(np.sqrt(np.mean(w * w))), 6)
            zcr = round(float(np.mean(np.abs(np.diff(np.signbit(w).astype("int8"))))), 6)
            want[(r.doc_id, idx)] = (len(w), rms, zcr)
            idx += 1
    assert got == want


def test_phash_packing_and_dedup_groups(spark):
    """aHash bit-packing (row-major MSB-first, signed-64 fold) must match a
    pure-python recomputation, and group sizes must be consistent."""
    import hashlib

    import numpy as np

    from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
    from sales_telegram_bot_data_pipeline_spark.sources.binary import PHASH_GRID
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["image_phash_dedup"].fn(spark, sf).collect()
    got = {r.doc_id: (r.phash, r.n_images) for r in rows}
    n_cells = PHASH_GRID * PHASH_GRID
    want_hash = {}
    for r in load_table(spark, sf, "documents").select("doc_id", "text").collect():
        digest = hashlib.md5(r.text.encode()).digest()
        grid = np.frombuffer((digest * 4)[:n_cells], dtype="uint8").astype("float64")
        bits = grid > grid.mean()
        h = 0
        for b in bits:
            h = (h << 1) | int(b)
        if h >= 1 << 63:
            h -= 1 << 64
        want_hash[r.doc_id] = h
    assert {k: v[0] for k, v in got.items()} == want_hash
    from collections import Counter

    sizes = Counter(want_hash.values())
    assert all(v[1] == sizes[v[0]] for v in got.values())


def test_jsonl_dead_letter_parks_corrupt_lines(spark, tmp_path):
    """One mangled line in a JSONL shard must not fail the scan: good rows
    parse, the corrupt line lands whole in _corrupt_record (op 45's
    per-row error isolation applied at the ingest boundary)."""
    from sales_telegram_bot_data_pipeline_spark.sources.jsonl import read_jsonl_documents

    p = tmp_path / "corpus"
    p.mkdir()
    good1 = '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s", "n_chars": 11}'
    bad = '{"doc_id": 2, "text": "unterminated'
    good2 = '{"doc_id": 3, "text": null, "lang": "cs", "source": "s", "n_chars": null}'
    (p / "part-000.json").write_text("\n".join([good1, bad, good2]) + "\n")
    df = read_jsonl_documents(spark, str(p)).collect()
    by_corrupt = {r["_corrupt_record"] is not None: r for r in df}
    assert len(df) == 3
    parsed = sorted(
        (r for r in df if r["_corrupt_record"] is None), key=lambda r: r["doc_id"]
    )
    assert [r["doc_id"] for r in parsed] == [1, 3]
    assert parsed[0]["text"] == "hello world"
    assert parsed[1]["text"] is None
    corrupt = [r for r in df if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and corrupt[0]["_corrupt_record"] == bad


def test_jsonl_roundtrip_preserves_values(spark):
    from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["jsonl_corpus_roundtrip"].fn(spark, sf).collect()
    want = (
        load_table(spark, sf, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .collect()
    )
    assert got == want


def test_csv_dead_letter_and_quoted_delimiters(spark, tmp_path):
    """A type-mangled CSV line must dead-letter, not fail the scan; a
    free-text field containing the delimiter and quotes must survive the
    writer+reader quoting contract."""
    from sales_telegram_bot_data_pipeline_spark.sources.csvsrc import read_csv_documents

    p = tmp_path / "csv_corpus"
    p.mkdir()
    good = '1,"hello, comma ""quoted"" world",en,s,23'
    bad = '2,broken,en,s,not_a_number'
    (p / "part-000.csv").write_text("\n".join([good, bad]) + "\n")
    df = read_csv_documents(spark, str(p)).collect()
    assert len(df) == 2
    parsed = [r for r in df if r["_corrupt_record"] is None]
    assert len(parsed) == 1
    assert parsed[0]["doc_id"] == 1
    assert parsed[0]["text"] == 'hello, comma "quoted" world'
    corrupt = [r for r in df if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and corrupt[0]["_corrupt_record"] == bad


def test_csv_roundtrip_preserves_values(spark):
    from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["csv_corpus_roundtrip"].fn(spark, sf).collect()
    want = (
        load_table(spark, sf, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .collect()
    )
    assert got == want


def test_arrow_ipc_roundtrip_preserves_values(spark):
    from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["arrow_ipc_corpus_roundtrip"].fn(spark, sf).collect()
    want = (
        load_table(spark, sf, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .collect()
    )
    assert got == want


def test_arrow_ipc_schema_drift_fails_loudly(spark, tmp_path):
    """A stream file whose embedded schema drifts from the declared
    contract must FAIL the decode task, never silently cast."""
    import pyarrow as pa
    import pytest as _pytest

    from sales_telegram_bot_data_pipeline_spark.sources.arrowipc import read_arrow_documents

    p = tmp_path / "arrow_corpus"
    p.mkdir()
    tbl = pa.table({"doc_id": [1], "body": ["x"]})  # wrong column name
    with pa.OSFile(str(p / "part-00000.arrows"), "wb") as sink:
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
    with _pytest.raises(Exception, match="schema drift|PYTHON"):
        read_arrow_documents(spark, str(p)).collect()


def test_arrow_ipc_type_drift_fails_loudly(spark, tmp_path):
    """Names alone are not the contract: a file with the RIGHT column
    names but drifted types (doc_id int32, n_chars double) must fail the
    decode — to_pandas would otherwise silently cast it through."""
    import pyarrow as pa
    import pytest as _pytest

    from sales_telegram_bot_data_pipeline_spark.sources.arrowipc import read_arrow_documents

    p = tmp_path / "arrow_corpus"
    p.mkdir()
    tbl = pa.table(
        {
            "doc_id": pa.array([1], pa.int32()),  # drifted: int32 not int64
            "text": ["x"],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": pa.array([1.0], pa.float64()),  # drifted: double
        }
    )
    with pa.OSFile(str(p / "part-00000.arrows"), "wb") as sink:
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
    with _pytest.raises(Exception, match="schema drift|PYTHON"):
        read_arrow_documents(spark, str(p)).collect()


def test_arrow_ipc_rewrite_clears_stale_shards(spark, tmp_path):
    """A re-run that produces FEWER partitions must not leave the prior
    run's extra part files behind for the reader to re-read (dup rows)."""
    from sales_telegram_bot_data_pipeline_spark.sources.arrowipc import (
        read_arrow_documents,
        write_documents_arrow,
    )
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "shards")
    write_documents_arrow(docs.repartition(4), path)
    write_documents_arrow(docs.repartition(1), path)  # fewer partitions
    assert read_arrow_documents(spark, path).count() == docs.count()


def test_arrow_ipc_write_is_partition_parallel(spark, tmp_path):
    """One .arrows file per non-empty partition; the write job's result
    is the bounded per-file summary."""
    import os as _os

    from sales_telegram_bot_data_pipeline_spark.sources.arrowipc import (
        read_arrow_documents,
        write_documents_arrow,
    )
    from sales_telegram_bot_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").repartition(4)
    path = str(tmp_path / "shards")
    summary = write_documents_arrow(docs, path)
    files = [f for f in _os.listdir(path) if f.endswith(".arrows")]
    assert 1 <= len(files) <= 4
    assert len(summary) == len(files)
    assert sum(r.n_rows for r in summary) == docs.count()
    assert read_arrow_documents(spark, path).count() == docs.count()
