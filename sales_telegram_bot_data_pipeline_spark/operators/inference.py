"""External-inference pipeline operators (reference ops 3, 8-14, 41, 43-45):
the whole of DAG #1 (dags/data_pipeline.py:35-150) as ONE declarative Spark
job — page rows → model-1 detections → pad/clamp → nested detections table →
model-2 + OCR → class pivot (last-wins) → price/name processing → wide
``detected_data`` records.  Everything after the model-2 detection feed is
the SQL tail ``pipeline_native._wide_sql``, which ``detected_data_native``
runs over its native detection feed: the two pipelines share one tail.

The reference runs this as 4 Airflow tasks with stringly-typed XCom
boundaries, a serial per-image loop, and one HTTP round-trip per image per
model (yolo_ocr_utils.py:82-103).  Here each model pass is a ``mapInPandas``
over Arrow batches — at scale the UDF batches requests to the inference
service per partition (connection reuse, in-flight pipelining), and
partitioning gives per-image parallelism for free.

The model server is STUBBED with a deterministic md5-driven fake (this
container has no YOLO/OCR service); the Spark-side plumbing — schemas, batch
shapes, explode, error isolation — is real.  Round 8 adds the HTTP client
itself: set ``SPARK_GRAFT_INFER_ENDPOINT`` (or pass ``endpoint=``) and
``stub_detect`` POSTs metadata batches of ``INFER_HTTP_BATCH`` records to
the endpoint with bounded exponential-backoff retry and whole-chunk
dead-lettering on final failure — ``tests/test_inference_http.py`` drives
it against a real localhost socket (echo server sharing
``_synth_detections``), pinning HTTP/stub parity, the retry path, and the
dead-letter path.

Error isolation (op 45): per-row try/except inside the UDF emits an ``error``
column (dead-letter pattern) instead of the reference's per-image log-and-
continue (and fixes its unbound ``whole_image_text`` NameError on OCR
failure, data_pipeline.py:101-130).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.prices import SHOPS
from ..registry import register
from ..sources.tables import load_table

MODEL2_CLASSES = ("item_name", "item_price", "item_member_price", "item_initial_price")

# The engine's stand-in for the reference's STATIC vocabulary file
# (data_pipeline.py:25-33 reads vocabulary.txt once and builds the trie):
# the stub OCR draws item-name words from this list, and the pipeline's
# segmentation trie (op 20 wiring) is built from the same list.
ITEM_NAME_VOCAB = ["mleko", "jogurt", "cerstve", "smetanovy", "florian", "sparkline"]

DETECTION_SCHEMA = (
    "image_id string, shop_name string, width int, height int, det_idx int, "
    "class_name string, x1 int, y1 int, x2 int, y2 int, "
    "confidence double, ocr_text string, error string"
)


def _h(s: str) -> int:
    """Stable 60-bit content hash (NOT Python hash(), which is seeded)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _fake_ocr(seed: int, class_name: str) -> str:
    """Deterministic OCR-ish text per class — price classes produce strings
    the parser suite handles; names produce vocabulary-ish words."""
    if class_name == "item_name":
        words = ITEM_NAME_VOCAB
        return " ".join(words[(seed >> k) % len(words)] for k in (0, 5, 9))
    n = seed % 5
    whole, cents = 5 + seed % 495, seed % 100
    if n == 0:
        return f"{whole}.{cents:02d}"
    if n == 1:
        return f"{whole}{cents:02d}"  # implied cents
    if n == 2:
        return f"{whole},{cents:02d}"
    if n == 3:
        return f"{whole}.{cents:02d} {whole + 5}.90"
    return f"{whole} {90 if seed % 2 else 99}"


PAGE_MOD = 3  # each source document rasterizes to 1 + (pk % PAGE_MOD) pages


def synthesize_pages(
    spark: SparkSession, sf_dir: str, max_partkey: int | None = None
) -> DataFrame:
    """op 3: the PDF → pages fan-out as a real 1→N explode — one source
    document (part row) emits 1 + (pk % PAGE_MOD) page rows, with the page
    number both a lineage column and embedded in the reference's filename
    scheme ``{base}_page_{i}.png`` (pdf_utils.py:47-61 emits one file per
    rasterized page).

    ``max_partkey`` bounds the source deterministically (p_partkey is
    1-based and dense at every SF) — a predicate the scan pushes down,
    for probes that need a fixed small page set without a global sort."""
    part = load_table(spark, sf_dir, "part")
    if max_partkey is not None:
        part = part.where(F.col("p_partkey") <= max_partkey)
    shop_arr = F.array(*[F.lit(s) for s in SHOPS])
    n_pages = (F.lit(1) + F.col("p_partkey") % PAGE_MOD).cast("int")
    return part.select(
        "p_partkey",
        F.posexplode(F.sequence(F.lit(1), n_pages)).alias("pos", "page_num"),
    ).select(
        F.concat(
            F.lit("pages/valid/part_"), "p_partkey", F.lit("_page_"), "page_num", F.lit(".png")
        ).alias("image_id"),
        F.element_at(shop_arr, (F.col("p_partkey") % len(SHOPS)).cast("int") + 1).alias("shop_name"),
        (F.lit(640) + F.col("p_partkey") % 640).cast("int").alias("width"),
        (F.lit(480) + F.col("p_partkey") % 480).cast("int").alias("height"),
        F.col("page_num").cast("int").alias("page_num"),
    )


def synthesize_pages_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same op-3 fan-out as a Python UDTF (Spark 4 user-defined TABLE
    function) — the generator shape of the reference's pdf_to_pages loop
    (pdf_utils.py:47-61: ``for i, page in enumerate(pages): yield file``)
    expressed directly: ``eval`` yields one row per rasterized page.

    The native ``synthesize_pages`` (posexplode) is the production path —
    whole-stage codegen, no Python — and ``test_udtf_matches_native``
    pins this twin to it row-for-row.  The UDTF form is here because a
    REAL rasterizer is imperative Python (pdf2image), and this is the
    operator shape it plugs into: swap the arithmetic stub inside
    ``eval`` for the real page loop and the plan is unchanged."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="image_id string, shop_name string, width int, height int, page_num int")
    class ExplodePages:
        def eval(self, p_partkey: int):
            n = 1 + p_partkey % PAGE_MOD
            for i in range(1, n + 1):
                yield (
                    f"pages/valid/part_{p_partkey}_page_{i}.png",
                    SHOPS[p_partkey % len(SHOPS)],
                    640 + p_partkey % 640,
                    480 + p_partkey % 480,
                    i,
                )

    spark.udtf.register("sales_telegram_bot_data_pipeline_explode_pages", ExplodePages)
    return spark.sql(
        "SELECT t.* FROM {part} p, "
        "LATERAL sales_telegram_bot_data_pipeline_explode_pages(p.p_partkey) t",
        part=load_table(spark, sf_dir, "part").select("p_partkey"),
    )


_DET_COLS = [c.split(" ")[0] for c in DETECTION_SCHEMA.split(", ")]

# HTTP inference-client knobs (round-7 verdict task 6): records per POST —
# the batching contract a live model server sees — plus bounded
# exponential-backoff retry before the whole chunk dead-letters.
INFER_HTTP_BATCH = 64
INFER_HTTP_RETRIES = 3
INFER_HTTP_BACKOFF_S = 0.05
INFER_HTTP_TIMEOUT_S = 10.0


def _synth_detections(
    image_id: str,
    shop_name: str,
    width: int,
    height: int,
    model: str,
    include_ocr: bool,
) -> list[dict]:
    """Deterministic md5-driven detection synthesis for ONE image — the
    single source of truth shared by the in-process stub batch fn and the
    test echo server standing in for the model endpoint, so HTTP/stub
    parity is checkable row-for-row."""
    classes = ("shop_item",) if model == "model1" else MODEL2_CLASSES
    rows = []
    det_idx = 0
    for cls in classes:
        seed = _h(f"{image_id}|{model}|{cls}")
        for k in range(seed % 3):  # 0-2 detections per class
            s2 = _h(f"{image_id}|{cls}|{k}")
            x1 = s2 % max(width - 40, 1)
            y1 = (s2 >> 8) % max(height - 40, 1)
            rows.append(
                {
                    "image_id": image_id,
                    "shop_name": shop_name,
                    "width": width,
                    "height": height,
                    "det_idx": det_idx,
                    "class_name": cls,
                    "x1": x1,
                    "y1": y1,
                    "x2": min(x1 + 40 + s2 % 200, width),
                    "y2": min(y1 + 40 + (s2 >> 4) % 120, height),
                    "confidence": 0.5 + (s2 % 50) / 100.0,
                    "ocr_text": _fake_ocr(s2, cls) if include_ocr else None,
                    "error": None,
                }
            )
            det_idx += 1
    return rows


def _dead_letter_row(image_id, shop_name, exc: BaseException) -> dict:
    return {
        "image_id": image_id,
        "shop_name": shop_name,
        "width": None, "height": None, "det_idx": None,
        "class_name": None, "x1": None, "y1": None,
        "x2": None, "y2": None, "confidence": None,
        "ocr_text": None, "error": f"{type(exc).__name__}: {exc}",
    }


def stub_detect(
    df: DataFrame,
    model: str,
    include_ocr: bool = False,
    endpoint: str | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """ops 8/11/12: one engine operator, parameterized (model1 vs model2 +
    OCR) — the reference's run_yolo_on_pages config surface (§3.3), with the
    ``padding`` parameter actually honored downstream (the reference ignores
    it, yolo_ocr_utils.py:61,124-126).

    The inference stage owns its parallelism: page rows are tiny metadata
    (~50 B), so a round-robin repartition to the cluster's default
    parallelism costs a negligible shuffle but fans the expensive per-image
    model pass out across every core — without it the stage inherits the
    scan's partitioning (a single-row-group parquet = ONE task doing all
    the Python work).  At 100 TB the same holds: inference throughput is
    governed by this width, not by the upstream file layout.

    ``endpoint`` (or ``$SPARK_GRAFT_INFER_ENDPOINT``) switches the batch fn
    from the in-process stub to a real HTTP client: JSON POSTs of
    ``INFER_HTTP_BATCH`` image-metadata records (connection per chunk,
    stdlib urllib — no extra deps on executors), ``INFER_HTTP_RETRIES``
    attempts with exponential backoff, and whole-chunk dead-letter rows
    (op 45 pattern) when every attempt fails — a partial outage yields
    per-image error rows downstream can route, never a dead job."""
    import os

    endpoint = endpoint or os.environ.get("SPARK_GRAFT_INFER_ENDPOINT") or None
    # parallelism override: production leaves it None (full cluster width);
    # bounded probes pass a small width so a 96-row input doesn't fan out
    # one Python worker per core for sub-millisecond tasks
    df = df.repartition(
        parallelism or df.sparkSession.sparkContext.defaultParallelism
    )

    def _stub_infer_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                try:
                    rows.extend(
                        _synth_detections(
                            rec.image_id, rec.shop_name, rec.width, rec.height,
                            model, include_ocr,
                        )
                    )
                except Exception as e:  # op 45: dead-letter, don't kill the batch
                    rows.append(
                        _dead_letter_row(
                            getattr(rec, "image_id", None),
                            getattr(rec, "shop_name", None),
                            e,
                        )
                    )
            yield pd.DataFrame(rows, columns=_DET_COLS)

    def _http_infer_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json
        import time
        import urllib.request

        for pdf in batches:
            rows: list[dict] = []
            recs = pdf.to_dict("records")
            for i in range(0, len(recs), INFER_HTTP_BATCH):
                chunk = recs[i : i + INFER_HTTP_BATCH]
                try:
                    payload = json.dumps(
                        {"model": model, "include_ocr": include_ocr, "images": chunk},
                        default=int,  # numpy ints from Arrow
                    ).encode()
                except Exception as e:
                    # op-45 contract: a non-serializable record dead-letters
                    # its chunk, it never kills the job (review fix: dumps
                    # sat outside the guard)
                    rows.extend(
                        _dead_letter_row(r.get("image_id"), r.get("shop_name"), e)
                        for r in chunk
                    )
                    continue
                last_err: BaseException | None = None
                for attempt in range(INFER_HTTP_RETRIES):
                    try:
                        req = urllib.request.Request(
                            endpoint,
                            data=payload,
                            headers={"Content-Type": "application/json"},
                        )
                        with urllib.request.urlopen(
                            req, timeout=INFER_HTTP_TIMEOUT_S
                        ) as resp:
                            rows.extend(json.loads(resp.read()))
                        last_err = None
                        break
                    except Exception as e:
                        last_err = e
                        if attempt < INFER_HTTP_RETRIES - 1:
                            time.sleep(INFER_HTTP_BACKOFF_S * (2 ** attempt))
                if last_err is not None:  # chunk exhausted its retries
                    rows.extend(
                        _dead_letter_row(r.get("image_id"), r.get("shop_name"), last_err)
                        for r in chunk
                    )
            yield pd.DataFrame(rows, columns=_DET_COLS)

    fn = _http_infer_batch if endpoint else _stub_infer_batch
    return df.mapInPandas(fn, schema=DETECTION_SCHEMA)


def pad_clamp(df: DataFrame, padding: float = 0.10) -> DataFrame:
    """op 9: grow the box by ``padding`` per side, clamp to image bounds —
    pure column arithmetic (reference hardcodes 10%, yolo_ocr_utils.py:124-132)."""
    pw = ((F.col("x2") - F.col("x1")) * padding).cast("int")
    ph = ((F.col("y2") - F.col("y1")) * padding).cast("int")
    return (
        df.withColumn("px1", F.greatest(F.lit(0), F.col("x1") - pw))
        .withColumn("py1", F.greatest(F.lit(0), F.col("y1") - ph))
        .withColumn("px2", F.least(F.col("width"), F.col("x2") + pw))
        .withColumn("py2", F.least(F.col("height"), F.col("y2") + ph))
    )


def group_detections(df: DataFrame) -> DataFrame:
    """op 13: fold per-image detections into map<class, list<struct>> (the
    item_detection_data / item_processing_data shape, README.md:124-183)."""
    det = F.struct(
        F.struct("px1", "py1", "px2", "py2").alias("bounding_box"),
        F.col("class_name"),
        F.col("confidence"),
        F.col("ocr_text"),
    )
    per_class = (
        df.groupBy("image_id", "class_name")
        .agg(F.sort_array(F.collect_list(F.struct(F.col("det_idx"), det.alias("d")))).alias("ds"))
        .select("image_id", "class_name", F.col("ds.d").alias("dets"))
    )
    return (
        per_class.groupBy("image_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("class_name", "dets"))).alias("detections"))
    )


def _det2_feed_view(spark: SparkSession, sf_dir: str) -> str:
    """The padded model2+OCR detection feed as a STORED session view —
    the reference's DAG #1 runs inference once per image batch and every
    downstream task reads the resulting detection records (r9 verdict
    task 4: the two capstone bench heads were re-synthesizing this feed
    per run).  Generation itself stays live-measured by
    ``nested_detections_table`` (the model1 twin of the same
    pages → stub_detect → pad_clamp chain)."""
    from ..session import session_view

    def build():
        pages = synthesize_pages(spark, sf_dir)
        det2 = stub_detect(pages, model="model2", include_ocr=True)
        return pad_clamp(det2.where(F.col("error").isNull()))

    return session_view(spark, sf_dir, "det2feed", build)


def detected_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DAG #1 tail: wide detected_data records (FIXTURES.md §B5
    shape, typed NULLs instead of the reference's str(None) — op 42 not
    reproduced).  The same SQL tail as ``detected_data_native``
    (``pipeline_native._wide_sql``: gated price context → scalar
    dispatch → last-wins pivot) over the mapInPandas detection feed.
    Deviation (documented): ``processed_item_name`` is ``lower(item_name)``
    here; the full reference composition (op 20 process_single_word,
    data_pipeline.py:113-115) is wired into detected_data_pipeline, which
    routes this column through the broadcast-trie DP segmenter."""
    from ..functions.dialect import SPARK, strip_order_by
    from .pipeline_native import _wide_sql

    det2 = _det2_feed_view(spark, sf_dir)
    return spark.sql(
        strip_order_by(_wide_sql(SPARK, "unused", detections_rel=f"SELECT * FROM {det2}"))
    )


# op-20 trie: build-once-per-application broadcast of the static item
# vocabulary (the reference reads vocabulary.txt once per DAG run,
# data_pipeline.py:25-33) — repeated pipeline runs in a session reuse it.
def _item_trie_bc(spark: SparkSession):
    from ..functions.broadcast_cache import broadcast_once
    from .segmentation import build_vocab_trie

    return broadcast_once(
        spark, "item_trie", (), lambda: build_vocab_trie(ITEM_NAME_VOCAB)
    )


@register(
    "detected_data_pipeline",
    oracle=None,  # mapInPandas inference stubs → rows-only driver check
    doc="Reference DAG #1 end-to-end (ops 3, 8-14, 16-18, 20, 41, 43-45): "
    "synthesized pages → stubbed model2+OCR mapInPandas → pad/clamp → "
    "last-wins pivot → price dispatcher → processed_item_name via the "
    "reference's process_single_word composition (preprocess_text → "
    "space-strip → broadcast-trie DP segmentation, data_pipeline.py:113-115 "
    "→ correct_names.py:117-143; hunspell off) → wide detected_data records "
    "with typed NULLs.",
    tags=("udf", "pipeline", "inference"),
)
def detected_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalize_col
    from .segmentation import segment_column

    wide = detected_data(spark, sf_dir)
    out_cols = wide.columns  # preserve the native twin's column order
    # The wide relation feeds BOTH the distinct-name branch and the join
    # probe side; without a materialization point the stubbed-inference
    # mapInPandas pipeline above would execute twice (measured: +35% at
    # sf0.1).  localCheckpoint is the natural break — the reference also
    # materializes detected_data at this point (its DynamoDB sink,
    # data_pipeline.py:143).
    wide = wide.withColumn("__norm_name", normalize_col("item_name")).localCheckpoint(
        eager=False
    )
    # Scale shape: product names repeat heavily (price-tag text draws from
    # a bounded product vocabulary), so the trie-DP segmenter runs once per
    # DISTINCT normalized name — O(distinct names) Python-UDF invocations —
    # and the results equi-join back, instead of segmenting every wide
    # record (O(records) at 100 TB).  The distinct-name relation is
    # vocabulary-bounded, so the join broadcasts under the same O(model)
    # contract as the trie itself; the per-batch memo inside segment_column
    # still covers the within-batch repeats of the distinct scan.
    names = wide.select("__norm_name").where(F.col("__norm_name").isNotNull()).distinct()
    seg = segment_column(
        spark, names, "__norm_name", "__seg_name", [], trie_bc=_item_trie_bc(spark)
    )
    return (
        wide.drop("processed_item_name")
        .join(F.broadcast(seg), "__norm_name", "left")
        .withColumnRenamed("__seg_name", "processed_item_name")
        .select(*out_cols)
        .orderBy("image_id")
    )


@register(
    "nested_detections_table",
    oracle=None,  # map<class, list<struct>> shape → rows-only driver check
    doc="Reference op 13 nesting agg end-to-end: stubbed model1 detections "
    "folded to map<class_name, list<struct<bounding_box, class_name, "
    "confidence, ocr_text>>> (item_detection_data shape).",
    tags=("udf", "nested", "inference"),
)
def nested_detections_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synthesize_pages(spark, sf_dir)
    det1 = pad_clamp(stub_detect(pages, model="model1").where(F.col("error").isNull()))
    return (
        group_detections(det1)
        .select("image_id", F.map_keys("detections").alias("classes"), "detections")
        .orderBy("image_id")
    )


# --------------------------------------------------------------------------
# HTTP inference-client integration probe (VERDICT r8 task 6)
# --------------------------------------------------------------------------
def _start_echo_server(fail_first: bool = False):
    """In-process HTTP echo model server for the integration probe: computes
    detections with the SAME ``_synth_detections`` as the in-process stub
    (so HTTP output must equal stub output row-for-row), optionally 500-ing
    the FIRST attempt of every distinct payload to force the client's
    retry path.  Returns (httpd, url); caller must ``shutdown()``.

    Mirrors tests/test_inference_http.py's fixture — duplicated here (60
    lines of stdlib) because the engine package must not import from
    tests/."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    seen: set[str] = set()
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802  (stdlib API name)
            body = self.rfile.read(int(self.headers["Content-Length"]))
            req = json.loads(body)
            with lock:
                key = json.dumps(req, sort_keys=True)
                first_time = key not in seen
                seen.add(key)
            if fail_first and first_time:
                self.send_response(500)
                self.end_headers()
                self.wfile.write(b"transient")
                return
            rows = []
            for img in req["images"]:
                rows.extend(
                    _synth_detections(
                        img["image_id"], img["shop_name"], img["width"],
                        img["height"], req["model"], req["include_ocr"],
                    )
                )
            out = json.dumps(rows).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):  # keep driver output clean
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd, f"http://127.0.0.1:{httpd.server_address[1]}/infer"


ECHO_MAIN_IMAGES = 90  # > INFER_HTTP_BATCH so per-partition chunking happens
ECHO_DEAD_IMAGES = 6  # routed to an unroutable endpoint in HTTP mode


@register(
    "inference_http_echo",
    oracle=None,  # live-socket integration probe → rows-only driver check
    doc="Standing registry evidence for the HTTP inference client's "
    "retry and dead-letter paths (VERDICT r8 task 6; pytest twin: "
    "test_inference_http.py). With SPARK_GRAFT_HTTP_TEST=1 it runs the "
    "mapInPandas HTTP path against an in-process echo server that 500s "
    "every first attempt (retry must heal it; parity vs the stub is "
    "counted Spark-side via exceptAll, never collected) plus a 6-image "
    "leg against an unroutable endpoint (each image must dead-letter, "
    "the job must survive). Without the flag both legs run the stub "
    "path, so driver artifacts are unaffected: 2 summary rows either "
    "way, fixed schema.",
    tags=("udf", "inference", "http", "audit"),
)
def inference_http_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    live = os.environ.get("SPARK_GRAFT_HTTP_TEST") == "1"
    # 48 parts explode to exactly 96 pages (48 + sum(pk % 3)); the
    # partkey bound is pushed into the scan, so the probe never touches
    # the rest of the table and the orderBy sorts 96 rows, not the corpus
    pages = synthesize_pages(spark, sf_dir, max_partkey=48).orderBy("image_id")
    main_pages = pages.limit(ECHO_MAIN_IMAGES)
    dead_pages = pages.limit(ECHO_MAIN_IMAGES + ECHO_DEAD_IMAGES).subtract(main_pages)

    httpd = None
    try:
        if live:
            httpd, url = _start_echo_server(fail_first=True)
            main = stub_detect(main_pages, "model2", include_ocr=True, endpoint=url,
                               parallelism=8)
            dead = stub_detect(dead_pages, "model2",
                               endpoint="http://127.0.0.1:1/x", parallelism=8)
            # the parity twin only exists in live mode: in stub mode `main`
            # IS the stub path, so the comparison would re-run the same
            # code against itself (measured ~8 s of pure Python-stage
            # duplication per bench run for a guaranteed 0)
            stub_twin = stub_detect(
                main_pages, "model2", include_ocr=True, parallelism=8
            ).localCheckpoint()
        else:
            main = stub_detect(main_pages, "model2", include_ocr=True, parallelism=8)
            dead = stub_detect(dead_pages, "model2", parallelism=8)
            stub_twin = None
        # force execution while the echo server is alive: the returned
        # DataFrame is collected by the driver LATER, when the socket is
        # gone — localCheckpoint (eager) pins the rows now
        main = main.localCheckpoint()
        dead = dead.localCheckpoint()
    finally:
        if httpd is not None:
            httpd.shutdown()
            httpd.server_close()

    def leg(name: str, det: DataFrame, twin: DataFrame | None) -> DataFrame:
        mismatch = (
            twin.exceptAll(det).unionAll(det.exceptAll(twin)).count()
            if twin is not None
            else 0
        )
        return det.agg(
            F.lit(name).alias("leg"),
            F.lit("http" if live else "stub").alias("mode"),
            F.count_distinct("image_id").cast("long").alias("n_images"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count("error").alias("n_error_rows"),
            F.lit(mismatch).cast("long").alias("n_mismatch_vs_stub"),
        )

    # parity twin comparison only for the main leg (the dead leg's whole
    # point is to differ: every row an error row in HTTP mode)
    return leg("main", main, stub_twin).unionAll(leg("dead_letter", dead, None))
