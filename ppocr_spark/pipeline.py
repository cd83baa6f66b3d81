"""The Spark extraction pipeline (SURVEY.md §3 'Our Spark lifecycle').

Dataflow (all relational glue is Catalyst-optimizable DataFrame ops; all
pixel work lives in ONE Arrow-batched ``mapInArrow`` UDF):

    documents(doc_id, spans)
      → explode(spans)                         [generate, narrow]
      ├─ kind='text'  → vectorized normalizer  [regexp_replace/trim — JVM]
      └─ kind='media' → group span requests per payload
                                                [hash exchange on base_ref]
                      → left join payloads      [co-partitioned on base_ref]
                      → mapInArrow(ocr_udf)     [decode→det→cls→rec→
                                                 layout once per page]
      → union                                   [no shuffle]
      → groupBy(doc_id) reassembly              [salted two-phase when docs
                                                 are media-heavy (north_rule)]

The per-request status-code contract (one answer per span, never throw —
cpp/src/task.cpp:47-108) is preserved: every span row carries ``code``.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ppocr_spark import cache
from ppocr_spark.config import PPOCRConfig
from ppocr_spark.status import StatusCode

# one OCR result row (per media span) as the UDF builds it; the Spark
# schema is derived from it, so the two cannot drift apart
_OCR_RESULT_ARROW = pa.struct(
    [
        ("doc_id", pa.string()),
        ("offset", pa.int32()),
        ("media_ref", pa.string()),
        ("code", pa.int32()),
        ("text", pa.string()),
        ("boxes", pa.list_(pa.list_(pa.int32()))),
        ("texts", pa.list_(pa.string())),
        ("scores", pa.list_(pa.float32())),
        ("cls_labels", pa.list_(pa.int32())),
        ("cls_scores", pa.list_(pa.float32())),
        ("ends", pa.list_(pa.string())),
    ]
)
OCR_RESULT_SCHEMA = from_arrow_schema(pa.schema(list(_OCR_RESULT_ARROW)))

SPAN_STRUCT = "struct<kind:string,text:string,media_ref:string,order:int,code:int>"

#: K5 per-stage metric names (the reference AutoLogger's det/cls/rec
#: preprocess+infer+postprocess counters, cpp/src/paddleocr.cpp:161-237,
#: re-expressed as Spark accumulators filled inside the OCR UDF)
STAGE_KEYS = (
    "decode_ms", "det_ms", "crop_ms", "cls_ms", "rec_ms", "layout_ms",
    "ocr_spans",
)


def make_stage_metrics(spark: SparkSession) -> dict:
    """Create the K5 stage-timing accumulators. Pass the dict to
    ``extract_documents``/``ocr_media_spans``; executors add stage wall-ms
    once per distinct page OCR'd and ``ocr_spans`` once per request; the
    driver reads totals after any action via ``snapshot_stage_metrics``.
    Accumulators are the Spark-native analog of the reference's
    process-global AutoLogger — run-scoped, crossing executor boundaries
    for free.

    Semantics: AT-LEAST-ONCE, not exact. Spark guarantees exactly-once
    accumulator application only for updates inside actions; these are
    updated inside a transformation (the OCR UDF), so task retries, stage
    re-attempts, and speculative execution double-count. Treat the values
    as stage-share attribution (ratios are robust — a retried task
    inflates all stages alike), not as audited totals; exact span counts
    come from the written results (``span_count`` in the manifests), never
    from ``ocr_spans``."""
    sc = spark.sparkContext
    return {k: sc.accumulator(0.0) for k in STAGE_KEYS}


def snapshot_stage_metrics(metrics: dict | None) -> dict:
    if not metrics:
        return {}
    return {k: round(float(v.value), 3) for k, v in metrics.items()}


def _ocr_one(
    content,
    cfg: PPOCRConfig,
    page: int | None = None,
    from_base64: bool = False,
) -> dict:
    """OCR one media payload → result dict. Total function: every failure
    maps to a status code (cpp/include/task.h:13-61 taxonomy).

    ``page`` (1-based) addresses a page of a PDF payload
    (``media_ref = "...#page=N"``); the format is sniffed from the bytes
    like the reference's imread_u8 (cpp/src/task_linux.cpp:106-107).

    ``from_base64`` selects the reference's base64 error family
    (cpp/src/task.cpp:111-138): missing content (= the base64 string did
    not decode) → 300, content that decodes to no usable image → 301.

    ``cfg.rec=False`` skips cls, rec and layout: every detected box comes
    back in detection order with empty text and the reference's unset
    score -1 (its K1 text filter is rec-only, cpp/src/task.cpp:83-87)."""
    import numpy as np

    from ppocr_spark.geometry import perspective_crop
    from ppocr_spark.operators.classify import classify, maybe_rotate
    from ppocr_spark.operators.detect import detect
    from ppocr_spark.operators.layout import assemble_text, run_parser
    from ppocr_spark.operators.recognize import recognize_batch
    from ppocr_spark.png import PngError, decode, to_gray
    from ppocr_spark.sources.pdf import PdfError, decode_pdf_page, is_pdf

    from time import perf_counter

    stage_ms: dict[str, float] = {}
    empty = dict(
        text="", boxes=[], texts=[], scores=[], cls_labels=[], cls_scores=[],
        ends=[], stage_ms=stage_ms,
    )
    no_content = (
        StatusCode.BASE64_DECODE_FAIL if from_base64
        else StatusCode.PATH_NOT_EXIST
    )
    bad_image = (
        StatusCode.BASE64_IMAGE_FAIL if from_base64
        else StatusCode.PATH_READ_FAIL
    )
    if content is None:
        return {**empty, "code": int(no_content)}
    data = bytes(content)
    t0 = perf_counter()
    if is_pdf(data):
        try:
            img = decode_pdf_page(data, page if page is not None else 1)
        except PdfError:
            return {**empty, "code": int(bad_image)}
    elif page is not None and page != 1:
        # page addressing into a single-image payload
        return {**empty, "code": int(bad_image)}
    else:
        try:
            img = to_gray(decode(data))
        except PngError:
            return {**empty, "code": int(bad_image)}
    stage_ms["decode_ms"] = (perf_counter() - t0) * 1e3
    if img.size == 0:
        return {
            **empty,
            "code": int(
                StatusCode.BASE64_IMAGE_FAIL if from_base64
                else StatusCode.IMAGE_DECODE_FAIL
            ),
        }

    t0 = perf_counter()
    if cfg.det:
        quads = detect(img, cfg)
    else:
        # det disabled: whole image is one box, filled with -1 sentinels on
        # output (cpp/src/task.cpp:74-81)
        h, w = img.shape
        quads = [np.array([[0, 0], [w - 1, 0], [w - 1, h - 1], [0, h - 1]])]
    stage_ms["det_ms"] = (perf_counter() - t0) * 1e3
    if not quads:
        return {**empty, "code": int(StatusCode.NO_TEXT)}

    def corners(q) -> list:
        # det disabled: the reference emits -1 sentinel corners, not the
        # whole-page quad the crop used (cpp/src/task.cpp:74-81)
        if not cfg.det:
            return [[-1, -1]] * 4
        return [[int(x), int(y)] for x, y in q]

    if not cfg.rec:
        n = len(quads)
        boxes = [[c for p in corners(q) for c in p] for q in quads]
        return {**empty, "code": int(StatusCode.OK), "boxes": boxes,
                "texts": [""] * n, "scores": [-1.0] * n, "ends": ["\n"] * n}

    t0 = perf_counter()
    crops = [perspective_crop(img, q) for q in quads]
    stage_ms["crop_ms"] = (perf_counter() - t0) * 1e3
    cls_labels: list[int] = []
    cls_scores: list[float] = []
    if cfg.cls and cfg.use_angle_cls:
        t0 = perf_counter()
        rotated = []
        for c in crops:
            label, score = classify(c)
            cls_labels.append(label)
            cls_scores.append(score)
            rotated.append(maybe_rotate(c, label, score, cfg.cls_thresh))
        crops = rotated
        stage_ms["cls_ms"] = (perf_counter() - t0) * 1e3
    t0 = perf_counter()
    rec = recognize_batch(
        crops, img_h=cfg.rec_img_h, batch_num=cfg.rec_batch_num,
        lang=cfg.rec_lang,
    )
    stage_ms["rec_ms"] = (perf_counter() - t0) * 1e3

    # K1 filters: drop empty-text / score<=0 (cpp/src/task.cpp:83-87)
    blocks = []
    for i, (q, (txt, score)) in enumerate(zip(quads, rec)):
        if not txt or score <= 0:
            continue
        blocks.append(
            {
                "box": corners(q),
                "text": txt,
                "score": float(score),
                "cls_label": cls_labels[i] if cls_labels else None,
                "cls_score": cls_scores[i] if cls_scores else None,
            }
        )
    if not blocks:
        return {**empty, "code": int(StatusCode.NO_TEXT)}

    t0 = perf_counter()
    laid = run_parser(cfg.parser, blocks)
    out_text = assemble_text(laid)
    stage_ms["layout_ms"] = (perf_counter() - t0) * 1e3
    return {
        "code": int(StatusCode.OK),
        "text": out_text,
        "stage_ms": stage_ms,
        "boxes": [[c for p in b["box"] for c in p] for b in laid],
        "texts": [b["text"] for b in laid],
        "scores": [b["score"] for b in laid],
        "cls_labels": [b.get("cls_label") for b in laid]
        if cls_labels
        else [],
        "cls_scores": [b.get("cls_score") for b in laid]
        if cls_labels
        else [],
        "ends": [b.get("end", "\n") for b in laid],
    }


def make_grouped_ocr_udf(
    cfg: PPOCRConfig, metrics: dict | None = None, from_base64: bool = False
):
    """The OCR UDF: an Arrow-batch generator for ``mapInArrow``. Each input
    row carries ONE media payload (``content``) plus the list of span
    requests addressing it (``reqs``: doc_id/offset/media_ref/page
    structs); each distinct page of the payload is OCR'd once per row
    (decode → det → crop → cls → rec → layout), and that result answers
    every request addressing the page. The payload is never duplicated
    per span row. Output: one ``OCR_RESULT_SCHEMA`` row per request, in
    request order.

    cfg travels by closure (the broadcast analog of the reference's
    one-time engine init, cpp/src/task.cpp:243-250 — the glyph 'model
    weights' rebuild deterministically per executor and are
    process-cached). ``metrics`` (from ``make_stage_metrics``): K5
    per-stage timing accumulators, added to once per batch; stage ms
    count each OCR'd page once, ``ocr_spans`` counts requests.
    ``from_base64`` selects the base64 error family of ``_ocr_one``.

    mapInArrow, not mapInPandas: the input carries multi-MB binary image
    payloads, and pandas conversion would copy every payload into Python
    object arrays twice per batch."""

    def ocr_udf(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            totals = dict.fromkeys(STAGE_KEYS, 0.0)
            rows = []
            for reqs, content in zip(
                batch.column("reqs").to_pylist(), batch.column("content")
            ):
                c = content.as_py() if content.is_valid else None
                by_page: dict = {}  # page → its (read-only) result
                for req in reqs:
                    page = req["page"]
                    r = by_page.get(page)
                    if r is None:
                        r = by_page[page] = _ocr_one(
                            c, cfg, page=page, from_base64=from_base64
                        )
                        for k, v in r["stage_ms"].items():
                            totals[k] += v
                    totals["ocr_spans"] += 1
                    # pa.array drops the keys the struct does not declare
                    # (the request's page, the result's stage_ms)
                    rows.append({**req, **r})
            if metrics is not None:
                for k, v in totals.items():
                    if v:
                        metrics[k].add(v)
            arr = pa.array(rows, type=_OCR_RESULT_ARROW)
            yield pa.RecordBatch.from_struct_array(arr)

    return ocr_udf


# ---------------------------------------------------------------------------
# pipeline stages
# ---------------------------------------------------------------------------


def explode_spans(documents: DataFrame) -> DataFrame:
    """One row per span; offset comes from the span struct itself (dense,
    authored order), no positional dependence on array layout."""
    return documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def normalize_text_spans(spans: DataFrame, html_strip: str = "off") -> DataFrame:
    """Text branch — pure JVM expressions (whole-stage codegen, no Python):
    collapse whitespace runs, trim; empty → NO_TEXT. Mirrors
    corpus.normalize_text_span.

    ``html_strip`` (north-rule text tier): 'strip' removes markup/entities
    via the portable JVM regex chain; 'main' runs the DOM-heuristic
    main-content extractor (Arrow-batched) before normalization."""
    spans = spans.filter(F.col("kind") == "text")
    if html_strip == "strip":
        from ppocr_spark.functions.boilerplate import strip_tags_col

        norm = strip_tags_col(F.col("text"))
    elif html_strip == "main":
        from ppocr_spark.functions.boilerplate import main_content

        spans = (
            main_content(spans, html_col="text", out_col="__main")
            .drop("text")
            .withColumnRenamed("__main", "text")
        )
        norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    else:
        norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return spans.select(
        "doc_id",
        "offset",
        F.lit("text").alias("kind"),
        norm.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.when(norm == "", F.lit(int(StatusCode.NO_TEXT)))
        .otherwise(F.lit(int(StatusCode.OK)))
        .alias("code"),
    )


def media_span_ids(spans: DataFrame) -> DataFrame:
    """Slim media-span request rows: (doc_id, offset, media_ref) plus the
    join key. '#page=N' refs address one page of a PDF payload: join on
    the base ref (JVM-side split, no Python) and ship the page number to
    the UDF."""
    return spans.filter(F.col("kind") == "media").select(
        "doc_id",
        "offset",
        "media_ref",
        F.regexp_replace("media_ref", r"#page=\d+$", "").alias("base_ref"),
        F.nullif(
            F.regexp_extract("media_ref", r"#page=(\d+)$", 1), F.lit("")
        ).cast("int").alias("page"),
    )


def ocr_grouped(
    ids: DataFrame,
    payloads: DataFrame,
    cfg: PPOCRConfig,
    metrics: dict | None = None,
    n_part: int | None = None,
) -> DataFrame:
    """Group the slim span requests ``ids`` (doc_id, offset, media_ref,
    base_ref, page) per ``base_ref`` BEFORE the payload join, left-join
    ``payloads`` (base_ref, content) — missing refs keep a NULL payload →
    PATH_NOT_EXIST — and run the OCR UDF: ONE payload row serves every
    page/span addressing that media, so a PDF with 50 page spans ships its
    blob once instead of 50 times (the per-partition payload-cache design,
    SCALE.md §3b).

    ``n_part``: hash-repartition the slim request rows on base_ref to this
    count BEFORE the groupBy, so the aggregate and the join reuse that one
    exchange, which AQE cannot coalesce. (After the groupBy, the planner
    drops it whenever ``n_part`` equals ``spark.sql.shuffle.partitions``,
    leaving a coalescible exchange under the OCR stage.) ``None`` for
    inputs the storage layout already co-locates
    (``extract_documents_colocated``).
    """
    # One row per payload, not per span: this beat the per-span arm it
    # replaced in an interleaved A/B (CHANGES.md). Its cost: all spans of
    # one payload run in one task (docs_mixed: at most 10 per payload).
    if n_part:
        ids = ids.repartition(n_part, "base_ref")
    grouped = ids.groupBy("base_ref").agg(
        F.collect_list(
            F.struct("doc_id", "offset", "media_ref", "page")
        ).alias("reqs")
    )
    return (
        grouped.join(payloads, "base_ref", "left")
        .drop("base_ref")
        .mapInArrow(make_grouped_ocr_udf(cfg, metrics), schema=OCR_RESULT_SCHEMA)
    )


def ocr_media_spans(
    spans: DataFrame,
    media: DataFrame,
    cfg: PPOCRConfig,
    broadcast_media: bool = False,
    metrics: dict | None = None,
) -> DataFrame:
    """Media branch: resolve media_ref → content, then the OCR UDF
    (``ocr_grouped``). By default both join sides are hash-partitioned on
    base_ref with the same count, so the join needs no further exchange —
    the payload moves exactly once — and Spark (planner or AQE) still
    broadcasts a media side below its broadcast threshold.
    ``broadcast_media=True`` broadcasts the payload side onto the grouped
    rows instead. Partition count: one OCR task per task slot, since each
    Python task pays a fixed start-up cost before any work (SCALE.md §2)."""
    m = media.select(F.col("media_ref").alias("base_ref"), "content")
    n_part = spans.sparkSession.sparkContext.defaultParallelism
    payloads = F.broadcast(m) if broadcast_media else m.repartition(
        n_part, "base_ref"
    )
    return ocr_grouped(media_span_ids(spans), payloads, cfg, metrics, n_part)


def extract_documents_colocated(
    spark: SparkSession,
    prefix: str = "ppocr",
    cfg: PPOCRConfig | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """``extract_documents`` over the ingest-time bucket layout written by
    ``readers.write_extraction_layout``. Both media relations are
    hash-bucketed + bucket-sorted on ``base_ref`` with the same bucket
    count, so ``ocr_grouped`` without repartitions plans the ENTIRE
    pre-UDF media branch — group the span requests per payload, attach the
    payload — with ZERO Exchange: the storage layout satisfies both the
    groupBy's hash requirement and the join's co-partitioning, and the
    payload shuffle was paid once at ingest. Partition count = bucket
    count, so size buckets for the OCR stage's parallelism at ingest. The
    text branch scans its own table (no media join to co-locate). Output
    contract identical to ``extract_documents``; both pinned by
    ``tests/test_plans.py::TestColocatedExtraction``."""
    cfg = cfg or PPOCRConfig(cls=True, use_angle_cls=True)
    text_r = normalize_text_spans(
        spark.table(f"{prefix}_text_spans"), cfg.html_strip
    )
    media_r = media_results_as_spans(
        ocr_grouped(
            spark.table(f"{prefix}_media_spans"),
            spark.table(f"{prefix}_media"),
            cfg,
            metrics,
        )
    )
    return reassemble(text_r.unionByName(media_r), cfg.doc_salt_buckets)


def ocr_requests(
    requests: DataFrame,
    media: DataFrame,
    cfg: PPOCRConfig | None = None,
) -> DataFrame:
    """The reference's request loop as ONE relational plan: JSON request
    rows → per-request (req_id, task_kind, code, text), covering the full
    dispatch taxonomy (cpp/src/task.cpp:111-212):

      unparseable JSON → 200 · no/ambiguous task key → 201 · exit → 100
      path + missing media → 202 · path + bad payload → 203/204
      invalid base64 → 300 · base64 decodes, image doesn't → 301

    ``requests`` needs (req_id, request). Envelope errors short-circuit
    before any OCR work (the rows never reach the UDF); path and base64
    tasks run through the SAME OCR UDF, built per source to select the
    error family."""
    from ppocr_spark.sources.readers import (
        decode_base64_requests,
        parse_request_json,
    )

    cfg = cfg or PPOCRConfig()
    # track: three union branches reuse `parsed` (non-identical subtrees,
    # so ReusedExchange can't help); cache.release_all() frees it after
    # the consuming action instead of leaking into CacheManager
    parsed = cache.track(parse_request_json(requests))
    # envelope errors + exit: answered without touching media or the UDF
    envelope = parsed.filter(
        (F.col("code") != int(StatusCode.OK))
        | (F.col("task_kind") == "exit")
    ).select("req_id", "task_kind", "code", F.lit("").alias("text"))

    def run_ocr(df: DataFrame, kind: str) -> DataFrame:
        # one request per payload row: a list of length one
        req = F.struct(
            F.col("req_id").alias("doc_id"),
            F.lit(0).alias("offset"),
            F.col("payload").alias("media_ref"),
            F.lit(None).cast("int").alias("page"),
        )
        return df.select(F.array(req).alias("reqs"), "content").mapInArrow(
            make_grouped_ocr_udf(cfg, from_base64=kind == "base64"),
            schema=OCR_RESULT_SCHEMA,
        ).select(
            F.col("doc_id").alias("req_id"),
            F.lit(kind).alias("task_kind"),
            "code",
            "text",
        )

    paths = parsed.filter(
        (F.col("code") == int(StatusCode.OK)) & (F.col("task_kind") == "path")
    ).join(
        F.broadcast(
            media.select(F.col("media_ref").alias("payload"), "content")
        ),
        "payload",
        "left",
    )
    b64 = decode_base64_requests(
        parsed.filter(
            (F.col("code") == int(StatusCode.OK))
            & (F.col("task_kind") == "base64")
        )
    )
    return envelope.unionByName(run_ocr(paths, "path")).unionByName(
        run_ocr(b64, "base64")
    )


def media_results_as_spans(ocr: DataFrame) -> DataFrame:
    return ocr.select(
        "doc_id",
        "offset",
        F.lit("media").alias("kind"),
        "text",
        "media_ref",
        "code",
    )


def reassemble(spans: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Reassemble per-document span sequences in original order.

    salt_buckets > 1 → two-phase salted aggregation: partial collect under
    (doc_id, hash(offset) % salt) then final merge — spreads a media-heavy
    document (the 1% 50-200-span skew tail; north_rule salting requirement)
    across `salt` reducers in the wide first stage so no single reducer
    owns a whole hot document."""
    span_struct = F.struct(
        F.col("kind"),
        F.col("text"),
        F.col("media_ref"),
        F.col("offset").alias("order"),
        F.col("code"),
    )
    if salt_buckets and salt_buckets > 1:
        partial = (
            spans.withColumn(
                "salt", F.pmod(F.hash("offset"), F.lit(salt_buckets))
            )
            .groupBy("doc_id", "salt")
            .agg(F.collect_list(span_struct).alias("part"))
        )
        merged = partial.groupBy("doc_id").agg(
            F.flatten(F.collect_list("part")).alias("spans")
        )
    else:
        # plain collect_list, like the salted branch: the struct-field
        # array_sort that used to sit here was pure waste — the output
        # contract re-sorts by `order` immediately below
        merged = spans.groupBy("doc_id").agg(
            F.collect_list(span_struct).alias("spans")
        )
    # collect order is shuffle-arbitrary — sort by `order` for the
    # output contract (both branches)
    return merged.select(
        "doc_id",
        F.expr(
            "array_sort(spans, (a, b) -> case when a.order < b.order then -1 "
            "when a.order > b.order then 1 else 0 end)"
        ).alias("spans"),
    )


def extract_documents(
    documents: DataFrame,
    media: DataFrame,
    cfg: PPOCRConfig | None = None,
    broadcast_media: bool = False,
    metrics: dict | None = None,
) -> DataFrame:
    """Full pipeline: documents + media → RESULTS (doc_id, spans with
    (kind, text, media_ref, order, code)) — the span-sequence-equality
    surface (BASELINE.json). ``broadcast_media``: see
    ``ocr_media_spans``. ``metrics``: K5 stage accumulators
    (make_stage_metrics), filled when the result is materialized."""
    cfg = cfg or PPOCRConfig(cls=True, use_angle_cls=True)
    spans = explode_spans(documents)
    text_r = normalize_text_spans(spans, cfg.html_strip)
    media_r = media_results_as_spans(
        ocr_media_spans(spans, media, cfg, broadcast_media, metrics)
    )
    return reassemble(text_r.unionByName(media_r), cfg.doc_salt_buckets)


def ocr_blocks(
    documents: DataFrame,
    media: DataFrame,
    cfg: PPOCRConfig | None = None,
    broadcast_media: bool = False,
) -> DataFrame:
    """Per-box result records — the reference's K1 JSON payload as typed
    columns: one row per text block with (box 4x2, text, score, cls_*, end)
    (cpp/src/task.cpp:61-108, cpp/include/utility.h:36-43)."""
    cfg = cfg or PPOCRConfig(cls=True, use_angle_cls=True)
    spans = explode_spans(documents)
    ocr = ocr_media_spans(spans, media, cfg, broadcast_media)
    n = F.col("pos")
    return (
        ocr.filter(F.col("code") == int(StatusCode.OK))
        .select(
            "doc_id",
            "offset",
            "media_ref",
            F.posexplode(
                F.arrays_zip("boxes", "texts", "scores", "ends")
            ).alias("pos", "blk"),
        )
        .select(
            "doc_id",
            "offset",
            "media_ref",
            n.alias("block_idx"),
            F.expr(
                "transform(sequence(0, 3), i -> "
                "array(blk.boxes[i*2], blk.boxes[i*2+1]))"
            ).alias("box"),
            F.col("blk.texts").alias("text"),
            F.col("blk.scores").alias("score"),
            F.col("blk.ends").alias("end"),
        )
    )


def warm_workers(spark: SparkSession, partitions: int | None = None) -> int:
    """Initialize every Python worker: import the engine and build the
    glyph 'model weights' (the executor-singleton load the reference does
    once per process, cpp/src/task.cpp:243-250). Run before timing
    throughput — steady-state workers are what a long 100 TB job sees."""

    def init(batches):
        from ppocr_spark.font import template_stack

        template_stack()
        for pdf in batches:
            yield pdf[:0]

    par = partitions or spark.sparkContext.defaultParallelism * 2
    spark.range(par * 4, numPartitions=par).selectExpr(
        "cast(id as long) as id"
    ).mapInPandas(init, schema="id long").count()
    return par


def build_session(
    app: str = "ppocr-spark",
    cores: int | None = None,
    cfg: PPOCRConfig | None = None,
) -> SparkSession:
    """local[N] session tuned per SURVEY.md §4: AQE on (runtime shuffle
    re-plan + skew-join splitting), bounded Arrow batches (the engine's
    inference-batch analog), shuffle partitions sized to the core count."""
    import os

    cfg = cfg or PPOCRConfig()
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # worker-process memory hygiene: MB-sized numpy temporaries must reuse
    # heap instead of mmap/munmap per call (kernel page-zeroing serializes
    # across 32 workers and caps scaling), and BLAS must not oversubscribe
    # (each worker is already one core's worth of parallelism)
    worker_env = {
        "MALLOC_MMAP_THRESHOLD_": "268435456",
        "MALLOC_TRIM_THRESHOLD_": "268435456",
        "MALLOC_ARENA_MAX": "2",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(worker_env)  # local mode: workers inherit driver env
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
    )
    for k, v in worker_env.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    return (
        builder
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(cfg.arrow_batch_rows))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
