"""Structured Streaming front-end.

The reference has NO streaming abstraction — its pipe loop is a strictly
sequential RPC (docs/详细使用指南.md:252-256), so this module is beyond
capability parity: it lets the same extraction pipeline run continuously
over an arriving-files documents feed with exactly-once sink semantics.

Design: ``readStream`` on the documents directory → ``foreachBatch`` running
the identical batch pipeline (`extract_documents`) per micro-batch. The
foreachBatch bridge (not a fully streaming DAG) is deliberate: the OCR UDF
is stateless per span, event-time/watermark semantics add nothing to the
reference's contract, and foreachBatch keeps one code path for batch and
streaming (same plan, same tests). Checkpointing gives resume-on-kill at
micro-batch granularity, complementing the bucket manifests of the batch
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ppocr_spark.config import PPOCRConfig
from ppocr_spark.schemas import DOCUMENTS


def process_extract_batch(
    batch_df: DataFrame,
    batch_id: int,
    media: DataFrame,
    out_dir: str,
    cfg: PPOCRConfig,
    broadcast_media: bool = True,
) -> None:
    """One idempotent micro-batch: run the batch pipeline and atomically
    REPLACE this batch's ``batch_id=N`` partition (dynamic partition
    overwrite) — a retried batch converges to exactly one copy instead of
    appending a second (the same idempotence device as the bucket-resume
    path, checkpoint.py). Module-level so the retry semantics are
    directly testable outside a StreamingQuery."""
    from pyspark.sql import functions as F

    from ppocr_spark.pipeline import extract_documents

    if batch_df.isEmpty():
        return
    result = extract_documents(
        batch_df, media, cfg, broadcast_media
    ).withColumn("batch_id", F.lit(batch_id))
    result.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(out_dir)


def stream_extract(
    spark: SparkSession,
    documents_dir: str,
    media: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PPOCRConfig | None = None,
    available_now: bool = True,
    broadcast_media: bool = True,
):
    """Start (or drain, with available_now) a streaming extraction.

    Returns the StreamingQuery. Each micro-batch runs the batch pipeline
    and writes to ``out_dir`` (parquet) partitioned by ``batch_id`` with
    dynamic partition overwrite; offsets live in ``checkpoint_dir`` so a
    restarted query resumes at the next batch.

    Exactly-once: foreachBatch alone is only at-least-once — a failure
    after a partial append followed by the micro-batch retry would append
    a second copy. Here a retried batch atomically REPLACES its own
    ``batch_id=N`` partition directory instead of appending (the same
    dynamic-partition-overwrite idempotence the batch checkpoint path
    uses, checkpoint.py), so retries converge to one copy per batch."""
    cfg = cfg or PPOCRConfig(cls=True, use_angle_cls=True)

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", 8)
        .parquet(documents_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_extract_batch(
            batch_df, batch_id, media, out_dir, cfg, broadcast_media
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_span_metrics(
    spark: SparkSession,
    documents_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    available_now: bool = True,
):
    """Fully-streaming DAG (no foreachBatch): per-window span-arrival
    metrics with event-time + watermark late-data handling — the
    Structured-Streaming operator family (windowed stateful aggregation)
    exercised end to end.

    Documents arriving as files carry an ``ingest_ts`` column (event
    time); the query maintains tumbling-window counts of spans by kind,
    drops data later than the watermark, and appends closed windows to
    ``out_dir``. This is the monitoring side-channel a 100 TB continuous
    ingest runs next to the extraction stream."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        list(DOCUMENTS.fields)
        + [T.StructField("ingest_ts", T.TimestampType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(documents_dir)
    )
    spans = stream.select(
        "ingest_ts", F.explode("spans").alias("span")
    ).select("ingest_ts", F.col("span.kind").alias("kind"))
    agg = (
        spans.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("w"), "kind")
        .agg(F.count("*").alias("n_spans"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "kind",
            "n_spans",
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_assemble_documents(
    spark: SparkSession,
    spans_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    timeout_ms: int = 60_000,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
):
    """CUSTOM STATEFUL streaming operator (``applyInPandasWithState``):
    reassemble documents from span rows that arrive out of order across
    micro-batches.

    Input files carry one row per span: (doc_id, kind, text, media_ref,
    "order", code, n_spans) where n_spans is the document's total span
    count (authored with the document, like a manifest header). Per
    doc_id, arriving spans accumulate in group state; when all n_spans
    are present the assembled document (spans sorted by order) is
    emitted and the state cleared. A processing-time timeout flushes
    stragglers as partial documents (complete=false) so state is always
    bounded — the arbitrary-stateful-operator pattern the batch
    ``reassemble`` cannot express.

    Duplicate deliveries (at-least-once upstream: a re-fetched crawl
    file, a span written into two files) are deduped by ``order``
    BEFORE the completion check — without that, two copies of span 0
    satisfy ``len >= want`` while a real span is still missing and the
    document is emitted complete=True with a duplicated span.

    Termination (the ``stream_dedup_near`` lesson, same module): with
    ``available_now=True`` the processing-time timeout is DISABLED
    (NoTimeout) — Structured Streaming keeps scheduling timeout-check
    batches otherwise and an availableNow drain never self-terminates;
    pending partial docs simply stay in the checkpointed state for the
    next drain. A continuous deployment (``available_now=False``) gets
    the straggler-flush timeout."""
    import json

    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    span_fields = (
        "doc_id string, kind string, text string, media_ref string, "
        "`order` int, code int, n_spans int"
    )
    out_schema = T.StructType.fromDDL(
        "doc_id string, spans_json string, n_spans int, complete boolean"
    )
    state_schema = T.StructType.fromDDL("acc string, want int")

    def assemble(key, pdfs, state: GroupState):
        (doc_id,) = key
        spans = json.loads(state.get[0]) if state.exists else []
        want = state.get[1] if state.exists else -1
        if state.hasTimedOut:
            # flush partial: late/lost spans — bounded state guarantee
            state.remove()
            spans.sort(key=lambda s: s["order"])
            yield pd.DataFrame(
                [{"doc_id": doc_id, "spans_json": json.dumps(spans),
                  "n_spans": len(spans), "complete": False}]
            )
            return
        seen = {s["order"] for s in spans}
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                if int(r.order) not in seen:  # at-least-once dedup
                    seen.add(int(r.order))
                    spans.append(
                        {"kind": r.kind, "text": r.text,
                         "media_ref": r.media_ref, "order": int(r.order),
                         "code": int(r.code)}
                    )
                want = int(r.n_spans)
        if want >= 0 and len(spans) >= want:
            state.remove()
            spans.sort(key=lambda s: s["order"])
            yield pd.DataFrame(
                [{"doc_id": doc_id, "spans_json": json.dumps(spans),
                  "n_spans": len(spans), "complete": True}]
            )
        else:
            state.update((json.dumps(spans), want))
            if not available_now:
                state.setTimeoutDuration(timeout_ms)
            yield pd.DataFrame(
                {"doc_id": pd.Series([], dtype="object"),
                 "spans_json": pd.Series([], dtype="object"),
                 "n_spans": pd.Series([], dtype="int64"),
                 "complete": pd.Series([], dtype="bool")}
            )

    stream = (
        spark.readStream.schema(T.StructType.fromDDL(span_fields))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(spans_dir)
    )
    assembled = stream.groupBy("doc_id").applyInPandasWithState(
        assemble,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if available_now
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
    writer = (
        assembled.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_exact(
    spark: SparkSession,
    documents_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = True,
    max_files_per_trigger: int = 8,
):
    """Streaming EXACT dedup over a continuous document feed: keep the
    first arrival of each distinct span-sequence content, drop later
    copies — the online twin of the batch ``dedup.exact_dedup`` stage, so
    an ingest pipeline can discard crawl re-fetches before paying for
    extraction.

    Content identity is md5(to_json(spans)) — the same whole-document
    equality the batch path groups on — computed JVM-side; the stateful
    operator is ``dropDuplicatesWithinWatermark``, whose dedup state is
    BOUNDED by the event-time watermark (keys older than the watermark
    are evicted), which is what makes this run forever at 100 TB ingest:
    state ~ (arrival rate × watermark horizon), not corpus size.
    Cross-restart dedup within the horizon comes from the checkpointed
    state store; duplicates straddling a horizon larger than the
    watermark are the batch dedup stage's job downstream.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        list(DOCUMENTS.fields)
        + [T.StructField("ingest_ts", T.TimestampType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(documents_dir)
    )
    deduped = (
        stream.withColumn("content_key", F.md5(F.to_json(F.col("spans"))))
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_key"])
    )
    writer = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_near(
    spark: SparkSession,
    documents_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    state_ttl_ms: int = 3_600_000,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Streaming NEAR-dup SCREEN — the online first-arrival companion of
    the batch MinHash+LSH stage: documents arriving as (doc_id, text)
    files are banded with EXACTLY the batch key construction
    (``dedup.gram_signature_rows`` → ``dedup.band_key_structs`` — one
    shared chain, so the emitted (doc_id, band, key) rows equal the batch
    ``_banded`` table row-for-row), and a custom stateful operator
    (``applyInPandasWithState`` keyed by (band, key)) remembers the first
    document seen per bucket.

    Output: one row per (document, band) observation —
    (doc_id, band, key, keeper, is_first) where ``keeper`` is the bucket's
    first-arrival doc_id (min doc_id inside a single micro-batch, earlier
    batch wins across batches, surviving restarts via the checkpointed
    state store). A document is flagged iff any of its rows has
    ``is_first = false``.

    Semantics vs the batch path — the flagged SET equals the batch
    band-join candidate set (a doc collides with some earlier doc iff it
    shares a bucket), but the candidate PAIRS are the keeper-star subset:
    a later arrival is paired with its bucket's retained first-arrival
    only, never with other non-keeper members (storing every member would
    make state corpus-sized). That is the ingest-screen contract — "is
    this new doc similar to something already kept?" — and downstream
    verification should check flagged docs against their keepers; the
    exhaustive pair list (including non-keeper×non-keeper pairs) is the
    batch stage's job.

    Bounded state: a processing-time timeout evicts buckets untouched for
    ``state_ttl_ms`` — state ~ (distinct buckets in the TTL horizon), not
    corpus size, which is what lets this run forever at 100 TB ingest.
    Docs with fewer than ``n`` tokens emit no bands (the batch rule).

    Termination: with ``available_now=True`` (drain mode) the TTL is
    disabled (``NoTimeout``) so the query terminates once the available
    files are processed — with a processing-time timeout configured,
    Structured Streaming keeps scheduling timeout-check batches and an
    availableNow query NEVER self-terminates. A continuous deployment
    (``available_now=False``) gets the TTL eviction.
    """
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from ppocr_spark.functions.dedup import (
        band_key_structs,
        gram_signature_rows,
    )

    out_schema = T.StructType.fromDDL(
        "doc_id string, band int, key string, keeper string, "
        "is_first boolean"
    )
    state_schema = T.StructType.fromDDL("keeper string")

    def detect(key, pdfs, state: GroupState):
        band, bkey = key
        if state.hasTimedOut:
            state.remove()  # bucket evicted — bounded-state guarantee
            yield pd.DataFrame(
                {"doc_id": pd.Series([], dtype="object"),
                 "band": pd.Series([], dtype="int32"),
                 "key": pd.Series([], dtype="object"),
                 "keeper": pd.Series([], dtype="object"),
                 "is_first": pd.Series([], dtype="bool")}
            )
            return
        ids: list[str] = []
        for pdf in pdfs:
            ids.extend(pdf["doc_id"].tolist())
        keeper = state.get[0] if state.exists else min(ids)
        state.update((keeper,))
        if not available_now:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            [
                {"doc_id": d, "band": band, "key": bkey,
                 "keeper": keeper, "is_first": d == keeper}
                for d in ids
            ]
        )

    stream = (
        spark.readStream.schema(
            T.StructType.fromDDL("doc_id string, text string")
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(documents_dir)
    )
    banded = (
        gram_signature_rows(stream, k, n)  # the batch chain, verbatim
        .select(
            F.col("id").alias("doc_id"),
            F.explode(band_key_structs(F.col("sig"), k, bands)).alias("bk"),
        )
        .select("doc_id", "bk.band", "bk.key")
    )
    flagged = banded.groupBy("band", "key").applyInPandasWithState(
        detect,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if available_now
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
    writer = (
        flagged.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_distinct_content(
    spark: SparkSession,
    documents_path: str,
    query_name: str | None = None,
    watermark: str = "87600 hours",
) -> DataFrame:
    """Run the ``stream_dedup_exact`` machinery end-to-end over a static
    parquet fixture and return its DETERMINISTIC result as a batch
    DataFrame — the gate-facing streaming query (most stateful streaming
    is only rows-checkable; this one is value-checkable because every
    output column is a function of the CONTENT, not of arrival order).

    Shape: file-source ``readStream`` over the documents table →
    project to content-determined columns (md5(text), n_chars) BEFORE
    the stateful operator → ``dropDuplicatesWithinWatermark`` (the same
    bounded-state dedup as ``stream_dedup_exact``; the horizon here is
    deliberately larger than the fixture's event-time span so no
    duplicate can straddle it and the result is exactly DISTINCT) →
    ``availableNow`` trigger draining the backlog in bounded batches →
    memory sink. Whichever physical row survives per content key, the
    emitted (content_key, n_chars) pair is identical — arrival order,
    file split, and batch boundaries cannot change the value set, which
    is what lets a DuckDB twin hash-match it.

    Event time is synthesized deterministically from doc_id (the fixture
    carries no ingest timestamp); at ingest scale the real column and a
    finite watermark bound the state exactly as in
    ``stream_dedup_exact``."""
    from pyspark.sql import functions as F

    def project(stream):
        return stream.select(
            F.md5("text").alias("content_key"),
            "n_chars",
            _gate_event_time().alias("ts"),
        )

    return _drain_distinct_stream(
        spark, documents_path, project, ["content_key"],
        query_name, watermark, prefix="sdc",
    )


def stream_distinct_signatures(
    spark: SparkSession,
    documents_path: str,
    k: int = 8,
    n: int = 3,
    query_name: str | None = None,
    watermark: str = "87600 hours",
) -> DataFrame:
    """Second VALUE-checked streaming gate row — the value-checkable
    projection of the NEAR-dup path: project each arriving document to
    its full MinHash signature (the same portable md5-min construction
    the batch LSH uses) BEFORE the stateful operator, then
    ``dropDuplicatesWithinWatermark`` on the signature string. The
    emitted set = distinct all-band signatures, i.e. the strictest LSH
    collision level (every band equal). Emitting ONLY the dedup key
    itself is what keeps the value set arrival-order independent —
    any survivor of a signature class carries the same key, so file
    splits and batch boundaries cannot change it (the
    ``stream_distinct_content`` contract, one level up from exact
    md5 identity). Docs with fewer than ``n`` tokens have no grams and
    are projected out (the batch rule). The DuckDB twin is a plain
    DISTINCT over the identical signature expression."""
    from pyspark.sql import functions as F

    from ppocr_spark.functions.text import minhash_from_grams, word_ngrams

    def project(stream):
        withg = stream.select(
            word_ngrams(F.col("text"), n).alias("__g"),
            _gate_event_time().alias("ts"),
        ).filter(F.size("__g") > 0)
        return withg.select(
            F.concat_ws("|", minhash_from_grams(F.col("__g"), k)).alias(
                "sig_key"
            ),
            "ts",
        )

    return _drain_distinct_stream(
        spark, documents_path, project, ["sig_key"],
        query_name, watermark, prefix="sds",
    )


def _gate_event_time():
    """Deterministic event time for the gate fixtures (no ingest
    timestamp column). Base is a fixed MODERN epoch: with base 0 the
    state store computes doc_id=0's dedup-state expiry as a non-positive
    timestamp and silently treats the row as already expired (observed:
    499/500 rows emitted) — any base far from the epoch boundary is
    safe, and the value is pinned so results stay deterministic."""
    from pyspark.sql import functions as F

    return F.timestamp_seconds(F.col("doc_id") % 86400 + 1_600_000_000)


def stream_sessionize(
    spark: SparkSession,
    events_path: str,
    gap: str = "2 hours",
    query_name: str | None = None,
) -> DataFrame:
    """Third VALUE-checked streaming gate row — native session-window
    aggregation (``F.session_window``), i.e. a genuinely different
    stateful operator from the two dropDuplicates rows: per-user
    sessions close after ``gap`` of inactivity, emitting event count and
    the decimal-exact value sum per session.

    Value-checkable because session membership is a function of EVENT
    TIME only: Spark merges session windows whenever they overlap, so
    whatever order rows arrive in (file splits, batch boundaries), the
    final merged session set over the same events is identical. The
    drain runs in ``complete`` output mode — with availableNow the final
    memory-sink table is the aggregation over the entire fixture, with
    no watermark-finalization timing in the result (append mode would
    make emission depend on how the watermark advanced across batches).

    Boundary semantics (pinned by the oracle): Spark merges two events
    iff the younger starts strictly before older_ts + gap — an exact
    ``gap`` difference starts a NEW session. The batch twin
    (``events_sessionize``) keeps an exact-threshold difference in the
    SAME session (``>`` vs ``>=``); with microsecond timestamps the two
    agree on real data, and each query's oracle pins its own rule."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(
                "user_id", F.session_window("ts", gap).alias("w")
            )
            .agg(
                F.count("*").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast(
                        "double"
                    ),
                    4,
                ).alias("total_value"),
            )
            .select(
                "user_id",
                F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                .alias("session_start"),
                "n_events",
                "total_value",
            )
        )

    return _drain_stream(
        spark, events_path, schema, build, query_name,
        prefix="ssw", output_mode="complete",
    )


def stream_windowed_counts(
    spark: SparkSession,
    events_path: str,
    width: str = "1 hour",
    query_name: str | None = None,
) -> DataFrame:
    """Fourth VALUE-checked streaming gate row — tumbling event-time
    window aggregation (``F.window``), the third distinct stateful
    operator behind the gate (after dropDuplicates and session_window):
    per (event_type, hour) event counts and decimal-exact value sums.

    Value-checkable with an even simpler argument than sessions: a
    tumbling window assigns each row by event time alone (no merging at
    all), so the complete-mode availableNow drain is the aggregation
    over the whole fixture regardless of file-split arrival order.
    Window starts are epoch-aligned (integer floor of epoch-µs by the
    width), which is exactly the oracle's ``epoch_us DIV width_us``
    bucketing — no timezone in NTZ arithmetic."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(
                "event_type", F.window("ts", width).alias("w")
            )
            .agg(
                F.count("*").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast(
                        "double"
                    ),
                    4,
                ).alias("total_value"),
            )
            .select(
                "event_type",
                F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"),
                "n_events",
                "total_value",
            )
        )

    return _drain_stream(
        spark, events_path, schema, build, query_name,
        prefix="swc", output_mode="complete",
    )


def _drain_distinct_stream(
    spark: SparkSession,
    documents_path: str,
    project,
    dedup_cols: list[str],
    query_name: str | None,
    watermark: str,
    prefix: str,
) -> DataFrame:
    """Gate harness for the dedup rows: ``project`` (must emit
    content-determined columns plus ``ts``) → watermarked
    dropDuplicates on ``dedup_cols`` → availableNow drain."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])

    def build(stream: DataFrame) -> DataFrame:
        return (
            project(stream)
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(dedup_cols)
            .drop("ts")
        )

    return _drain_stream(
        spark, documents_path, schema, build, query_name,
        prefix=prefix, output_mode="append",
    )


def stream_hll_registers(
    spark: SparkSession,
    documents_path: str,
    query_name: str | None = None,
) -> DataFrame:
    """Fifth VALUE-checked streaming gate row — the HyperLogLog register
    aggregation (``functions.sketch.hll_registers``) run as a streaming
    query: groupBy(bucket) → max(rho) in complete mode.

    Why this row earns its place: streaming distinct-count over an
    unbounded key domain is exactly where ``dropDuplicates`` state grows
    without bound (one state row per distinct key, the
    ``stream_distinct_content`` shape) — the sketch caps the streaming
    state at 256 register rows FOREVER, whatever the key cardinality.
    That is the production shape for "distinct documents ingested so
    far" over an endless crawl: a complete-mode 256-row result table,
    refreshed every micro-batch, mergeable across independent streams
    by the same GROUP BY bucket → max(register).

    Value-checkable by algebra: register max is commutative and
    associative, so file splits, batch boundaries, and arrival order
    cannot change the final register table — it equals the batch
    ``hll_registers`` over the same fixture, and the DuckDB twin
    replays it exactly (the ``distinct_hll`` CTE chain)."""
    from pyspark.sql import types as T

    from ppocr_spark.functions.sketch import hll_registers

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])

    def build(stream: DataFrame) -> DataFrame:
        return hll_registers(stream, "text")

    return _drain_stream(
        spark, documents_path, schema, build, query_name,
        prefix="shr", output_mode="complete",
    )


def _drain_stream(
    spark: SparkSession,
    src_path: str,
    schema,
    build,
    query_name: str | None,
    prefix: str,
    output_mode: str,
) -> DataFrame:
    """Shared gate harness: file-source readStream over a static parquet
    fixture → ``build(stream)`` (any value-deterministic streaming
    transformation) → availableNow drain into a memory sink →
    materialized batch result. Every staged resource (symlink dir,
    checkpoint dir, memory-sink table) is torn down before returning —
    repeated gate/bench runs must not accumulate state."""
    import os
    import shutil
    import tempfile
    import uuid

    if query_name is None:
        # memory-sink names must be unique per active session; the name
        # never affects the result set
        query_name = f"{prefix}_{uuid.uuid4().hex[:12]}"

    staged_src = None
    ckpt = None

    # the file source lists a DIRECTORY; when handed a bare parquet file
    # (the fixture layout), stage a symlink dir in front of it
    if os.path.isfile(src_path):
        staged_src = tempfile.mkdtemp(prefix="stream_gate_src_")
        os.symlink(
            os.path.abspath(src_path),
            os.path.join(staged_src, os.path.basename(src_path)),
        )
        src_path = staged_src

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_path)
    )
    out = build(stream)
    try:
        ckpt = tempfile.mkdtemp(prefix="stream_gate_ckpt_")
        q = (
            out.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # materialize off the memory sink (tiny: one row per distinct
        # key / session) so the sink table can be dropped before returning
        result = spark.table(query_name)
        rows = result.collect()
        return spark.createDataFrame(rows, schema=result.schema)
    finally:
        spark.catalog.dropTempView(query_name)
        for d in (staged_src, ckpt):
            if d is not None:
                shutil.rmtree(d, ignore_errors=True)
