"""Sources (S1-S10 in SURVEY.md §2.1), Spark-first.

The reference's request loop reads one JSON line per request from a pipe or
socket (cpp/src/task.cpp:388-408, cpp/src/task_linux.cpp:124-258); here the
scheduler replaces that loop and every 'request' is a row. Each reference
source has a reader:

  S1/S2  table scan            → read_documents / read_media
  S3     single-image CLI      → single_media_request
  S4     file → image bytes    → media content column (binary), decoded in
                                 the UDF from BYTES, never extension
  S5     base64 → image        → decode_base64_requests (F.unbase64)
  S7     request JSON dispatch → parse_request_json
  S8/S9  config / dict         → PPOCRConfig.from_file / font.char_dict
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ppocr_spark.schemas import DOCUMENTS, MEDIA


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2: scan of the interleaved-documents table. Uses the Iceberg
    catalog when the path is a table identifier and the runtime has the
    Iceberg extension; falls back to parquet (same schema, same plan shape
    minus snapshot pruning)."""
    if "/" not in path and "." in path and _iceberg_available(spark):
        return spark.read.format("iceberg").load(path)
    return spark.read.schema(DOCUMENTS).parquet(path)


_ICEBERG_PROBE: dict[int, bool] = {}


def _iceberg_available(spark: SparkSession) -> bool:
    """Probe ONCE per JVM for the Iceberg Spark runtime class and branch
    on that, instead of a bare ``except Exception`` around the read —
    a broad catch would also swallow genuine Iceberg errors (corrupt
    metadata, auth, bad table name) and silently fall back to reading a
    DIFFERENT dataset than intended (ADVICE r4). With the runtime
    present, real read failures now propagate.

    The probe goes through Spark's own classloader
    (``Utils.classIsLoadable``), NOT ``java.lang.Class.forName``: jars
    added via ``--jars``/``--packages`` live in Spark's
    MutableURLClassLoader, which the system classloader can't see — a
    bare forName would report the runtime missing in exactly the
    deployments that ship it, silently re-enabling the parquet fallback
    this function exists to prevent."""
    key = id(spark._jvm)
    if key not in _ICEBERG_PROBE:
        cls = "org.apache.iceberg.spark.source.IcebergSource"
        try:
            _ICEBERG_PROBE[key] = bool(
                spark._jvm.org.apache.spark.util.Utils.classIsLoadable(cls)
            )
        except Exception:  # noqa: BLE001 — internal API moved: fall back
            try:
                spark._jvm.java.lang.Class.forName(
                    cls,
                    False,
                    spark._jvm.java.lang.Thread.currentThread()
                    .getContextClassLoader(),
                )
                _ICEBERG_PROBE[key] = True
            except Exception:  # noqa: BLE001 — ClassNotFound via py4j
                _ICEBERG_PROBE[key] = False
    return _ICEBERG_PROBE[key]


def read_media(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(MEDIA).parquet(path)


def iceberg_extraction_ddl(
    prefix: str = "ppocr", n_buckets: int = 64, catalog: str = "spark_catalog"
) -> list[str]:
    """The exact Iceberg DDL the 10^12-scale ingest runs — the statements
    ``write_extraction_layout`` is the parquet-catalog analog of. Kept as
    a generated artifact (not a doc snippet) so the shim test can pin
    that the analog and the DDL agree on layout parameters (same bucket
    transform column, same bucket count) and CI exercises this codepath
    even without an Iceberg runtime jar."""
    return [
        f"CREATE TABLE IF NOT EXISTS {catalog}.{prefix}_media_spans ("
        "  doc_id string, base_ref string, media_ref string, page int,"
        "  offset int, blob_bytes long)"
        " USING iceberg"
        f" PARTITIONED BY (bucket({n_buckets}, base_ref))"
        " TBLPROPERTIES ('write.distribution-mode'='hash')",
        f"CREATE TABLE IF NOT EXISTS {catalog}.{prefix}_media ("
        "  base_ref string, content binary)"
        " USING iceberg"
        f" PARTITIONED BY (bucket({n_buckets}, base_ref))"
        " TBLPROPERTIES ('write.distribution-mode'='hash')",
        f"CREATE TABLE IF NOT EXISTS {catalog}.{prefix}_text_spans ("
        "  doc_id string, kind string, text string, media_ref string,"
        "  offset int)"
        " USING iceberg",
    ]


def read_table_snapshot(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """Snapshot-pinned scan: with an Iceberg runtime this reads the table
    AS OF ``snapshot_id`` (lineage-stable input for a resumable run — the
    checkpoint manifests record the snapshot so every resume wave sees the
    identical table state). Sandbox fallback: plain table/parquet read
    (``snapshot_id`` requires the runtime and raises if one was pinned
    but no Iceberg catalog can serve it — silently reading a DIFFERENT
    snapshot than the manifest recorded would corrupt a resume)."""
    if snapshot_id is not None:
        if not _iceberg_available(spark):
            raise RuntimeError(
                f"snapshot-pinned read of {table!r} (snapshot "
                f"{snapshot_id}) requires the Iceberg runtime; refusing "
                "the parquet fallback — it would silently read a "
                "different table state than the manifest recorded"
            )
        return (
            spark.read.format("iceberg")
            .option("snapshot-id", snapshot_id)
            .load(table)
        )
    if _iceberg_available(spark):
        return spark.read.format("iceberg").load(table)
    if "/" in table:
        return spark.read.parquet(table)
    return spark.table(table)


def single_media_request(
    spark: SparkSession, content: bytes, doc_id: str = "cli_0"
) -> DataFrame:
    """S3: the single-image smoke path — one request row, runs the same
    plan as the table scan (cpp/src/task.cpp:361-385)."""
    return spark.createDataFrame(
        [(doc_id, [("media", None, "cli_media_0", 0)])], DOCUMENTS
    ), spark.createDataFrame(
        [("cli_media_0", bytearray(content), None)], MEDIA
    )


REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("image_path", T.StringType(), True),
        T.StructField("image_base64", T.StringType(), True),
        T.StructField("exit", T.StringType(), True),
        # PERMISSIVE from_json parks unparseable input here instead of
        # nulling the struct — the 200-vs-201 distinction needs it
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)


def parse_request_json(requests: DataFrame, col: str = "request") -> DataFrame:
    """S7: parse the reference's request envelope — exactly one task key
    per request (imread_json, cpp/src/task.cpp:141-212). Emits
    (task_kind, payload, code): unparseable JSON → 200, no/ambiguous task
    key → 201, matching the reference's taxonomy."""
    parsed = requests.withColumn(
        "req",
        F.from_json(
            F.col(col),
            REQUEST_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    bad = F.col("req").isNull() | F.col("req._corrupt_record").isNotNull()
    keys_present = (
        F.col("req.image_path").isNotNull().cast("int")
        + F.col("req.image_base64").isNotNull().cast("int")
    )
    # exit is checked FIRST and wins over task keys (task.cpp:143-149)
    is_exit = F.col("req.exit").isNotNull()
    return parsed.select(
        "*",
        F.when(bad, F.lit(None))
        .when(is_exit, F.lit("exit"))
        .when(F.col("req.image_path").isNotNull(), F.lit("path"))
        .when(F.col("req.image_base64").isNotNull(), F.lit("base64"))
        .alias("task_kind"),
        F.when(bad, F.lit(None))
        .otherwise(F.coalesce("req.image_path", "req.image_base64"))
        .alias("payload"),
        # 'exit' is valid control, not an error (cpp/src/task.cpp:143-149)
        F.when(bad, F.lit(200))
        .when(is_exit, F.lit(100))
        .when(keys_present != 1, F.lit(201))
        .otherwise(F.lit(100))
        .alias("code"),
    ).drop("req")


def decode_base64_requests(df: DataFrame, col: str = "payload") -> DataFrame:
    """S5: base64 payload → binary content column (``try_to_binary``,
    JVM-side; the reference's hand-rolled decoder cpp/src/base64.cpp).
    Invalid base64 yields NULL content with ``src_b64 = true`` — the OCR
    stage maps that pair to code 300 (BASE64_DECODE_FAIL) and a decoded-
    but-undecodable payload to 301 (cpp/src/task.cpp:111-138)."""
    return df.withColumn(
        "content", F.expr(f"try_to_binary({col}, 'base64')")
    ).withColumn("src_b64", F.lit(True))


def media_from_directory(
    spark: SparkSession, dir_path: str, glob: str = "*"
) -> DataFrame:
    """S10 (Utility::GetAllFiles, cpp/src/utility.cpp:123-160): list files
    under a directory into a media relation (media_ref = file name, content
    = raw bytes) using Spark's binaryFile source — the distributed analog
    of the reference's directory walk; format is still sniffed from bytes
    downstream (S4), never from the extension."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(dir_path)
    )
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("media_ref"),
        F.col("content"),
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort: bool = True,
) -> None:
    """Persist a relation in Spark's bucketed layout: hash-partitioned
    into ``n_buckets`` files per partition on ``bucket_col`` (and
    sorted within buckets) via ``bucketBy().sortBy().saveAsTable``.

    This is the parquet-catalog analog of the Iceberg bucket DDL in
    SCALE.md §2: two relations bucketed the same way (same column, same
    count) join with ZERO shuffle — Catalyst recognizes the co-located
    layout and plans a sort-merge join with no Exchange on either side.
    At 100 TB that converts the media⋈span join from the single biggest
    shuffle in the pipeline into a local merge per bucket; the layout
    cost is paid once at ingest and amortized over every downstream
    query. Pinned by ``tests/test_plans.py::TestBucketedColocatedJoin``.
    """
    _drop_managed(df.sparkSession, table)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def _drop_managed(spark: SparkSession, table: str) -> None:
    """Drop ``table`` and clear any ORPHAN managed location. A crashed
    session leaves the warehouse directory behind while the (in-memory)
    catalog entry dies with the JVM; the next ``saveAsTable`` — even with
    mode=overwrite — fails LOCATION_ALREADY_EXISTS. Overwrite semantics
    here mean 'replace the layout', so an orphan dir is stale by
    definition and safe to remove."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{table.lower()}", ignore_errors=True)


def write_extraction_layout(
    documents: DataFrame,
    media: DataFrame,
    n_buckets: int = 64,
    prefix: str = "ppocr",
) -> None:
    """Ingest-time bucket DDL for the extraction pipeline (the Iceberg
    ``bucket(N, base_ref)`` partition-transform analog, SCALE.md §2):

    - ``{prefix}_media_spans`` — slim media-span request rows with the
      join key (``base_ref``) and PDF page precomputed, bucketed +
      bucket-sorted on base_ref;
    - ``{prefix}_media`` — payload rows keyed by base_ref, bucketed the
      same way (same column, same count);
    - ``{prefix}_text_spans`` — the text branch, plain parquet (it joins
      nothing; no layout to exploit).

    Downstream ``pipeline.extract_documents_colocated`` then runs the
    same media path as ``extract_documents`` — group requests per
    payload, attach payload, OCR — without its two repartitions, with
    ZERO Exchange: the shuffle the runtime path pays per run is paid
    here once, at ingest. Bucket count fixes the OCR stage's
    parallelism, so size it for the target cluster (e.g. 4096 at 10^12
    docs), not the corpus."""
    from ppocr_spark.pipeline import explode_spans, media_span_ids

    spans = explode_spans(documents)
    write_bucketed(
        media_span_ids(spans),
        f"{prefix}_media_spans",
        "base_ref",
        n_buckets=n_buckets,
    )
    write_bucketed(
        media.select(F.col("media_ref").alias("base_ref"), "content"),
        f"{prefix}_media",
        "base_ref",
        n_buckets=n_buckets,
    )
    _drop_managed(documents.sparkSession, f"{prefix}_text_spans")
    spans.filter(F.col("kind") == "text").write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(f"{prefix}_text_spans")
