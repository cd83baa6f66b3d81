"""Resumable execution with per-partition checkpoint manifests (north_rule).

The reference's only resumability is 'restart the subprocess'
(cpp/README.md:277); at 10^12-document scale a killed run must NOT recompute
completed work. Design:

- Work is partitioned into stable **doc_id hash buckets** (content-derived,
  independent of cluster size or task ids — a rerun at different
  parallelism sees the same buckets).
- Each completed bucket writes its results under ``out/results/bucket=N/``
  and appends one manifest row (bucket, input fingerprint, doc/span/box
  counts, status) to ``out/manifest/``.
- On resume, completed buckets are anti-filtered from the input *before*
  any OCR work runs (Catalyst pushes the bucket filter into the scan), so
  only unfinished buckets recompute.

The input fingerprint is a per-bucket xor-of-doc_id-hashes: if the input
slice changed between runs, the stale manifest row is ignored and the
bucket recomputes (lineage guard).
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ppocr_spark.config import PPOCRConfig

MANIFEST_COLS = [
    "bucket",
    "input_fingerprint",
    "doc_count",
    "span_count",
    "ok_span_count",
    "status",
    # K5 stage timings (decode/det/crop/cls/rec/layout wall-ms + spans),
    # run-scoped: every bucket written by one run carries that run's
    # accumulator totals (the reference's AutoLogger is process-scoped
    # the same way, cpp/src/paddleocr.cpp:209-237).
    # AT-LEAST-ONCE: transformation-side accumulators double-count under
    # task retry/speculation (see make_stage_metrics) — run_*_ms is
    # attribution, not an audited total; span_count/ok_span_count above
    # ARE exact (derived from the written results, not accumulators).
    "run_decode_ms",
    "run_det_ms",
    "run_crop_ms",
    "run_cls_ms",
    "run_rec_ms",
    "run_layout_ms",
    "run_ocr_spans",
]


def with_bucket(documents: DataFrame, n_buckets: int) -> DataFrame:
    """Stable content-derived bucket (xxhash64 of doc_id)."""
    return documents.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def bucket_fingerprints(documents_b: DataFrame) -> DataFrame:
    """bucket → (fingerprint, doc_count). Fingerprint = xor of doc hashes
    (order-independent, overflow-free) — cheap lineage identity."""
    return documents_b.groupBy("bucket").agg(
        F.expr("bit_xor(xxhash64(doc_id))").cast("string").alias(
            "input_fingerprint"
        ),
        F.count("*").alias("doc_count"),
    )


def completed_buckets(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Latest complete manifest row per bucket → (bucket, done_fp).

    LATEST, not any: the manifest is append-only, so after input X →
    Y → X again, a historical (bucket, fp_X) row would match the
    current input while results/bucket=N actually holds Y's data —
    the A-B-A staleness the lineage guard exists to prevent. Only the
    highest ``run_seq`` row per bucket describes what is on disk
    (dynamic overwrite replaced the partition in that same run).
    Rows from pre-run_seq manifests read as null → seq 0.

    Existence probe goes through Spark itself (AnalysisException on a
    missing path), NOT os.path — the out_dir is HDFS/object-store at
    the design scale, where a local isdir() is always False and every
    resume would silently recompute ALL buckets."""
    path = os.path.join(out_dir, "manifest")
    try:
        m = spark.read.option("mergeSchema", "true").parquet(path)
    except AnalysisException:
        return None
    if "run_seq" not in m.columns:
        m = m.withColumn("run_seq", F.lit(0).cast("long"))
    m = m.withColumn(
        "run_seq", F.coalesce(F.col("run_seq"), F.lit(0)).cast("long")
    )
    latest = m.groupBy("bucket").agg(F.max("run_seq").alias("run_seq"))
    return (
        m.join(latest, ["bucket", "run_seq"])
        .filter(F.col("status") == "complete")
        .select("bucket", F.col("input_fingerprint").alias("done_fp"))
        .distinct()
    )


def run_resumable(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    out_dir: str,
    cfg: PPOCRConfig | None = None,
    n_buckets: int = 64,
    broadcast_media: bool = False,
) -> dict:
    """Run the extraction pipeline bucket-incrementally. Returns run stats.

    Results land in ``out/results`` (parquet, partitioned by bucket);
    manifests in ``out/manifest``. Safe to re-invoke after a kill: completed
    buckets with matching input fingerprints are skipped."""
    from ppocr_spark.pipeline import (
        STAGE_KEYS,
        extract_documents,
        make_stage_metrics,
        snapshot_stage_metrics,
    )

    cfg = cfg or PPOCRConfig(cls=True, use_angle_cls=True)
    docs_b = with_bucket(documents, n_buckets)
    fps = bucket_fingerprints(docs_b)

    done = completed_buckets(spark, out_dir)
    if done is not None:
        todo_fps = fps.join(
            done,
            (fps.bucket == done.bucket)
            & (fps.input_fingerprint == done.done_fp),
            "left_anti",
        )
    else:
        todo_fps = fps
    todo = [
        (r["bucket"], r["input_fingerprint"], r["doc_count"])
        for r in todo_fps.collect()
    ]
    if not todo:
        return {"buckets_run": 0, "buckets_skipped": n_buckets}

    todo_ids = [b for b, _, _ in todo]
    # one pipeline run over all remaining buckets (NOT a per-bucket loop —
    # a single job keeps the cluster busy; the bucket column rides along)
    metrics = make_stage_metrics(spark)
    docs_todo = docs_b.filter(F.col("bucket").isin(todo_ids))
    result = extract_documents(
        docs_todo.drop("bucket"), media, cfg, broadcast_media, metrics
    ).join(docs_b.select("doc_id", "bucket"), "doc_id")

    res_path = os.path.join(out_dir, "results")
    # EXACTLY-ONCE per bucket: dynamic partition overwrite makes a re-run
    # bucket atomically REPLACE its own partition directory instead of
    # appending a second copy. This closes both duplicate channels:
    #   (a) kill between the results write and the manifest write → the
    #       bucket recomputes next run and overwrites bucket=N in place;
    #   (b) lineage-guard invalidation (input slice changed) → the whole
    #       bucket re-runs and its stale rows are replaced, not shadowed.
    # Only partitions present in `result` are touched — completed buckets
    # not in `todo` keep their data (that is what 'dynamic' means).
    result.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(res_path)

    # manifest rows from the written results (counts observed post-write)
    written = spark.read.parquet(res_path).filter(F.col("bucket").isin(todo_ids))
    stats = {
        r["bucket"]: (r["spans"], r["ok"])
        for r in written.select(
            "bucket",
            F.size("spans").alias("n"),
            F.expr("size(filter(spans, s -> s.code = 100))").alias("k"),
        )
        .groupBy("bucket")
        .agg(F.sum("n").alias("spans"), F.sum("k").alias("ok"))
        .collect()
    }
    stage = snapshot_stage_metrics(metrics)
    # monotone per-run sequence: completed_buckets keeps only each
    # bucket's LATEST row (the one describing what dynamic overwrite
    # actually left on disk) — see its A-B-A note
    run_seq = int(time.time() * 1000)
    rows = [
        (
            int(b),
            fp,
            int(dc),
            int(stats.get(b, (0, 0))[0]),
            int(stats.get(b, (0, 0))[1]),
            "complete",
            *[float(stage.get(k, 0.0)) for k in STAGE_KEYS],
            run_seq,
        )
        for b, fp, dc in todo
    ]
    spark.createDataFrame(
        rows,
        "bucket int, input_fingerprint string, doc_count long, "
        "span_count long, ok_span_count long, status string, "
        "run_decode_ms double, run_det_ms double, run_crop_ms double, "
        "run_cls_ms double, run_rec_ms double, run_layout_ms double, "
        "run_ocr_spans double, run_seq long",
    ).write.mode("append").parquet(os.path.join(out_dir, "manifest"))
    return {
        "buckets_run": len(todo),
        "buckets_skipped": n_buckets - len(todo),
        "stage_ms": stage,
    }


def _bucket_file_stats(spark: SparkSession, res_path: str) -> dict[int, tuple[int, int]]:
    """Per-bucket (n_files, bytes) via the Hadoop FileSystem API — works on
    file://, HDFS and object stores alike; listing is driver-side but
    bounded by n_buckets × files-per-bucket (metadata only, no data read)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(res_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return {}
    out: dict[int, tuple[int, int]] = {}
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("bucket=")):
            continue
        bucket = int(name.split("=", 1)[1])
        n, size = 0, 0
        for f in fs.listStatus(st.getPath()):
            if f.getPath().getName().endswith(".parquet"):
                n += 1
                size += f.getLen()
        out[bucket] = (n, size)
    return out


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


_COMPACT_STAGING = "_compact_staging"
_COMPACT_TRASH = "_compact_trash"
_COMPACT_JOURNAL = "_compact_journal"


def _rename_or_raise(fs, src, dst, what: str) -> None:
    """Hadoop FileSystem.rename signals most failures (dest exists,
    missing parent, cross-volume race) by returning False, not raising.
    An unchecked rename followed by cleanup can delete the only surviving
    copy of a bucket — so every swap/recovery rename goes through here
    and raises BEFORE any destructive step, leaving journal/staging/
    trash intact for recover_compaction."""
    if not fs.rename(src, dst):
        raise RuntimeError(
            f"compaction rename failed ({what}): {src} -> {dst}; "
            "journal/staging/trash left intact — rerun compact_results "
            "to recover"
        )


def recover_compaction(spark: SparkSession, out_dir: str) -> int:
    """Finish (or roll back) a compaction wave interrupted mid-swap.

    The journal directory holds one empty marker file per bucket whose
    swap was in flight; markers are created only AFTER that wave's
    staged copy is fully written and row-count-verified, so every
    journaled bucket has a complete copy in staging (and/or its original
    in trash). For each journaled bucket missing from ``results/``, the
    staged copy is renamed in (or the trashed original restored).
    Returns the number of buckets repaired; cleans up staging/trash/
    journal. No-op when no journal exists."""
    fs, jvm = _hadoop_fs(spark, out_dir)
    P = jvm.org.apache.hadoop.fs.Path
    jdir = P(os.path.join(out_dir, _COMPACT_JOURNAL))
    repaired = 0
    if fs.exists(jdir):
        for st in fs.listStatus(jdir):
            name = st.getPath().getName()
            if not name.startswith("bucket="):
                continue
            res = P(os.path.join(out_dir, "results", name))
            stg = P(os.path.join(out_dir, _COMPACT_STAGING, name))
            trash = P(os.path.join(out_dir, _COMPACT_TRASH, name))
            if not fs.exists(res):
                if fs.exists(stg):
                    _rename_or_raise(fs, stg, res, f"recover {name} staged")
                elif fs.exists(trash):
                    _rename_or_raise(fs, trash, res,
                                     f"recover {name} trashed")
                else:  # pragma: no cover - would mean external deletion
                    raise RuntimeError(
                        f"compaction recovery: no copy of {name} found"
                    )
                repaired += 1
        # cleanup only after verifying every journaled bucket is present
        # in results/ — a failed repair raised above and kept all copies
        for st in fs.listStatus(jdir):
            name = st.getPath().getName()
            if name.startswith("bucket=") and not fs.exists(
                P(os.path.join(out_dir, "results", name))
            ):  # pragma: no cover - unreachable unless repair raced
                raise RuntimeError(
                    f"compaction recovery: {name} still missing after "
                    "repair; keeping journal/staging/trash"
                )
    for d in (_COMPACT_STAGING, _COMPACT_TRASH, _COMPACT_JOURNAL):
        p = P(os.path.join(out_dir, d))
        if fs.exists(p):
            fs.delete(p, True)
    return repaired


def compact_results(
    spark: SparkSession,
    out_dir: str,
    target_bytes: int = 256 << 20,
    wave_bytes: int = 4 << 30,
) -> dict:
    """Compact the extraction sink's small files: re-pack each
    ``results/bucket=N/`` partition into ~ceil(bytes/target) parquet files.

    The small-file problem is the standard failure mode of a long
    resumable run at 100 TB: every resume wave appends task-count files
    per bucket, and a downstream scan then pays per-file open/footer cost
    (and object-store LIST amplification) far above the data cost.

    Mechanics and safety:
    - Buckets already at or under their target file count are untouched.
    - Work proceeds in driver-bounded WAVES of ≤ ``wave_bytes`` so the
      re-pack never needs the whole sink resident.
    - KILL-SAFE BY COPIES, not by trust in the committer: a dynamic
      partition overwrite deletes each existing ``bucket=N`` directory
      before renaming staged files into place — a crash inside that
      commit would permanently lose a bucket of non-re-derivable
      extraction output. So each wave instead (1) writes its re-pack to
      a sibling ``_compact_staging`` path, (2) VERIFIES per-bucket row
      counts staged-vs-source, (3) journals the wave's buckets (one
      marker per bucket), then (4) swaps directories bucket-by-bucket
      (rename original → trash, rename staged → results). At every
      instant every bucket has ≥1 complete copy on disk; a kill at any
      point is repaired by ``recover_compaction`` (run automatically on
      the next call), which completes or rolls back the journaled swaps.
    - File-count targeting uses hash slots per bucket + repartitionByRange
      on (bucket, slot): ~one (bucket, slot) key per output file from
      sampled range boundaries — approximate (±1 file per bucket), which
      is the right trade against an exact per-bucket shuffle loop.

    Returns {"buckets_compacted": n, "waves": w, "files_before": a,
    "files_after": b, "recovered": r}.
    """
    import math

    res_path = os.path.join(out_dir, "results")
    recovered = recover_compaction(spark, out_dir)
    before = _bucket_file_stats(spark, res_path)
    need = {
        b: max(1, math.ceil(size / target_bytes))
        for b, (n, size) in before.items()
        if n > max(1, math.ceil(size / target_bytes))
    }
    if not need:
        return {"buckets_compacted": 0, "waves": 0,
                "files_before": sum(n for n, _ in before.values()),
                "files_after": sum(n for n, _ in before.values()),
                "recovered": recovered}

    # greedy waves by bytes (driver-side, bounded by n_buckets)
    waves: list[list[int]] = [[]]
    acc = 0
    for b in sorted(need):
        size = before[b][1]
        if waves[-1] and acc + size > wave_bytes:
            waves.append([])
            acc = 0
        waves[-1].append(b)
        acc += size

    fs, jvm = _hadoop_fs(spark, out_dir)
    P = jvm.org.apache.hadoop.fs.Path
    staging = os.path.join(out_dir, _COMPACT_STAGING)
    trash = os.path.join(out_dir, _COMPACT_TRASH)
    journal = os.path.join(out_dir, _COMPACT_JOURNAL)
    for wave in waves:
        slots = spark.createDataFrame(
            [(b, need[b]) for b in wave], "bucket int, n_slots int"
        )
        df = (
            spark.read.parquet(res_path)
            .filter(F.col("bucket").isin(wave))
            .join(F.broadcast(slots), "bucket")
            .withColumn(
                "slot", F.pmod(F.xxhash64("doc_id"), F.col("n_slots"))
            )
            .drop("n_slots")
        )
        total = sum(need[b] for b in wave)
        packed = df.repartitionByRange(total, "bucket", "slot").drop("slot")
        # (1) stage the re-pack beside the sink — the source stays intact
        if fs.exists(P(staging)):
            fs.delete(P(staging), True)
        packed.write.mode("overwrite").partitionBy("bucket").parquet(
            staging
        )
        # (2) verify per-bucket row counts staged-vs-source before any
        # destructive step (parquet footer counts — metadata-cheap)
        src_n = {
            r["bucket"]: r["n"]
            for r in spark.read.parquet(res_path)
            .filter(F.col("bucket").isin(wave))
            .groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }
        stg_n = {
            r["bucket"]: r["n"]
            for r in spark.read.parquet(staging)
            .groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }
        bad = {b for b in wave if src_n.get(b) != stg_n.get(b)}
        if bad:
            fs.delete(P(staging), True)  # sink untouched — safe abort
            raise RuntimeError(
                f"compaction verify failed for buckets {sorted(bad)}: "
                f"staged counts != source counts"
            )
        # (3) journal the wave, (4) swap bucket-by-bucket — both copies
        # exist until the moment the staged one is renamed into place
        fs.mkdirs(P(journal))
        fs.mkdirs(P(trash))
        for b in wave:
            fs.createNewFile(P(os.path.join(journal, f"bucket={b}")))
        for b in wave:
            name = f"bucket={b}"
            _rename_or_raise(fs, P(os.path.join(res_path, name)),
                             P(os.path.join(trash, name)),
                             f"swap-out {name}")
            _rename_or_raise(fs, P(os.path.join(staging, name)),
                             P(os.path.join(res_path, name)),
                             f"swap-in {name}")
        # cleanup only after verifying every swapped bucket landed —
        # a failed rename raised above with all copies still on disk
        missing = [b for b in wave
                   if not fs.exists(P(os.path.join(res_path,
                                                   f"bucket={b}")))]
        if missing:  # pragma: no cover - unreachable unless swap raced
            raise RuntimeError(
                f"compaction swap: buckets {missing} missing from "
                "results after rename; keeping journal/staging/trash"
            )
        for d in (staging, trash, journal):
            if fs.exists(P(d)):
                fs.delete(P(d), True)

    after = _bucket_file_stats(spark, res_path)
    return {
        "buckets_compacted": len(need),
        "waves": len(waves),
        "files_before": sum(n for n, _ in before.values()),
        "files_after": sum(n for n, _ in after.values()),
        "recovered": recovered,
    }
