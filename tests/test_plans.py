"""Physical-plan assertions — the 100 TB design checks (SURVEY.md §4):
filter pushdown reaches the scan, column pruning holds, small dims
broadcast, the OCR stage is explicitly repartitioned, and whole-stage
codegen covers the relational glue."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _request_side_exchanges(plan: str) -> list[str]:
    """Arguments of every Exchange in the subtree of the collect_list
    aggregate that builds ``reqs`` (the request side of the media join),
    read from the tree and the node details of a formatted plan."""
    import re

    tree, _, details = plan.partition("\n\n")
    nodes = []  # (depth, node id) in printed (top-down) order
    for line in tree.splitlines():
        m = re.search(r"([A-Za-z].*) \((\d+)\)$", line)
        if m:
            nodes.append((m.start(1), m.group(2)))
    info = {
        m.group(1): m.group(2)
        for m in re.finditer(
            r"^\((\d+)\) (.*?)(?=^\(\d+\) |\Z)", details, re.M | re.S
        )
    }
    top = next(
        i for i, (_, n) in enumerate(nodes)
        if re.search(r"(?<!partial_)collect_list\(struct\(doc_id", info[n])
    )
    depth = nodes[top][0]
    below = []
    for d, n in nodes[top + 1:]:
        if d <= depth:
            break
        if info[n].startswith("Exchange"):
            below.append(re.search(r"Arguments: (.*)", info[n]).group(1))
    return below


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _no_broadcast(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


class TestPlans:
    def test_q1_filter_pushdown_and_pruning(self, spark, sf_dir):
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["q1_pricing_summary"](spark, sf_dir))
        assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
        # column pruning: unused l_partkey/l_suppkey never read
        assert "l_partkey" not in plan.split("ReadSchema")[1][:400]

    def test_q3_broadcasts_customer(self, spark, sf_dir):
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["q3_shipping_priority"](spark, sf_dir))
        assert "BroadcastHashJoin" in plan

    def test_q5_no_cartesian(self, spark, sf_dir):
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["q5_region_revenue"](spark, sf_dir))
        assert "CartesianProduct" not in plan

    def test_text_features_stays_jvm(self, spark, sf_dir):
        # no Python UDF nodes: whole text stage is codegen'd expressions
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["text_features"](spark, sf_dir))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        # (WholeStageCodegen spans only appear in the post-execution AQE
        # plan; absence of Python eval nodes is the codegen-eligibility
        # check that matters here)

    def test_ocr_pipeline_repartitions_before_udf(self, spark, small_corpus):
        """The single media path: ONE MapInArrow fed by the span requests
        collected per base_ref. The request rows are hash-repartitioned on
        base_ref to one task per slot BELOW the collect_list aggregate,
        so the aggregate reuses that exchange and the OCR stage cannot be
        coalesced — for any spark.sql.shuffle.partitions, including the
        count itself (where a repartition above the aggregate would be
        dropped). With broadcast_media=True the payload side is broadcast
        as it is; with False it is repartitioned to the same count."""
        import itertools
        import re

        from ppocr_spark.config import PPOCRConfig
        from ppocr_spark.pipeline import extract_documents

        docs = spark.read.parquet(f"{small_corpus}/documents_spans.parquet")
        media = spark.read.parquet(f"{small_corpus}/media.parquet")
        cfg = PPOCRConfig(cls=True, use_angle_cls=True)
        n_part = spark.sparkContext.defaultParallelism
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            for broadcast_media, shuffle_partitions in itertools.product(
                (True, False), (n_part, n_part + 3)
            ):
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(shuffle_partitions)
                )
                plan = _plan(extract_documents(
                    docs, media, cfg, broadcast_media=broadcast_media
                ))
                assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1
                assert "MapInPandas" not in plan
                assert re.search(
                    r"\(\d+\) MapInArrow\nInput \[2\]: "
                    r"\[reqs#\d+, content#\d+\]",
                    plan,
                )
                # reqs = the span requests collected per base_ref
                assert re.search(
                    r"Keys \[1\]: \[base_ref#\d+\]\nFunctions \[1\]: "
                    r"\[collect_list\(struct\(doc_id[^\n]*\n[^\n]*\n"
                    r"Results [^\n]* AS reqs#\d+\]",
                    plan,
                )
                # the request side crosses exactly one exchange, the
                # pinned repartition, below the aggregate
                below = _request_side_exchanges(plan)
                where = (broadcast_media, shuffle_partitions, below)
                assert len(below) == 1, where
                assert re.match(
                    rf"hashpartitioning\(base_ref#\d+, {n_part}\), "
                    r"REPARTITION_BY_NUM",
                    below[0],
                ), where
                assert not re.search(
                    r"hashpartitioning\(base_ref#\d+, \d+\), "
                    r"ENSURE_REQUIREMENTS",
                    plan,
                )
                # the payload side: broadcast as it is, or repartitioned
                # to the same count
                assert len(re.findall(
                    rf"hashpartitioning\(base_ref#\d+, {n_part}\), "
                    r"REPARTITION_BY_NUM",
                    plan,
                )) == (1 if broadcast_media else 2)
                assert "rangepartitioning" not in plan.lower()
                if broadcast_media:
                    assert "BroadcastHashJoin" in plan
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def test_dedup_exact_partial_aggregation(self, spark, sf_dir):
        # hash aggregate must have a map-side partial pass (two HashAggregates)
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["dedup_exact"](spark, sf_dir))
        assert plan.count("HashAggregate") >= 2

    def test_ann_brute_broadcasts_queries(self, spark, sf_dir):
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["ann_topk_bruteforce"](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


class TestNewPathPlans:
    def test_html_strip_stays_jvm(self, spark):
        # 'strip' mode is regexp_replace/replace chains only — zero Python
        from pyspark.sql import functions as F

        from ppocr_spark.corpus import ensure_html_corpus
        from ppocr_spark.functions.boilerplate import strip_tags_col

        d = ensure_html_corpus(12)
        df = spark.read.parquet(f"{d}/html_docs.parquet").select(
            "doc_id", strip_tags_col(F.col("html")).alias("t")
        )
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_html_main_is_single_arrow_stage(self, spark):
        from ppocr_spark.corpus import ensure_html_corpus
        from ppocr_spark.functions.boilerplate import main_content

        d = ensure_html_corpus(12)
        df = main_content(spark.read.parquet(f"{d}/html_docs.parquet"))
        plan = _plan(df)
        # one vectorized stage (each node appears twice in 'formatted':
        # once in the tree, once in the detail section)
        assert plan.count("ArrowEvalPython") == 2
        assert "BatchEvalPython" not in plan  # never row-at-a-time

    def test_pdf_page_join_is_jvm_side_split(self, spark, small_corpus):
        # the #page=N split happens in JVM expressions (regexp) before the
        # join; the payload joins on base_ref via broadcast
        from ppocr_spark.config import PPOCRConfig
        from ppocr_spark.pipeline import explode_spans, ocr_media_spans

        docs = spark.read.parquet(f"{small_corpus}/documents_spans.parquet")
        media = spark.read.parquet(f"{small_corpus}/media.parquet")
        df = ocr_media_spans(
            explode_spans(docs), media, PPOCRConfig(), broadcast_media=True
        )
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "base_ref" in plan
        # exactly one Python stage: the OCR UDF itself
        assert plan.count("ArrowEvalPython") + plan.count(
            "MapInArrow"
        ) + plan.count("PythonMapInArrow") >= 1
        assert "BatchEvalPython" not in plan


class TestCopartitionPlan:
    def test_grouped_join_no_extra_exchange(self, spark, small_corpus):
        """Co-partitioned path plan pins: both join sides explicitly
        hash-partitioned on base_ref with a pinned count, so (a) the join
        itself adds NO further exchange (the payload moves exactly once)
        and (b) the slim grouped side cannot be AQE-coalesced under the
        OCR stage. The payload must never cross a second exchange."""
        from pyspark.sql import functions as F

        from ppocr_spark.config import PPOCRConfig
        from ppocr_spark.pipeline import explode_spans, ocr_media_spans

        docs = spark.read.parquet(f"{small_corpus}/documents_spans.parquet")
        media = spark.read.parquet(f"{small_corpus}/media.parquet")
        spans = explode_spans(docs)
        # model the >threshold regime (the only one where this path runs):
        # at the test's media size Catalyst would broadcast regardless
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ocr = ocr_media_spans(
                spans, media, PPOCRConfig(), broadcast_media=False
            )
            plan = _plan(ocr)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # exactly three hash exchanges: the groupBy's partial->final for
        # the slim side, then one explicit repartition per join side;
        # no exchange sits between the join and the Arrow UDF (the
        # payload crosses the wire exactly once)
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges <= 3, plan[:2000]
        udf_after_join = plan.index("MapInArrow") < max(
            plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin")
        )
        assert udf_after_join  # formatted plan prints consumers first
        assert "ArrowEvalPython" not in plan  # mapInArrow ≠ eval node


class TestLshEquiJoinPlans:
    """Round-3 pins: the embedding-LSH candidate joins must be EQUI-joins
    on exploded (tbl, bucket) keys — an OR-of-bucket-equalities condition
    has no extractable equi-keys and planned as BroadcastNestedLoopJoin
    (CartesianProduct beyond broadcast size), i.e. O(n²) pair evaluations
    hiding under the '100 TB dedup path' label (VERDICT r2 #1)."""

    def test_lsh_near_dup_pairs_no_nested_loop(self, spark, sf_dir):
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["dedup_embedding_lsh"](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert (
            "BroadcastHashJoin" in plan
            or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        )

    def test_lsh_topk_no_nested_loop(self, spark, sf_dir):
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["ann_topk_lsh"](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert (
            "BroadcastHashJoin" in plan
            or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        )

    def test_lsh_near_dup_pairs_scale_regime_no_nested_loop(self, spark,
                                                            sf_dir):
        # force the >broadcast regime: the candidate join must fall back
        # to a SHUFFLED equi-join, never to CartesianProduct
        import __spark_entry__ as entry

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = entry.queries()["dedup_embedding_lsh"](spark, sf_dir)
            df.collect()  # AQE finalizes exchange reuse at runtime
            plan = _plan(df)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # identical self-join sides → one signature pass via ReusedExchange
        assert "ReusedExchange" in plan


class TestFineQuantizerPlans:
    """Round-4 pins: the fine-quantizer path (VERDICT r3 #4). Assignment
    must be a map-side Arrow pass (no join at all — the centroid matrix
    rides as a closure/broadcast variable), and the SemDeDup within-cell
    pair join must be an EQUI-join on the cluster id, never a nested
    loop."""

    def test_kmeans_fine_assignment_no_join(self, spark, sf_dir):
        from ppocr_spark.functions.similarity import kmeans_fine

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assignment, _ = kmeans_fine(e, n_centroids=128, iters=1, dim=64)
        plan = _plan(assignment)
        # pure map-side assignment: scan → quantize → MapInPandas, no
        # join/shuffle of the corpus (the gate query's orderBy adds a
        # presentation Exchange on top; the operator itself has none)
        for op in ("Join", "CartesianProduct", "Exchange"):
            assert op not in plan, op
        assert "MapInPandas" in plan

    def test_ivf_fine_probe_equi_join(self, spark, sf_dir):
        """ivf_topk_fine: the candidate join must be an equi-join on the
        cell id (broadcast/hash/sort-merge), never a nested loop; probe
        assignment is Arrow map-side (MapInPandas present)."""
        from ppocr_spark import cache
        from ppocr_spark.functions.similarity import ivf_topk_fine

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(e.vec_id < 4)
        df = ivf_topk_fine(e, q, k=3, n_centroids=64, iters=1, n_probe=4)
        plan = _plan(df)
        cache.release_all()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "MapInPandas" in plan
        assert (
            "BroadcastHashJoin" in plan
            or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        )

    def test_ivf_fine_join_strategy_auto_selects(self, spark, sf_dir):
        """ivf_topk_fine gates the query-side broadcast by query-set size
        (VERDICT r4 #6): a probe-sized query set broadcasts, a
        corpus-sized one takes a shuffle equi-join on cl — no BNLJ or
        Cartesian in either shape."""
        import ppocr_spark.functions.similarity as sim
        from ppocr_spark import cache
        from ppocr_spark.functions.similarity import ivf_topk_fine

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

        # small query set: broadcast hash join on cl
        small = ivf_topk_fine(
            e, e.filter(e.vec_id < 4), k=3, n_centroids=64, iters=1,
            n_probe=4,
        )
        plan_small = _plan(small)
        cache.release_all()
        assert "BroadcastHashJoin" in plan_small
        assert "BroadcastNestedLoopJoin" not in plan_small
        assert "CartesianProduct" not in plan_small

        # corpus-sized query set (force the gate with a tiny budget):
        # exchange + non-broadcast equi-join
        old = sim._BROADCAST_QUERY_BYTES
        sim._BROADCAST_QUERY_BYTES = 0
        try:
            big = ivf_topk_fine(
                e, e, k=3, n_centroids=64, iters=1, n_probe=4
            )
            plan_big = _plan(big)
        finally:
            sim._BROADCAST_QUERY_BYTES = old
            cache.release_all()
        assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
        assert "BroadcastNestedLoopJoin" not in plan_big
        assert "CartesianProduct" not in plan_big
        # both join sides explicitly pinned on cl (REPARTITION_BY_NUM) —
        # the co-partitioned-media lesson: without explicit counts AQE
        # may coalesce the exploded-probe side under the corpus join
        assert plan_big.count("REPARTITION_BY_NUM") >= 2

    def test_semantic_fine_pairs_equi_join(self, spark, sf_dir):
        import __spark_entry__ as entry

        from ppocr_spark import cache

        df = entry.queries()["dedup_semantic"](spark, sf_dir)
        plan = _plan(df)
        cache.release_all()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert (
            "BroadcastHashJoin" in plan
            or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        )


class TestSubstringDedupPlans:
    """The positional-shingle ops must stay equi-join + partial-agg shaped:
    a plan that evaluates corpus×corpus (or corpus×probe) pairs would be
    the same O(n²) failure mode the LSH pins above guard against."""

    def test_substring_spans_equi_join_partial_agg(self, spark, sf_dir):
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["dedup_substring_spans"](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert (
            "BroadcastHashJoin" in plan
            or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        )
        # duplicated-gram detection combines map-side
        assert "partial_count" in plan
        assert "BatchEvalPython" not in plan

    def test_decontaminate_equi_join(self, spark, sf_dir):
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["decontaminate_spans"](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert (
            "BroadcastHashJoin" in plan
            or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        )
        assert "BatchEvalPython" not in plan

    def test_quality_gates_is_map_only(self, spark, sf_dir):
        # per-row HOF expressions: no join, no aggregate exchange beyond
        # the final presentation sort
        import __spark_entry__ as entry

        plan = _plan(entry.queries()["quality_gates"](spark, sf_dir))
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan


class TestBucketedColocatedJoin:
    def test_same_bucketing_joins_with_zero_exchange(self, spark, tmp_path):
        """Two relations bucketed identically on the join key (the
        Iceberg-bucket-DDL analog from SCALE.md §2) must sort-merge join
        with NO Exchange on either side — the layout, not the optimizer,
        pays for co-location. Broadcast is disabled so the test can't
        pass by broadcasting."""
        from ppocr_spark.sources.readers import write_bucketed

        spans = spark.createDataFrame(
            [(f"m{i % 40}", i, f"d{i}") for i in range(400)],
            "media_ref string, offset long, doc_id string",
        )
        media = spark.createDataFrame(
            [(f"m{i}", bytes([i])) for i in range(40)],
            "media_ref string, content binary",
        )
        write_bucketed(spans, "spans_b", "media_ref", n_buckets=8)
        write_bucketed(media, "media_b", "media_ref", n_buckets=8)
        try:
            with _no_broadcast(spark):
                joined = spark.table("spans_b").join(
                    spark.table("media_b"), "media_ref"
                )
                plan = (
                    joined._jdf.queryExecution().executedPlan().toString()
                )
                assert "SortMergeJoin" in plan
                assert "Exchange" not in plan  # co-located: zero shuffle
                assert joined.count() == 400
            # a NON-bucketed copy of the same join must shuffle: the
            # zero-Exchange plan above is the bucketing, not a freebie
            with _no_broadcast(spark):
                plain = spans.join(media, "media_ref")
                pplan = (
                    plain._jdf.queryExecution().executedPlan().toString()
                )
                assert "Exchange" in pplan
        finally:
            spark.sql("DROP TABLE IF EXISTS spans_b")
            spark.sql("DROP TABLE IF EXISTS media_b")

    def test_overwrite_survives_orphan_warehouse_dir(self, spark):
        """A crashed session leaves the managed-table directory in
        spark-warehouse while its (in-memory) catalog entry dies with the
        JVM; the next saveAsTable then fails LOCATION_ALREADY_EXISTS even
        with mode=overwrite. write_bucketed must clear the orphan and
        succeed (regression: test_full_document_equality failed on the
        leftovers of a killed run)."""
        import os
        from urllib.parse import urlparse

        from ppocr_spark.sources.readers import write_bucketed

        df = spark.createDataFrame(
            [(f"m{i}", i) for i in range(16)], "media_ref string, v long"
        )
        warehouse = urlparse(
            spark.conf.get("spark.sql.warehouse.dir")
        ).path
        orphan = f"{warehouse}/orphan_tbl"
        try:
            # simulate the crash artifact: location exists, no catalog row
            spark.sql("DROP TABLE IF EXISTS orphan_tbl")
            os.makedirs(orphan, exist_ok=True)
            with open(f"{orphan}/part-stale.parquet", "w") as f:
                f.write("stale")
            write_bucketed(df, "orphan_tbl", "media_ref", n_buckets=4)
            assert spark.table("orphan_tbl").count() == 16
            assert not os.path.exists(f"{orphan}/part-stale.parquet")
        finally:
            spark.sql("DROP TABLE IF EXISTS orphan_tbl")


class TestColocatedExtraction:
    def test_media_branch_zero_exchange_and_equal_output(
        self, spark, small_corpus
    ):
        """The ingest-time bucket layout (write_extraction_layout) must
        make the whole pre-UDF media branch — group requests per payload,
        attach payload — plan with ZERO Exchange, and produce exactly the
        rows of the co-partitioned runtime path on the same corpus."""
        from ppocr_spark.config import PPOCRConfig
        from ppocr_spark.pipeline import (
            explode_spans,
            ocr_grouped,
            ocr_media_spans,
        )
        from ppocr_spark.sources.readers import write_extraction_layout

        docs = spark.read.parquet(f"{small_corpus}/documents_spans.parquet")
        media = spark.read.parquet(f"{small_corpus}/media.parquet")
        cfg = PPOCRConfig(cls=True, use_angle_cls=True)
        write_extraction_layout(docs, media, n_buckets=8, prefix="t_colo")
        try:
            with _no_broadcast(spark):
                # no repartition count: the layout co-locates the inputs
                colo = ocr_grouped(
                    spark.table("t_colo_media_spans"),
                    spark.table("t_colo_media"),
                    cfg,
                )
                plan = colo._jdf.queryExecution().executedPlan().toString()
                assert "SortMergeJoin" in plan
                assert "Exchange" not in plan  # layout pays the shuffle
                got = sorted(
                    (r.doc_id, r.offset, r.media_ref, r.code, r.text)
                    for r in colo.collect()
                )
            base = ocr_media_spans(
                explode_spans(docs), media, cfg, broadcast_media=False
            )
            want = sorted(
                (r.doc_id, r.offset, r.media_ref, r.code, r.text)
                for r in base.collect()
            )
            assert got == want and len(got) > 0
        finally:
            for t in ("t_colo_media_spans", "t_colo_media",
                      "t_colo_text_spans"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_full_document_equality(self, spark, small_corpus):
        """extract_documents_colocated == extract_documents on the e2e
        corpus: same doc_ids, same span sequences (kind, text, media_ref,
        order, code)."""
        from ppocr_spark.config import PPOCRConfig
        from ppocr_spark.pipeline import (
            extract_documents,
            extract_documents_colocated,
        )
        from ppocr_spark.sources.readers import write_extraction_layout

        docs = spark.read.parquet(f"{small_corpus}/documents_spans.parquet")
        media = spark.read.parquet(f"{small_corpus}/media.parquet")
        cfg = PPOCRConfig(cls=True, use_angle_cls=True)
        write_extraction_layout(docs, media, n_buckets=8, prefix="t_colo2")
        try:
            got = {
                r.doc_id: [tuple(s) for s in r.spans]
                for r in extract_documents_colocated(
                    spark, "t_colo2", cfg
                ).collect()
            }
            want = {
                r.doc_id: [tuple(s) for s in r.spans]
                for r in extract_documents(docs, media, cfg).collect()
            }
            assert got == want and len(got) > 0
        finally:
            for t in ("t_colo2_media_spans", "t_colo2_media",
                      "t_colo2_text_spans"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_ivf_pq_candidate_join_shape(self, spark, sf_dir):
        """ivf_pq_topk: the candidate join is a broadcast hash equi-join
        on the cell id (ADC-table side is |queries| x n_probe rows), the
        per-pair scoring is pure JVM (no Python eval above the encode
        passes), and no BNLJ/Cartesian anywhere."""
        from ppocr_spark import cache
        from ppocr_spark.functions.similarity import ivf_pq_topk

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(e.vec_id < 4)
        df = ivf_pq_topk(e, q, k=3)
        plan = _plan(df)
        cache.release_all()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        assert "MapInPandas" in plan
