"""Physical-plan assertions: the properties that make the engine viable at
100 TB must be visible in `.explain` output, not just hoped for.

- keyword filters reach the parquet scan (PushedFilters);
- the query side of every search is broadcast — the corpus is never
  shuffled for scoring;
- group-bys use partial (map-side) aggregation;
- final projections prune the scan schema (no full-row reads).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from robi_biometric_qdrant_vector_db_service_spark.operators.search import knn_search
from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _probes(spark, n=4):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def test_label_filter_is_pushed_to_scan(spark):
    corpus = load_table(spark, SF_SMOKE, "embeddings")
    df = knn_search(corpus, _probes(spark), k=5, label_filter=[2, 5])
    plan = _plan(df)
    assert "PushedFilters: [In(label" in plan, plan


def test_search_broadcasts_queries_not_corpus(spark):
    corpus = load_table(spark, SF_SMOKE, "embeddings")
    df = knn_search(corpus, _probes(spark), k=5)
    plan = _plan(df)
    assert "BroadcastExchange" in plan, plan
    # the only (non-broadcast) exchange is the per-query ranking shuffle —
    # the corpus itself is never repartitioned for scoring
    import re

    non_broadcast_exchanges = re.findall(r"^\(\d+\) Exchange$", plan, re.M)
    assert len(non_broadcast_exchanges) <= 1, plan
    # Spark pushes a WindowGroupLimit below that exchange: the per-query
    # top-k is partially evaluated map-side, so the shuffle carries ≤ k rows
    # per (query, partition) — the property that keeps Q1 viable at 100 TB
    assert "WindowGroupLimit" in plan, plan


def test_groupby_uses_partial_aggregation(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    df = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    plan = _plan(df)
    assert "partial_count" in plan, plan


def test_projection_prunes_scan_schema(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    df = docs.groupBy("lang").agg(F.count("*").alias("n"))
    plan = _plan(df)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "text" not in scan[0], scan


def test_store_user_read_prunes_to_one_bucket(spark, tmp_path):
    """O1: the store's bucket(user_id) layout must bound keyword-filtered
    reads to ONE bucket's files — the reference's RAM keyword index
    (advanced_indexing.py:52-59) as physical layout.  The manifest resolves
    the filter before Spark plans the scan, so unlisted files are never
    even enumerated (stronger than PartitionFilters pruning)."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    pts = emb.select(
        F.col("vec_id").cast("string").alias("point_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        F.concat(F.lit("u"), F.col("label")).alias("user_id"),
        F.lit(1.0).alias("ts"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    store = VectorStore.create(spark, str(tmp_path / "s"), pts)
    df = store.read(user_id="u3")
    scanned = {f.removeprefix("file://") for f in df.inputFiles()}
    assert scanned == set(store.input_files(user_id="u3")), scanned
    assert scanned < set(store.input_files()), "filtered read must scan a strict subset"
    # inside the bucket, the exact predicate still reaches the parquet scan
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,u3)" in _plan(df), _plan(df)
    rows = df.collect()
    assert rows and all(r["user_id"] == "u3" for r in rows)


def test_store_shard_selector_prunes_to_selected_buckets(spark, tmp_path):
    """Qdrant multitenant ``shard_key_selector``: a multi-key routed read
    must scan exactly the union of the selected keys' buckets — every
    other tenant's files never enumerated — and push the IN predicate
    inside the surviving buckets; results must equal the full-scan filter."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(80)
    pts = emb.select(
        F.col("vec_id").cast("string").alias("point_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        F.concat(F.lit("u"), F.col("label")).alias("user_id"),
        F.lit(1.0).alias("ts"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    store = VectorStore.create(spark, str(tmp_path / "s"), pts)
    df = store.read(user_ids=["u2", "u5"])
    scanned = {f.removeprefix("file://") for f in df.inputFiles()}
    assert scanned == set(store.input_files(user_ids=["u2", "u5"])), scanned
    assert scanned < set(store.input_files()), "routed read must scan a strict subset"
    assert "In(user_id, [u2,u5])" in _plan(df), _plan(df)
    got = {(r.point_id, r.user_id) for r in df.collect()}
    want = {
        (r.point_id, r.user_id)
        for r in store.read().filter(F.col("user_id").isin(["u2", "u5"])).collect()
    }
    assert got == want and got
    # search() routes through the same selector; single-key selector
    # degenerates to the one-bucket read
    one = store.read(user_ids=["u2"])
    assert set(f.removeprefix("file://") for f in one.inputFiles()) == set(
        store.input_files(user_id="u2")
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not both"):
        store.search(emb.limit(1).selectExpr("vec_id as q_id", "embedding as q_emb"),
                     user_filter="u2", shard_selector=["u5"])
    with _pytest.raises(ValueError, match="at least one"):
        store.read(user_ids=[])


def test_store_mutations_rewrite_only_touched_buckets(spark, tmp_path):
    """VERDICT r1 item 2: a delete/upsert must re-link untouched buckets'
    files BY REFERENCE into the new manifest — byte-identical paths — and
    rewrite only the buckets containing matched rows."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import (
        VectorStore,
        _py_bucket,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    pts = emb.select(
        F.col("vec_id").cast("string").alias("point_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        F.concat(F.lit("u"), F.col("label")).alias("user_id"),
        F.lit(1.0).alias("ts"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    store = VectorStore.create(spark, str(tmp_path / "s"), pts)
    before = store._read_manifest()
    n_users = store.read().select("user_id").distinct().count()
    assert n_users > 1, "fixture must span several buckets"

    n = store.delete_where("user_id = 'u3'")
    assert n > 0
    after = store._read_manifest()
    b3 = _py_bucket("u3", store.n_buckets)
    assert after[b3] != before[b3], "matched bucket must be rewritten"
    untouched_equal = [b for b in range(store.n_buckets) if b != b3 and after[b] == before[b]]
    assert len(untouched_equal) == store.n_buckets - 1, (before, after)

    # pure append: no pre-existing file replaced
    pre = store._read_manifest()
    one = spark.createDataFrame(
        [("zz", [1.0] * 8, "u1", 1.0, {})],
        "point_id string, embedding array<double>, user_id string, ts double, metadata map<string,string>",
    )
    store.add_batch(one)
    post = store._read_manifest()
    for b in range(store.n_buckets):
        assert set(pre[b]) <= set(post[b]), "append must keep every existing file"

    # vacuum drops the files the delete superseded, keeps the live set
    live = set(store.input_files())
    removed = store.vacuum()
    assert removed > 0
    assert set(store.input_files()) == live
    assert store.read().filter("user_id = 'u3'").count() == 0


def test_pipeline_ops_plan_shape(spark):
    """The curation ops' scale claims, visible in the plan: the per-source
    sample cap runs as a map-side WindowGroupLimit (bounded shuffle), and
    decontamination broadcasts the bounded benchmark side so the corpus
    side never shuffles."""
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        benchmark_decontamination,
        domain_balanced_sample,
    )

    sample_plan = _plan(domain_balanced_sample(spark, SF_SMOKE))
    assert "WindowGroupLimit" in sample_plan, sample_plan
    decon_plan = _plan(benchmark_decontamination(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in decon_plan, decon_plan


def test_payload_promotion_enables_pushdown(spark, tmp_path):
    """Payload-index semantics (advanced_indexing.py:39-125): a predicate on
    an opaque ``metadata['k']`` map access CANNOT reach the parquet scan;
    after typed-column promotion the same predicate is pushed down — the
    promotion IS the index.  Sorted-by-field layout then makes row-group
    min/max stats skip non-matching groups at scale."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.payload_index import (
        promote_payload_fields,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(100)
    pts = emb.select(
        F.col("vec_id").cast("string").alias("point_id"),
        F.create_map(
            F.lit("face_quality"), (F.col("vec_id") % 5).cast("string")
        ).alias("metadata"),
    )
    raw = str(tmp_path / "raw")
    pts.write.parquet(raw)
    unpromoted = spark.read.parquet(raw).filter(F.col("metadata")["face_quality"] >= "2")
    # only the null check pushes; the map-access comparison stays post-scan
    assert "PushedFilters: [IsNotNull(metadata)]" in _plan(unpromoted), _plan(unpromoted)
    assert "face_quality" not in _plan(unpromoted).split("PushedFilters")[1].split("]")[0]

    promoted_path = str(tmp_path / "promoted")
    promote_payload_fields(pts, {"face_quality": "integer"}).drop("metadata").sort(
        "face_quality"
    ).write.parquet(promoted_path)
    promoted = spark.read.parquet(promoted_path).filter(F.col("face_quality") >= 2)
    assert "GreaterThanOrEqual(face_quality,2)" in _plan(promoted), _plan(promoted)
    assert promoted.count() == unpromoted.count()


def test_store_ts_range_skips_files(spark, tmp_path):
    """Manifest ts min/max data skipping: a time-range read must scan ONLY
    files whose recorded [min_ts, max_ts] overlaps the range — the DATETIME
    payload index (advanced_indexing.py:61-69) as file-level pruning — and
    the stats must survive clone and unrelated mutations."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(60)
    pts = emb.select(
        F.col("vec_id").cast("string").alias("point_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        F.concat(F.lit("u"), F.col("label")).alias("user_id"),
        (F.lit(1000.0) + F.col("vec_id")).alias("ts"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    store = VectorStore.create(spark, str(tmp_path / "s"), pts)
    old_files = set(store.input_files())
    late = pts.withColumn("ts", F.col("ts") + 9000.0)
    store.add_batch(late, normalize=False)

    df = store.read(ts_range=(9500.0, 20000.0))
    scanned = {f.removeprefix("file://") for f in df.inputFiles()}
    assert scanned and scanned.isdisjoint(old_files), (scanned, old_files)
    assert df.count() == 60
    # stats carry through a zero-copy clone and an unrelated delete
    clone = store.clone(str(tmp_path / "c"))
    clone.delete_where("user_id = 'u3' AND ts < 5000")
    df2 = clone.read(ts_range=(9500.0, 20000.0))
    scanned2 = {f.removeprefix("file://") for f in df2.inputFiles()}
    assert scanned2.isdisjoint(old_files) and df2.count() == 60


def test_store_compaction_merges_fragmented_buckets(spark, tmp_path):
    """O7 optimizer: compact() must merge only over-fragmented buckets,
    keep under-threshold buckets' files by reference, and serve the exact
    same rows afterwards (pure physical re-layout, Qdrant's background
    segment merge qdrant_client.py:117-125)."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import (
        VectorStore,
        _py_bucket,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(100)
    pts = emb.select(
        F.col("vec_id").cast("string").alias("point_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        F.concat(F.lit("u"), F.col("label")).alias("user_id"),
        F.lit(1.0).alias("ts"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    store = VectorStore.create(spark, str(tmp_path / "s"), pts)
    # fragment ONE user's bucket with three 1-row appends
    for i in range(3):
        one = spark.createDataFrame(
            [(f"x{i}", [1.0] * 8, "u3", 1.0, {})],
            "point_id string, embedding array<double>, user_id string, ts double, metadata map<string,string>",
        )
        store.add_batch(one, normalize=False)
    before_rows = sorted(r["point_id"] for r in store.read().collect())
    before = store._read_manifest()
    b3 = _py_bucket("u3", store.n_buckets)
    assert len(before[b3]) == 4, before[b3]

    n_merged = store.compact(max_files_per_bucket=3)
    after = store._read_manifest()
    assert n_merged == 1, "only the fragmented bucket qualifies"
    assert len(after[b3]) == 1, after[b3]
    for b in range(store.n_buckets):
        if b != b3:
            assert after[b] == before[b], "under-threshold buckets carry over by reference"
    assert sorted(r["point_id"] for r in store.read().collect()) == before_rows
    # second pass is a no-op; vacuum retires the superseded fragments
    assert store.compact(max_files_per_bucket=3) == 0
    assert store.vacuum() > 0
    assert sorted(r["point_id"] for r in store.read().collect()) == before_rows


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing co-locates the join: writing both sides bucketed+sorted on
    the key lets Spark sort-merge-join them with NO exchange on either side
    — the layout that makes repeated big-big joins viable at 100 TB."""
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    for df, name, key in ((orders, "b_orders", "o_orderkey"), (li, "b_lineitem", "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(4, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    # at fixture scale the planner would broadcast instead (and rightly so);
    # disable it to surface the big-big bucketed path under test
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_orders")
            .join(spark.table("b_lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
            .select("o_orderkey", "l_linenumber", "l_quantity")
        )
        import re

        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert not re.findall(r"^\(\d+\) Exchange$", plan, re.M), plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivf_cell_layout_prunes_partitions(spark):
    """The IVF scale path: with the corpus laid out partitioned by cell,
    the probe-cells broadcast join must inject dynamic partition pruning
    into the corpus scan (only probed cells' directories are read)."""
    from robi_biometric_qdrant_vector_db_service_spark.workload_ann import ann_ivf_pruned_topk

    df = ann_ivf_pruned_topk(spark, SF_SMOKE)
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower(), plan
    assert df.count() > 0


def test_hot_cache_preserves_results(spark, monkeypatch):
    """The opt-in memory-resident hot store (SPARK_GRAFT_HOT_CACHE=1) must
    return byte-identical results while serving from an InMemory scan —
    order-independence of every aggregate is what makes the repartitioned
    cache safe.  A second load of a cached table returns the cached frame
    before any read, so it starts no schema-inference job."""
    import uuid

    import robi_biometric_qdrant_vector_db_service_spark.sources.catalog as cat

    cold = (
        cat.load_table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
        .collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_HOT_CACHE", "1")
    try:
        hot_df = cat.load_table(spark, SF_SMOKE, "lineitem")
        assert "InMemoryTableScan" in _plan(hot_df.groupBy("l_returnflag").count())
        sc, group = spark.sparkContext, f"hot-hit-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "hot-cache hit")
        try:
            assert cat.load_table(spark, SF_SMOKE, "lineitem") is hot_df
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        hot = (
            hot_df.groupBy("l_returnflag")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
            .collect()
        )
    finally:
        for (sfd, name), df in list(cat._hot_cache.items()):
            df.unpersist()
            del cat._hot_cache[(sfd, name)]
    assert sorted(map(tuple, cold)) == sorted(map(tuple, hot))


def test_delete_user_touches_one_bucket_end_to_end(spark, tmp_path):
    """delete_user must resolve the bucket DRIVER-SIDE: the locate scan
    reads only that bucket's files and the rewrite replaces only that
    bucket's manifest entry."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import (
        VectorStore,
        _py_bucket,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    pts = emb.select(
        F.col("vec_id").cast("string").alias("point_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        F.concat(F.lit("u"), F.col("label")).alias("user_id"),
        F.lit(1.0).alias("ts"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    store = VectorStore.create(spark, str(tmp_path / "s"), pts)
    before = store._read_manifest()
    expected = store.read().filter("user_id = 'u3'").count()
    assert expected > 0

    n = store.delete_user("u3")
    assert n == expected
    after = store._read_manifest()
    b3 = _py_bucket("u3", store.n_buckets)
    assert after[b3] != before[b3]
    assert all(after[b] == before[b] for b in range(store.n_buckets) if b != b3)
    assert store.read().filter("user_id = 'u3'").count() == 0
    # other users in the SAME bucket survive the rewrite
    assert store.read().count() == 200 - expected


def test_asof_join_is_one_shuffle_no_range_probe(spark):
    """The union-tag as-of construction must not degenerate into a
    broadcast-nested-loop/range join: one hash exchange on user_id feeds
    the carry-forward window; everything else stays in-partition."""
    import re

    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    df = REGISTRY["purchase_attribution_asof"].run(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    non_broadcast_exchanges = re.findall(r"^\(\d+\) Exchange$", plan, re.M)
    # one exchange per union branch (same user_id partitioning, coalesced at
    # runtime by AQE); the window itself adds none
    assert len(non_broadcast_exchanges) <= 2, plan
    assert "Window" in plan, plan


def test_pq_adc_scan_reads_only_the_code_column(spark):
    """The ADC stage's marquee property: the candidate scan touches the
    m-byte code column, never the float vectors (32x narrower at rest).
    The staged codes table also carries a cell id for the IVFPQ consumer -
    pq_adc must let Catalyst prune it out of the scan."""
    import re

    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    df = REGISTRY["pq_adc_topk"].run(spark, SF_SMOKE)
    plan = _plan(df)
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    code_scans = [s for s in schemas if "codes" in s]
    assert code_scans, plan
    for s in code_scans:
        assert "embedding" not in s and "cell" not in s, s
    # float vectors appear only in rescore/probe-side scans
    assert any("embedding" in s for s in schemas), plan


def test_hi_lsh_plan_is_bucketed_not_cartesian(spark):
    """The production-threshold LSH must get its candidates from the
    (table, bucket) equi-join — never a cartesian/nested-loop pair scan.
    At fixture scale Catalyst's size-gated autoBroadcast may still
    broadcast the small embedding sides of the verify join — that is the
    size-gate working, not a forced hint (see the companion test below)."""
    import robi_biometric_qdrant_vector_db_service_spark.workload  # noqa: F401 — registry init
    from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import load_table
    from robi_biometric_qdrant_vector_db_service_spark.workload_dedup import (
        sign_lsh_near_dups,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(sign_lsh_near_dups(emb))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # candidate generation: sort-merge/hash equi-join on the band key
    assert "table" in plan and "bucket" in plan


def test_lsh_verify_joins_never_force_corpus_broadcast(spark):
    """VERDICT r6 item 1: the embedding-LSH verify joins must NOT pin a
    broadcast hint on the corpus embedding sides — at 10⁹+ rows that hint
    is a guaranteed executor OOM.  Proof: with autoBroadcastJoinThreshold
    disabled, any BroadcastExchange left in the plan could only come from
    a user hint, so the verify-join plans must contain none (the bounded
    stop-shingle anti-join in the Jaccard path is the one allowed hint,
    and it does not appear in these two queries)."""
    import robi_biometric_qdrant_vector_db_service_spark.workload  # noqa: F401 — registry init
    from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import load_table
    from robi_biometric_qdrant_vector_db_service_spark.workload_dedup import (
        embedding_near_dups_lsh,
        sign_lsh_near_dups,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for df in (sign_lsh_near_dups(emb), embedding_near_dups_lsh(spark, SF_SMOKE)):
            plan = _plan(df)
            assert "BroadcastExchange" not in plan, plan
            assert "CartesianProduct" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_doc_chunks_is_shuffle_free(spark):
    """Chunking is a per-document projection — the plan must contain no
    Exchange at all: sequence/slice/explode never shuffle."""
    import robi_biometric_qdrant_vector_db_service_spark.workload  # noqa: F401 — registry init
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    plan = _plan(REGISTRY["doc_chunks"].run(spark, SF_SMOKE))
    assert "Exchange" not in plan, plan


def test_bm25_topk_is_take_ordered_not_global_sort(spark):
    """The BM25 top-10 cut must be a distributed TakeOrdered, never a
    global Sort of all per-doc scores (corpus-sized at 100 TB)."""
    import robi_biometric_qdrant_vector_db_service_spark.workload  # noqa: F401 — registry init
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    plan = _plan(REGISTRY["bm25_top_docs"].run(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_dbsf_fusion_adds_only_bounded_aggregation_shuffles(spark):
    """dbsf_fusion_topk: beyond the k-NN ranking shuffle (≤ k rows per
    probe per partition), the only additional exchanges are over the
    ≤ probes·k hit set — the per-ranking moment aggregate and the fusion
    group-by; the per-ranking stats come back via BroadcastExchange, and
    the corpus itself is never repartitioned."""
    import re

    import robi_biometric_qdrant_vector_db_service_spark.workload  # noqa: F401 — registry init
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    plan = _plan(REGISTRY["dbsf_fusion_topk"].run(spark, SF_SMOKE))
    assert "BroadcastExchange" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    non_broadcast_exchanges = re.findall(r"^\(\d+\) Exchange$", plan, re.M)
    # ranking shuffle + moment agg + fusion group-by (the latter two over
    # the bounded hit set); AQE may coalesce but never add to these
    assert len(non_broadcast_exchanges) <= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_ordered_scroll_literal_cursor_pushes_and_paginates(spark):
    """scroll_page_order_by with a LITERAL client-echoed cursor: the
    composite (field, id) OR-of-ANDs must reach the parquet scan as
    PushedFilters, and walking pages must be disjoint and exhaustive."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.search import (
        scroll_page_order_by,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "label")
    total = emb.count()
    seen: list[tuple] = []
    cursor = None
    while True:
        page = scroll_page_order_by(emb, "label", after=cursor, page_size=37)
        rows = page.collect()
        if not rows:
            break
        keys = [(r["label"], r["vec_id"]) for r in rows]
        assert keys == sorted(keys), "page must be (field, id)-ordered"
        if seen:
            assert keys[0] > seen[-1], "pages must be strictly increasing"
        seen.extend(keys)
        cursor = keys[-1]
    assert len(seen) == total and len(set(seen)) == total, "disjoint + exhaustive"
    # the literal-cursor predicate reaches the scan, alongside the
    # skip-NULL-field conjunct (Qdrant order_by semantics)
    plan = _plan(scroll_page_order_by(emb, "label", after=(3, 100), page_size=10))
    assert "PushedFilters: [IsNotNull(label), Or(GreaterThan(label,3)" in plan, plan


def test_ordered_scroll_desc_literal_cursor_pushes_and_paginates(spark):
    """Qdrant ``scroll(order_by={key, direction: desc})`` (VERDICT r8
    item 3): the descending composite keyset — every comparison flipped —
    must walk pages disjoint + exhaustive in strictly DECREASING (field,
    id) order, and the literal cursor must reach the parquet scan as an
    Or(LessThan…) pushed filter alongside the NULL-skip conjunct."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.search import (
        scroll_page_order_by,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "label")
    total = emb.count()
    seen: list[tuple] = []
    cursor = None
    while True:
        page = scroll_page_order_by(
            emb, "label", after=cursor, page_size=37, direction="desc"
        )
        rows = page.collect()
        if not rows:
            break
        keys = [(r["label"], r["vec_id"]) for r in rows]
        assert keys == sorted(keys, reverse=True), "page must be (field, id)-desc"
        if seen:
            assert keys[0] < seen[-1], "pages must be strictly decreasing"
        seen.extend(keys)
        cursor = keys[-1]
    assert len(seen) == total and len(set(seen)) == total, "disjoint + exhaustive"
    plan = _plan(
        scroll_page_order_by(emb, "label", after=(3, 100), page_size=10, direction="desc")
    )
    assert "PushedFilters: [IsNotNull(label), Or(LessThan(label,3)" in plan, plan
    with pytest.raises(ValueError, match="direction"):
        scroll_page_order_by(emb, "label", direction="down")


def test_ordered_scroll_start_from_inclusive_and_pushed(spark):
    """Qdrant ``scroll(order_by={key, start_from: value})``: the scroll
    begins AT the given order value — inclusive ``>=`` asc / ``<=`` desc —
    and the bound is a plain column/literal predicate that reaches the
    parquet scan alongside the NULL-skip conjunct.  With a cursor too,
    both conjuncts stay pushed (page set = pure function of the request)."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.search import (
        scroll_page_order_by,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "label")
    rows = scroll_page_order_by(emb, "label", start_from=3, page_size=10**6).collect()
    expect = emb.filter("label IS NOT NULL AND label >= 3").count()
    assert len(rows) == expect and min(r["label"] for r in rows) == 3, len(rows)
    rows = scroll_page_order_by(
        emb, "label", start_from=6, page_size=10**6, direction="desc"
    ).collect()
    expect = emb.filter("label IS NOT NULL AND label <= 6").count()
    assert len(rows) == expect and max(r["label"] for r in rows) == 6, len(rows)
    plan = _plan(scroll_page_order_by(emb, "label", start_from=3, page_size=10))
    assert "GreaterThanOrEqual(label,3)" in plan, plan
    plan = _plan(
        scroll_page_order_by(
            emb, "label", start_from=6, after=(3, 100), page_size=10, direction="desc"
        )
    )
    assert "LessThanOrEqual(label,6)" in plan, plan
    assert "Or(LessThan(label,3)" in plan, plan


def test_knn_query_filter_combinators_push_to_scan(spark):
    """`knn_search(query_filter=…)` — Qdrant's search with a full Filter —
    must prune the corpus at the scan, BEFORE the broadcast scoring join:
    the should-disjunction and the must_not negation both land in
    PushedFilters of the corpus scan."""
    corpus = load_table(spark, SF_SMOKE, "embeddings")
    df = knn_search(
        corpus,
        _probes(spark),
        k=5,
        query_filter={
            "should": [
                {"key": "label", "match": {"any": [2, 5]}},
                {"key": "label", "range": {"gte": 8}},
            ],
            "must_not": [{"key": "vec_id", "range": {"gt": 400, "lte": 450}}],
        },
    )
    plan = _plan(df)
    pushed = plan.split("PushedFilters: [")[1].split("\n")[0]
    # should-disjunction pushed whole; must_not range pushed with the
    # negation simplified (Not(>) → <=) and the null guard on the column
    assert "Or(In(label, [2,5]),GreaterThanOrEqual(label,8))" in pushed, plan
    assert (
        "Or(Or(LessThanOrEqual(vec_id,400),GreaterThan(vec_id,450)),IsNull(vec_id))"
        in pushed
    ), plan
    assert "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan, plan


def test_filtered_scroll_pages_filtered_subset_with_pushdown(spark):
    """Qdrant ``scroll(scroll_filter=…)``: keyset pages under a combinator
    Filter must be disjoint + exhaustive over EXACTLY the matching subset,
    and on the literal-cursor serving path the filter's disjunction pushes
    to the scan alongside the cursor."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.search import scroll_page

    spec = {
        "should": [
            {"key": "label", "match": {"any": [1, 3]}},
            {"key": "label", "range": {"gte": 8}},
        ],
    }
    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "label")
    want = sorted(
        r["vec_id"]
        for r in emb.filter((F.col("label").isin(1, 3)) | (F.col("label") >= 8)).collect()
    )
    seen, cursor = [], None
    while True:
        page = scroll_page(
            emb, after_id=cursor, page_size=23, scroll_filter=spec
        ).collect()
        if not page:
            break
        seen.extend(r["vec_id"] for r in page)
        cursor = seen[-1]
    assert seen == want, (len(seen), len(want))
    plan = _plan(scroll_page(emb, after_id=100, page_size=10, scroll_filter=spec))
    pushed = plan.split("PushedFilters: [")[1].split("\n")[0]
    assert "Or(In(label, [1,3]),GreaterThanOrEqual(label,8))" in pushed, plan
    assert "GreaterThan(vec_id,100)" in pushed, plan


def test_qdrant_filter_combinators_push_to_scan(spark, tmp_path):
    """The Qdrant Filter combinator surface (VERDICT r8 item 2) must stay
    a scan-level predicate: the should-disjunction pushes as Or(...), and
    the must_not IS-NOT-TRUE negation pushes as Or(Not(...), IsNull(col))
    — the null guard lands on the COLUMN, never on the comparison (an
    IsNull(col = lit) shape would stay post-scan)."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.payload_index import (
        qdrant_filter,
    )

    rows = [
        (str(i), f"u{i % 5}", float(i), None if i % 7 == 0 else f"g{i % 3}", i % 5)
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "point_id string, user_id string, ts double, enrollment_group string, face_quality int"
    )
    path = str(tmp_path / "pts")
    df.write.parquet(path)
    pts = spark.read.parquet(path)
    out = qdrant_filter(
        pts,
        {
            "must": [{"key": "ts", "range": {"gte": 10.0, "lt": 90.0}}],
            "should": [
                {"key": "face_quality", "range": {"gte": 4}},
                {"key": "user_id", "match": {"value": "u2"}},
            ],
            "must_not": [{"key": "enrollment_group", "match": {"any": ["g1"]}}],
        },
    )
    plan = _plan(out)
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "Or(GreaterThanOrEqual(face_quality,4),EqualTo(user_id,u2))" in pushed, plan
    assert "Or(Not(EqualTo(enrollment_group,g1)),IsNull(enrollment_group))" in pushed, plan
    # 3VL pin: NULL-group rows satisfying the other clauses are KEPT
    got = out.collect()
    assert any(r["enrollment_group"] is None for r in got)
    assert all(r["enrollment_group"] != "g1" for r in got)


def test_ordered_scroll_skips_null_field_rows(spark):
    """Qdrant's scroll(order_by=…) skips points missing the field; without
    that, Spark's NULLS FIRST sort would seat NULL rows on page 1 while the
    keyset predicate (NULL > x → NULL) drops them from every later page —
    inconsistent pagination (ADVICE r7, medium)."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.search import (
        scroll_page_order_by,
    )

    rows = [(1, None), (2, 10), (3, 20), (4, None), (5, 10), (6, 30)]
    df = spark.createDataFrame(rows, "vec_id long, grp int")
    seen, cursor = [], None
    while True:
        page = scroll_page_order_by(
            df, "grp", after=cursor, page_size=2, id_col="vec_id"
        ).collect()
        if not page:
            break
        seen.extend((r["grp"], r["vec_id"]) for r in page)
        cursor = seen[-1]
    assert seen == [(10, 2), (10, 5), (20, 3), (30, 6)]  # NULL-grp skipped
    with pytest.raises(ValueError):
        scroll_page_order_by(df, "grp", after=(None, 1), page_size=2)


def test_substring_dedup_plan_shape(spark):
    """ExactSubstr must stay the group-join-merge shape: no cartesian, no
    corpus-side broadcast (only the small dup-fp side may broadcast), and
    bounded shuffles — fingerprint agg + island window + span agg, with
    the dup-join either reusing the fp exchange or broadcasting the dup
    side.  A regression to an N² pair join would explode here first."""
    import re

    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    plan = _plan(REGISTRY["substring_dedup_spans"].run(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert shuffles <= 4, plan
    # the dup-fp side is the broadcast build of a hash join (never the
    # corpus-side positions), and its count-distinct aggregate combines
    # map-side before its exchange
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"BroadcastExchange(.|\n)*HashAggregate(.|\n)*Exchange", plan), plan


def test_substring_winnow_same_plan_shape_fewer_fingerprints(spark):
    """The winnowing mode (r14 — the 100 TB fingerprint path) must keep
    the exact mode's group-join-merge plan SHAPE (no cartesian, bounded
    shuffles, broadcast dup-fp side) with the selector as the one
    Arrow-batched stage — and must put ~2/(window+1) of the stride-1
    fingerprint rows through the fp shuffle (measured on the corpus, the
    volume claim that justifies the mode)."""
    import re

    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        SUBSTR_W,
        WINNOW_W,
        _winnow_select,
        substring_spans,
    )

    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(substring_spans(docs, w=SUBSTR_W, mode="winnow"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert shuffles <= 4, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "ArrowEvalPython" in plan, plan  # the winnow selector
    assert "BatchEvalPython" not in plan, plan  # never row-at-a-time

    t = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= SUBSTR_W
    )
    exact_rows = t.select(
        F.sum(F.size("toks") - SUBSTR_W + 1).alias("n")
    ).collect()[0]["n"]
    th = F.expr(f"transform(toks, x -> pmod(xxhash64(x), {(1 << 31) - 1}))")
    win_rows = t.select(
        F.sum(F.size(_winnow_select(SUBSTR_W, WINNOW_W)(th))).alias("n")
    ).collect()[0]["n"]
    ratio = win_rows / exact_rows
    expect = 2 / (WINNOW_W + 1)
    assert ratio < 1.6 * expect, (ratio, expect)


def test_multilingual_match_is_a_pure_scan_predicate(spark):
    """The multilingual tokenizer must compile to the same zero-shuffle
    fused scan predicate as the word tokenizer — no UDF, no exchange."""
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    plan = _plan(REGISTRY["match_text_multilingual"].run(spark, SF_SMOKE))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_image_phash_banded_join_plan(spark):
    """The perceptual-hash near-dup (r13): never all-pairs — no cartesian
    or nested-loop join anywhere; the dHash runs as Arrow-batched
    MapInPandas (not row-at-a-time Python); candidate generation is a
    banded equi-join; the popcount verify stays JVM-side (bit_count in
    the fused projection, no Python stage after the hash)."""
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    plan = _plan(REGISTRY["image_phash_dups"].run(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "bit_count" in plan, plan


def test_c4_line_gate_is_scan_speed(spark):
    """The C4/RefinedWeb line gate (r13): a pure per-document codegen
    projection — zero exchanges, zero Python stages, like the Gopher
    gate it sits next to."""
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    plan = _plan(REGISTRY["c4_line_quality"].run(spark, SF_SMOKE))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "MapInPandas" not in plan, plan


def test_facet_filter_pushes_and_takes_ordered(spark):
    """The shared facet operator: the Filter reaches the scan
    (PushedFilters on lang) and the top-limit is a TakeOrderedAndProject,
    not a global sort."""
    import re

    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    for name in ("facet_counts", "facet_array_values"):
        plan = _plan(REGISTRY[name].run(spark, SF_SMOKE))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any("lang" in p for p in pushed), (name, plan)
        assert "TakeOrderedAndProject" in plan, (name, plan)


def test_changes_scans_only_churned_files(spark, tmp_path):
    """CDC scale pin: ``changes(since)`` must enumerate ONLY files added
    or removed between the versions — a one-bucket mutation on a
    multi-bucket store reads that bucket's old + new files and nothing
    else (file identity is a content proof for immutable segments; the
    untouched bulk of a 100 TB store never enters the plan)."""
    from pyspark.sql import functions as F

    from robi_biometric_qdrant_vector_db_service_spark.operators.store import (
        VectorStore,
        _py_bucket,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pts = emb.select(
        F.col("vec_id").cast("string").alias("point_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        F.concat(F.lit("u"), F.col("label")).alias("user_id"),
        F.lit(1.0).alias("ts"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    store = VectorStore.create(spark, str(tmp_path / "s"), pts)
    v0 = store._current_version()
    m0 = store._read_manifest()
    assert store.read().select("user_id").distinct().count() > 1

    n = store.delete_user("u3")
    assert n > 0
    m1 = store._read_manifest()
    b3 = _py_bucket("u3", store.n_buckets)
    churned = (set(m0[b3]) | set(m1[b3])) - (set(m0[b3]) & set(m1[b3]))
    untouched = {
        f for b in range(store.n_buckets) if b != b3 for f in m0[b]
    }

    feed = store.changes(v0)
    scanned = {f.removeprefix("file://") for f in feed.inputFiles()}
    assert scanned, "feed must scan the churned bucket"
    assert scanned <= churned, (scanned, churned)
    assert scanned.isdisjoint(untouched)
    # and the feed itself is exactly the one bucket's deletes
    rows = feed.collect()
    assert {r["change"] for r in rows} == {"delete"}
    assert len(rows) == n


def test_new_media_and_mining_plan_shapes(spark):
    """The r17 additions' scale claims, visible in the plan:

    - scene-cut and VAD segmentation shuffle ONCE (the doc_id window —
      inherent to ordering a doc's frames/blocks) and never exchange the
      decoded media;
    - matryoshka rescore broadcasts the probe side and shuffles only for
      its two q_id ranking windows;
    - bitext mining broadcasts the target pool for candidate generation
      and never builds an unbroadcast cartesian product."""
    import re

    from robi_biometric_qdrant_vector_db_service_spark.workload_ann import (
        bitext_margin_pairs_q,
        matryoshka_rescore_topk_q,
    )
    from robi_biometric_qdrant_vector_db_service_spark.workload_sources import (
        audio_vad_segments,
        video_scene_cuts,
    )

    def shuffles(plan: str) -> int:
        return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))

    # r18 two-pass plan: four exchanges — the coarse ranking window on
    # doc_id, the flagged-window rollup, the cut-starts union, the final
    # segment window — all carrying 36-byte hashes or tiny window/cut
    # lists; the decoded PIXELS never shuffle (both decode passes are
    # mapInPandas projections, the fine pass fed by a BROADCAST of the
    # ∝-cuts window list)
    scene = _plan(video_scene_cuts(spark, SF_SMOKE))
    assert shuffles(scene) == 4, scene
    assert "BroadcastExchange" in scene, scene
    vad = _plan(audio_vad_segments(spark, SF_SMOKE))
    assert shuffles(vad) == 1, vad
    # the stage-1 and exact ranking windows are the only shuffles (see
    # test_rescore_stage1_scans_companion_only for the full plan pins)
    mrl = _plan(matryoshka_rescore_topk_q(spark, SF_SMOKE))
    assert shuffles(mrl) == 2, mrl
    assert "BroadcastExchange" in mrl, mrl
    bitext = _plan(bitext_margin_pairs_q(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in bitext, bitext
    assert "CartesianProduct" not in bitext, bitext


def test_rescore_stage1_scans_companion_only(spark):
    """The rescore family's at-rest claims, in the plan.

    (a) Stage 1 (r17 VERDICT item 1): over the companion layout, the
    prescreen of INT8 / matryoshka / BQ scans ONLY (vec_id, companion) —
    ReadSchema EXCLUDES ``embedding`` (4×/4×/32× fewer scan bytes at 64
    dims).  Pinned on the direct operator plan.

    (b) One stage 2: the four registry rows over companion data run the
    single lazy plan of ``ann._rescore_survivors`` — the request-sized
    survivors broadcast onto the float column, no materialized survivors
    (no InMemoryTableScan), no survivor-id IN pushdown, no unbroadcast
    cartesian product, stage 1 still blind to ``embedding``, and exactly
    two shuffles: the stage-1 and the exact ranking windows, both on
    q_id."""
    import re

    from robi_biometric_qdrant_vector_db_service_spark.operators import ann
    from robi_biometric_qdrant_vector_db_service_spark.workload import (
        REGISTRY,
        _probes,
    )
    from robi_biometric_qdrant_vector_db_service_spark.workload_ann import (
        _companion_corpus,
    )

    corpus = _companion_corpus(spark, SF_SMOKE)
    probes = _probes(spark, SF_SMOKE)
    for op, companion in [
        (lambda: ann.int8_rescore_topk(corpus, probes, k=10, oversample=3), "e8"),
        (
            lambda: ann.matryoshka_rescore_topk(
                corpus, probes, k=10, prefix_dims=16, oversample=3
            ),
            "e_pre16",
        ),
        (
            lambda: ann.bq_hamming_topk(corpus, probes, k=10, oversample=4),
            "bq64",
        ),
    ]:
        plan = _plan(op())
        schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
        companion_scans = [s for s in schemas if companion in s]
        assert companion_scans, (companion, plan)
        for s in companion_scans:
            assert "embedding" not in s, (companion, s)

    for name, companion in [
        ("int8_rescore_topk", "e8"),
        ("matryoshka_rescore_topk", "e_pre16"),
        ("bq_hamming_rescore", "bq64"),
        ("store_quantized_search", "e8"),
    ]:
        plan = _plan(REGISTRY[name].run(spark, SF_SMOKE))
        assert "InMemoryTableScan" not in plan, (name, plan)
        assert not re.search(
            r"In\((vec_id|point_id)|(vec_id|point_id)#\d+L? IN \(", plan
        ), (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
        companion_scans = [s for s in schemas if companion in s]
        assert companion_scans, (name, plan)
        for s in companion_scans:
            assert "embedding" not in s, (name, s)
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2, (name, plan)
        assert len(re.findall(r"hashpartitioning\(q_id#", plan)) == 2, (name, plan)


def test_store_quantized_search_stage1_never_reads_vectors(spark, tmp_path):
    """The store serving path's at-rest win: search(quantization=...)
    stage 1 scans ONLY (point_id, companion) from the collection's
    segments — every scan whose ReadSchema includes e8/bq_code must
    exclude ``embedding`` (the float column is read once, for the
    survivors' exact rescore)."""
    import re

    from robi_biometric_qdrant_vector_db_service_spark.operators.store import (
        VectorStore,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(40)
    pts = emb.select(
        F.col("vec_id").cast("string").alias("point_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        F.concat(F.lit("u"), F.col("label")).alias("user_id"),
        F.lit(1.0).alias("ts"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    store = VectorStore.create(spark, str(tmp_path / "s"), pts)
    for mode, companion in [("int8", "e8"), ("binary", "bq_code")]:
        plan = _plan(store.search(_probes(spark), k=5, quantization=mode))
        schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
        companion_scans = [s for s in schemas if companion in s]
        assert companion_scans, (mode, plan)
        for s in companion_scans:
            assert "embedding" not in s, (mode, s)
