"""The reference's four test-oracle invariants (FIXTURES.md §1, derived from
scripts/simple_test.py:121-170 and scripts/performance_test.py:57-71,375-394)."""

from __future__ import annotations

from pyspark.sql import functions as F

from robi_biometric_qdrant_vector_db_service_spark.functions.vector import cosine_sql, l2_normalize_sql
from robi_biometric_qdrant_vector_db_service_spark.operators.search import knn_search
from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def _probes(spark, n=8):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def test_self_retrieval(spark):
    """A stored vector is its own nearest neighbor with score ≈ 1.0
    (simple_test.py:123-141)."""
    corpus = load_table(spark, SF_SMOKE, "embeddings")
    top1 = knn_search(corpus, _probes(spark), k=1).collect()
    assert len(top1) == 8
    for r in top1:
        assert r["vec_id"] == r["q_id"], r
        assert abs(r["score"] - 1.0) < 1e-6, r


def test_similarity_monotonicity(spark):
    """A 0.9-mixture of a base vector retrieves that base above threshold
    0.5 (performance_test.py:57-71,375-394)."""
    corpus = load_table(spark, SF_SMOKE, "embeddings")
    base = corpus.filter(F.col("vec_id") == 0)
    noise = corpus.filter(F.col("vec_id") == 100)
    mixed = (
        base.crossJoin(noise.select(F.col("embedding").alias("nvec")))
        .select(
            F.lit(0).alias("q_id"),
            F.expr(
                "zip_with(embedding, nvec, (b, n) -> CAST(0.9 * b + 0.1 * n AS DOUBLE))"
            ).alias("mix"),
        )
        .select("q_id", F.expr(l2_normalize_sql("mix")).alias("q_emb"))
    )
    hits = knn_search(corpus, mixed, k=1, score_threshold=0.5).collect()
    assert len(hits) == 1
    assert hits[0]["vec_id"] == 0
    assert hits[0]["score"] > 0.5


def test_filter_soundness(spark):
    """A label-filtered search returns only that label's points
    (simple_test.py:151-170)."""
    corpus = load_table(spark, SF_SMOKE, "embeddings")
    hits = knn_search(corpus, _probes(spark), k=5, label_filter=[4])
    joined = hits.join(corpus.select("vec_id", "label"), "vec_id")
    bad = joined.filter(F.col("label") != 4).count()
    assert bad == 0
    assert hits.count() == 8 * 5


def test_normalize_idempotence(spark):
    """l2norm(l2norm(x)) == l2norm(x) within float tolerance
    (gpu_optimizer.py:81-124 applied twice)."""
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    once = emb.select(F.expr(l2_normalize_sql("embedding")).alias("e1"))
    twice = once.select(
        "e1", F.expr(l2_normalize_sql("e1")).alias("e2")
    )
    diff = twice.select(
        F.expr(
            "array_max(transform(zip_with(e1, e2, (a, b) -> abs(a - b)), x -> x))"
        ).alias("d")
    ).agg(F.max("d").alias("maxd")).collect()[0]["maxd"]
    assert diff < 1e-12


def test_cosine_symmetry(spark):
    """cos(a, b) == cos(b, a) exactly (same fold order on swapped args)."""
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(20)
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("eb"))
    pairs = a.crossJoin(b).filter(F.col("i") < F.col("j"))
    bad = pairs.select(
        (F.expr(cosine_sql("ea", "eb")) - F.expr(cosine_sql("eb", "ea"))).alias("d")
    ).filter(F.abs(F.col("d")) > 1e-15).count()
    assert bad == 0


def test_search_arg_validation(spark):
    """P7: the reference's request bounds (schemas.py:64-65) enforced at
    plan-build time."""
    import pytest

    from robi_biometric_qdrant_vector_db_service_spark.operators.search import validate_search_args

    validate_search_args(1, None)
    validate_search_args(100, 0.65)
    with pytest.raises(ValueError):
        validate_search_args(0, None)
    with pytest.raises(ValueError):
        validate_search_args(101, None)
    with pytest.raises(ValueError):
        validate_search_args(10, 1.5)


def test_curation_mass_conservation(spark):
    """The curation ops must neither lose nor invent data: the hash split's
    two halves partition the corpus exactly; sequence packing conserves
    every token; decontamination never flags a benchmark doc as training."""
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        BENCH_MAX_DOC,
        benchmark_decontamination,
        sequence_packing,
        train_test_split,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()
    total_tokens = docs.select(
        F.sum(F.size(F.split("text", " ")).cast("bigint")).alias("t")
    ).collect()[0]["t"]

    split = {r["split"]: r for r in train_test_split(spark, SF_SMOKE).collect()}
    assert set(split) <= {"train", "held_out"}
    assert sum(r["n_docs"] for r in split.values()) == n_docs
    assert sum(r["total_tokens"] for r in split.values()) == total_tokens

    packs = sequence_packing(spark, SF_SMOKE)
    agg = packs.agg(
        F.sum("pack_tokens").alias("t"), F.sum("n_docs").alias("d")
    ).collect()[0]
    assert agg["t"] == total_tokens and agg["d"] == n_docs

    flagged = benchmark_decontamination(spark, SF_SMOKE)
    assert flagged.filter(F.col("train_doc") < BENCH_MAX_DOC).count() == 0
    assert flagged.filter(F.col("bench_doc") >= BENCH_MAX_DOC).count() == 0


def test_substring_dedup_catches_unaligned_repeats(spark):
    """Lee et al. 2022 ExactSubstr recall case: a 20-token passage copied
    at DIFFERENT offsets in two documents.  The stride-1 substring kernel
    must recover the exact maximal span in both docs; the 32-token-aligned
    chunk grid (chunk_dedup_groups' fingerprints) finds nothing — the
    copies never line up with any full chunk."""
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        substring_spans,
    )

    shared = [f"s{i}" for i in range(20)]
    a_toks = [f"a{i}" for i in range(20)] + shared + [f"a{i}" for i in range(20, 40)]
    b_toks = [f"b{i}" for i in range(10)] + shared + [f"b{i}" for i in range(10, 30)]
    docs = spark.createDataFrame(
        [(1, " ".join(a_toks)), (2, " ".join(b_toks))], "doc_id long, text string"
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
        for r in substring_spans(docs, w=16).collect()
    }
    assert spans == {1: (20, 40, 20), 2: (10, 30, 20)}

    # the aligned chunk grid misses it: no full-size chunk of doc 1 equals
    # any full-size chunk of doc 2 (same fingerprint construction as
    # chunk_dedup_groups)
    def chunks(toks):
        return {
            " ".join(toks[s : s + CHUNK_SIZE])
            for s in range(0, len(toks), CHUNK_STRIDE)
            if len(toks[s : s + CHUNK_SIZE]) == CHUNK_SIZE
        }

    assert not (chunks(a_toks) & chunks(b_toks))

    # below-threshold repeats stay silent: w=16 never fires on a 15-token copy
    short = shared[:15]
    docs15 = spark.createDataFrame(
        [(1, " ".join([f"a{i}" for i in range(20)] + short)),
         (2, " ".join(short + [f"b{i}" for i in range(20)]))],
        "doc_id long, text string",
    )
    assert substring_spans(docs15, w=16).count() == 0


def test_substring_spans_merge_gapped_windows_into_union(spark):
    """Regression (r13): duplicated window positions p and p+2 with p+1
    NOT duplicated must merge into ONE span equal to the union of the two
    covered windows — [p, p+2+w).  A pos - row_number island puts them in
    separate islands whose spans [p, p+w) and [p+2, p+2+w) OVERLAP,
    breaking the disjointness contract and double-counting 14 tokens in
    substring_dup_fraction.  Islands must break only on gap > w."""
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import substring_spans

    T = [f"t{i}" for i in range(18)]
    a = [f"a{i}" for i in range(5)] + T + [f"a{i}" for i in range(5, 10)]
    b = [f"b{i}" for i in range(3)] + T[:16] + ["b99"]   # dups A's window at 5
    c = T[2:] + [f"c{i}" for i in range(4)]              # dups A's window at 7
    docs = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b)), (3, " ".join(c))],
        "doc_id long, text string",
    )
    spans = {}
    for r in substring_spans(docs, w=16).collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_len"])
        )
    # doc 1: positions {5, 7} duplicated (gap 2 <= w), window 6 is not —
    # exactly one merged span covering tokens 5..22 (union, not 2x16)
    assert spans[1] == [(5, 23, 18)]
    assert spans[2] == [(3, 19, 16)]
    assert spans[3] == [(0, 16, 16)]


def test_substring_spans_are_well_formed_on_corpus(spark):
    """Registered-query sanity at smoke scale: every span is in-bounds,
    at least W tokens, end-exclusive, and non-overlapping per document."""
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import SUBSTR_W

    rows = REGISTRY["substring_dedup_spans"].run(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    n_toks = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.size(F.split("text", " ")).alias("n")).collect()
    }
    by_doc: dict = {}
    for r in rows:
        assert r["span_len"] == r["span_end"] - r["span_start"] >= SUBSTR_W
        assert 0 <= r["span_start"] and r["span_end"] <= n_toks[r["doc_id"]]
        by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for doc, spans in by_doc.items():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 < s2, (doc, (s1, e1), (s2, e2))  # maximal ⇒ disjoint


def test_substring_dup_fraction_conserves_and_gates(spark):
    """The document gate reports EVERY corpus doc, its dup_tokens equal the
    summed maximal-span lengths from substring_dedup_spans exactly (spans
    are disjoint), the fraction is bounded, and keep is the 50% rule."""
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import SUBSTR_DUP_MAX

    frac = {r["doc_id"]: r for r in REGISTRY["substring_dup_fraction"].run(spark, SF_SMOKE).collect()}
    n_docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("text").isNotNull()).count()
    assert len(frac) == n_docs
    spans = REGISTRY["substring_dedup_spans"].run(spark, SF_SMOKE).collect()
    by_doc: dict = {}
    for r in spans:
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0) + r["span_len"]
    for doc_id, row in frac.items():
        assert row["dup_tokens"] == by_doc.get(doc_id, 0)
        assert 0.0 <= row["dup_fraction"] <= 1.0
        assert row["keep"] == (row["dup_tokens"] / row["n_tokens"] <= SUBSTR_DUP_MAX)


def test_c4_line_frame_metrics_and_verdicts(spark):
    """The C4/RefinedWeb line gate (r13): hand-built multi-line docs get
    exact metric values, each rule can individually flip the verdict, and
    on the planted corpus every failure class is populated."""
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY
    from robi_biometric_qdrant_vector_db_service_spark.workload_text import c4_line_frame

    docs = spark.createDataFrame(
        [
            (1, "Good line one.\nAnother fine line!\nA third line?"),
            (2, "no terminal here\nnor here\nnor even here"),
            (3, "- bullet a.\n- bullet b.\n- bullet c.\nplain line."),
            (4, "starts fine.\ntrails off...\nand again...\nmore..."),
            (5, "Nice line.\nEnable JavaScript to continue.\nFine line."),
            (6, "one line only."),
        ],
        "doc_id long, text string",
    )
    m = {r["doc_id"]: r for r in c4_line_frame(docs).collect()}
    assert m[1]["keep"] and m[1]["frac_terminal"] == 1.0
    assert not m[2]["keep"] and m[2]["frac_terminal"] == 0.0       # terminal rule
    assert not m[3]["keep"] and m[3]["frac_bullet"] == 0.75        # bullet rule
    assert not m[4]["keep"] and m[4]["frac_ellipsis"] == 0.75      # ellipsis rule
    assert not m[5]["keep"] and m[5]["has_blocklist"]              # blocklist rule
    assert not m[6]["keep"] and m[6]["n_lines"] == 1               # min-lines rule

    # planted corpus: every rule fires somewhere and keeps exist
    rows = REGISTRY["c4_line_quality"].run(spark, SF_SMOKE).collect()
    assert any(r["keep"] for r in rows)
    assert any(not r["keep"] and r["frac_terminal"] < 0.4 for r in rows)
    assert any(not r["keep"] and r["frac_bullet"] > 0.5 for r in rows)
    assert any(not r["keep"] and r["frac_ellipsis"] > 0.3 for r in rows)
    assert any(r["has_blocklist"] for r in rows)
    for r in rows:
        for c in ("frac_terminal", "frac_bullet", "frac_ellipsis"):
            assert 0.0 <= r[c] <= 1.0


def test_split_membership_is_stable_under_append(spark):
    """The property hash splits exist for: growing the corpus must never
    move an existing document across the split boundary."""
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import SAMPLE_PER_SOURCE  # noqa: F401

    docs = load_table(spark, SF_SMOKE, "documents")
    key = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "c", "train"
    ).otherwise("held_out")
    full = {r["doc_id"]: r["s"] for r in docs.select("doc_id", key.alias("s")).collect()}
    half = {
        r["doc_id"]: r["s"]
        for r in docs.limit(200).select("doc_id", key.alias("s")).collect()
    }
    assert all(full[d] == s for d, s in half.items())


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """Three-valued logic: delete_where must delete only TRUE matches — a
    row where the predicate evaluates NULL (absent metadata key, NULL ts)
    is kept and excluded from the count, regardless of which bucket it
    shares with a true match."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

    rows = [
        ("a", [1.0] * 4, "u1", 100.0, {}),
        ("b", [1.0] * 4, "u1", None, {}),   # same user -> same bucket as 'a'
        ("c", [1.0] * 4, "u2", 9000.0, {}),
    ]
    pts = spark.createDataFrame(
        rows,
        "point_id string, embedding array<double>, user_id string, ts double, metadata map<string,string>",
    )
    store = VectorStore.create(spark, str(tmp_path / "s"), pts)
    n = store.delete_where("ts < 5000")
    assert n == 1, n
    left = sorted(r["point_id"] for r in store.read().collect())
    assert left == ["b", "c"], left


def test_null_user_id_write_rejected(spark, tmp_path):
    """user_id is a mandatory payload field (the reference validates it per
    request) — a NULL must fail the write loudly, not land in an unparseable
    Hive default partition."""
    import pytest

    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

    store = VectorStore.create(spark, str(tmp_path / "s"))
    bad = spark.createDataFrame(
        [([1.0] * 4, None)], "embedding array<double>, user_id string"
    )
    with pytest.raises(Exception, match="user_id must not be NULL"):
        store.add_batch(bad)


def test_smart_search_rejects_unknown_force(spark):
    import pytest

    from robi_biometric_qdrant_vector_db_service_spark.plans.strategy import smart_search

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(10)
    with pytest.raises(ValueError, match="force"):
        smart_search(emb, emb.limit(1), force="ivf")


def test_metadata_keys_need_not_be_identifiers(spark):
    """Migration metadata keys are arbitrary JSON field names — quoting must
    survive dashes and quotes (the reference's dict payloads allow any
    string key, qdrant_client.py:209-213)."""
    from pyspark.sql import functions as F  # noqa: F811

    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import _normalize_meta

    df = spark.createDataFrame(
        [(0, "u0", "x", "y")],
        ["row_idx", "user_id", "created-at", "a'b"],
    )
    out = _normalize_meta(df, idx_col=F.col("row_idx")).collect()[0]
    assert out["metadata"] == {"created-at": "x", "a'b": "y"}, out["metadata"]


def _payload_store(spark, tmp_path, rows):
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

    pts = spark.createDataFrame(
        rows,
        "point_id string, embedding array<double>, user_id string, ts double, metadata map<string,string>",
    )
    return VectorStore.create(spark, str(tmp_path / "s"), pts)


def test_payload_mutation_semantics(spark, tmp_path):
    """set_payload merges at the top-level key (given keys overwritten,
    others kept), delete_payload drops only the named keys (absent keys a
    no-op), clear_payload empties the map, unmatched points carry through
    untouched — Qdrant's points-payload API contract."""
    store = _payload_store(
        spark,
        tmp_path,
        [
            ("a", [1.0] * 4, "u1", 1.0, {"tier": "bronze", "seq": "1"}),
            ("b", [1.0] * 4, "u1", 2.0, {"tier": "bronze"}),
            ("c", [1.0] * 4, "u2", 3.0, None),
            ("d", [1.0] * 4, "u2", 4.0, {"keep": "me"}),
        ],
    )
    assert store.set_payload(["a", "c"], {"tier": "gold", "new": "k"}) == 2
    assert store.delete_payload(["b"], ["tier", "absent"]) == 1
    assert store.clear_payload(["missing-id"]) == 0
    out = {r["point_id"]: r["metadata"] for r in store.read().collect()}
    assert out["a"] == {"tier": "gold", "new": "k", "seq": "1"}, out["a"]
    assert out["b"] == {}, out["b"]
    assert out["c"] == {"tier": "gold", "new": "k"}, out["c"]
    assert out["d"] == {"keep": "me"}, out["d"]
    # overwrite_payload (PUT): REPLACE the whole map — 'seq'/'new' dropped
    assert store.overwrite_payload(["a", "missing-id"], {"tier": "silver"}) == 1
    out = {r["point_id"]: r["metadata"] for r in store.read().collect()}
    assert out["a"] == {"tier": "silver"}, out["a"]
    assert out["c"] == {"tier": "gold", "new": "k"}, out["c"]  # untouched
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one key"):
        store.overwrite_payload(["a"], {})


def test_payload_values_with_backslashes_and_quotes(spark, tmp_path):
    """Payload keys/values are arbitrary strings — backslashes, quotes,
    tabs, and a trailing backslash must round-trip byte-exact (the r9
    F.expr interpolation corrupted 'back\\slash' -> 'backslash' and raised
    on a trailing backslash; the native-Column build must not)."""
    nasty = {
        "back\\slash": "a\\b",
        "quote'key": "it's",
        'dq"key': 'say "hi"',
        "tab": "x\ty",
        "trailing": "ends\\",
    }
    store = _payload_store(
        spark, tmp_path, [("a", [1.0] * 4, "u1", 1.0, {"back\\slash": "old"})]
    )
    assert store.set_payload(["a"], nasty) == 1
    out = store.read().collect()[0]["metadata"]
    assert out == nasty, out
    assert store.delete_payload(["a"], ["back\\slash", "quote'key"]) == 1
    out = store.read().collect()[0]["metadata"]
    assert set(out) == {'dq"key', "tab", "trailing"}, out


def test_payload_mutation_duplicate_ids_no_row_duplication(spark, tmp_path):
    """Duplicate ids in point_ids must not duplicate stored points: the
    rewrite joins rows against the id set, and without dedupe a repeated id
    would write the matched point twice while the semi-join count stayed
    correct (silent corruption, ADVICE r9)."""
    store = _payload_store(
        spark,
        tmp_path,
        [("a", [1.0] * 4, "u1", 1.0, {}), ("b", [1.0] * 4, "u1", 2.0, {})],
    )
    assert store.set_payload(["a", "a", "a"], {"k": "v"}) == 1
    rows = store.read().collect()
    assert sorted(r["point_id"] for r in rows) == ["a", "b"], rows
    assert store.clear_payload(["b", "b"]) == 1
    assert store.read().count() == 2


def test_update_vectors_semantics(spark, tmp_path):
    """update_vectors overwrites ONLY the vector of matched points —
    payload/user_id/ts untouched, unmatched request ids ignored (count =
    matched), duplicate request ids fail loud, normalize=False stores the
    raw vector — Qdrant's PUT /points/vectors contract."""
    import math

    import pytest

    store = _payload_store(
        spark,
        tmp_path,
        [
            ("a", [3.0, 4.0], "u1", 1.0, {"keep": "me"}),
            ("b", [1.0, 0.0], "u1", 2.0, {"seq": "2"}),
            ("c", [0.0, 1.0], "u2", 3.0, {}),
        ],
    )
    upd = spark.createDataFrame(
        [("a", [0.0, 2.0]), ("missing", [9.0, 9.0])],
        "point_id string, embedding array<double>",
    )
    assert store.update_vectors(upd) == 1
    out = {r["point_id"]: r for r in store.read().collect()}
    assert out["a"]["embedding"] == [0.0, 1.0]  # normalized at write
    assert out["a"]["metadata"] == {"keep": "me"} and out["a"]["ts"] == 1.0
    assert out["b"]["embedding"] == [1.0, 0.0] and out["c"]["user_id"] == "u2"
    assert "missing" not in out
    # normalize=False keeps the raw vector
    raw = spark.createDataFrame([("b", [2.0, 2.0])], "point_id string, embedding array<double>")
    assert store.update_vectors(raw, normalize=False) == 1
    got = {r["point_id"]: r["embedding"] for r in store.read().collect()}
    assert got["b"] == [2.0, 2.0]
    assert math.isclose(sum(x * x for x in got["a"]), 1.0)
    # duplicate ids: order-nondeterministic overwrite — reject up front
    dup = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("a", [0.0, 1.0])], "point_id string, embedding array<double>"
    )
    v0 = store._current_version()
    with pytest.raises(ValueError, match="duplicate point_id"):
        store.update_vectors(dup)
    assert store._current_version() == v0  # nothing published
    # ...and inside a COALESCED multi-op group the same check fires
    # before any op of the group applies (r15: update_vectors joined the
    # rewrite family; the dup probe rides the shared flags aggregate)
    with pytest.raises(ValueError, match="duplicate point_id"):
        store.apply_batch([("update_vectors", dup), ("delete", ["a"])])
    assert store._current_version() == v0
    assert store.read().filter("point_id = 'a'").count() == 1
    # batch-API spelling applies in order
    assert store.apply_batch([("update_vectors", raw), ("delete", ["c"])]) == [1, 1]


def test_delete_vectors_default_space_rejected(spark, tmp_path):
    """delete_vectors on the single unnamed default space is invalid —
    Qdrant rejects removing a collection's unnamed vector too; the error
    names the remediations (delete_by_id / update_vectors / null the
    named-space column)."""
    import pytest

    store = _payload_store(spark, tmp_path, [("a", [1.0] * 4, "u1", 1.0, {})])
    with pytest.raises(ValueError, match="default unnamed vector"):
        store.delete_vectors(["a"], ["dense"])


def test_apply_batch_coalesces_commit_counts(spark, tmp_path):
    """The r14 commit-coalescing contract, pinned by VERSION COUNT:

    - a consecutive run of id-keyed rewrite ops publishes exactly ONE
      manifest version (points_update_batch's 4 ops -> 2 commits is the
      benched consequence);
    - a run of upserts with disjoint explicit ids publishes exactly one;
    - a run of upserts with OVERLAPPING ids falls back to one version per
      op (the later op must observe the earlier's write)."""
    store = _payload_store(
        spark,
        tmp_path,
        [(pid, [1.0, 0.0], "u1", 1.0, {"tier": "bronze"})
         for pid in ("a", "b", "c", "d")],
    )
    v0 = store._current_version()
    got = store.apply_batch(
        [
            ("set_payload", ["a", "b"], {"tier": "gold"}),
            ("delete", ["b", "c"]),
            ("clear_payload", ["a", "d"]),
        ]
    )
    assert got == [2, 2, 2]
    assert store._current_version() == v0 + 1  # ONE composed commit

    def batch(pid, user):
        return spark.createDataFrame(
            [(pid, [0.5, 0.5], user)],
            "point_id string, embedding array<double>, user_id string",
        )

    v1 = store._current_version()
    assert store.apply_batch([("upsert", batch("x", "u1")),
                              ("upsert", batch("y", "u2"))]) == [1, 1]
    assert store._current_version() == v1 + 1  # disjoint run: ONE commit

    v2 = store._current_version()
    assert store.apply_batch([("upsert", batch("z", "u1")),
                              ("upsert", batch("z", "u2"))]) == [1, 1]
    assert store._current_version() == v2 + 2  # overlap: sequential
    assert [r["user_id"] for r in store.read().filter("point_id = 'z'")
            .collect()] == ["u2"]  # the LATER upsert won

    # delete_where with an IMMUTABLE-column predicate composes into the
    # rewrite run (one commit for all three ops, exact counts)
    v4 = store._current_version()
    assert store.apply_batch(
        [
            ("set_payload", ["a"], {"k2": "v2"}),
            ("delete_where", "user_id = 'nobody'"),
            ("clear_payload", ["a"]),
        ]
    ) == [1, 0, 1]
    assert store._current_version() == v4 + 1

    # a predicate over MUTABLE columns must observe the preceding op's
    # write, so it splits the run and commits solo: the set_payload gilds
    # 'a', the predicate delete then removes exactly that row
    v5 = store._current_version()
    assert store.apply_batch(
        [
            ("set_payload", ["a"], {"tier": "gold"}),
            ("delete_where", "metadata['tier'] = 'gold'"),
            ("clear_payload", ["d"]),
        ]
    ) == [1, 1, 1]
    assert store._current_version() == v5 + 3
    assert store.read().filter("point_id = 'a'").count() == 0


def test_apply_batch_rejects_unknown_op_before_running_any(spark, tmp_path):
    """A malformed batch must fail up front — no half-applied sequence."""
    import pytest

    store = _payload_store(spark, tmp_path, [("a", [1.0] * 4, "u1", 1.0, {})])
    v0 = store._current_version()
    with pytest.raises(ValueError, match="unknown operation tags"):
        store.apply_batch([("clear_payload", ["a"]), ("truncate",)])
    assert store._current_version() == v0  # nothing ran
    assert store.apply_batch([("clear_payload", ["a"]), ("delete", ["a"])]) == [1, 1]
    assert store.read().count() == 0


def test_alias_registry_atomic_update_and_resolve(spark, tmp_path):
    """Qdrant update_collection_aliases: ops apply sequentially within a
    batch, the table publishes atomically, a bad op list changes NOTHING
    (fail-before-any-write), re-pointing an existing alias is the swap,
    and resolve() reads the target collection's current state."""
    import pytest as _pytest

    from robi_biometric_qdrant_vector_db_service_spark.operators.store import AliasRegistry

    blue = _payload_store(spark, tmp_path / "b", [("a", [1.0] * 4, "u1", 1.0, {})])
    green = _payload_store(
        spark, tmp_path / "g",
        [("x", [1.0] * 4, "u1", 1.0, {}), ("y", [1.0] * 4, "u2", 2.0, {})],
    )
    reg = AliasRegistry(spark, str(tmp_path / "reg"))
    assert reg.aliases() == {}
    # batch: create + rename, sequential within the batch
    reg.update_aliases([("create", "prod", blue.root), ("rename", "prod", "serving")])
    assert reg.aliases() == {"serving": blue.root}
    assert {r["point_id"] for r in reg.resolve("serving").read().collect()} == {"a"}
    # the swap: re-point the existing alias in one op
    reg.update_aliases([("create", "serving", green.root)])
    assert {r["point_id"] for r in reg.resolve("serving").read().collect()} == {"x", "y"}
    # resolve sees the target's CURRENT version (alias names a collection,
    # not a snapshot)
    green.delete_by_id(["y"])
    assert {r["point_id"] for r in reg.resolve("serving").read().collect()} == {"x"}
    # bad batches change nothing — validated against the current table
    before = reg.aliases()
    for ops in (
        [("delete", "missing")],
        [("rename", "missing", "z")],
        [("rename", "serving", "serving")],
        [("create", "p2", str(tmp_path / "not_a_store"))],
        [("frob", "x")],
        # later op invalid → earlier op must NOT be applied either
        [("create", "p3", blue.root), ("delete", "missing")],
    ):
        with _pytest.raises((ValueError, KeyError)):
            reg.update_aliases(ops)
        assert reg.aliases() == before, ops
    with _pytest.raises(KeyError):
        reg.resolve("missing")


def test_payload_selector_modes(spark):
    """with_payload result selector: True passthrough, False drops the
    column, include keeps only named keys (absent keys no-op), exclude
    drops named keys; malformed selectors rejected."""
    import pytest as _pytest

    from robi_biometric_qdrant_vector_db_service_spark.operators.search import apply_payload_selector

    df = spark.createDataFrame(
        [("a", {"k1": "1", "k2": "2"}), ("b", {})],
        "point_id string, metadata map<string,string>",
    )
    assert apply_payload_selector(df, True) is df
    assert "metadata" not in apply_payload_selector(df, False).columns
    inc = {r["point_id"]: r["metadata"]
           for r in apply_payload_selector(df, ["k1", "nope"]).collect()}
    assert inc == {"a": {"k1": "1"}, "b": {}}, inc
    exc = {r["point_id"]: r["metadata"]
           for r in apply_payload_selector(df, {"exclude": ["k1"]}).collect()}
    assert exc == {"a": {"k2": "2"}, "b": {}}, exc
    for bad in (1.5, {"include": ["a"], "exclude": ["b"]}, {"frob": []}):
        with _pytest.raises(ValueError):
            apply_payload_selector(df, bad)


def test_snapshot_is_version_pinned_and_self_contained(spark, tmp_path):
    """A snapshot owns its bytes and pins the version it was cut at:
    mutating (or vacuuming) the SOURCE afterwards must not change what a
    restore sees — the portability contract clone() explicitly lacks."""
    import pytest as _pytest

    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

    store = _payload_store(
        spark,
        tmp_path / "src",
        [("a", [1.0] * 4, "u1", 1.0, {"k": "1"}),
         ("b", [1.0] * 4, "u2", 2.0, {"k": "2"}),
         ("c", [1.0] * 4, "u3", 3.0, {})],
    )
    snap = store.snapshot(str(tmp_path / "snap"))
    # post-snapshot source mutations + vacuum (which would break a clone)
    store.delete_by_id(["a"])
    store.set_payload(["b"], {"k": "CHANGED"})
    store.vacuum(keep_versions=1)
    restored = VectorStore.restore(spark, snap, str(tmp_path / "rst"))
    out = {r["point_id"]: r["metadata"] for r in restored.read().collect()}
    assert out == {"a": {"k": "1"}, "b": {"k": "2"}, "c": {}}, out
    # the restored collection is independently mutable
    assert restored.delete_by_id(["c"]) == 1
    assert restored.read().count() == 2
    assert store.read().count() == 2  # source untouched by restored's ops
    # guardrails
    with _pytest.raises(ValueError, match="not a snapshot"):
        VectorStore.restore(spark, str(tmp_path / "nowhere"), str(tmp_path / "r2"))
    with _pytest.raises(ValueError, match="initialized"):
        VectorStore.restore(spark, snap, store.root)


def test_restored_snapshot_preserves_ts_skipping_stats(spark, tmp_path):
    """The snapshot carries each file's ts min/max (relative-keyed) and
    restore re-anchors them — so DATETIME-index data skipping works on a
    restored collection exactly as on the source: a disjoint ts_range
    reads zero files."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

    store = _payload_store(
        spark,
        tmp_path / "src",
        [("a", [1.0] * 4, "u1", 10.0, {}),
         ("b", [1.0] * 4, "u2", 20.0, {}),
         ("c", [1.0] * 4, "u3", 30.0, {})],
    )
    snap = store.snapshot(str(tmp_path / "snap"))
    restored = VectorStore.restore(spark, snap, str(tmp_path / "rst"))
    # stats present for every restored file
    stats = restored._read_file_stats()
    live = restored.input_files()
    assert live and all(f in stats for f in live), (live, list(stats))
    # in-range read sees the matching rows; disjoint range scans NO files
    assert {r["point_id"] for r in restored.read(ts_range=(15.0, 25.0)).collect()} == {"b"}
    pruned = restored.read(ts_range=(1000.0, 2000.0))
    assert pruned.count() == 0
    assert not pruned.inputFiles(), "disjoint ts_range must enumerate zero files"


def test_alias_registry_concurrent_writers_lose_no_ops(spark, tmp_path):
    """Two writer batches racing on the same registry must BOTH land —
    update_aliases serializes read-modify-replace on an fcntl lock (readers
    stay lock-free on the atomic os.replace)."""
    import threading

    from robi_biometric_qdrant_vector_db_service_spark.operators.store import AliasRegistry

    store = _payload_store(spark, tmp_path, [("a", [1.0] * 4, "u1", 1.0, {})])
    reg = AliasRegistry(spark, str(tmp_path / "reg"))
    errors = []

    def writer(i):
        try:
            for j in range(10):
                reg.update_aliases([("create", f"alias_{i}_{j}", store.root)])
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errors
    table = reg.aliases()
    assert len(table) == 40, f"lost writes: {sorted(table)}"


def test_failed_segment_write_leaves_no_orphan_segment(spark, tmp_path):
    """An overlapped segment write whose job raises must not leave its
    partial ``seg_*`` dir behind: the failing write removes its own dir and
    the successful sibling's is removed too, so every segment dir on disk
    is referenced by the current manifest."""
    import glob
    import os

    import pytest

    store = _payload_store(spark, tmp_path, [("a", [1.0] * 4, "u1", 1.0, {})])
    # one input partition: no exchange, so the UDF below raises inside the
    # write task, after the job has created the segment dir
    good = store._with_bucket(
        spark.createDataFrame(
            [("b", [1.0] * 4, "u2", 2.0, {})],
            "point_id string, embedding array<double>, user_id string, "
            "ts double, metadata map<string,string>",
        ).coalesce(1)
    )

    def _boom(point_id):
        raise RuntimeError("planted segment write failure")

    bad = good.withColumn("point_id", F.udf(_boom, "string")("point_id"))
    with pytest.raises(Exception, match="planted segment write failure"):
        store._write_segments_overlapped([good, bad])
    live = {
        os.path.dirname(os.path.dirname(f))
        for fs in store._read_manifest().values()
        for f in fs
    }
    on_disk = set(glob.glob(os.path.join(store.root, "seg_*")))
    assert on_disk <= live, sorted(on_disk - live)


def test_manifest_memo_is_bounded_and_hands_out_copies(spark, tmp_path):
    """The per-store manifest memo keeps a constant number of versions
    however many commits a long-lived store takes (older versions still
    read from disk), and file stats handed out are copies down to the
    [min_ts, max_ts] pairs."""
    from robi_biometric_qdrant_vector_db_service_spark.operators import store as store_mod

    store = _payload_store(spark, tmp_path, [("a", [1.0] * 4, "u1", 5.0, {})])
    v0_buckets = store._read_manifest(0)
    for _ in range(3 * store_mod._MANIFEST_MEMO_VERSIONS):
        store._publish_manifest(store._read_manifest())
    assert len(store._manifest_mem) <= store_mod._MANIFEST_MEMO_VERSIONS
    assert store._read_manifest(0) == v0_buckets
    assert len(store._manifest_mem) <= store_mod._MANIFEST_MEMO_VERSIONS

    stats = store._read_file_stats()
    f = next(iter(stats))
    before = list(stats[f])
    stats[f][0] = -1.0
    assert store._read_file_stats()[f] == before
