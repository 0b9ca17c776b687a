"""Model-based fuzz of the VectorStore mutation protocol.

Random mutation sequences (add / upsert / payload set-overwrite-delete-
clear / delete by id / delete by user / compact) run against a real
on-disk store — individually or through the ordered ``apply_batch``
protocol — and the final ``read()`` state plus every exact matched-count
return value must equal a trivially-correct Python dict model.  This is
the manifest logic's composition test: bucket-pruned rewrites, carry-over
by reference, sequential consistency of overlapping ops, and compaction's
state-preservation are all places a wrong manifest merge would silently
lose or duplicate rows (reference semantics: qdrant_client.py:242-309
add/upsert, :407-461 deletes, Qdrant points payload API)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

IDS = [f"p{i}" for i in range(10)]
USERS = ["u0", "u1", "u2"]
EMB = {pid: [float(i + 1), 0.5] for i, pid in enumerate(IDS)}
PAYLOADS = [{"tier": "gold"}, {"tier": "bronze", "seq": "9"}, {"k": "v"}]
KEYSETS = [["tier"], ["seq"], ["tier", "k"]]

# predicate catalog for delete_where: SQL text + the dict-model oracle
# over (pid, row).  The first three reference only immutable columns and
# therefore compose into rewrite groups; the metadata predicate exercises
# the solo-commit fallback inside a coalesced batch.
DW_PREDS = [
    ("user_id = 'u1'", lambda pid, r: r["user_id"] == "u1"),
    ("point_id IN ('p1', 'p3', 'p8')", lambda pid, r: pid in ("p1", "p3", "p8")),
    ("ts > 2000.0", lambda pid, r: False),  # fixture ts is always 1000.0
    ("metadata['tier'] = 'gold'",
     lambda pid, r: r["metadata"].get("tier") == "gold"),
]

_ids = st.lists(st.sampled_from(IDS), min_size=1, max_size=4, unique=True)
_rows = st.lists(
    st.tuples(st.sampled_from(IDS), st.sampled_from(USERS),
              st.sampled_from(PAYLOADS)),
    min_size=1, max_size=3, unique_by=lambda t: t[0],
)

op = st.one_of(
    st.tuples(st.just("upsert"), _rows),
    st.tuples(st.just("set_payload"), _ids, st.sampled_from(PAYLOADS)),
    st.tuples(st.just("overwrite_payload"), _ids, st.sampled_from(PAYLOADS)),
    st.tuples(st.just("delete_payload"), _ids, st.sampled_from(KEYSETS)),
    st.tuples(st.just("clear_payload"), _ids),
    st.tuples(st.just("delete"), _ids),
    st.tuples(st.just("delete_where"), st.integers(0, len(DW_PREDS) - 1)),
    st.tuples(st.just("delete_user"), st.sampled_from(USERS)),
    st.tuples(st.just("compact")),
)


def _row_df(spark, rows):
    return spark.createDataFrame(
        [(pid, EMB[pid], user, 1000.0, dict(meta)) for pid, user, meta in rows],
        "point_id string, embedding array<double>, user_id string, "
        "ts double, metadata map<string,string>",
    )


def _apply_model(model, o):
    """Apply one op to the dict model; return the expected count (or None
    when the engine's return value is not a matched-count)."""
    kind = o[0]
    if kind == "upsert":
        for pid, user, meta in o[1]:
            model[pid] = {"user_id": user, "metadata": dict(meta)}
        return len(o[1])
    if kind == "set_payload":
        hit = [p for p in o[1] if p in model]
        for p in hit:
            model[p]["metadata"].update(o[2])
        return len(hit)
    if kind == "overwrite_payload":
        hit = [p for p in o[1] if p in model]
        for p in hit:
            model[p]["metadata"] = dict(o[2])
        return len(hit)
    if kind == "delete_payload":
        hit = [p for p in o[1] if p in model]
        for p in hit:
            for k in o[2]:
                model[p]["metadata"].pop(k, None)
        return len(hit)
    if kind == "clear_payload":
        hit = [p for p in o[1] if p in model]
        for p in hit:
            model[p]["metadata"] = {}
        return len(hit)
    if kind == "delete":
        hit = [p for p in o[1] if p in model]
        for p in hit:
            del model[p]
        return len(hit)
    if kind == "delete_user":
        hit = [p for p, r in model.items() if r["user_id"] == o[1]]
        for p in hit:
            del model[p]
        return len(hit)
    if kind == "delete_where":
        pred = DW_PREDS[o[1]][1]
        hit = [p for p, r in model.items() if pred(p, r)]
        for p in hit:
            del model[p]
        return len(hit)
    if kind == "compact":
        return None
    raise AssertionError(kind)


def _to_batch_op(spark, o):
    if o[0] == "upsert":
        return ("upsert", _row_df(spark, o[1]))
    if o[0] == "update_vectors":
        return ("update_vectors", _uv_df(spark, o[1]))
    if o[0] in ("set_payload", "overwrite_payload", "delete_payload"):
        return (o[0], list(o[1]), o[2])
    if o[0] == "clear_payload":
        return ("clear_payload", list(o[1]))
    if o[0] == "delete":
        return ("delete", list(o[1]))
    if o[0] == "delete_where":
        return ("delete_where", DW_PREDS[o[1]][0])
    return None  # delete_user/compact run as direct calls


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    initial=_rows,
    ops=st.lists(op, min_size=2, max_size=5),
    via_batch=st.booleans(),
    data=st.data(),
)
def test_store_matches_dict_model(spark, tmp_path_factory, initial, ops,
                                  via_batch, data):
    root = str(tmp_path_factory.mktemp("store_fuzz"))
    store = VectorStore.create(spark, root, _row_df(spark, initial))
    model = {
        pid: {"user_id": user, "metadata": dict(meta)}
        for pid, user, meta in initial
    }

    batchable = []
    for o in ops:
        want = _apply_model(model, o)
        bop = _to_batch_op(spark, o) if via_batch else None
        if bop is not None:
            batchable.append((bop, want))
            continue
        if batchable:  # flush the pending batch before a direct-only op
            got = store.apply_batch([b for b, _ in batchable])
            assert got == [w for _, w in batchable], (got, batchable)
            batchable = []
        if o[0] == "upsert":
            assert store.upsert(_row_df(spark, o[1]), normalize=False) == want
        elif o[0] == "set_payload":
            assert store.set_payload(list(o[1]), o[2]) == want
        elif o[0] == "overwrite_payload":
            assert store.overwrite_payload(list(o[1]), o[2]) == want
        elif o[0] == "delete_payload":
            assert store.delete_payload(list(o[1]), o[2]) == want
        elif o[0] == "clear_payload":
            assert store.clear_payload(list(o[1])) == want
        elif o[0] == "delete":
            assert store.delete_by_id(list(o[1])) == want
        elif o[0] == "delete_where":
            assert store.delete_where(DW_PREDS[o[1]][0]) == want
        elif o[0] == "delete_user":
            assert store.delete_user(o[1]) == want
        elif o[0] == "compact":
            store.compact()
    if batchable:
        got = store.apply_batch([b for b, _ in batchable])
        assert got == [w for _, w in batchable], (got, batchable)

    state = {
        r["point_id"]: {"user_id": r["user_id"],
                        "metadata": dict(r["metadata"] or {})}
        for r in store.read().select("point_id", "user_id", "metadata").collect()
    }
    assert state == model, f"ops={ops!r}\n state={state}\n model={model}"


_uv_rows = st.lists(
    st.tuples(
        st.sampled_from(IDS),
        st.tuples(st.floats(0.5, 9.0), st.floats(0.5, 9.0)),
    ),
    min_size=1, max_size=4, unique_by=lambda t: t[0],
)

_batchable_op = st.one_of(
    st.tuples(st.just("upsert"), _rows),
    st.tuples(st.just("set_payload"), _ids, st.sampled_from(PAYLOADS)),
    st.tuples(st.just("overwrite_payload"), _ids, st.sampled_from(PAYLOADS)),
    st.tuples(st.just("delete_payload"), _ids, st.sampled_from(KEYSETS)),
    st.tuples(st.just("clear_payload"), _ids),
    st.tuples(st.just("delete"), _ids),
    st.tuples(st.just("delete_where"), st.integers(0, len(DW_PREDS) - 1)),
    st.tuples(st.just("update_vectors"), _uv_rows),
)


def _uv_df(spark, rows):
    return spark.createDataFrame(
        [(pid, list(vec)) for pid, vec in rows],
        "point_id string, embedding array<double>",
    )


def _read_state(store):
    return {
        r["point_id"]: {"user_id": r["user_id"],
                        "metadata": dict(r["metadata"] or {}),
                        "embedding": tuple(r["embedding"])}
        for r in store.read()
        .select("point_id", "user_id", "metadata", "embedding")
        .collect()
    }


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(initial=_rows, ops=st.lists(_batchable_op, min_size=2, max_size=6))
def test_apply_batch_coalesced_equals_sequential(spark, tmp_path_factory,
                                                 initial, ops):
    """One ``apply_batch`` call over the whole sequence (one manifest
    version per rewrite run / disjoint-upsert run) must return the same
    per-op counts and leave the same final state as applying each op in
    its own ``apply_batch([op])`` call — on ARBITRARY op sequences,
    overlapping id sets included (a group threads per-row
    liveness/metadata/EMBEDDING in op order, and overlapping upsert runs
    must detect the overlap and fall back).  State equality covers the
    embedding column bit-for-bit, so a vector update lost, misordered,
    or applied to a deleted row fails here."""
    roots = tmp_path_factory.mktemp("store_coal")
    a = VectorStore.create(spark, str(roots / "coalesced"),
                           _row_df(spark, initial))
    b = VectorStore.create(spark, str(roots / "sequential"),
                           _row_df(spark, initial))
    batch = [_to_batch_op(spark, o) for o in ops]
    got_a = a.apply_batch(batch)
    got_b = [
        n for o in ops for n in b.apply_batch([_to_batch_op(spark, o)])
    ]
    assert got_a == got_b, (got_a, got_b, ops)
    assert _read_state(a) == _read_state(b), ops
    # coalescing only ever reduces the number of published versions
    assert a._current_version() <= b._current_version()


# ---------------------------------------------------------------------------
# change-data-feed (VectorStore.changes) vs the dict model
# ---------------------------------------------------------------------------

_cdc_uv_rows = st.lists(
    st.tuples(
        st.sampled_from(IDS),
        st.tuples(st.floats(0.5, 9.0), st.floats(0.5, 9.0)),
    ),
    min_size=1, max_size=3, unique_by=lambda t: t[0],
)

_cdc_op = st.one_of(
    st.tuples(st.just("upsert"), _rows),
    st.tuples(st.just("set_payload"), _ids, st.sampled_from(PAYLOADS)),
    st.tuples(st.just("overwrite_payload"), _ids, st.sampled_from(PAYLOADS)),
    st.tuples(st.just("delete_payload"), _ids, st.sampled_from(KEYSETS)),
    st.tuples(st.just("clear_payload"), _ids),
    st.tuples(st.just("delete"), _ids),
    st.tuples(st.just("delete_where"), st.integers(0, len(DW_PREDS) - 1)),
    st.tuples(st.just("delete_user"), st.sampled_from(USERS)),
    st.tuples(st.just("update_vectors"), _cdc_uv_rows),
    st.tuples(st.just("compact")),
)


def _cdc_model_row(user, meta, emb):
    return {"user_id": user, "ts": 1000.0, "metadata": dict(meta),
            "embedding": tuple(emb)}


def _cdc_apply(model, o):
    kind = o[0]
    if kind == "upsert":
        for pid, user, meta in o[1]:
            model[pid] = _cdc_model_row(user, meta, EMB[pid])
    elif kind == "set_payload":
        for pid in o[1]:
            if pid in model:
                model[pid]["metadata"].update(o[2])
    elif kind == "overwrite_payload":
        for pid in o[1]:
            if pid in model:
                model[pid]["metadata"] = dict(o[2])
    elif kind == "delete_payload":
        for pid in o[1]:
            if pid in model:
                for k in o[2]:
                    model[pid]["metadata"].pop(k, None)
    elif kind == "clear_payload":
        for pid in o[1]:
            if pid in model:
                model[pid]["metadata"] = {}
    elif kind == "delete":
        for pid in o[1]:
            model.pop(pid, None)
    elif kind == "delete_where":
        pred = DW_PREDS[o[1]][1]
        for pid in [p for p, r in model.items() if pred(p, r)]:
            del model[pid]
    elif kind == "delete_user":
        for pid in [p for p, r in model.items() if r["user_id"] == o[1]]:
            del model[pid]
    elif kind == "update_vectors":
        for pid, vec in o[1]:
            if pid in model:
                model[pid]["embedding"] = tuple(vec)


def _cdc_run(store, o):
    kind = o[0]
    if kind == "upsert":
        store.upsert(_row_df(store.spark, o[1]), normalize=False)
    elif kind == "set_payload":
        store.set_payload(list(o[1]), o[2])
    elif kind == "overwrite_payload":
        store.overwrite_payload(list(o[1]), o[2])
    elif kind == "delete_payload":
        store.delete_payload(list(o[1]), o[2])
    elif kind == "clear_payload":
        store.clear_payload(list(o[1]))
    elif kind == "delete":
        store.delete_by_id(list(o[1]))
    elif kind == "delete_where":
        store.delete_where(DW_PREDS[o[1]][0])
    elif kind == "delete_user":
        store.delete_user(o[1])
    elif kind == "update_vectors":
        store.update_vectors(_uv_df(store.spark, o[1]), normalize=False)
    elif kind == "compact":
        store.compact()


def _expected_cdc(snap, final):
    rows = set()
    for pid in snap.keys() | final.keys():
        a, b = snap.get(pid), final.get(pid)
        if a == b:
            continue  # unchanged (or never existed in either) => silent
        if a is None:
            rows.add(("insert", pid))
        elif b is None:
            rows.add(("delete", pid))
        else:
            rows.add(("update_preimage", pid))
            rows.add(("update_postimage", pid))
    return rows


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    initial=_rows,
    ops=st.lists(_cdc_op, min_size=1, max_size=6),
    cut=st.integers(0, 6),
    hist=st.tuples(st.integers(0, 6), st.integers(0, 6)),
)
def test_changes_matches_model_diff(spark, tmp_path_factory, initial, ops,
                                    cut, hist):
    """CDC contract on arbitrary mutation sequences: ``changes(v)`` from
    ANY committed version to the tip must equal the dict-model state diff
    — change classification, full row images, and (the adversarial part)
    SILENCE for rows only moved between files by compaction or unrelated
    same-bucket rewrites.  A same-content upsert must emit nothing; an
    update must emit exactly its pre/post pair.  A second probe reads a
    fully HISTORICAL window (``changes(v_i, to=v_j)``, both ends behind
    the tip) — the feed must be the model diff between those two states,
    unaffected by anything committed after ``v_j``."""
    root = str(tmp_path_factory.mktemp("store_cdc"))
    store = VectorStore.create(spark, root, _row_df(spark, initial))
    model = {
        pid: _cdc_model_row(user, meta, EMB[pid])
        for pid, user, meta in initial
    }
    cut = min(cut, len(ops))

    def snap(m):
        return {p: {**r, "metadata": dict(r["metadata"])} for p, r in m.items()}

    snap_model = snap(model)
    snap_version = store._current_version()
    models = [snap(model)]              # model state after op i
    versions = [store._current_version()]
    for i, o in enumerate(ops):
        _cdc_run(store, o)
        _cdc_apply(model, o)
        models.append(snap(model))
        versions.append(store._current_version())
        if i + 1 == cut:
            snap_model = snap(model)
            snap_version = store._current_version()

    # historical window: both endpoints strictly behind the tip
    i, j = sorted(min(h, len(ops)) for h in hist)
    hist_got = {
        (r["change"], r["point_id"])
        for r in store.changes(versions[i], to=versions[j]).collect()
    }
    assert hist_got == _expected_cdc(models[i], models[j]), (ops, i, j)

    got_rows = store.changes(snap_version).collect()
    got = {(r["change"], r["point_id"]) for r in got_rows}
    assert got == _expected_cdc(snap_model, model), (ops, cut)
    # row images: post-side changes carry the final state, pre-side the
    # snapshot state — field-for-field including the embedding
    for r in got_rows:
        src = snap_model if r["change"] in ("delete", "update_preimage") else model
        want = src[r["point_id"]]
        assert r["user_id"] == want["user_id"]
        assert r["ts"] == want["ts"]
        assert tuple(r["embedding"]) == want["embedding"]
        assert dict(r["metadata"] or {}) == want["metadata"]
    # a trailing compaction is pure physical churn: the feed stays identical
    store.compact(max_files_per_bucket=1)
    after = {(r["change"], r["point_id"])
             for r in store.changes(snap_version).collect()}
    assert after == got


def test_changes_inverted_window_is_reverse_feed(spark, tmp_path):
    """Pin the inverted-window semantics: the diff is symmetric by
    construction, so changes(v_hi, to=v_lo) is the INVERSE feed of
    changes(v_lo, to=v_hi) — inserts become deletes, pre/post swap.
    (Delta CDF raises instead; this engine documents the symmetry and
    leaves order validation to callers — this test is the contract.)"""
    store = VectorStore.create(
        spark, str(tmp_path / "s"),
        _row_df(spark, [("p0", "u0", {"k": "v"}), ("p1", "u1", {})]),
    )
    v0 = store._current_version()
    store.delete_by_id(["p0"])
    store.upsert(_row_df(spark, [("p9", "u2", {})]), normalize=False)
    v2 = store._current_version()
    fwd = {(r["change"], r["point_id"])
           for r in store.changes(v0, to=v2).collect()}
    rev = {(r["change"], r["point_id"])
           for r in store.changes(v2, to=v0).collect()}
    assert fwd == {("delete", "p0"), ("insert", "p9")}
    assert rev == {("insert", "p0"), ("delete", "p9")}


def test_bulk_id_list_join_fallback_equals_in_path(spark, tmp_path, monkeypatch):
    """Above ``_IN_LIST_MAX`` the id-keyed mutations switch from the
    inlined IN predicate to the createDataFrame + broadcast-join probe
    (ADVICE r18: an unbounded caller list must not bloat plan
    serialization).  Force the threshold to 0 and assert the join path
    produces the exact same counts and final state as the IN path on
    identical stores — solo ops AND the coalesced rewrite group."""
    def run(root):
        store = VectorStore.create(
            spark, str(tmp_path / root),
            _row_df(spark, [(pid, USERS[i % 3], {"seq": str(i)})
                            for i, pid in enumerate(IDS)]),
        )
        counts = [
            store.set_payload(["p1", "p2", "p7"], {"tier": "gold"}),
            store.delete_by_id(["p0", "p9", "missing"]),
        ]
        counts.extend(
            store.apply_batch(
                [
                    ("overwrite_payload", ["p3", "p4"], {"only": "key"}),
                    ("delete", ["p5"]),
                    ("clear_payload", ["p6", "p5"]),  # p5 just deleted
                ]
            )
        )
        state = sorted(
            (r["point_id"], r["user_id"], sorted(r["metadata"].items()))
            for r in store.read().collect()
        )
        return counts, state

    want = run("in_path")
    monkeypatch.setattr(VectorStore, "_IN_LIST_MAX", 0)
    got = run("join_path")
    assert got == want
