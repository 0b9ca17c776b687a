"""S4/S5 loader + multimodal plumbing tests (SURVEY §2.1; the reference's
migration verification semantics, scripts/migrate_from_faiss.py:105-109,
257-321)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from robi_biometric_qdrant_vector_db_service_spark.operators.multimodal import decode_features, to_blob_table
from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import load_table
from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
    read_faiss_vectors,
    read_npy_vectors,
    read_vector_metadata,
    run_migration,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def npy_fixture(tmp_path_factory):
    rng = np.random.default_rng(42)
    mat = rng.standard_normal((20, 8)).astype(np.float32)
    tmp = str(tmp_path_factory.mktemp("npy_test"))
    path = os.path.join(tmp, "vectors.npy")
    np.save(path, mat)
    return tmp, path, mat


def test_read_npy_roundtrip(spark, npy_fixture):
    _, path, mat = npy_fixture
    rows = read_npy_vectors(spark, path).orderBy("row_idx").collect()
    assert len(rows) == 20
    got = np.array([r["embedding"] for r in rows], dtype=np.float32)
    assert np.array_equal(got, mat)


def test_metadata_list_and_dict_forms(spark, npy_fixture):
    tmp, _, _ = npy_fixture
    # list-form (migrate_from_faiss.py:86-91)
    lp = os.path.join(tmp, "meta_list.json")
    with open(lp, "w") as f:
        json.dump([{"user_id": f"u{i}", "cat": i % 3} for i in range(5)], f)
    lrows = read_vector_metadata(spark, lp).orderBy("row_idx").collect()
    assert [r["user_id"] for r in lrows] == [f"u{i}" for i in range(5)]
    assert lrows[4]["metadata"]["cat"] == "1"
    # dict-keyed form (migrate_from_faiss.py:92-96)
    dp = os.path.join(tmp, "meta_dict.json")
    with open(dp, "w") as f:
        json.dump({"3": {"user_id": "only3"}, "1": {}}, f)
    drows = read_vector_metadata(spark, dp).orderBy("row_idx").collect()
    assert [(r["row_idx"], r["user_id"]) for r in drows] == [
        (1, "migrated_user_1"),
        (3, "only3"),
    ]


def test_migration_truncates_and_verifies(spark, npy_fixture):
    """Metadata shorter than the matrix → migrate only the common prefix
    (the reference truncates to min length, migrate_from_faiss.py:105-109),
    and the post-migration verification search must succeed."""
    tmp, path, _ = npy_fixture
    mp = os.path.join(tmp, "meta_short.json")
    with open(mp, "w") as f:
        json.dump([{"user_id": f"u{i % 4}"} for i in range(12)], f)
    store, report = run_migration(
        spark, path, mp, os.path.join(tmp, "store_trunc"), verify_samples=4
    )
    assert report["n_migrated"] == 12
    assert report["verify_success"], report
    # normalize-at-write: every stored vector is unit-norm
    from robi_biometric_qdrant_vector_db_service_spark.functions.vector import norm_sql

    norms = store.read().select(F.expr(norm_sql("embedding")).alias("n")).collect()
    assert all(abs(r["n"] - 1.0) < 1e-9 for r in norms)


def test_migration_multi_shard_global_offsets(spark, tmp_path):
    """With a DIRECTORY of .npy shards, file-relative row indices must map
    to disjoint global ids (shards ordered by name, prefix-summed counts) —
    a bare row_idx join would fan out and collide point_ids."""
    rng = np.random.default_rng(7)
    tmp = str(tmp_path)
    a = rng.standard_normal((6, 4)).astype(np.float32)
    b = rng.standard_normal((4, 4)).astype(np.float32)
    np.save(os.path.join(tmp, "part-000.npy"), a)
    np.save(os.path.join(tmp, "part-001.npy"), b)
    mp = os.path.join(tmp, "meta.json")
    with open(mp, "w") as f:
        json.dump([{"user_id": f"u{i}", "gidx": i} for i in range(10)], f)
    store, report = run_migration(
        spark, tmp, mp, os.path.join(tmp, "store"), verify_samples=3
    )
    assert report["n_migrated"] == 10, report
    rows = store.read().collect()
    assert len(rows) == 10
    ids = sorted(int(r["point_id"]) for r in rows)
    assert ids == list(range(10)), ids  # disjoint, collision-free
    # metadata aligned: global idx i carries user ui and gidx i
    for r in rows:
        assert r["user_id"] == f"u{r['point_id']}"
        assert r["metadata"]["gidx"] == r["point_id"]


def test_npy_shard_counts_from_headers(spark, tmp_path):
    """The migration's global-offset pass reads shard sizes from the npy
    HEADERS (a metadata pass), which must agree exactly with a full decode
    — including npy format v2 headers (large/oddly-padded header blocks)."""
    from numpy.lib import format as npf

    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        read_npy_shard_counts,
        read_npy_vectors,
    )

    rng = np.random.default_rng(19)
    tmp = str(tmp_path)
    # "part 004": binaryFile path strings are NOT percent-encoded (Hadoop
    # Path.toString), so a URI-unsafe shard name must still header-read
    sizes = {"part-000.npy": 6, "part-001.npy": 4, "part-002.npy": 9,
             "part 004.npy": 5}
    for name, n in sizes.items():
        np.save(os.path.join(tmp, name), rng.standard_normal((n, 4)).astype(np.float32))
    # a v2-header shard (write_array with version pinned)
    v2 = rng.standard_normal((3, 4)).astype(np.float32)
    with open(os.path.join(tmp, "part-003.npy"), "wb") as f:
        npf.write_array(f, v2, version=(2, 0))
    sizes["part-003.npy"] = 3

    got = {
        os.path.basename(r["src_file"]): r["cnt"]
        for r in read_npy_shard_counts(spark, tmp).collect()
    }
    assert got == sizes
    # metadata pass means metadata-only scan: the binaryFile source must
    # prune `content` (bytes never shipped) — the header read is a 4 KiB
    # ranged read inside the UDF, not a full-file materialization
    cnt_df = read_npy_shard_counts(spark, tmp)
    plan = cnt_df._sc._jvm.PythonSQLUtils.explainString(
        cnt_df._jdf.queryExecution(), "formatted"
    )
    import re

    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    assert schemas and all("content" not in s for s in schemas), plan
    decoded = (
        read_npy_vectors(spark, tmp).groupBy("src_file").count().collect()
    )
    assert {os.path.basename(r["src_file"]): r["count"] for r in decoded} == sizes


def test_metadata_jsonl_distributed_shape(spark, tmp_path):
    """JSONL metadata (the splittable scale shape) with explicit row_idx."""
    tmp = str(tmp_path)
    p = os.path.join(tmp, "meta.jsonl")
    with open(p, "w") as f:
        for i in range(6):
            f.write(json.dumps({"row_idx": i, "user_id": f"w{i}", "q": i * 2}) + "\n")
    rows = read_vector_metadata(spark, p).orderBy("row_idx").collect()
    assert [r["user_id"] for r in rows] == [f"w{i}" for i in range(6)]
    assert rows[3]["metadata"]["q"] == "6"


def _flat_index_bytes(mat: np.ndarray, fourcc: bytes = b"IxFI") -> bytes:
    """Mirror of the public FAISS IndexFlat serialization (faiss
    faiss/impl/index_write.cpp): fourcc, header, float count, raw floats."""
    import struct

    n, d = mat.shape
    metric = 0 if fourcc == b"IxFI" else 1
    return (
        fourcc
        + struct.pack("<i", d)
        + struct.pack("<q", n)
        + struct.pack("<qq", 1 << 20, 1 << 20)
        + struct.pack("<B", 1)
        + struct.pack("<i", metric)
        + struct.pack("<Q", n * d)
        + mat.astype("<f4").tobytes()
    )


def test_faiss_flat_index_roundtrip(spark, npy_fixture, tmp_path):
    """IndexFlat bytes decode without faiss and must equal the .npy path
    for the same matrix (VERDICT r3 item 6)."""
    _, _, mat = npy_fixture
    tmp = str(tmp_path)
    with open(os.path.join(tmp, "vectors.index"), "wb") as f:
        f.write(_flat_index_bytes(mat, b"IxFI"))
    rows = read_faiss_vectors(spark, tmp).orderBy("row_idx").collect()
    got = np.array([r["embedding"] for r in rows], dtype=np.float32)
    assert np.array_equal(got, mat)
    # L2-metric flavor parses identically
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import parse_faiss_flat_index

    assert np.array_equal(parse_faiss_flat_index(_flat_index_bytes(mat, b"IxF2")), mat)


def _ivfflat_index_bytes(
    mat: np.ndarray,
    list_of: list[int],
    ids: list[int] | None = None,
    nlist: int = 3,
    sparse: bool = False,
    dm_hashtable: bool = False,
) -> bytes:
    """Mirror of the public FAISS IndexIVFFlat serialization (faiss
    faiss/impl/index_write.cpp): "IwFl" + ivf header (index header, nlist,
    nprobe, nested IndexFlat quantizer, direct map) + ArrayInvertedLists
    ("ilar", "full" or "sprs" sizes, per-list raw float32 codes FIRST,
    then int64 ids — index_write.cpp writes codes before ids).
    ``sparse`` emits the "sprs" (list_no, size)-pairs sizes encoding;
    ``dm_hashtable`` emits a DirectMap::Hashtable payload (type 2 + empty
    array + (id, idx) pairs) that the parser must skip over."""
    import struct

    n, d = mat.shape
    ids = ids if ids is not None else list(range(n))
    centroids = np.zeros((nlist, d), dtype=np.float32)
    if dm_hashtable:
        dm = (
            struct.pack("<B", 2)  # DirectMap::Hashtable
            + struct.pack("<Q", 0)  # empty direct-map array
            + struct.pack("<Q", n)  # hashtable pairs
            + b"".join(struct.pack("<qq", ids[r], r) for r in range(n))
        )
    else:
        dm = struct.pack("<B", 0) + struct.pack("<Q", 0)  # NoMap, empty array
    out = (
        b"IwFl"
        + struct.pack("<i", d)
        + struct.pack("<q", n)
        + struct.pack("<qq", 1 << 20, 1 << 20)
        + struct.pack("<B", 1)
        + struct.pack("<i", 1)  # METRIC_L2
        + struct.pack("<Q", nlist)
        + struct.pack("<Q", 1)  # nprobe
        + _flat_index_bytes(centroids, b"IxF2")  # nested coarse quantizer
        + dm
        + b"ilar"
        + struct.pack("<Q", nlist)
        + struct.pack("<Q", 4 * d)  # code_size: raw float32 vectors
    )
    per_list: list[list[int]] = [[] for _ in range(nlist)]
    for row, lst in enumerate(list_of):
        per_list[lst].append(row)
    if sparse:
        pairs = [(li, len(rows)) for li, rows in enumerate(per_list) if rows]
        out += b"sprs" + struct.pack("<Q", 2 * len(pairs))
        for li, sz in pairs:
            out += struct.pack("<QQ", li, sz)
    else:
        out += b"full" + struct.pack("<Q", nlist)
        for rows in per_list:
            out += struct.pack("<Q", len(rows))
    for rows in per_list:
        if not rows:
            continue
        out += mat[rows].astype("<f4").tobytes()  # codes precede ids on disk
        out += np.array([ids[r] for r in rows], dtype="<i8").tobytes()
    return out


def test_faiss_ivfflat_index_roundtrip(spark, npy_fixture, tmp_path):
    """IndexIVFFlat bytes decode without faiss (VERDICT r5 item 8): the
    inverted-list codes ARE raw float32 vectors, so reconstruction must
    equal the .npy path for the same matrix, with stored ids preserved."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_ivfflat_index,
    )

    _, _, mat = npy_fixture
    n = mat.shape[0]
    assignment = [i % 3 for i in range(n)]  # scatter rows across 3 lists
    idx, vecs = parse_faiss_ivfflat_index(_ivfflat_index_bytes(mat, assignment))
    # reassembled by stored id, the matrix equals the original exactly
    order = np.argsort(idx)
    assert np.array_equal(vecs[order], mat)
    assert sorted(idx.tolist()) == list(range(n))

    # the distributed reader path: same tmpdir shape as the flat test,
    # including add_with_ids-style non-sequential ids surviving as row_idx
    custom_ids = [100 + 2 * i for i in range(n)]
    tmp = str(tmp_path)
    with open(os.path.join(tmp, "vectors.index"), "wb") as f:
        f.write(_ivfflat_index_bytes(mat, assignment, ids=custom_ids))
    rows = read_faiss_vectors(spark, tmp).orderBy("row_idx").collect()
    assert [r["row_idx"] for r in rows] == custom_ids
    got = np.array([r["embedding"] for r in rows], dtype=np.float32)
    assert np.array_equal(got, mat)

    # empty inverted lists are legal (untrained cells)
    sparse = [0 for _ in range(n)]  # everything in list 0, lists 1-2 empty
    idx2, vecs2 = parse_faiss_ivfflat_index(_ivfflat_index_bytes(mat, sparse))
    assert np.array_equal(vecs2[np.argsort(idx2)], mat)

    # "sprs" sizes encoding (written when >half the lists are empty)
    idx3, vecs3 = parse_faiss_ivfflat_index(
        _ivfflat_index_bytes(mat, sparse, nlist=8, sparse=True)
    )
    assert np.array_equal(vecs3[np.argsort(idx3)], mat)
    assert sorted(idx3.tolist()) == list(range(n))

    # a Hashtable direct map rides between the quantizer and the lists —
    # the parser skips its pair payload and still lands on "ilar"
    idx4, vecs4 = parse_faiss_ivfflat_index(
        _ivfflat_index_bytes(mat, assignment, ids=custom_ids, dm_hashtable=True)
    )
    assert sorted(idx4.tolist()) == sorted(custom_ids)
    assert np.array_equal(vecs4[np.argsort(idx4)], mat[np.argsort(custom_ids)])


def _hnswflat_index_bytes(mat: np.ndarray, scalar_block: int = 20) -> bytes:
    """Mirror of the public FAISS IndexHNSWFlat serialization: "IHNf" +
    header + five graph vectors (uint64 count + data) + a scalar block
    whose width drifts across faiss versions (default 5×int32) + nested
    IndexFlat storage."""
    import struct

    n, d = mat.shape
    rng = np.random.default_rng(9)

    def vec(count, dtype):
        data = rng.integers(0, 100, count).astype(dtype)
        return struct.pack("<Q", count) + data.tobytes()

    return (
        b"IHNf"
        + struct.pack("<i", d)
        + struct.pack("<q", n)
        + struct.pack("<qq", 1 << 20, 1 << 20)
        + struct.pack("<B", 1)
        + struct.pack("<i", 1)
        + vec(8, "<f8")          # assign_probas (double)
        + vec(9, "<i4")          # cum_nneighbor_per_level
        + vec(n, "<i4")          # levels
        + vec(n + 1, "<u8")      # offsets
        + vec(32 * n, "<i4")     # neighbors
        + b"\x00" * scalar_block  # entry_point..upper_beam (version-drifting)
        + _flat_index_bytes(mat, b"IxF2")
    )


def _idmap_index_bytes(mat: np.ndarray, ids: list[int]) -> bytes:
    """Mirror of the public FAISS IndexIDMap serialization: "IxMp" +
    header + nested sub-index + int64 id vector."""
    import struct

    n, d = mat.shape
    return (
        b"IxMp"
        + struct.pack("<i", d)
        + struct.pack("<q", n)
        + struct.pack("<qq", 1 << 20, 1 << 20)
        + struct.pack("<B", 1)
        + struct.pack("<i", 0)
        + _flat_index_bytes(mat, b"IxFI")
        + struct.pack("<Q", n)
        + np.array(ids, dtype="<i8").tobytes()
    )


def test_faiss_hnswflat_and_idmap_decode(spark, npy_fixture, tmp_path):
    """IndexHNSWFlat keeps raw vectors in its nested flat storage, and
    IndexIDMap wraps a flat index plus an id vector — both decode without
    faiss.  The HNSW scalar block between the graph arrays and the storage
    drifts across faiss versions, so the parser must tolerate widths other
    than the default 20 bytes."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_hnswflat_index,
        parse_faiss_idmap_index,
    )

    _, _, mat = npy_fixture
    n = mat.shape[0]
    for scalar_block in (20, 16, 24):  # current faiss, older, future-drift
        got = parse_faiss_hnswflat_index(_hnswflat_index_bytes(mat, scalar_block))
        assert np.array_equal(got, mat), scalar_block

    custom_ids = [7 * i + 3 for i in range(n)]
    ids, vecs = parse_faiss_idmap_index(_idmap_index_bytes(mat, custom_ids))
    assert ids.tolist() == custom_ids
    assert np.array_equal(vecs, mat)

    # distributed reader: both formats land with the right row_idx
    tmp = str(tmp_path)
    with open(os.path.join(tmp, "hnsw.index"), "wb") as f:
        f.write(_hnswflat_index_bytes(mat))
    with open(os.path.join(tmp, "idmap.index"), "wb") as f:
        f.write(_idmap_index_bytes(mat, custom_ids))
    rows = read_faiss_vectors(spark, tmp).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(os.path.basename(r["src_file"]), []).append(r)
    assert sorted(r["row_idx"] for r in by_file["hnsw.index"]) == list(range(n))
    assert sorted(r["row_idx"] for r in by_file["idmap.index"]) == sorted(custom_ids)


def test_faiss_pq_index_decodes_to_quantized_vectors():
    """IndexPQ files decode by codebook lookup — the same computation as
    faiss reconstruct_n, so the decoded matrix must equal the reference
    decode done directly in NumPy here, across 8-bit, nibble-packed 4-bit
    (PQEncoder4: first code in the low nibble), and PQEncoderGeneric
    bit-stream widths."""
    import struct

    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_pq_index,
    )

    rng = np.random.default_rng(11)
    n, d, M = 20, 16, 4
    ksub, dsub = 256, d // M
    cent = rng.standard_normal((M, ksub, dsub)).astype(np.float32)
    codes = rng.integers(0, ksub, (n, M), dtype=np.uint8)

    def pq_bytes(packed, nbits=8):
        c = cent[:, : 1 << nbits]  # codebook sized to the code width
        return (
            b"IxPq"
            + struct.pack("<i", d)
            + struct.pack("<q", n)
            + struct.pack("<qq", 1 << 20, 1 << 20)
            + struct.pack("<B", 1)
            + struct.pack("<i", 1)
            + struct.pack("<QQQ", d, M, nbits)
            + struct.pack("<Q", c.size)
            + np.ascontiguousarray(c).tobytes()
            + struct.pack("<Q", packed.size)
            + packed.tobytes()
            + b"\x00" * 12  # trailing search params, ignored
        )

    got = parse_faiss_pq_index(pq_bytes(codes))
    want = np.empty((n, d), dtype=np.float32)
    for m in range(M):
        want[:, m * dsub : (m + 1) * dsub] = cent[m, codes[:, m]]
    assert np.array_equal(got, want)

    # 4-bit: two codes per byte, first in the low nibble
    codes4 = rng.integers(0, 16, (n, M), dtype=np.uint8)
    packed4 = (codes4[:, 0::2] | (codes4[:, 1::2] << 4)).astype(np.uint8)
    got4 = parse_faiss_pq_index(pq_bytes(packed4, nbits=4))
    want4 = np.empty((n, d), dtype=np.float32)
    for m in range(M):
        want4[:, m * dsub : (m + 1) * dsub] = cent[m, codes4[:, m]]
    assert np.array_equal(got4, want4)

    # generic bit-stream widths (PQEncoderGeneric: codes packed
    # back-to-back LSB-first) — 6-bit, code_size = ceil(M·6/8)
    for nbits in (6, 2):
        ksub_w = 1 << nbits
        codes_w = rng.integers(0, ksub_w, (n, M), dtype=np.uint8)
        bit_rows = (
            ((codes_w[:, :, None] >> np.arange(nbits)) & 1)
            .reshape(n, M * nbits)
            .astype(np.uint8)
        )
        packed_w = np.packbits(bit_rows, axis=1, bitorder="little")
        got_w = parse_faiss_pq_index(pq_bytes(packed_w, nbits=nbits))
        want_w = np.empty((n, d), dtype=np.float32)
        for m in range(M):
            want_w[:, m * dsub : (m + 1) * dsub] = cent[m, codes_w[:, m]]
        assert np.array_equal(got_w, want_w), nbits


def test_faiss_ivfpq_index_decodes_to_quantized_vectors():
    """IndexIVFPQ decode = PQ codebook lookup (+ the list's coarse centroid
    when by_residual, the faiss default) — identical arithmetic to faiss
    reconstruct_n, checked against a direct NumPy decode here."""
    import struct

    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_ivfpq_index,
    )

    rng = np.random.default_rng(13)
    n, d, M, nlist = 18, 16, 4, 3
    ksub, dsub = 256, d // M
    cent = rng.standard_normal((M, ksub, dsub)).astype(np.float32)
    coarse = rng.standard_normal((nlist, d)).astype(np.float32)
    codes = rng.integers(0, ksub, (n, M), dtype=np.uint8)
    assignment = [i % nlist for i in range(n)]
    ids = [5 * i + 1 for i in range(n)]

    def ivfpq_bytes(by_residual=1):
        out = (
            b"IwPQ"
            + struct.pack("<i", d)
            + struct.pack("<q", n)
            + struct.pack("<qq", 1 << 20, 1 << 20)
            + struct.pack("<B", 1)
            + struct.pack("<i", 1)
            + struct.pack("<Q", nlist)
            + struct.pack("<Q", 1)  # nprobe
            + _flat_index_bytes(coarse, b"IxF2")  # coarse quantizer
            + struct.pack("<B", 0)  # DirectMap::NoMap
            + struct.pack("<Q", 0)
            + struct.pack("<B", by_residual)
            + struct.pack("<Q", M)  # code_size
            + struct.pack("<QQQ", d, M, 8)
            + struct.pack("<Q", cent.size)
            + cent.tobytes()
            + b"ilar"
            + struct.pack("<Q", nlist)
            + struct.pack("<Q", M)
            + b"full"
            + struct.pack("<Q", nlist)
        )
        per_list: list[list[int]] = [[] for _ in range(nlist)]
        for row, lst in enumerate(assignment):
            per_list[lst].append(row)
        for rows in per_list:
            out += struct.pack("<Q", len(rows))
        for rows in per_list:
            if not rows:
                continue
            out += codes[rows].tobytes()  # codes precede ids on disk
            out += np.array([ids[r] for r in rows], dtype="<i8").tobytes()
        return out

    for by_residual in (1, 0):
        got_ids, got = parse_faiss_ivfpq_index(ivfpq_bytes(by_residual))
        order = np.argsort(got_ids)
        got = got[order]  # back to insertion order (ids are monotone per row)
        want = np.empty((n, d), dtype=np.float32)
        for m in range(M):
            want[:, m * dsub : (m + 1) * dsub] = cent[m, codes[:, m]]
        if by_residual:
            want = want + coarse[np.array(assignment)]
        assert sorted(got_ids.tolist()) == sorted(ids)
        assert np.array_equal(got, want), by_residual


def test_faiss_scalar_quantizer_index_decodes():
    """IndexScalarQuantizer decode = per-dim affine dequantization (or an
    fp16/bf16 widen), identical to faiss reconstruct_n, across every
    QuantizerType faiss serializes (8/4/6-bit, uniform and per-dim, fp16,
    bf16, direct and direct-signed); unknown qtypes stay gated."""
    import struct

    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_sq_index,
    )

    rng = np.random.default_rng(17)
    n, d = 12, 8
    vmin = rng.standard_normal(d).astype(np.float32)
    vdiff = (rng.random(d) + 0.5).astype(np.float32)
    codes8 = rng.integers(0, 256, (n, d), dtype=np.uint8)
    f16 = rng.standard_normal((n, d)).astype("<f2")

    def sq_bytes(qtype, trained, codes):
        return (
            b"IxSQ"
            + struct.pack("<i", d)
            + struct.pack("<q", n)
            + struct.pack("<qq", 1 << 20, 1 << 20)
            + struct.pack("<B", 1)
            + struct.pack("<i", 1)
            + struct.pack("<i", qtype)
            + struct.pack("<i", 0)      # rangestat
            + struct.pack("<f", 0.0)    # rangestat_arg
            + struct.pack("<Q", d)
            + struct.pack("<Q", codes.shape[1])
            + struct.pack("<Q", trained.size)
            + trained.astype("<f4").tobytes()
            + struct.pack("<Q", codes.size)
            + codes.tobytes()
        )

    got = parse_faiss_sq_index(sq_bytes(0, np.concatenate([vmin, vdiff]), codes8))
    want = (vmin + (codes8.astype(np.float32) + 0.5) / 255.0 * vdiff).astype(np.float32)
    assert np.array_equal(got, want)

    got_u = parse_faiss_sq_index(
        sq_bytes(2, np.array([2.0, 3.0], dtype=np.float32), codes8)
    )
    assert np.array_equal(
        got_u, (2.0 + (codes8.astype(np.float32) + 0.5) / 255.0 * 3.0).astype(np.float32)
    )

    got_h = parse_faiss_sq_index(sq_bytes(4, np.empty(0), f16.view(np.uint8)))
    assert np.array_equal(got_h, f16.astype(np.float32))

    got_dir = parse_faiss_sq_index(sq_bytes(5, np.empty(0), codes8))
    assert np.array_equal(got_dir, codes8.astype(np.float32))

    # QT_4bit / QT_4bit_uniform: Codec4bit nibble packing (component i in
    # the low nibble of byte i/2 for even i, high for odd), decode
    # vmin + (nib + 0.5)/15 · vdiff.  Even d here; odd-d padding below.
    nib = rng.integers(0, 16, (n, d), dtype=np.uint8)
    packed = (nib[:, 0::2] | (nib[:, 1::2] << 4)).astype(np.uint8)
    want4 = (vmin + (nib.astype(np.float32) + 0.5) / 15.0 * vdiff).astype(np.float32)
    got4 = parse_faiss_sq_index(sq_bytes(1, np.concatenate([vmin, vdiff]), packed))
    assert np.array_equal(got4, want4)
    got4u = parse_faiss_sq_index(sq_bytes(3, np.array([2.0, 3.0], dtype=np.float32), packed))
    assert np.array_equal(
        got4u, (2.0 + (nib.astype(np.float32) + 0.5) / 15.0 * 3.0).astype(np.float32)
    )

    # QT_6bit: Codec6bit packs 4 components into 3 bytes, little-endian —
    # emulate faiss's encode_component bit layout and assert the decode
    c6 = rng.integers(0, 64, (n, d), dtype=np.uint8)
    groups = (d + 3) // 4
    packed6 = np.zeros((n, groups * 3), dtype=np.uint8)
    for i in range(d):
        g, r = divmod(i, 4)
        bits = c6[:, i]
        if r == 0:
            packed6[:, g * 3] |= bits
        elif r == 1:
            packed6[:, g * 3] |= (bits << 6) & 0xFF
            packed6[:, g * 3 + 1] |= bits >> 2
        elif r == 2:
            packed6[:, g * 3 + 1] |= (bits << 4) & 0xFF
            packed6[:, g * 3 + 2] |= bits >> 4
        else:
            packed6[:, g * 3 + 2] |= (bits << 2) & 0xFF
    packed6 = packed6[:, : (d * 6 + 7) // 8]
    got6 = parse_faiss_sq_index(sq_bytes(6, np.concatenate([vmin, vdiff]), packed6))
    want6 = (vmin + (c6.astype(np.float32) + 0.5) / 63.0 * vdiff).astype(np.float32)
    assert np.array_equal(got6, want6)

    # QT_bf16: high half of a float32
    f32 = rng.standard_normal((n, d)).astype(np.float32)
    bf16 = (f32.view(np.uint32) >> 16).astype("<u2")
    got_bf = parse_faiss_sq_index(sq_bytes(7, np.empty(0), bf16.view(np.uint8)))
    assert np.array_equal(
        got_bf, (bf16.astype(np.uint32) << 16).view(np.float32)
    )

    # QT_8bit_direct_signed
    got_s = parse_faiss_sq_index(sq_bytes(8, np.empty(0), codes8))
    assert np.array_equal(got_s, codes8.astype(np.float32) - 128.0)

    with pytest.raises(NotImplementedError, match="qtype"):
        parse_faiss_sq_index(sq_bytes(99, np.empty(0), codes8))


def test_faiss_sq_4bit_odd_dim_padding():
    """Odd d: the last byte's high nibble is padding and must be ignored —
    code_size = ceil(d/2) per faiss Codec4bit."""
    import struct

    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_sq_index,
    )

    rng = np.random.default_rng(23)
    n, d = 5, 7
    vmin = rng.standard_normal(d).astype(np.float32)
    vdiff = (rng.random(d) + 0.5).astype(np.float32)
    nib = rng.integers(0, 16, (n, d), dtype=np.uint8)
    padded = np.concatenate([nib, np.full((n, 1), 0xF, np.uint8)], axis=1)
    packed = (padded[:, 0::2] | (padded[:, 1::2] << 4)).astype(np.uint8)
    assert packed.shape[1] == (d + 1) // 2
    buf = (
        b"IxSQ"
        + struct.pack("<i", d)
        + struct.pack("<q", n)
        + struct.pack("<qq", 1 << 20, 1 << 20)
        + struct.pack("<B", 1)
        + struct.pack("<i", 1)
        + struct.pack("<i", 1)  # QT_4bit
        + struct.pack("<i", 0)
        + struct.pack("<f", 0.0)
        + struct.pack("<Q", d)
        + struct.pack("<Q", packed.shape[1])
        + struct.pack("<Q", 2 * d)
        + np.concatenate([vmin, vdiff]).astype("<f4").tobytes()
        + struct.pack("<Q", packed.size)
        + packed.tobytes()
    )
    want = (vmin + (nib.astype(np.float32) + 0.5) / 15.0 * vdiff).astype(np.float32)
    assert np.array_equal(parse_faiss_sq_index(buf), want)


def test_faiss_non_flat_index_still_gated():
    """Graph/quantized index types need faiss to reconstruct — the pure
    reader must refuse them loudly, and corrupt flat headers must not
    decode garbage."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import parse_faiss_flat_index

    with pytest.raises(NotImplementedError, match="fourcc"):
        parse_faiss_flat_index(b"IHNf" + b"\x00" * 64)  # HNSW-flat fourcc
    mat = np.ones((3, 4), dtype=np.float32)
    bad = bytearray(_flat_index_bytes(mat))
    bad[4:8] = (99).to_bytes(4, "little")  # header d no longer matches count
    with pytest.raises(ValueError, match="corrupt"):
        parse_faiss_flat_index(bytes(bad))


def _binary_header_bytes(d: int, ntotal: int) -> bytes:
    """``write_index_binary_header`` (faiss/impl/index_write.cpp): d,
    code_size (int32 each), ntotal, 2×dummy (int64), is_trained (uint8),
    metric_type (int32; no metric_arg for the binary family)."""
    import struct

    return (
        struct.pack("<ii", d, (d + 7) // 8)
        + struct.pack("<q", ntotal)
        + struct.pack("<qq", 1 << 20, 1 << 20)
        + struct.pack("<B", 1)
        + struct.pack("<i", 1)
    )


def _pack_bits(bits: np.ndarray) -> np.ndarray:
    """(n, d) 0/1 → packed uint8 codes, LSB-first per byte (the FAISS
    binary code layout, faiss/utils/hamming.h)."""
    return np.packbits(bits.astype(np.uint8), axis=1, bitorder="little")


def _binary_flat_index_bytes(bits: np.ndarray) -> bytes:
    """Mirror of the public FAISS IndexBinaryFlat serialization ("IBxF"):
    fourcc + binary header + WRITEVECTOR xb (uint64 byte count + codes)."""
    import struct

    n, d = bits.shape
    codes = _pack_bits(bits)
    return (
        b"IBxF"
        + _binary_header_bytes(d, n)
        + struct.pack("<Q", codes.size)
        + codes.tobytes()
    )


def _binary_ivf_index_bytes(
    bits: np.ndarray, list_of: list[int], ids: list[int], nlist: int = 3
) -> bytes:
    """Mirror of the public FAISS IndexBinaryIVF serialization ("IBwF"):
    fourcc + binary header + nlist/nprobe + nested IndexBinaryFlat
    quantizer + NoMap direct map + ArrayInvertedLists over the packed
    binary codes (codes precede ids per list)."""
    import struct

    n, d = bits.shape
    code_size = (d + 7) // 8
    codes = _pack_bits(bits)
    centroids = np.zeros((nlist, d), dtype=np.uint8)
    out = (
        b"IBwF"
        + _binary_header_bytes(d, n)
        + struct.pack("<QQ", nlist, 1)
        + _binary_flat_index_bytes(centroids)
        + struct.pack("<B", 0)  # DirectMap::NoMap
        + struct.pack("<Q", 0)
        + b"ilar"
        + struct.pack("<QQ", nlist, code_size)
    )
    per_list: list[list[int]] = [[] for _ in range(nlist)]
    for row, lst in enumerate(list_of):
        per_list[lst].append(row)
    out += b"full" + struct.pack("<Q", nlist)
    for rows in per_list:
        out += struct.pack("<Q", len(rows))
    for rows in per_list:
        if not rows:
            continue
        out += codes[rows].tobytes()  # codes precede ids on disk
        out += np.array([ids[r] for r in rows], dtype="<i8").tobytes()
    return out


def test_faiss_binary_flat_roundtrip(spark, tmp_path):
    """IndexBinaryFlat bytes decode without faiss to the unpacked 0/1
    float matrix (Hamming ≡ Manhattan on the unpacked form), including a
    non-byte-aligned dimension whose pad bits must be dropped."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_binary_flat_index,
        read_faiss_vectors,
    )

    rng = np.random.default_rng(11)
    bits = (rng.random((7, 16)) < 0.5).astype(np.float32)
    got = parse_faiss_binary_flat_index(_binary_flat_index_bytes(bits))
    assert np.array_equal(got, bits)
    # d=13: code_size 2, three pad bits per vector must not leak
    bits13 = (rng.random((5, 13)) < 0.5).astype(np.float32)
    got13 = parse_faiss_binary_flat_index(_binary_flat_index_bytes(bits13))
    assert got13.shape == (5, 13) and np.array_equal(got13, bits13)
    # the Spark read path dispatches by fourcc like any other index file
    tmp = str(tmp_path)
    with open(os.path.join(tmp, "codes.index"), "wb") as f:
        f.write(_binary_flat_index_bytes(bits))
    rows = read_faiss_vectors(spark, tmp).orderBy("row_idx").collect()
    assert np.array_equal(
        np.array([r["embedding"] for r in rows], dtype=np.float32), bits
    )


def test_faiss_binary_ivf_and_idmap_keep_stored_ids():
    """IndexBinaryIVF and IndexBinaryIDMap carry add_with_ids ids — the
    decode must return the STORED ids aligned with the unpacked vectors,
    in inverted-list order for IVF."""
    import struct

    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_binary_idmap_index,
        parse_faiss_binary_ivf_index,
    )

    rng = np.random.default_rng(12)
    bits = (rng.random((6, 24)) < 0.5).astype(np.float32)
    ids = [100, 201, 302, 403, 504, 605]
    list_of = [0, 2, 0, 1, 2, 2]
    got_ids, got = parse_faiss_binary_ivf_index(
        _binary_ivf_index_bytes(bits, list_of, ids)
    )
    # inverted-list order: list 0 rows (0, 2), list 1 row (3), list 2 rows (1, 4, 5)
    order = [0, 2, 3, 1, 4, 5]
    assert got_ids.tolist() == [ids[r] for r in order]
    assert np.array_equal(got, bits[order])
    # IDMap wrapper: nested IBxF + id_map vector
    idmap = (
        b"IBMp"
        + _binary_header_bytes(24, 6)
        + _binary_flat_index_bytes(bits)
        + struct.pack("<Q", 6)
        + np.array(ids, dtype="<i8").tobytes()
    )
    got_ids2, got2 = parse_faiss_binary_idmap_index(idmap)
    assert got_ids2.tolist() == ids and np.array_equal(got2, bits)


def test_faiss_binary_unknown_fourcc_gated():
    """A binary-family fourcc outside the public write_index_binary set
    refuses loudly with re-export remediation; a corrupt code_size must
    not decode garbage."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        _decode_faiss_binary_bytes,
        parse_faiss_binary_flat_index,
    )

    with pytest.raises(NotImplementedError, match="IndexBinaryFlat"):
        _decode_faiss_binary_bytes(b"IBzz" + b"\x00" * 64)
    bits = np.ones((3, 16), dtype=np.float32)
    bad = bytearray(_binary_flat_index_bytes(bits))
    bad[8:12] = (7).to_bytes(4, "little")  # code_size disagrees with d
    with pytest.raises(ValueError, match="code_size"):
        parse_faiss_binary_flat_index(bytes(bad))


class _BitWriter:
    """LSB-first bitstring writer — the faiss BitstringWriter layout
    (faiss/utils/hamming.h): bit i of the stream lands at byte i>>3, bit
    position i&7."""

    def __init__(self):
        self.bits: list[int] = []

    def write(self, x: int, nbit: int) -> None:
        for i in range(nbit):
            self.bits.append((x >> i) & 1)

    def tobytes(self) -> bytes:
        return np.packbits(
            np.array(self.bits or [0], dtype=np.uint8), bitorder="little"
        ).tobytes()


def _binary_hnsw_index_bytes(bits: np.ndarray, scalar_block: int = 20) -> bytes:
    """Mirror of the public FAISS IndexBinaryHNSW serialization ("IBHf"):
    fourcc + binary header + the five write_HNSW graph vectors + a
    version-drifting scalar block + nested IndexBinaryFlat storage."""
    import struct

    n, d = bits.shape

    def vec(count, elem):
        return struct.pack("<Q", count) + b"\x00" * (count * elem)

    return (
        b"IBHf"
        + _binary_header_bytes(d, n)
        + vec(1, 8)  # assign_probas (f64)
        + vec(2, 4)  # cum_nneighbor_per_level (i32)
        + vec(n, 4)  # levels (i32)
        + vec(n + 1, 8)  # offsets (u64)
        + vec(n * 8, 4)  # neighbors (i32)
        + b"\x00" * scalar_block  # entry_point/max_level/ef*/upper_beam
        + _binary_flat_index_bytes(bits)
    )


def _binary_hash_index_bytes(
    bits: np.ndarray, list_of: list[int], ids: list[int], b: int = 4
) -> bytes:
    """Mirror of the public FAISS IndexBinaryHash serialization ("IBHh"):
    fourcc + binary header + b/nflip + sz/il_nbit + the key/size
    bitstring + per list WRITEVECTOR ids (i64) and WRITEVECTOR packed
    codes."""
    import struct

    n, d = bits.shape
    codes = _pack_bits(bits)
    per_list: dict[int, list[int]] = {}
    for row, lst in enumerate(list_of):
        per_list.setdefault(lst, []).append(row)
    maxil = max(len(rows) for rows in per_list.values())
    il_nbit = 0
    while maxil > (1 << il_nbit):
        il_nbit += 1
    wr = _BitWriter()
    for key, rows in per_list.items():
        wr.write(key, b)
        wr.write(len(rows), il_nbit)
    buf = wr.tobytes()
    out = (
        b"IBHh"
        + _binary_header_bytes(d, n)
        + struct.pack("<ii", b, 2)  # b, nflip
        + struct.pack("<Q", len(per_list))
        + struct.pack("<i", il_nbit)
        + struct.pack("<Q", len(buf))
        + buf
    )
    for rows in per_list.values():
        out += struct.pack("<Q", len(rows))
        out += np.array([ids[r] for r in rows], dtype="<i8").tobytes()
        out += struct.pack("<Q", len(rows) * codes.shape[1])
        out += codes[rows].tobytes()
    return out


def _binary_multihash_index_bytes(bits: np.ndarray, nhash: int = 2, b: int = 4) -> bytes:
    """Mirror of the public FAISS IndexBinaryMultiHash serialization
    ("IBMh"): fourcc + binary header + nested IndexBinaryFlat storage +
    b/nhash/nflip + nhash maps (id_bits, sz, key/size/id bitstring)."""
    import struct

    n, d = bits.shape
    id_bits = 0
    while n > (1 << id_bits):
        id_bits += 1
    out = (
        b"IBMh"
        + _binary_header_bytes(d, n)
        + _binary_flat_index_bytes(bits)
        + struct.pack("<iii", b, nhash, 2)
    )
    for h in range(nhash):
        wr = _BitWriter()
        wr.write(h, b)  # one bucket holding every id
        wr.write(n, id_bits)
        for i in range(n):
            wr.write(i, id_bits)
        buf = wr.tobytes()
        out += (
            struct.pack("<i", id_bits)
            + struct.pack("<Q", 1)
            + struct.pack("<Q", len(buf))
            + buf
        )
    return out


def test_faiss_binary_hnsw_and_multihash_decode_storage():
    """IndexBinaryHNSW and IndexBinaryMultiHash both carry a flat code
    storage behind graph/hash accelerator payloads — the decode must skip
    the accelerator and return the exact codes in id order, across
    several scalar-block widths for the HNSW revision drift."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        _decode_faiss_bytes,
        parse_faiss_binary_hnsw_index,
        parse_faiss_binary_multihash_index,
    )

    rng = np.random.default_rng(13)
    bits = (rng.random((9, 19)) < 0.5).astype(np.float32)
    for scalar_block in (12, 20, 24):
        got = parse_faiss_binary_hnsw_index(
            _binary_hnsw_index_bytes(bits, scalar_block=scalar_block)
        )
        assert np.array_equal(got, bits), scalar_block
    got = parse_faiss_binary_multihash_index(_binary_multihash_index_bytes(bits))
    assert np.array_equal(got, bits)
    ids, arr = _decode_faiss_bytes(_binary_hnsw_index_bytes(bits))
    assert ids.tolist() == list(range(9)) and np.array_equal(arr, bits)


def test_faiss_binary_hash_keeps_stored_ids():
    """IndexBinaryHash keeps its codes IN the hash inverted lists — the
    decode must concatenate every list, return the stored ids aligned
    with the unpacked codes, and reject a list whose code bytes disagree
    with its id count."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_binary_hash_index,
    )

    rng = np.random.default_rng(14)
    bits = (rng.random((6, 24)) < 0.5).astype(np.float32)
    ids = [10, 21, 32, 43, 54, 65]
    list_of = [3, 0, 3, 1, 0, 3]
    got_ids, got = parse_faiss_binary_hash_index(
        _binary_hash_index_bytes(bits, list_of, ids)
    )
    order = np.argsort(got_ids)
    assert sorted(got_ids.tolist()) == ids
    assert np.array_equal(got[order], bits[np.argsort(ids)])
    bad = bytearray(_binary_hash_index_bytes(bits, list_of, ids))
    bad[12:20] = (5).to_bytes(8, "little")  # header ntotal != payload
    with pytest.raises(ValueError, match="ntotal"):
        parse_faiss_binary_hash_index(bytes(bad))


def test_faiss_binary_fromfloat_thresholds_nested_float_index():
    """IndexBinaryFromFloat stores ±1 floats in a wrapped float index —
    the decode must threshold them back to exact bits, for a plain flat
    sub-index and for an IDMap sub-index whose stored ids must survive."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_binary_fromfloat_index,
    )

    rng = np.random.default_rng(15)
    bits = (rng.random((5, 16)) < 0.5).astype(np.float32)
    pm1 = (2.0 * bits - 1.0).astype(np.float32)
    n, d = bits.shape
    buf = b"IBFf" + _binary_header_bytes(d, n) + _flat_index_bytes(pm1)
    got_ids, got = parse_faiss_binary_fromfloat_index(buf)
    assert got_ids.tolist() == list(range(n)) and np.array_equal(got, bits)
    ids = [7, 13, 29, 31, 57]
    buf = b"IBFf" + _binary_header_bytes(d, n) + _idmap_index_bytes(pm1, ids)
    got_ids, got = parse_faiss_binary_fromfloat_index(buf)
    assert got_ids.tolist() == ids and np.array_equal(got, bits)


def test_multimodal_decode_matches_python(spark):
    """The mapInPandas decode must agree with a direct Python computation
    on the same bytes (the Spark plumbing under test; the codec is fake)."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(16)
    feats = {r["doc_id"]: r for r in decode_features(to_blob_table(docs)).collect()}
    for r in docs.collect():
        raw = r["text"].encode("utf-8")
        f = feats[r["doc_id"]]
        assert f["n_bytes"] == len(raw)
        assert f["width"] == len(raw) % 64 + 16
        assert f["height"] == len(raw) % 48 + 16
        assert f["n_frames"] == len(raw) // 100 + 1
        assert f["byte_checksum"] == sum(raw) % 1000003


def test_store_edge_cases(spark, tmp_path):
    """Empty create, delete-miss, double delete, upsert-into-empty."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

    store = VectorStore.create(spark, str(tmp_path / "edge"))
    assert store.count() == 0
    assert store.delete_by_id(["nope"]) == 0
    batch = spark.createDataFrame(
        [([1.0, 0.0], "alice"), ([0.0, 1.0], "bob")], "embedding array<double>, user_id string"
    )
    assert store.add_batch(batch) == 2
    assert store.count() == 2
    assert store.delete_where("user_id = 'alice'") == 1
    assert store.delete_where("user_id = 'alice'") == 0
    ups = spark.createDataFrame(
        [("p1", [0.5, 0.5], "carol")], "point_id string, embedding array<double>, user_id string"
    )
    assert store.upsert(ups) == 1
    assert store.upsert(ups) == 1  # idempotent replace, not duplicate
    assert store.count() == 2  # bob + carol
    stats = store.stats()
    assert stats["total_vectors"] == 2 and stats["distinct_users"] == 2
    assert abs(stats["avg_norm"] - 1.0) < 1e-9  # normalize-at-write


def test_stream_search_serving_equals_batch(spark):
    """The drained serving stream must produce exactly the batch engine's
    top-k for the same probes — same plan, different arrival mode."""
    import robi_biometric_qdrant_vector_db_service_spark.workload  # noqa: F401 — registry init
    from robi_biometric_qdrant_vector_db_service_spark.operators.search import knn_search
    from robi_biometric_qdrant_vector_db_service_spark.streaming.serving import search_serving_stream

    streamed = {
        (r.q_id, r.vec_id, r.rank, r.score)
        for r in search_serving_stream(spark, SF_SMOKE, k=5).collect()
    }
    corpus = load_table(spark, SF_SMOKE, "embeddings")
    probes = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    batch = {
        (r.q_id, r.vec_id, r.rank, r.score)
        for r in knn_search(corpus, probes, k=5).collect()
    }
    assert streamed == batch


def test_stream_serving_probe_staging_is_one_file_per_batch(spark):
    """Regression guard (round-6 fix): the staged probe log must hold
    EXACTLY one parquet file per batch directory — a second file per dir
    silently doubles the micro-batch count under maxFilesPerTrigger=1,
    doubling per-trigger scan work and checkpoint commits."""
    import glob

    from robi_biometric_qdrant_vector_db_service_spark.streaming.serving import (
        N_PROBE_FILES,
        _staged_probe_batches_path,
    )

    path = _staged_probe_batches_path(spark, SF_SMOKE)
    dirs = sorted(glob.glob(os.path.join(path, "batch=*")))
    assert len(dirs) == N_PROBE_FILES
    for d in dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, (d, files)


def test_watermarked_dedup_matches_unbounded(spark):
    """dropDuplicatesWithinWatermark (bounded state, the production shape)
    must produce exactly the unbounded dropDuplicates counts when the
    watermark delay covers the whole replayed fixture."""
    from robi_biometric_qdrant_vector_db_service_spark.streaming.stats import (
        dedup_events_stream,
        dedup_events_stream_watermarked,
    )

    a = sorted(
        map(tuple, dedup_events_stream(spark, SF_SMOKE, "wm_base").collect())
    )
    b = sorted(
        map(
            tuple,
            dedup_events_stream_watermarked(spark, SF_SMOKE, "wm_bounded").collect(),
        )
    )
    assert a == b and len(a) > 0


def test_faiss_ivfflat_parser_fuzz():
    """Property fuzz over the IVFFlat writer/parser space: random shapes,
    list assignments (including empty and single-list extremes), custom
    ids, full vs sprs sizes, and hashtable direct maps must all
    reconstruct the exact matrix keyed by stored id.  (The writer mirrors
    faiss/impl/index_write.cpp; the byte-order and layout assertions are
    pinned by the deterministic tests above — this widens the parameter
    space.)"""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_ivfflat_index,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=40),
        d=st.integers(min_value=1, max_value=12),
        nlist=st.integers(min_value=1, max_value=8),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        sparse=st.booleans(),
        hashtable=st.booleans(),
        id_stride=st.integers(min_value=1, max_value=7),
    )
    def check(n, d, nlist, seed, sparse, hashtable, id_stride):
        rng = np.random.default_rng(seed)
        mat = rng.standard_normal((n, d)).astype(np.float32)
        assignment = [int(x) for x in rng.integers(0, nlist, n)]
        ids = [13 + id_stride * i for i in range(n)]
        buf = _ivfflat_index_bytes(
            mat, assignment, ids=ids, nlist=nlist,
            sparse=sparse, dm_hashtable=hashtable,
        )
        got_ids, got = parse_faiss_ivfflat_index(buf)
        assert sorted(got_ids.tolist()) == ids
        order = np.argsort(got_ids)
        assert np.array_equal(got[order], mat)

    check()


def test_resolve_shard_path_handles_hadoop_path_strings():
    """binaryFile paths are Hadoop Path.toString output — not
    percent-encoded, with Hadoop scheme names.  The resolver must keep
    local paths (spaces included) out of URI parsing, translate s3a/s3n
    to pyarrow's s3 scheme with percent-encoding, and cache-key remote
    filesystems per bucket."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        _resolve_shard_path,
    )

    assert _resolve_shard_path("file:/data/a b.npy") == ("local", "/data/a b.npy")
    assert _resolve_shard_path("file:///data/x.npy") == ("local", "/data/x.npy")
    assert _resolve_shard_path("file://host/data/x.npy") == ("local", "/host/data/x.npy")

    kind, encoded, cache_key, path_in_fs = _resolve_shard_path(
        "s3a://bucket/pre fix/x.npy"
    )
    assert kind == "remote"
    assert encoded == "s3://bucket/pre%20fix/x.npy"  # parseable by from_uri
    assert cache_key == "s3://bucket"  # one client per bucket
    assert path_in_fs == "bucket/pre fix/x.npy"  # pyarrow S3 path form

    kind, encoded, cache_key, path_in_fs = _resolve_shard_path(
        "hdfs://nn:8020/warehouse/x.npy"
    )
    assert kind == "remote" and path_in_fs is None
    assert encoded == "hdfs://nn:8020/warehouse/x.npy"
    # non-S3 remotes key the client cache on scheme+authority (ADVICE r7):
    # keying on the full URI would miss for every shard
    assert cache_key == "hdfs://nn:8020"
    assert _resolve_shard_path("hdfs://nn:8020/other/y.npy")[2] == cache_key


def test_fs_and_path_one_client_per_authority():
    """_fs_and_path must create ONE pyarrow FileSystem per (scheme,
    authority) and replay the learned URI→in-FS-path mapping for later
    shards — both host-style (hdfs) and bucket-style (gs) layouts."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        _fs_and_path,
        _resolve_shard_path,
    )

    class FakePafs:
        calls: list = []

        class FileSystem:
            @staticmethod
            def from_uri(uri):
                FakePafs.calls.append(uri)
                from urllib.parse import unquote, urlsplit

                p = urlsplit(uri)
                if p.scheme in ("gs", "s3"):  # bucket-style mapping
                    return (f"fs:{p.scheme}://{p.netloc}", unquote(p.netloc + p.path))
                return (f"fs:{p.scheme}://{p.netloc}", unquote(p.path))  # host-style

    cache: dict = {}
    fs1, p1 = _fs_and_path(
        _resolve_shard_path("hdfs://nn:8020/wh/a b.npy"), cache, FakePafs
    )
    fs2, p2 = _fs_and_path(
        _resolve_shard_path("hdfs://nn:8020/wh/second.npy"), cache, FakePafs
    )
    assert fs1 == fs2 == "fs:hdfs://nn:8020"
    assert (p1, p2) == ("/wh/a b.npy", "/wh/second.npy")
    assert len(FakePafs.calls) == 1  # one client for both shards

    FakePafs.calls.clear()
    cache.clear()
    fs3, p3 = _fs_and_path(_resolve_shard_path("gs://bkt/k1.npy"), cache, FakePafs)
    fs4, p4 = _fs_and_path(_resolve_shard_path("gs://bkt/k2.npy"), cache, FakePafs)
    assert fs3 == fs4 == "fs:gs://bkt"
    assert (p3, p4) == ("bkt/k1.npy", "bkt/k2.npy")
    assert len(FakePafs.calls) == 1


def test_npy_header_over_4k_still_counts(spark, tmp_path):
    """An npy v1 header larger than the 4 KiB first ranged read (legal —
    HEADER_LEN is 16-bit) must still header-count correctly: the read
    grows to the declared length instead of failing on a truncated
    buffer (ADVICE r7)."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        _npy_header_nbytes,
        read_npy_shard_counts,
    )

    tmp = str(tmp_path)
    mat = np.arange(12, dtype=np.float32).reshape(3, 4)
    header = (
        "{'descr': '<f4', 'fortran_order': False, 'shape': (3, 4), }"
        + " " * 6000
        + "\n"
    ).encode("latin1")
    blob = b"\x93NUMPY" + bytes([1, 0]) + len(header).to_bytes(2, "little")
    blob += header + mat.tobytes()
    with open(os.path.join(tmp, "big.npy"), "wb") as f:
        f.write(blob)
    np.save(os.path.join(tmp, "small.npy"), mat)

    assert _npy_header_nbytes(blob[:4096]) == 10 + len(header)
    assert np.array_equal(np.load(os.path.join(tmp, "big.npy")), mat)  # legal npy
    got = {
        os.path.basename(r["src_file"]): r["cnt"]
        for r in read_npy_shard_counts(spark, tmp).collect()
    }
    assert got == {"big.npy": 3, "small.npy": 3}


def _vt_linear_bytes(
    A: np.ndarray, b: np.ndarray | None = None, fourcc: bytes = b"LTra"
) -> bytes:
    """Mirror of write_VectorTransform's linear branch (public layout,
    faiss/impl/index_write.cpp): subtype fourcc (+ PCAMatrix subtype
    fields for the Pcam/PCAm spellings), have_bias, A, b, then the common
    d_in/d_out/is_trained trailer.  OPQMatrix serializes through the
    generic LTra branch, so LTra bytes ARE the OPQ wire format."""
    import struct

    d_out, d_in = A.shape

    def vec(v: np.ndarray, dt: str) -> bytes:
        return struct.pack("<Q", v.size) + v.astype(dt).tobytes()

    out = fourcc
    if fourcc in (b"Pcam", b"PcAm", b"PCAm"):  # PCAMatrix subtype fields
        out += struct.pack("<f", 0.0)  # eigen_power
        if fourcc != b"PCAm":
            out += struct.pack("<f", 0.0)  # epsilon (current writer)
        out += struct.pack("<B", 0)  # random_rotation
        if fourcc != b"PCAm":
            out += struct.pack("<B", 0)  # balanced_bins
        out += vec(np.zeros(d_in), "<f4")  # mean
        out += vec(np.zeros(d_in), "<f4")  # eigenvalues
        out += vec(np.zeros((d_in, d_in)), "<f4")  # PCAMat
    out += struct.pack("<B", 1 if b is not None else 0)
    out += vec(A, "<f4")
    out += vec(b if b is not None else np.empty(0), "<f4")
    out += struct.pack("<iiB", d_in, d_out, 1)
    return out


def _pretransform_bytes(transforms: list[bytes], inner: bytes, d_in: int, n: int) -> bytes:
    """Mirror of the IndexPreTransform serialization: IxPT fourcc, index
    header at the ORIGINAL dim, chain length, transform records, inner
    index bytes."""
    import struct

    return (
        b"IxPT"
        + struct.pack("<i", d_in)
        + struct.pack("<q", n)
        + struct.pack("<qq", 1 << 20, 1 << 20)
        + struct.pack("<B", 1)
        + struct.pack("<i", 0)
        + struct.pack("<i", len(transforms))
        + b"".join(transforms)
        + inner
    )


def _random_orthogonal(d: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    q, _ = np.linalg.qr(rng.standard_normal((d, d)))
    return q.astype(np.float32)


def test_faiss_pretransform_opq_rotation_roundtrip(spark, tmp_path):
    """An OPQ-style orthonormal rotation (serialized via the generic LTra
    branch, exactly how faiss writes OPQMatrix) wrapping IndexFlat must
    reconstruct the ORIGINAL-space vectors, matching faiss.read_index +
    reconstruct_n (the reference's migrate_from_faiss.py:68-77)."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_pretransform_index,
        read_faiss_vectors,
    )

    d, n = 8, 20
    rng = np.random.default_rng(3)
    X = rng.standard_normal((n, d)).astype(np.float32)
    A = _random_orthogonal(d)
    Y = (X @ A.T).astype(np.float32)  # forward transform y = A x
    blob = _pretransform_bytes([_vt_linear_bytes(A)], _flat_index_bytes(Y), d, n)

    idx, arr = parse_faiss_pretransform_index(blob)
    assert np.array_equal(idx, np.arange(n))
    np.testing.assert_allclose(arr, X, atol=1e-5)

    tmp = str(tmp_path)
    with open(os.path.join(tmp, "opq.index"), "wb") as f:
        f.write(blob)
    rows = read_faiss_vectors(spark, tmp).orderBy("row_idx").collect()
    got = np.array([r["embedding"] for r in rows], dtype=np.float32)
    np.testing.assert_allclose(got, X, atol=1e-5)


def test_faiss_pretransform_pca_bias_and_dim_reduction():
    """Dimension-reducing PCA with a bias (Pcam spelling, current-writer
    subtype fields) reverses to the d_in-space projection Aᵀ(y − b); the
    legacy PCAm spelling (no epsilon/balanced_bins) parses too."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_pretransform_index,
    )

    d_in, d_out, n = 10, 4, 12
    rng = np.random.default_rng(11)
    X = rng.standard_normal((n, d_in)).astype(np.float32)
    A = _random_orthogonal(d_in)[:d_out, :]  # orthonormal rows
    b = rng.standard_normal(d_out).astype(np.float32)
    Y = (X @ A.T + b).astype(np.float32)
    for fourcc in (b"Pcam", b"PCAm"):
        blob = _pretransform_bytes(
            [_vt_linear_bytes(A, b=b, fourcc=fourcc)],
            _flat_index_bytes(Y),
            d_in,
            n,
        )
        _, arr = parse_faiss_pretransform_index(blob)
        np.testing.assert_allclose(arr, (Y - b) @ A, atol=1e-5)


def test_faiss_pretransform_chain_center_remap():
    """A CenteringTransform → RemapDimensionsTransform chain reverses in
    reverse order: remap scatters kept dims back, centering adds the mean."""
    import struct

    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_pretransform_index,
    )

    d_in, n = 6, 9
    rng = np.random.default_rng(5)
    X = rng.standard_normal((n, d_in)).astype(np.float32)
    mean = X.mean(axis=0).astype(np.float32)
    keep = np.array([4, 0, 2], dtype=np.int32)  # d_out=3, permuted
    Y = (X - mean)[:, keep]

    def vec(v, dt):
        return struct.pack("<Q", v.size) + v.astype(dt).tobytes()

    t_center = b"VCnt" + vec(mean, "<f4") + struct.pack("<iiB", d_in, d_in, 1)
    t_remap = b"RmDT" + vec(keep, "<i4") + struct.pack("<iiB", d_in, 3, 1)
    blob = _pretransform_bytes(
        [t_center, t_remap], _flat_index_bytes(Y.astype(np.float32)), d_in, n
    )
    _, arr = parse_faiss_pretransform_index(blob)
    expect = np.zeros_like(X)
    expect[:, keep] = Y
    expect += mean
    np.testing.assert_allclose(arr, expect, atol=1e-6)


def test_faiss_pretransform_gates_cleanly():
    """Non-orthonormal linear transforms (reverse undefined — faiss throws
    too) and unknown transform fourccs must gate with NotImplementedError
    naming the remediation, never decode wrong vectors."""
    import struct

    import pytest

    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_pretransform_index,
    )

    d, n = 4, 3
    Y = np.ones((n, d), dtype=np.float32)
    bad_A = np.eye(d, dtype=np.float32) * 2.0  # not orthonormal
    blob = _pretransform_bytes([_vt_linear_bytes(bad_A)], _flat_index_bytes(Y), d, n)
    with pytest.raises(NotImplementedError, match="orthonormal"):
        parse_faiss_pretransform_index(blob)

    itq = b"Viqm" + struct.pack("<ii", 50, 123)  # ITQMatrix subtype fields
    blob = _pretransform_bytes([itq], _flat_index_bytes(Y), d, n)
    with pytest.raises(NotImplementedError, match="VectorTransform"):
        parse_faiss_pretransform_index(blob)


def test_faiss_pretransform_preserves_inner_ids(spark):
    """PreTransform wrapping an id-carrying inner index (IVFFlat with
    add_with_ids ids) must pass the STORED ids through while reversing the
    transform — reconstruct order stays inverted-list order."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.npy_loader import (
        parse_faiss_pretransform_index,
    )

    d, n = 8, 10
    rng = np.random.default_rng(17)
    X = rng.standard_normal((n, d)).astype(np.float32)
    A = _random_orthogonal(d, seed=23)
    Y = (X @ A.T).astype(np.float32)
    ids = [100 + i for i in range(n)]
    list_of = [i % 3 for i in range(n)]
    inner = _ivfflat_index_bytes(Y, list_of, ids=ids, nlist=3)
    blob = _pretransform_bytes([_vt_linear_bytes(A)], inner, d, n)
    got_ids, arr = parse_faiss_pretransform_index(blob)
    order = np.argsort(np.array(list_of), kind="stable")
    assert list(got_ids) == [ids[i] for i in order]
    np.testing.assert_allclose(arr, X[order], atol=1e-5)
