"""S1–S7: the reference's write/mutation surface as a batch VectorStore.

Reference semantics (file:line into /root/reference):
- S1 collection create        src/core/qdrant_client.py:60-151
- S2/S3 single/batch upsert   src/core/qdrant_client.py:174-309
  (normalize at write :200-202/:269, uuid4 default id :206/:276,
   timestamp payload stamp :211/:281)
- S6 delete by id             src/core/qdrant_client.py:407-432
- S7 delete by predicate      src/core/qdrant_client.py:434-469
  — the reference only APPROXIMATES the deleted count from the operation id
  (:461); we return exact counts (SURVEY §2.1 S7: a fidelity bug not copied).

Storage design (100 TB posture)
-------------------------------
Log-structured, manifest-versioned parquet — the same segment model Qdrant
uses (qdrant_client.py:117-127: bounded segments + per-segment flush), and
the poor-man's Delta transaction log (the image ships no Delta jars):

- Data lives in immutable SEGMENT directories ``seg_*/ubucket_p=<b>/*.parquet``,
  one subdirectory per user bucket (``ubucket = crc32(user_id) % n_buckets``,
  the O1 keyword-index layout).  ``ubucket`` is also a data column, so a
  file never needs directory-derived partition values.
- A VERSION is a manifest (``manifest_<v>.json``) mapping every bucket to
  the list of files that make it up, plus a ``_LATEST`` pointer.  Readers
  resolve the manifest and read exactly those files — consistent snapshots,
  concurrent readers of v=n unaffected by a writer publishing v=n+1.
- MUTATIONS are partition-selective: a delete/upsert first locates the
  buckets that actually contain matching rows (a column-pruned scan of the
  key columns — one bucket when the key is user_id via ``delete_user``,
  all buckets' id columns for id-keyed ops, which have no bucket to prune
  to), rewrites ONLY the touched buckets into a fresh segment, and
  re-links every untouched bucket's existing files into the new manifest
  by reference.  A one-user delete on a 100 TB store reads and rewrites
  one bucket, not the corpus.
- ``add_batch`` is a pure append: new segment files joined onto the bucket
  lists, no existing file touched (Qdrant upsert with fresh ids touches no
  existing segment, qdrant_client.py:292-296).
- ``vacuum()`` drops files no manifest references — O7's
  ``deleted_threshold``/vacuum semantics as an explicit batch job.
- The manifest also records each file's ``ts`` min/max (read from parquet
  footers in the same metadata pass that counts rows at write time), so a
  time-range read prunes non-overlapping files BEFORE Spark plans the scan
  — the reference's DATETIME payload index
  (advanced_indexing.py:61-69) as Delta-style data skipping.

The bucket function is ``crc32`` (not Spark's murmur ``hash``) because it is
bit-identical in the JVM (java.util.zip.CRC32) and CPython (zlib.crc32), so
the planner can resolve a user filter to its one bucket without running a
Spark job.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re
import shutil
import threading
import uuid
import zlib
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import l2_normalize_sql
from ..session import local_frame

POINT_SCHEMA = (
    "point_id string, embedding array<double>, user_id string, ts double, "
    "metadata map<string,string>"
)
# Companion index columns, MATERIALIZED at rest on every segment write
# (r17 VERDICT item 1): the rescore family's stage 1 scans one of these
# instead of the float vectors — e8 is Qdrant's INT8 scalar quantization
# (qdrant_client.py:129-138; 1 byte/dim, 8× under array<double>), e_pre16
# the Matryoshka 16-dim prefix, bq_code the BinaryQuantization sign-bit
# words (1 BIGINT per 32 dims).  Derived purely from ``embedding`` inside
# ``_write_segment`` — the single choke point every ingest, upsert,
# rewrite and compaction funnels through — so a vector rewrite
# (update_vectors, upsert) can never leave a stale companion behind.
_COMPANION_COLS = ("e8", "e_pre16", "bq_code")
COMPANION_SCHEMA = (
    "e8 array<tinyint>, e_pre16 array<double>, bq_code array<bigint>"
)
STORE_PREFIX_DIMS = 16
_FULL_SCHEMA = POINT_SCHEMA + ", " + COMPANION_SCHEMA + ", ubucket int"
# parsed manifests kept per store instance: a commit consults the current
# version 2-4 times and a diff its predecessor; older ones re-read from disk
_MANIFEST_MEMO_VERSIONS = 4


def _empty_meta():
    """Typed empty payload map — the neutral element of every payload
    mutation.  A function (not a module constant) because Column
    construction needs a live SparkContext."""
    return F.create_map().cast("map<string,string>")


def _payload_map(payload: dict):
    """A payload dict as a literal ``map<string,string>`` Column, values
    coerced to string."""
    return F.create_map(*[F.lit(str(x)) for k, v in payload.items() for x in (k, v)])


def _num_input_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s execution, probed JVM-side
    (``df._jdf.rdd()``, ~0.1 s) instead of ``df.rdd`` (~0.45 s — wraps
    the plan in a Python-pickler conversion).  ``_jdf`` is a private
    PySpark attribute absent under Spark Connect, so fall back to the
    public (slower) probe rather than failing every segment write
    (ADVICE r18).

    The probe builds the plan's RDD, and building a broadcast join's RDD
    runs the broadcast's job; a plan of scans, filters and projections
    starts none.  So callers whose write plan broadcasts probe its
    streamed scan instead (``_write_segment``'s ``in_parts``)."""
    try:
        return df._jdf.rdd().getNumPartitions()
    except AttributeError:
        return df.rdd.getNumPartitions()


def _footer_stats(
    files: dict[int, list[str]],
) -> tuple[dict[str, list[float]], int]:
    """(file → [min_ts, max_ts], total rows) from the parquet FOOTERS of
    freshly written files — one metadata pass, no re-scan.  Files whose
    row groups lack ts statistics get no entry (never pruned)."""
    import pyarrow.parquet as pq

    stats: dict[str, list[float]] = {}
    n_rows = 0
    for fs in files.values():
        for f in fs:
            md = pq.ParquetFile(f).metadata
            n_rows += md.num_rows
            ts_idx = next(
                (i for i in range(md.num_columns) if md.schema.column(i).name == "ts"),
                None,
            )
            if ts_idx is None:
                continue
            mins: list[float] = []
            maxs: list[float] = []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ts_idx).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                stats[f] = [min(mins), max(maxs)]
    return stats, n_rows


def _py_bucket(user_id: str, n_buckets: int) -> int:
    return zlib.crc32(user_id.encode("utf-8")) % n_buckets


def _bucket_col(n_buckets: int):
    # user_id is mandatory (schemas.py:19 — the reference validates it per
    # request); a NULL would otherwise silently land in a Hive default
    # partition the manifest can't parse, so fail the write job instead
    bucket = F.pmod(F.crc32(F.col("user_id").cast("binary")), F.lit(n_buckets)).cast("int")
    return F.when(
        F.col("user_id").isNull(),
        F.raise_error("user_id must not be NULL (required payload field)").cast("int"),
    ).otherwise(bucket)


def search_corpus(
    corpus: DataFrame,
    queries: DataFrame | Sequence[float],
    k: int = 10,
    *,
    score_threshold: float | None = None,
    quantization: str | None = None,
    oversample: int = 3,
    keep: tuple = (),
) -> DataFrame:
    """Search one store snapshot — the single search dispatch behind
    ``VectorStore.search`` and the HTTP facade.  ``corpus`` is a
    ``VectorStore.read`` frame (read ``with_index=True`` for quantized
    search), ``queries`` is (q_id, q_emb); returns
    (q_id, point_id, rank, score, *keep).

    ``queries`` may instead be ONE driver-held vector (a sequence of
    floats, the HTTP request's embedding).  It becomes a folded
    ``array<double>`` literal (``functions.vector.probe_literal``; its
    cosine norm, and for a quantized search its INT8 codes or sign-bit
    words, are computed on the driver and folded too) and the ranking
    becomes ``TakeOrderedAndProject`` (``search.top_k``).  Either search
    is one Spark job with no exchange: an exact one scans, scores,
    thresholds and takes; a quantized one takes stage 1's
    ``oversample × k`` best rows with their vectors and payload, rescores
    just those and takes again.  The result is (point_id, score, *keep),
    collected in rank order; the rows are the frame form's for that query
    (tests/test_service_search.py).

    ``keep`` names corpus columns (the payload: ``user_id``, ``metadata``,
    ``ts``) carried unchanged into each ranked row, read by the same scan
    that scores the vectors (stage 2's scan for a quantized query frame,
    the one scan for a single vector), so the hits and their payload come
    from one read of one snapshot with no join back onto the corpus.
    ``keep=()`` leaves the plan as it was.

    Without ``quantization`` this is exact cosine top-k.  With it, the
    two-stage rescore over the MATERIALIZED companion columns every
    segment carries (qdrant_client.py:129-138 configures exactly this:
    INT8 scalar quantization, ``oversampling`` 3.0, ``rescore`` True):
    ``"int8"`` prescreens by integer dot product over the at-rest ``e8``
    column, ``"binary"`` by Hamming distance over ``bq_code``; both
    rescore the ``oversample × k`` survivors with exact cosine.  For a
    query frame stage 1 never reads the float vectors (ReadSchema pinned
    in tests/test_plans.py) and stage 2 (``ann._rescore_survivors``)
    joins its survivors back onto them.
    ``score_threshold`` applies to the exact score, as in Qdrant."""
    from . import ann
    from .search import knn_search

    if quantization is None:
        return knn_search(
            corpus,
            queries,
            k,
            score_threshold=score_threshold,
            corpus_id="point_id",
            keep=keep,
        )
    src = corpus.withColumnRenamed("point_id", "vec_id")
    if quantization == "int8":
        out = ann.int8_rescore_topk(
            src, queries, k=k, oversample=oversample, keep=keep,
            score_threshold=score_threshold,
        )
    elif quantization == "binary":
        out = ann.bq_hamming_topk(
            src, queries, k=k, oversample=oversample, dims=None, keep=keep,
            score_threshold=score_threshold,
        )
    else:
        raise ValueError(
            f"quantization must be 'int8', 'binary' or None, got "
            f"{quantization!r}"
        )
    return out.withColumnRenamed("vec_id", "point_id")


class VectorStore:
    """Batch analogue of QdrantVectorStore (src/core/qdrant_client.py:33-520).

    ``n_buckets`` controls the O1 layout: data is bucketed by
    ``crc32(user_id) % n_buckets`` so keyword-filtered reads, deletes and
    upserts touch only their buckets' files — the Spark analogue of the
    reference's RAM keyword index on user_id
    (src/core/advanced_indexing.py:52-59)."""

    def __init__(self, spark: SparkSession, root: str, *, n_buckets: int = 8):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        # published manifests are IMMUTABLE (a commit writes manifest_<v+1>,
        # never rewrites <v>), so parsed payloads memoize per instance —
        # every mutation consults the current manifest 2-4 times (locate,
        # rewrite, stats carry-over).  Only the newest
        # _MANIFEST_MEMO_VERSIONS are kept, so a long-lived store does not
        # grow one entry per commit
        self._manifest_mem: dict[int, dict] = {}
        self._memo_lock = threading.Lock()  # CDC diffs read from threads
        os.makedirs(root, exist_ok=True)

    # -- manifest plumbing --------------------------------------------------

    def _pointer(self) -> str:
        return os.path.join(self.root, "_LATEST")

    def _current_version(self) -> int:
        try:
            with open(self._pointer()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"manifest_{version}.json")

    def _manifest_payload(self, v: int) -> dict:
        """The parsed (immutable) manifest payload for version ``v``,
        memoized per instance.  Callers must treat the returned object as
        read-only; the public readers below hand out fresh copies."""
        raw = self._manifest_mem.get(v)
        if raw is None:
            with open(self._manifest_path(v)) as f:
                raw = json.load(f)
            self._memoize(v, raw)
        return raw

    def _memoize(self, v: int, payload: dict) -> None:
        """Remember ``payload`` as version ``v``, evicting the OLDEST
        versions beyond the bound (an old version read on demand evicts
        itself at once)."""
        mem = self._manifest_mem
        with self._memo_lock:
            mem[v] = payload
            while len(mem) > _MANIFEST_MEMO_VERSIONS:
                del mem[min(mem)]

    def _read_manifest(self, version: int | None = None) -> dict[int, list[str]]:
        v = self._current_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"store at {self.root} not initialized")
        raw = self._manifest_payload(v)
        assert raw["n_buckets"] == self.n_buckets, (raw["n_buckets"], self.n_buckets)
        # fresh copy: every mutation path edits the returned dict in place
        return {int(b): list(files) for b, files in raw["buckets"].items()}

    def _read_file_stats(self, version: int | None = None) -> dict[str, list[float]]:
        """file → [min_ts, max_ts] from the manifest (absent for files
        written before stats existed — those are never pruned)."""
        v = self._current_version() if version is None else version
        if v < 0:
            return {}
        # copy the [min, max] pairs too: callers edit the result in place
        stats = self._manifest_payload(v).get("file_stats", {})
        return {f: list(s) for f, s in stats.items()}

    def _publish_manifest(
        self,
        buckets: dict[int, list[str]],
        new_stats: dict[str, list[float]] | None = None,
    ) -> int:
        new_v = self._current_version() + 1
        live = {f for fs in buckets.values() for f in fs}
        stats = {
            f: s
            for f, s in {**self._read_file_stats(), **(new_stats or {})}.items()
            if f in live
        }
        payload = {
            "n_buckets": self.n_buckets,
            "buckets": {str(b): sorted(buckets.get(b, [])) for b in range(self.n_buckets)},
            "file_stats": stats,
        }
        with open(self._manifest_path(new_v), "w") as f:
            json.dump(payload, f)
        # flip the pointer with temp + replace: a reader never sees it empty
        tmp = self._pointer() + f".tmp_{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(new_v))
        os.replace(tmp, self._pointer())
        self._memoize(new_v, payload)
        return new_v

    def _write_segment(
        self, df: DataFrame, in_parts: int | None = None
    ) -> tuple[dict[int, list[str]], dict[str, list[float]], int]:
        """Write rows (core columns + ubucket) as a new immutable segment,
        one directory per bucket; return (bucket → new files, file →
        [min_ts, max_ts], total rows).  The pre-write repartition co-locates
        each bucket so a mutation produces one file per touched bucket
        instead of tasks × buckets small files (at scale, raise n_buckets
        for more write parallelism).  Row counts and ts ranges come from the
        just-written parquet FOOTERS — one metadata pass, no re-scan and no
        second evaluation of the write plan (uuid()/normalize are
        non-reexecutable).  If the write or the footer read raises, the
        partial segment dir is removed before re-raising.

        ``in_parts`` is ``df``'s partition count when the caller knows it
        without probing ``df``: a broadcast join keeps the partitions of
        its streamed side, so a rewrite passes its scan's count and the
        probe starts no job of its own (``_num_input_partitions``)."""
        from .ann import INT8_QUANT_EXPR, bq_words_dynamic_expr

        seg = os.path.join(self.root, f"seg_{uuid.uuid4().hex[:12]}")
        # (re)derive the companion index columns from the embedding being
        # written — dropping any copies read from existing files first, so
        # a rewrite that changed ``embedding`` can never carry stale codes
        df = df.drop(*_COMPANION_COLS).withColumns(
            {
                "e8": F.expr(INT8_QUANT_EXPR.format(col="embedding")).cast(
                    "array<tinyint>"
                ),
                "e_pre16": F.expr(f"slice(embedding, 1, {STORE_PREFIX_DIMS})"),
                "bq_code": F.expr(bq_words_dynamic_expr("embedding")),
            }
        )
        out = df.withColumn("ubucket_p", F.col("ubucket"))
        # write parallelism = n_buckets × within-bucket salt, sized so write
        # tasks ≈ cores: a bare repartition(n_buckets) caps the encode+write
        # stage at n_buckets tasks no matter the cluster.  The salt follows
        # the INPUT's parallelism (a small batch stays one file per bucket;
        # a wide bulk ingest fans out to every core) and bounds
        # files-per-bucket (compact() merges them later), so mutations keep
        # their bucket-selective shape while bulk ingest uses every core.
        import math

        spark = df.sparkSession
        # one probe per segment write, on every mutation (see helper)
        if in_parts is None:
            in_parts = _num_input_partitions(df)
        salt_n = max(
            1,
            min(
                spark.sparkContext.defaultParallelism // self.n_buckets,
                math.ceil(in_parts / self.n_buckets),
            ),
        )
        if salt_n > 1:
            out = out.repartition(
                self.n_buckets * salt_n,
                "ubucket_p",
                F.pmod(F.xxhash64("point_id"), F.lit(salt_n)),
            )
        elif in_parts > 1:
            out = out.repartition(self.n_buckets, "ubucket_p")
        # in_parts == 1: the dynamic-partition writer already emits one
        # file per bucket from the single task — the repartition exchange
        # would only shuffle rows to 8 tasks to produce the same layout
        try:
            out.write.mode("overwrite").partitionBy("ubucket_p").parquet(seg)
            files: dict[int, list[str]] = {}
            for d in _glob.glob(os.path.join(seg, "ubucket_p=*")):
                b = int(d.rsplit("=", 1)[1])
                files[b] = sorted(_glob.glob(os.path.join(d, "*.parquet")))
            stats, n_rows = _footer_stats(files)
        except BaseException:
            # a failed job leaves the (empty or partial) segment dir behind
            shutil.rmtree(seg, ignore_errors=True)
            raise
        return files, stats, n_rows

    def _write_segments_overlapped(
        self, dfs: list[DataFrame], in_parts: list[int | None] | None = None
    ) -> list[tuple]:
        """Run independent ``_write_segment`` jobs concurrently (guide
        §2.6: each writes its own immutable uuid-named segment dir, so
        the jobs commute; the manifest merges the results afterwards).
        If ANY write fails (it removes its own partial dir), the
        siblings' already-written segment dirs are best-effort deleted
        before re-raising — no unreferenced segment is left behind for a
        later vacuum to trip over (ADVICE r18; the old sequential order
        never wrote the second segment after a failed first).
        ``in_parts`` gives each write's ``_write_segment`` ``in_parts``."""
        with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
            parts = in_parts or [None] * len(dfs)
            futs = [
                pool.submit(self._write_segment, df, p) for df, p in zip(dfs, parts)
            ]
            results: list[tuple | None] = []
            first_err: BaseException | None = None
            for f in futs:
                try:
                    results.append(f.result())
                except BaseException as e:  # noqa: BLE001 — cleanup then re-raise
                    results.append(None)
                    if first_err is None:
                        first_err = e
        if first_err is not None:
            for r in results:
                if r is None:
                    continue
                segs = {
                    os.path.dirname(os.path.dirname(f))
                    for fs in r[0].values()
                    for f in fs
                }
                for seg in segs:
                    shutil.rmtree(seg, ignore_errors=True)
            raise first_err
        return results  # type: ignore[return-value]

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("ubucket", _bucket_col(self.n_buckets))

    def _read_files(self, files: list[str]) -> DataFrame:
        if not files:
            return local_frame(self.spark, [], _FULL_SCHEMA)
        # explicit schema: skips footer inference; ubucket is a data column,
        # so an explicit file list needs no partition discovery
        return self.spark.read.schema(_FULL_SCHEMA).parquet(*files)

    # -- S1 create ----------------------------------------------------------

    @classmethod
    def create(
        cls, spark: SparkSession, root: str, initial: DataFrame | None = None
    ) -> "VectorStore":
        """S1: create/verify the collection (qdrant_client.py:60-151).
        Index params (HNSW/quantization) become batch index-build jobs in
        operators.ann, not table properties."""
        store = cls(spark, root)
        if store._current_version() < 0:
            if initial is None:
                store._publish_manifest({})
            else:
                files, stats, _ = store._write_segment(store._with_bucket(initial))
                store._publish_manifest(files, stats)
        return store

    def clone(self, root: str) -> "VectorStore":
        """Zero-copy snapshot clone (Delta SHALLOW CLONE): the new store's
        first manifest references this store's current files; mutations on
        the clone write their own segments and never touch shared files.

        CAVEAT (same contract as Delta shallow clones): the clone borrows
        the source's files without the source knowing.  ``vacuum()`` on the
        SOURCE may therefore delete files a clone still references — treat
        source-side vacuum as invalidating shallow clones, or deep-copy
        (re-write) the clone first if it must outlive source maintenance."""
        dst = VectorStore(self.spark, root, n_buckets=self.n_buckets)
        if dst._current_version() < 0:
            dst._publish_manifest(self._read_manifest(), self._read_file_stats())
        return dst

    def snapshot(self, dest: str, *, version: int | None = None) -> str:
        """Qdrant ``create_snapshot``: a SELF-CONTAINED, portable copy of
        one collection version — every referenced data file plus a
        manifest rewritten to relative paths — that ``restore`` can open
        anywhere (another root, another machine).  Unlike ``clone`` (which
        borrows the source's files and dies with a source-side vacuum),
        a snapshot owns its bytes: the deep-copy cost is the price of the
        portability and vacuum-immunity Qdrant's snapshot tarball has.

        Pinned to the CURRENT version by default (or an explicit
        ``version``) — mutations on the source after the snapshot never
        leak in.  Returns ``dest``."""
        manifest = self._read_manifest(version)
        stats = self._read_file_stats(version)
        os.makedirs(dest, exist_ok=True)
        rel_buckets: dict[str, list[str]] = {}
        rel_stats: dict[str, list[float]] = {}
        n = 0
        for b, files in manifest.items():
            rels = []
            for f in files:
                rel = f"data/f{n:06d}.parquet"
                n += 1
                os.makedirs(os.path.join(dest, "data"), exist_ok=True)
                shutil.copyfile(f, os.path.join(dest, rel))
                rels.append(rel)
                if f in stats:
                    rel_stats[rel] = stats[f]
            rel_buckets[str(b)] = rels
        with open(os.path.join(dest, "snapshot.json"), "w") as f:
            json.dump(
                {
                    "n_buckets": self.n_buckets,
                    "buckets": rel_buckets,
                    "file_stats": rel_stats,
                },
                f,
            )
        return dest

    @classmethod
    def restore(cls, spark: SparkSession, snapshot_dir: str, root: str) -> "VectorStore":
        """Qdrant ``recover_snapshot``: open a snapshot as a fresh
        collection at ``root``.  Data files are copied under the new root
        (the restored store owns its bytes) and the relative manifest is
        re-anchored as version 0."""
        meta_path = os.path.join(snapshot_dir, "snapshot.json")
        if not os.path.exists(meta_path):
            raise ValueError(f"{snapshot_dir!r} is not a snapshot (no snapshot.json)")
        with open(meta_path) as f:
            meta = json.load(f)
        store = cls(spark, root, n_buckets=meta["n_buckets"])
        if store._current_version() >= 0:
            raise ValueError(f"refusing to restore into initialized store {root!r}")
        seg = os.path.join(root, "seg_restored")
        buckets: dict[int, list[str]] = {}
        stats: dict[str, list[float]] = {}
        for b, rels in meta["buckets"].items():
            outs = []
            for rel in rels:
                dst = os.path.join(seg, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(os.path.join(snapshot_dir, rel), dst)
                outs.append(dst)
                if rel in meta.get("file_stats", {}):
                    stats[dst] = meta["file_stats"][rel]
            buckets[int(b)] = outs
        store._publish_manifest(buckets, stats)
        return store

    # -- reads --------------------------------------------------------------

    def read(
        self,
        *,
        user_id: str | None = None,
        user_ids: list[str] | None = None,
        version: int | None = None,
        ts_range: tuple[float, float] | None = None,
        with_index: bool = False,
    ) -> DataFrame:
        """Current snapshot (or a historical one via ``version`` — time
        travel falls out of the manifest log for free, as in Delta; a vacuum
        with ``keep_versions=1`` retires it).  With ``user_id``, the
        manifest resolves the filter to its ONE bucket's files before Spark
        ever plans the scan — stronger than PartitionFilters pruning
        (unlisted files aren't even enumerated) — followed by the exact
        ``user_id`` predicate, which parquet pushes down inside the bucket
        (O1).  With ``ts_range=(lo, hi)``, the manifest's per-file ts
        min/max drops every non-overlapping file the same way (the DATETIME
        payload index, advanced_indexing.py:61-69, as data skipping), then
        the exact BETWEEN predicate pushes into the surviving files.

        ``user_ids`` is the multi-tenant form — Qdrant's custom-sharding
        ``shard_key_selector`` (a list of shard keys routes the request to
        just those shards; the reference's collection derives its sharding
        from user identity the same way this store's buckets do): the
        manifest resolves the key SET to the union of its buckets' files,
        every other bucket never enumerated, then the exact IN predicate
        pushes inside the surviving buckets."""
        if user_id is not None and user_ids is not None:
            raise ValueError("pass user_id or user_ids, not both")
        if user_id is not None:
            user_ids = [user_id]
        manifest = self._read_manifest(version)
        if user_ids is not None:
            if not user_ids:
                raise ValueError("user_ids selector must name at least one key")
            buckets = sorted({_py_bucket(u, self.n_buckets) for u in user_ids})
            files = [f for b in buckets for f in manifest.get(b, [])]
        else:
            files = [f for fs in manifest.values() for f in fs]
        if ts_range is not None:
            lo, hi = ts_range
            stats = self._read_file_stats(version)
            files = [
                f
                for f in files
                if f not in stats or (stats[f][1] >= lo and stats[f][0] <= hi)
            ]
        df = self._read_files(files)
        if user_ids is not None:
            ids = sorted(set(user_ids))
            df = df.filter(
                F.col("user_id") == ids[0]
                if len(ids) == 1
                else F.col("user_id").isin(ids)
            )
        if ts_range is not None:
            df = df.filter(F.col("ts").between(ts_range[0], ts_range[1]))
        sel = ["point_id", "embedding", "user_id", "ts", "metadata"]
        if with_index:
            # expose the at-rest companion index columns (quantized search
            # stage 1 scans ONE of them and leaves ``embedding`` unread —
            # column pruning keeps the others off the scan)
            sel += list(_COMPANION_COLS)
        return df.select(*sel)

    def input_files(
        self, *, user_id: str | None = None, user_ids: list[str] | None = None
    ) -> list[str]:
        """The exact files a read would scan (test/ops introspection)."""
        manifest = self._read_manifest()
        if user_id is not None:
            user_ids = [user_id]
        if user_ids is not None:
            buckets = sorted({_py_bucket(u, self.n_buckets) for u in user_ids})
            return sorted(f for b in buckets for f in manifest.get(b, []))
        return sorted(f for fs in manifest.values() for f in fs)

    def changes(self, since: int, *, to: int | None = None) -> DataFrame:
        """Change-data-feed between two committed versions (Delta CDF's
        reader surface re-derived from the manifest log): one row per
        logical row change with ``change`` in {insert, delete,
        update_preimage, update_postimage}, plus the full row image
        (pre-image for deletes/update_preimage, post-image otherwise).

        FILE-LEVEL pruning does the heavy lifting: a file listed by BOTH
        manifests is byte-identical (segments are immutable — every
        mutation writes new files), so only files REMOVED since ``since``
        are read as the old side and only files ADDED as the new side;
        the untouched bulk of a 100 TB store is never enumerated, let
        alone scanned.  Within the changed files, one full-outer join on
        point_id classifies each id; rows whose content is identical
        (e.g. a compaction or an unrelated same-bucket rewrite moved them
        between files) are dropped — physical churn emits NOTHING.  Map
        payloads aren't directly comparable in Spark, so content equality
        canonicalizes ``metadata`` to sorted entry structs.  The
        classification is a single projection + one generator (updates
        explode to their pre/post pair) — no second scan, no re-join."""
        old_m = self._read_manifest(since)
        new_m = self._read_manifest(to)
        old_files = {f for fs in old_m.values() for f in fs}
        new_files = {f for fs in new_m.values() for f in fs}

        def side(files: set[str], name: str) -> DataFrame:
            img = F.struct(
                "user_id", "ts", "embedding", "metadata"
            ).alias(f"{name}_img")
            cmp = F.struct(
                "user_id",
                "ts",
                "embedding",
                F.array_sort(F.map_entries("metadata")).alias("meta"),
            ).alias(f"{name}_cmp")
            return self._read_files(sorted(files)).select("point_id", img, cmp)

        o = side(old_files - new_files, "o")
        n = side(new_files - old_files, "n")
        joined = o.join(n, "point_id", "full_outer")
        pair = F.when(
            F.col("o_cmp").isNull(),
            F.array(F.struct(F.lit("insert").alias("change"),
                             F.col("n_img").alias("img"))),
        ).when(
            F.col("n_cmp").isNull(),
            F.array(F.struct(F.lit("delete").alias("change"),
                             F.col("o_img").alias("img"))),
        ).when(
            F.col("o_cmp") != F.col("n_cmp"),
            F.array(
                F.struct(F.lit("update_preimage").alias("change"),
                         F.col("o_img").alias("img")),
                F.struct(F.lit("update_postimage").alias("change"),
                         F.col("n_img").alias("img")),
            ),
        ).otherwise(F.array())
        return (
            joined.select("point_id", F.explode(pair).alias("c"))
            .select(
                F.col("c.change").alias("change"),
                "point_id",
                F.col("c.img.user_id").alias("user_id"),
                F.col("c.img.ts").alias("ts"),
                F.col("c.img.embedding").alias("embedding"),
                F.col("c.img.metadata").alias("metadata"),
            )
        )

    # -- S2/S3 add / upsert -------------------------------------------------

    def _defaults(self, batch: DataFrame, *, normalize: bool) -> DataFrame:
        cols = batch.columns
        out = batch
        if "point_id" not in cols:
            out = out.withColumn("point_id", F.expr("uuid()"))
        else:
            out = out.withColumn("point_id", F.coalesce("point_id", F.expr("uuid()")))
        if "ts" not in cols:
            out = out.withColumn("ts", F.unix_timestamp().cast("double"))
        if "metadata" not in cols:
            out = out.withColumn("metadata", F.create_map().cast("map<string,string>"))
        if normalize:
            out = out.withColumn("embedding", F.expr(l2_normalize_sql("embedding")))
        return out.select("point_id", "embedding", "user_id", "ts", "metadata")

    def add_batch(self, batch: DataFrame, *, normalize: bool = True) -> int:
        """S3 (and S2 as the 1-row case): normalize → default ids/timestamps
        → pure append.  Returns number of rows written.

        Mirrors add_vectors_batch (qdrant_client.py:242-309): embeddings are
        L2-normalized at write (:269), ``point_id`` defaults to uuid()
        (:276), ``ts`` to current epoch seconds (:281).  Only the batch's
        own files are written; every pre-existing file is re-linked into the
        new manifest untouched."""
        out = self._with_bucket(self._defaults(batch, normalize=normalize))
        files, stats, n = self._write_segment(out)
        manifest = self._read_manifest()
        for b, fs in files.items():
            manifest[b] = manifest.get(b, []) + fs
        self._publish_manifest(manifest, stats)
        return n

    def upsert(self, updates: DataFrame, *, normalize: bool = True) -> int:
        """MERGE ON point_id: existing rows with matching ids are replaced,
        new ids appended (Qdrant upsert semantics, qdrant_client.py:292-296);
        with Delta on the classpath this is a single ``MERGE INTO``.

        Partition-selective: the locate scan reads only the ``point_id``
        and ``ubucket`` columns (parquet column pruning — not a full-row
        read; an id-keyed merge has no bucket to prune to, since buckets key
        on user_id) to find the buckets holding matched ids; ONLY those
        buckets are rewritten (anti-join survivors), the update rows append
        as their own segment, and every other bucket's files carry over by
        reference.  Rows with NULL point_id get a fresh uuid (via
        ``_defaults``) and therefore append as new points."""
        return self._apply_upsert_group([updates], normalize=normalize)[0]

    # -- payload mutation (Qdrant points API: set_payload / delete_payload /
    #    clear_payload) ----------------------------------------------------

    # IN-predicate ceiling: up to here an id list inlines into the plan
    # (OptimizeIn turns it into one InSet; parquet prunes on it) with
    # request-proportional plan size.  Past it — a caller-supplied bulk
    # list, not the points-API shape — the list goes back to the
    # ``_ids_frame`` + broadcast-join path, which degrades gracefully
    # instead of bloating plan serialization/analysis (ADVICE r18).
    _IN_LIST_MAX = 10_000

    def _id_pred(self, point_ids: list[str]):
        """Request-sized id lists (the Qdrant points-API shape) as a plain
        IN predicate: it prunes at the parquet scan and costs no
        parallelize-and-broadcast job per mutation — the old per-call
        ``createDataFrame`` + ``F.broadcast`` locate/flag joins each paid
        a broadcast-build job (~0.3 s) before any data moved.  The list is
        deduped: a duplicated id must never emit a matched point twice;
        the driver already held it, so plan size is linear in the request
        either way.  Callers guard with ``_IN_LIST_MAX`` before using
        this."""
        return F.col("point_id").isin(sorted({str(i) for i in point_ids}))

    def _ids_frame(self, point_ids: list[str]) -> DataFrame:
        """Deduped id list as a 1-column ``local_frame`` — the
        over-threshold fallback for bulk id sets."""
        return local_frame(
            self.spark,
            [(i,) for i in sorted({str(i) for i in point_ids})],
            "point_id string",
        )

    @staticmethod
    def _without_keys(keys: list[str], meta):
        """The metadata Column ``meta`` (the rewrite group's threaded
        per-row state) minus the given top-level keys.  Built from native
        Column functions (lambda over Columns, literal key array) — no
        SQL-string interpolation, so keys containing quotes or backslashes
        round-trip exactly and caller strings never reach the SQL
        parser."""
        key_arr = F.array(*[F.lit(str(k)) for k in keys])
        return F.map_filter(
            F.coalesce(meta, _empty_meta()),
            lambda k, _v: ~F.array_contains(key_arr, k),
        )

    def set_payload(self, point_ids: list[str], payload: dict) -> int:
        """Qdrant ``set_payload`` (points API ``POST /points/payload``):
        merge ``payload`` into the metadata map of the matched points —
        given keys overwritten, other keys kept (Qdrant merges at the
        top-level key).  Values coerce to string (the store's schemaless
        ``map<string,string>`` payload, the reference's metadata shape,
        qdrant_client.py:209-213).  Bucket-selective rewrite; exact count."""
        return self._apply_rewrite_group([("set_payload", point_ids, payload)])[0]

    def overwrite_payload(self, point_ids: list[str], payload: dict) -> int:
        """Qdrant ``overwrite_payload`` (points API ``PUT /points/payload``):
        REPLACE the matched points' whole metadata map with ``payload`` —
        keys not in the request are dropped (the PUT sibling of
        ``set_payload``'s POST merge)."""
        return self._apply_rewrite_group(
            [("overwrite_payload", point_ids, payload)]
        )[0]

    def delete_payload(self, point_ids: list[str], keys: list[str]) -> int:
        """Qdrant ``delete_payload``: drop the given keys from the matched
        points' metadata; absent keys are a no-op (Qdrant ignores them)."""
        return self._apply_rewrite_group([("delete_payload", point_ids, keys)])[0]

    def clear_payload(self, point_ids: list[str]) -> int:
        """Qdrant ``clear_payload``: empty the matched points' metadata."""
        return self._apply_rewrite_group([("clear_payload", point_ids)])[0]

    # -- vector mutation (Qdrant points API: update_vectors /
    #    delete_vectors) ----------------------------------------------------

    def update_vectors(self, points: DataFrame, *, normalize: bool = True) -> int:
        """Qdrant ``update_vectors`` (points API ``PUT /collections/{c}/
        points/vectors``): overwrite ONLY the vector of the matched points
        — payload, user_id and ts carry through untouched (``upsert``
        replaces the whole point; this is the vector-column analogue of
        ``set_payload``).  ``points`` carries (point_id, embedding); ids
        not in the store are ignored and the returned count reports
        matched points only.  Duplicate ids in the request fail loud —
        unlike payload mutation (where duplicates are idempotent and
        dedupe silently), duplicated vector updates would be
        order-nondeterministic.  Vectors L2-normalize at write by default,
        matching ingest (qdrant_client.py:269).  Bucket-selective rewrite
        located by one pruned scan; exact count."""
        return self._apply_rewrite_group(
            [("update_vectors", points)], normalize=normalize
        )[0]

    def delete_vectors(self, point_ids: list[str], vector_names: list[str]) -> int:
        """Qdrant ``delete_vectors`` (``POST /points/vectors/delete``)
        removes NAMED vectors from points; Qdrant rejects deleting a
        collection's unnamed default vector, and this store's single
        default space mirrors that contract exactly — delete the point
        (``delete_by_id``) or replace the vector (``update_vectors``)
        instead.  Named spaces modeled as columns (the
        ``named_vector_search`` layout) delete by nulling the space's
        column in a view/rewrite."""
        raise ValueError(
            "delete_vectors: the default unnamed vector cannot be deleted "
            f"(requested spaces {vector_names!r}); Qdrant rejects this on "
            "single-unnamed-vector collections too — use delete_by_id or "
            "update_vectors, or model named spaces as columns and null the "
            "space column"
        )

    # ops whose effect on any row is a pure function of (point_id ∈ the
    # op's id set, the row's CURRENT metadata/embedding) — a consecutive
    # run of them composes into ONE bucket rewrite with the per-row state
    # threaded op-by-op, so sequential consistency holds with one commit.
    # An update_vectors op's id set is its batch's point_ids (the new
    # embeddings broadcast-join in); delete_where composes under the
    # immutable-predicate guard (_composable_rewrite_op below).
    _REWRITE_TAGS = frozenset(
        ("delete", "set_payload", "overwrite_payload", "delete_payload",
         "clear_payload", "update_vectors")
    )

    # columns the rewrite family mutates; a delete_where predicate that
    # references neither composes into the group (its matches are then a
    # pure function of immutable row state + upstream liveness).  The
    # word-level scan is conservative: a false hit (the word inside a
    # string literal) merely makes the op a group of its own.
    _MUTABLE_COLS_RE = re.compile(r"(?i)\b(metadata|embedding)\b")

    def _composable_rewrite_op(self, op: tuple) -> bool:
        if op[0] in self._REWRITE_TAGS:
            return True
        return op[0] == "delete_where" and not self._MUTABLE_COLS_RE.search(
            op[1]
        )

    def apply_batch(self, ops: list[tuple]) -> list[int]:
        """Qdrant's points batch-update API (``batch_update_points`` /
        ``POST /collections/{c}/points/batch``): an ORDERED sequence of
        write operations applied with Qdrant's sequential-consistency
        guarantee — op N observes every effect of ops < N.  Each element
        is a tuple tagged by operation::

            ("upsert",            DataFrame)            MERGE ON point_id
            ("delete",            [point_id, ...])      delete by id
            ("delete_where",      "SQL predicate")      predicate delete
            ("set_payload",       [ids], {payload})     merge payload keys
            ("overwrite_payload", [ids], {payload})     replace payload
            ("delete_payload",    [ids], [keys])        drop payload keys
            ("clear_payload",     [ids])                empty payload
            ("update_vectors",    DataFrame)            overwrite vectors only

        Returns the per-op affected counts, positionally.  Unknown tags
        fail before ANY op runs — a malformed batch must not half-apply.

        The ops commit in GROUPS, one manifest version per group, through
        the same two functions every single-op method calls with a group
        of one:

        - a consecutive run of id-keyed rewrite ops (every tag but
          ``upsert``; ``delete_where`` only when its predicate references
          the immutable columns point_id / user_id / ts alone) is one
          ``_apply_rewrite_group``;
        - a ``delete_where`` whose predicate names ``metadata`` or
          ``embedding`` must observe the preceding ops' writes, so it is
          a group of its own (also on a conservative token false hit);
        - a consecutive run of upserts is one ``_apply_upsert_group``.

        Per-op counts are exact and sequential semantics hold inside each
        group; the only observable difference from one commit per op is
        that time travel lands on group boundaries.  At 100 TB a group
        reads and rewrites each touched bucket once instead of once per
        op — commit cost per group, data cost still pruned-bucket-only."""
        valid = self._REWRITE_TAGS | {"upsert", "delete_where"}
        bad = [op[0] for op in ops if op[0] not in valid]
        if bad:
            raise ValueError(
                f"apply_batch: unknown operation tags {bad}; "
                f"valid: {sorted(valid)}"
            )
        results: list[int] = []
        i = 0
        while i < len(ops):
            j = i + 1
            if ops[i][0] == "upsert":
                while j < len(ops) and ops[j][0] == "upsert":
                    j += 1
                results.extend(self._apply_upsert_group([op[1] for op in ops[i:j]]))
            else:
                if self._composable_rewrite_op(ops[i]):
                    while j < len(ops) and self._composable_rewrite_op(ops[j]):
                        j += 1
                results.extend(self._apply_rewrite_group(ops[i:j]))
            i = j
        return results

    @staticmethod
    def _op_flag(k: int, op: tuple, flag_cols: dict):
        """Op ``k``'s raw match flag over a row (NULL = no match): a
        ``delete_where``'s predicate, a request-sized id list's in-row IN
        predicate (``flag_cols``), else the ``__f{k}`` column of the flag
        join."""
        if op[0] == "delete_where":
            return F.expr(op[1]).cast("boolean")
        return flag_cols.get(k, F.col(f"__f{k}"))

    def _rewrite_group_state(self, ops: list[tuple], flag_cols: dict):
        """Thread the composed per-row state of a rewrite group, as
        Columns over rows already joined against the flag frame (the
        per-op ``__f{k}`` match flags and, for ``update_vectors`` ops, the
        ``__e{k}`` new embeddings): returns (matched_k Columns, final
        liveness, final metadata, final embedding).  Unmatched rows carry
        their metadata and embedding through byte-identical (NULL stays
        NULL).  A ``delete_where`` reads the row's stored columns:
        ``apply_batch`` lets it follow other ops only when it names no
        mutable column, so the stored values are the current ones; NULL
        keeps the row."""
        alive = F.lit(True)
        meta = F.col("metadata")
        emb = F.col("embedding")
        matched = []
        for k, op in enumerate(ops):
            tag = op[0]
            m = alive & F.coalesce(self._op_flag(k, op, flag_cols), F.lit(False))
            matched.append(m)
            if tag in ("delete", "delete_where"):
                alive = alive & ~m
            elif tag == "update_vectors":
                # a NULL request vector leaves the stored one in place
                emb = F.when(m, F.coalesce(F.col(f"__e{k}"), emb)).otherwise(emb)
            elif tag == "set_payload":
                meta = F.when(
                    m,
                    F.map_concat(
                        self._without_keys(list(op[2]), meta), _payload_map(op[2])
                    ),
                ).otherwise(meta)
            elif tag == "overwrite_payload":
                meta = F.when(m, _payload_map(op[2])).otherwise(meta)
            elif tag == "delete_payload":
                meta = F.when(m, self._without_keys(op[2], meta)).otherwise(meta)
            elif tag == "clear_payload":
                meta = F.when(m, _empty_meta()).otherwise(meta)
            else:  # pragma: no cover — guarded by apply_batch
                raise AssertionError(tag)
        return matched, alive, meta, emb

    def _apply_rewrite_group(
        self, ops: list[tuple], *, normalize: bool = True
    ) -> list[int]:
        """The one implementation of every id-keyed and predicate write: a
        group of rewrite ops (``apply_batch``'s tags but ``upsert``) as
        ONE locate scan + ONE bucket rewrite + ONE manifest commit, with
        exact per-op counts.  Each single-op method is the group of one.

        Every op is validated up front (the group must not half-apply).
        Match flags come from the driver-held id lists: a request-sized
        list is an in-row IN predicate, a bulk one (over
        ``_IN_LIST_MAX``) joins in as a deduped probe frame.  An
        ``update_vectors`` op's ids come from its batch, whose new
        embeddings (L2-normalized when ``normalize``) stay distributed
        and join in by broadcast; a ``delete_where`` contributes its
        predicate, evaluated in-row.  The locate scan first keeps only
        rows that some op's raw flag selects, so an IN list or predicate
        reaches the parquet scan as a pushed filter.  Liveness, metadata
        and embedding thread per row in op order, so overlapping id sets
        reproduce sequential semantics exactly."""
        for op in ops:
            if (
                op[0] in ("set_payload", "overwrite_payload", "delete_payload")
                and not op[2]
            ):
                raise ValueError(f"{op[0]} requires at least one key")
        flag_cols: dict[int, "F.Column"] = {}
        probes = []
        for k, op in enumerate(ops):
            if op[0] == "delete_where":
                continue  # predicate flag, no id probe
            if op[0] == "update_vectors":
                probe = op[1].select(
                    F.col("point_id").cast("string").alias("point_id"),
                    F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                        f"__e{k}"
                    ),
                )
                if normalize:
                    probe = probe.withColumn(
                        f"__e{k}", F.expr(l2_normalize_sql(f"__e{k}"))
                    )
            elif len(op[1]) <= self._IN_LIST_MAX:
                # driver-held id list: an in-row IN predicate, no probe
                # frame, no flag join (the _id_pred discipline)
                flag_cols[k] = self._id_pred(op[1])
                continue
            else:  # bulk list: join-probe flag (ADVICE r18 threshold)
                probe = self._ids_frame(op[1])
            probes.append(
                probe.withColumns({f"__f{k}": F.lit(True), "__op_k": F.lit(k)})
            )
        flags = None
        if probes:
            union = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), probes
            )
            # bulk id frames are deduped, so one action checks every
            # update_vectors batch for duplicate ids
            if any(op[0] == "update_vectors" for op in ops) and (
                union.groupBy("point_id", "__op_k")
                .count()
                .filter("count > 1")
                .limit(1)
                .count()
            ):
                raise ValueError("update_vectors: duplicate point_id in request")
            union = union.drop("__op_k")
            # one deduped probe is its own flag frame; several fold into
            # one row per point_id by a request-sized aggregate (r14
            # ADVICE) — driver payload is linear in Σ|ids|, not |union| x
            # n_ops — persisted because the locate scan and the rewrite
            # both join it.  update_vectors batches are never collected
            # into Python: their new embeddings ride the flag frame.
            flags = (
                probes[0].drop("__op_k")
                if len(probes) == 1
                else union.groupBy("point_id")
                .agg(
                    *[
                        (F.max(c) if c.startswith("__f") else F.first(c, True))
                        .alias(c)
                        for c in union.columns
                        if c != "point_id"
                    ]
                )
                .persist()
            )

        def _flagged(df: DataFrame) -> DataFrame:
            # predicate/IN-only groups have no probe: no flag join
            if flags is None:
                return df
            return df.join(F.broadcast(flags), "point_id", "left")

        matched, alive, meta, emb = self._rewrite_group_state(ops, flag_cols)
        try:
            manifest = self._read_manifest()
            joined = _flagged(
                self._read_files([f for fs in manifest.values() for f in fs])
            )
            # a row no op's raw flag selects matches no op, and a row one
            # selects matches at least its first selecting op (nothing
            # before it deleted the row), so every bucket left after
            # filtering on the flags' OR is touched; the filter also
            # pushes IN lists and predicates to the scan
            selected = reduce(
                lambda a, b: a | b,
                [self._op_flag(k, op, flag_cols) for k, op in enumerate(ops)],
            )
            sums = [F.sum(m.cast("int")).alias(f"n{k}") for k, m in enumerate(matched)]
            per_bucket = joined.filter(selected).groupBy("ubucket").agg(*sums).collect()
            counts = [sum(r[f"n{k}"] for r in per_bucket) for k in range(len(ops))]
            touched = [r["ubucket"] for r in per_bucket]
            if touched:
                scan = self._read_files(
                    [f for b in touched for f in manifest.get(b, [])]
                )
                survivors = (
                    _flagged(scan)
                    .filter(alive)
                    .withColumn("metadata", meta)
                    .withColumn("embedding", emb)
                    .select(
                        "point_id", "embedding", "user_id", "ts", "metadata",
                        "ubucket",
                    )
                )
                rewritten, stats, _ = self._write_segment(
                    survivors, _num_input_partitions(scan)
                )
                for b in touched:
                    manifest[b] = rewritten.get(b, [])
                self._publish_manifest(manifest, stats)
        finally:
            if flags is not None:
                flags.unpersist()
        return counts

    def _apply_upsert_group(
        self, batches: list[DataFrame], *, normalize: bool = True
    ) -> list[int]:
        """The one implementation of upsert: a run of upsert batches as
        one locate + bucket rewrite + append + commit (``upsert`` is the
        run of one).  Batches whose EXPLICIT point_ids overlap ACROSS
        batches cannot merge — the later must replace the earlier's row —
        so one distributed overlap probe gates a run of two or more, and
        an overlapping run commits batch by batch.  Disjoint upserts
        commute, so the merged final state equals the sequential one;
        NULL / absent ids take fresh uuids and never overlap.  Per-op
        counts are each batch's written rows: a run of one takes its
        count from the append's footers, a longer run from one count job
        over the tagged union."""
        explicit = [
            b.select(F.col("point_id").cast("string").alias("point_id")).filter(
                F.col("point_id").isNotNull()
            )
            for b in batches
            if "point_id" in b.columns
        ]
        if len(explicit) >= 2:
            probe = reduce(
                DataFrame.unionByName,
                [e.withColumn("__op_k", F.lit(k)) for k, e in enumerate(explicit)],
            )
            overlapping = (
                probe.groupBy("point_id")
                .agg(F.countDistinct("__op_k").alias("d"))
                .filter(F.col("d") > 1)
                .limit(1)
                .count()
            )
            if overlapping:
                return [self.upsert(b, normalize=normalize) for b in batches]
        combined = reduce(
            DataFrame.unionByName,
            [
                self._with_bucket(self._defaults(b, normalize=normalize)).withColumn(
                    "__op_k", F.lit(k)
                )
                for k, b in enumerate(batches)
            ],
        )
        appended_rows = combined.drop("__op_k")
        manifest = self._read_manifest()
        current = self._read_files([f for fs in manifest.values() for f in fs])
        ids = combined.select("point_id")
        touched = [
            r["ubucket"]
            for r in current.join(F.broadcast(ids), "point_id", "left_semi")
            .select("ubucket")
            .distinct()
            .collect()
        ]
        new_stats: dict[str, list[float]] = {}
        if touched:
            scan = self._read_files([f for b in touched for f in manifest.get(b, [])])
            survivors = scan.join(F.broadcast(ids), "point_id", "left_anti")
            # the survivor rewrite and the append are independent jobs
            # into separate segment dirs — overlap them (guide §2.6); the
            # manifest merges both results afterwards
            (rewritten, r_stats, _), (appended, a_stats, n) = (
                self._write_segments_overlapped(
                    [survivors, appended_rows], [_num_input_partitions(scan), None]
                )
            )
            new_stats.update(r_stats)
            for b in touched:
                manifest[b] = rewritten.get(b, [])
        else:
            appended, a_stats, n = self._write_segment(appended_rows)
        if len(batches) == 1:
            counts = [n]
        else:
            per_op = {
                r["__op_k"]: r["n"]
                for r in combined.groupBy("__op_k")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            counts = [per_op.get(k, 0) for k in range(len(batches))]
        new_stats.update(a_stats)
        for b, fs in appended.items():
            manifest[b] = manifest.get(b, []) + fs
        self._publish_manifest(manifest, new_stats)
        return counts

    # -- S6/S7 deletes ------------------------------------------------------

    def delete_by_id(self, point_ids: list[str]) -> int:
        """S6 (qdrant_client.py:407-432).  One pruned scan yields both the
        exact deleted count AND the touched buckets; only those buckets
        are rewritten."""
        return self._apply_rewrite_group([("delete", point_ids)])[0]

    def delete_where(self, predicate: str) -> int:
        """S7 delete-by-predicate (qdrant_client.py:434-469) with an EXACT
        count — the reference returns an approximation derived from the
        operation id (:461).  ``predicate`` is a SQL boolean expression;
        rows where it evaluates NULL are KEPT (three-valued logic: only a
        TRUE match deletes, mirroring Qdrant's must-filter semantics — the
        survivor filter coalesces NULL to keep, so the count and the
        rewrite agree).  The locate scan counts matches per bucket reading
        only the predicate's columns + ``ubucket`` (parquet column
        pruning); only matching buckets are rewritten."""
        return self._apply_rewrite_group([("delete_where", predicate)])[0]

    def delete_user(self, user_id: str) -> int:
        """The reference's exact S7 shape — ``delete_user_vectors(user_id)``
        (qdrant_client.py:434-469) — with the O1 layout fully exploited:
        the user's bucket is computed DRIVER-SIDE (same crc32 the manifest
        uses), so both the locate scan and the rewrite touch exactly one
        bucket's files.  A one-user delete on a 100 TB store reads and
        rewrites 1/n_buckets of it, nothing else."""
        manifest = self._read_manifest()
        b = _py_bucket(user_id, self.n_buckets)
        bucket = self._read_files(manifest.get(b, []))
        n = bucket.filter(F.col("user_id") == user_id).count()
        if n:
            rewritten, stats, _ = self._write_segment(
                bucket.filter(F.col("user_id") != user_id)
            )
            manifest[b] = rewritten.get(b, [])
            self._publish_manifest(manifest, stats)
        return n

    # -- O7 optimizer: segment merge ----------------------------------------

    def compact(self, *, max_files_per_bucket: int = 4) -> int:
        """Merge over-fragmented buckets' files into one segment file per
        bucket — the batch form of Qdrant's background segment optimizer
        (qdrant_client.py:117-125: ``OptimizersConfigDiff`` with
        ``max_segment_size`` = settings.py:36 ``segment_size_mb``; segments
        are merged until each is near the target size).  Pure physical
        re-layout: the published version serves byte-identical rows.  Only
        buckets whose file count exceeds ``max_files_per_bucket`` are
        rewritten; all others carry over by reference.  At scale this is the
        maintenance job that keeps read amplification flat as small
        mutations accumulate.  Returns the number of buckets compacted."""
        manifest = self._read_manifest()
        frag = [b for b, fs in manifest.items() if len(fs) > max_files_per_bucket]
        if not frag:
            return 0
        merged, stats, _ = self._write_segment(
            self._read_files([f for b in frag for f in manifest[b]])
        )
        for b in frag:
            manifest[b] = merged.get(b, [])
        self._publish_manifest(manifest, stats)
        return len(frag)

    # -- O7 vacuum ----------------------------------------------------------

    def vacuum(self, *, keep_versions: int = 1) -> int:
        """Drop segment files unreferenced by the last ``keep_versions``
        manifests (O7: Qdrant's deleted_threshold/vacuum,
        qdrant_client.py:117-127).  Returns files removed.

        Only THIS store's manifests are consulted: vacuuming retires time
        travel past ``keep_versions`` and — as in Delta — invalidates any
        shallow ``clone()`` still referencing the removed files (see
        ``clone`` docstring)."""
        latest = self._current_version()
        keep: set[str] = set()
        for v in range(max(0, latest - keep_versions + 1), latest + 1):
            for fs in self._read_manifest(v).values():
                keep.update(fs)
        removed = 0
        for seg in _glob.glob(os.path.join(self.root, "seg_*")):
            for f in _glob.glob(os.path.join(seg, "ubucket_p=*", "*.parquet")):
                if f not in keep:
                    os.remove(f)
                    removed += 1
            if not _glob.glob(os.path.join(seg, "ubucket_p=*", "*.parquet")):
                shutil.rmtree(seg, ignore_errors=True)
        return removed

    # -- Q1 search over the store -------------------------------------------

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        *,
        score_threshold: float | None = None,
        user_filter: str | None = None,
        shard_selector: list[str] | None = None,
        quantization: str | None = None,
        oversample: int = 3,
    ) -> DataFrame:
        """The reference's ``POST /vectors/search`` end-to-end over the
        store (qdrant_client.py:311-405): ``read`` the current snapshot,
        then ``search_corpus`` over it.  ``queries``: (q_id, q_emb).

        ``user_filter`` resolves to one bucket's files by the manifest
        (O1).  ``shard_selector`` is Qdrant's multitenant
        ``shard_key_selector``: the search fans out to ONLY the named
        tenants' shards (here: the manifest buckets their keys hash to —
        other buckets' files never reach the scan), the 100 TB posture
        where a tenant query costs the tenant's data, not the corpus.
        ``quantization``, ``oversample`` and ``score_threshold`` are
        ``search_corpus``'s."""
        if user_filter is not None and shard_selector is not None:
            raise ValueError("pass user_filter or shard_selector, not both")
        corpus = self.read(
            user_id=user_filter,
            user_ids=shard_selector,
            with_index=quantization is not None,
        )
        return search_corpus(
            corpus,
            queries,
            k,
            score_threshold=score_threshold,
            quantization=quantization,
            oversample=oversample,
        )

    # -- A1/A3 stats --------------------------------------------------------

    def count(self) -> int:
        """A1 (qdrant_client.py:471-482)."""
        return self.read().count()

    def stats(self) -> dict:
        """A3 operational stats analogue (qdrant_client.py:484-520): counts
        and norm health from the data itself rather than client-side
        accumulators (the ops-log/streaming form lives in streaming.stats)."""
        from ..functions.vector import norm_sql

        row = (
            self.read()
            .agg(
                F.count("*").alias("total_vectors"),
                F.countDistinct("user_id").alias("distinct_users"),
                F.round(F.avg(F.expr(norm_sql("embedding"))), 6).alias("avg_norm"),
            )
            .collect()[0]
        )
        return {
            "total_vectors": row["total_vectors"],
            "distinct_users": row["distinct_users"],
            "avg_norm": row["avg_norm"],
            "version": self._current_version(),
        }


class AliasRegistry:
    """Qdrant collection aliases (``update_collection_aliases`` /
    ``get_collection_aliases``): stable names that resolve to collections
    at request time, with the whole alias-op list applied ATOMICALLY —
    the public blue/green pattern (reindex into a fresh collection, then
    swap the serving alias in one step, readers never see a gap).

    The registry is one JSON file updated via write-temp + ``os.replace``
    (the manifest pointer's atomicity discipline): readers see either the
    old alias table or the new one, never a partial application.  Ops
    validate against the CURRENT table before anything is written — a bad
    op list changes nothing (the ``apply_batch`` fail-before-any-op
    discipline).

    The alias maps to a store ROOT (collection identity), not a manifest
    version — reads through an alias always see the target collection's
    current version, matching Qdrant (aliases name collections; snapshots
    handle point-in-time).

    Versioned log (r17): every committed batch ALSO writes an immutable
    ``alias_log_<v>.json`` snapshot of the post-batch table — the same
    manifest-log discipline as ``VectorStore``, which makes the alias
    control plane time-travelable (``alias_table(v)``), diffable
    (``alias_changes``), and TAILABLE as a stream
    (`streaming.aliasfeed.alias_feed_stream`): the log IS the
    changefeed.  ``aliases.json`` stays the mutable current-table
    pointer for lock-free readers."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self) -> str:
        return os.path.join(self.root, "aliases.json")

    def _log_path(self, version: int) -> str:
        return os.path.join(self.root, f"alias_log_{version}.json")

    def aliases(self) -> dict[str, str]:
        """Current alias → collection-root table (``get_collection_aliases``)."""
        if not os.path.exists(self._path()):
            return {}
        with open(self._path()) as f:
            return json.load(f)

    def current_version(self) -> int:
        """Latest committed alias-log version (0 = nothing committed)."""
        import re

        pat = re.compile(r"alias_log_(\d+)\.json$")
        versions = [
            int(m.group(1))
            for f in os.listdir(self.root)
            if (m := pat.match(f))
        ]
        return max(versions, default=0)

    def alias_table(self, version: int) -> dict[str, str]:
        """The alias table AS OF a committed log version (0 = empty)."""
        if version == 0:
            return {}
        path = self._log_path(version)
        if not os.path.exists(path):
            raise ValueError(f"alias_table: no such version {version}")
        with open(path) as f:
            return json.load(f)

    def alias_diff(self, v_from: int, v_to: int) -> list[tuple]:
        """Logical change rows between two committed versions, one version
        at a time: [(version, change, alias, target), ...] with change in
        {'set', 'unset'} — a re-point emits unset(old) + set(new), a
        rename unset(old alias) + set(new alias), and a no-op batch (e.g.
        re-pointing an alias at its current target) emits NOTHING for its
        version, the alias plane's compaction-silence contract."""
        rows: list[tuple] = []
        prev = self.alias_table(v_from)
        for v in range(v_from + 1, v_to + 1):
            cur = self.alias_table(v)
            for alias in sorted(set(prev) | set(cur)):
                old, new = prev.get(alias), cur.get(alias)
                if old == new:
                    continue
                if old is not None:
                    rows.append((v, "unset", alias, old))
                if new is not None:
                    rows.append((v, "set", alias, new))
            prev = cur
        return rows

    ALIAS_CHANGE_SCHEMA = (
        "version int, change string, alias string, target string"
    )

    def alias_changes(self, since: int, to: int | None = None) -> DataFrame:
        """``alias_diff`` as a DataFrame — the batch changefeed over the
        alias control plane (`VectorStore.changes`' tiny sibling; the
        alias table is bounded driver state by construction, so the diff
        is a driver JSON walk, not a Spark job)."""
        to = self.current_version() if to is None else to
        return local_frame(
            self.spark, self.alias_diff(since, to), self.ALIAS_CHANGE_SCHEMA
        )

    def update_aliases(self, ops: list[tuple]) -> dict[str, str]:
        """Apply ``[(op, ...), ...]`` atomically and return the new table.

        Ops (Qdrant's three public alias operations):
        - ``("create", alias, store_root)`` — point ``alias`` at a
          collection; re-pointing an EXISTING alias is allowed (that IS
          the swap — Qdrant's create_alias upserts).
        - ``("delete", alias)`` — alias must exist.
        - ``("rename", old, new)`` — old must exist; new must not
          (collides with neither a surviving alias nor one created
          earlier in this batch); ops see the effect of earlier ops in
          the same batch (sequential application, like apply_batch).

        Readers stay lock-free (write-temp + os.replace is atomic for
        them); WRITERS serialize on an fcntl lock so two concurrent
        read-modify-replace batches can't silently drop each other's ops.
        """
        import fcntl

        with open(os.path.join(self.root, "aliases.lock"), "a") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            try:
                return self._apply_ops(ops)
            finally:
                fcntl.flock(lockf, fcntl.LOCK_UN)

    def _apply_ops(self, ops: list[tuple]) -> dict[str, str]:
        table = dict(self.aliases())
        for op in ops:
            if not op or op[0] not in ("create", "delete", "rename"):
                raise ValueError(f"unknown alias op: {op!r}")
            kind = op[0]
            if kind == "create":
                _, alias, store_root = op
                if not os.path.exists(os.path.join(store_root, "_LATEST")):
                    raise ValueError(
                        f"create {alias!r}: {store_root!r} is not a store root"
                    )
                table[str(alias)] = str(store_root)
            elif kind == "delete":
                _, alias = op
                if alias not in table:
                    raise ValueError(f"delete {alias!r}: no such alias")
                del table[alias]
            else:
                _, old, new = op
                if old not in table:
                    raise ValueError(f"rename {old!r}: no such alias")
                if new in table:
                    raise ValueError(f"rename to {new!r}: alias exists")
                table[str(new)] = table.pop(old)
        # commit: the immutable log version first (the changefeed's source
        # of truth — written via temp + replace so a tailing file source
        # never sees a partial JSON), then the mutable current pointer
        version = self.current_version() + 1
        ltmp = self._log_path(version) + f".tmp_{uuid.uuid4().hex[:8]}"
        with open(ltmp, "w") as f:
            json.dump(table, f)
        os.replace(ltmp, self._log_path(version))
        tmp = self._path() + f".tmp_{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(table, f)
        os.replace(tmp, self._path())  # atomic on POSIX
        return table

    def resolve(self, alias: str) -> "VectorStore":
        """Open the collection an alias currently names."""
        table = self.aliases()
        if alias not in table:
            raise KeyError(f"no such alias: {alias!r}")
        return VectorStore(self.spark, table[alias])
