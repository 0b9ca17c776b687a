"""Near-duplicate detection suite (north-star LLM-pipeline operators).

Six detectors over `documents`/`embeddings`, all deterministic and
oracle-checked (no engine-private hash functions — the shingle hash is the
first 8 hex chars of md5, identical in Spark (`conv(substring(md5(s),1,8),
16,10)`) and DuckDB (`('0x' || substring(md5(s),1,8))::BIGINT`):

- exact dedup            content/prefix fingerprint group-by
- n-gram Jaccard         3-token shingles, exhaustive same-lang pairs
- MinHash + LSH          16 hashes, 8 bands × 2 rows, verified candidates
- SimHash                64-bit frequency-weighted, Hamming ≤ 3 pairs
                         (4×16-bit Manku banding — 2¹⁶ buckets per band)
- embedding cosine       exhaustive pair scan ≥ 0.4 (the recall oracle)
- embedding LSH          8-table sign-LSH candidates + exact verify (scale path)

Scale posture: the exhaustive pair scans are the *verification oracles*;
the 100 TB path is MinHash-LSH banding (shuffle = explode by band key,
candidates ∝ collisions, never N²) and the sign-LSH/IVF bucketing in
`operators.ann` for embeddings.  tests/test_dedup.py measures LSH recall
against the exhaustive detector, mirroring how the reference reports
Recall@10 vs ground truth (PERFORMANCE_OPTIMIZATION_GUIDE.md:88).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.vector import cosine_sql
from .sources.catalog import load_table
from .streaming._tmpdirs import tracked_mkdtemp

P = 2147483647  # 2^31-1; keeps a*h+b inside signed 64-bit on both engines
N_HASHES = 16
N_BANDS = 8  # × 2 rows — high recall at jaccard ≥ 0.5, verify step prunes
JACCARD_T = 0.2
# Posting-list frequency cap (VERDICT r1 item 7): a shingle present in more
# than DF_CAP documents contributes |posting|² candidate pairs to the
# inverted-index join while carrying no near-dup signal (it is a stop-
# shingle).  Jaccard is therefore defined over the CAPPED shingle sets —
# identically in the Spark plan and the DuckDB oracle — which bounds any
# single shingle's join fan-out at DF_CAP² regardless of corpus size.
# Fixture max df is 5 (sf0.01) / 14 (sf0.1), so the cap is inert on real
# data; tests/test_dedup.py shows it bounding an adversarial stop-shingle.
DF_CAP = 64
SIMHASH_BITS = 64
HAMMING_T = 3  # Manku WWW'07 operating point: k=3 over 64 bits, 4 bands
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 16
COSINE_T = 0.4

_rng = random.Random(42)
MINHASH_AB = [(_rng.randrange(1, P), _rng.randrange(0, P)) for _ in range(N_HASHES)]

# -- shared expression text (Spark SQL | DuckDB SQL) -------------------------
# Defined in the leaf module functions.textconst (r15 hoist — breaks the
# workload_pipeline -> workload_dedup circular import); re-exported here
# so registry call sites and tests keep their historical import path.

from .functions.textconst import (  # noqa: E402
    DUCK_SHINGLES,
    DUCK_TOKENS,
    SPARK_SHINGLES,
    SPARK_TOKENS,
)

# The registry-root import sits BELOW this module's constants (r15): the
# root's tail imports workload_graph, which reads DF_CAP/JACCARD_T from
# this module at import time — when THIS module is the user's first
# import, everything above this line is already bound, so the cycle
# resolves (tests/test_imports.py pins every first-import order).
from .workload import PREPARE, register, track_scratch  # noqa: E402


def spark_hash(s: str) -> str:
    return f"(CAST(conv(substring(md5({s}), 1, 8), 16, 10) AS BIGINT) % {P})"


def duck_hash(s: str) -> str:
    return f"(('0x' || substring(md5({s}), 1, 8))::BIGINT % {P})"


def _minhash_exprs(hash_fn) -> list[str]:
    """One array_min/list_min expression per hash function over column `sh`."""
    out = []
    for a, b in MINHASH_AB:
        inner = f"({a} * {hash_fn('s')} + {b}) % {P}"
        out.append(inner)
    return out


SPARK_MINHASHES = [
    f"array_min(transform(sh, s -> {e}))" for e in _minhash_exprs(spark_hash)
]
DUCK_MINHASHES = [
    f"list_min([{e} FOR s IN sh])" for e in _minhash_exprs(duck_hash)
]

_JACCARD_SPARK = (
    "round(CAST(size(array_intersect(sh1, sh2)) AS DOUBLE) / "
    "size(array_distinct(concat(sh1, sh2))), 6)"
)
_JACCARD_DUCK = (
    "round(CAST(len(list_intersect(sh1, sh2)) AS DOUBLE) / "
    "len(list_distinct(list_concat(sh1, sh2))), 6)"
)


# ---------------------------------------------------------------------------
# 1. exact dedup — fingerprint group-by (hash-groupBy; one shuffle on the
#    16-byte digest regardless of document size)
# ---------------------------------------------------------------------------

@register(
    "exact_dedup_groups",
    """
WITH f AS (
  SELECT doc_id,
         md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS fp
  FROM documents
)
SELECT fp, CAST(count(*) AS BIGINT) AS group_size, CAST(min(doc_id) AS BIGINT) AS canonical_doc
FROM f GROUP BY fp HAVING count(*) > 1
""",
)
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a 3-token-prefix fingerprint: every group keeps its
    lowest doc_id as canonical.  (Full-content md5 finds zero dups in this
    corpus — `doc_fingerprints` covers it; the prefix variant exercises the
    collision path.)"""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        F.expr("md5(concat_ws(' ', slice(split(text, ' '), 1, 3)))").alias("fp"),
    )
    return (
        f.groupBy("fp")
        .agg(
            F.count("*").cast("bigint").alias("group_size"),
            F.min("doc_id").cast("bigint").alias("canonical_doc"),
        )
        .filter(F.col("group_size") > 1)
    )


# ---------------------------------------------------------------------------
# 2. n-gram Jaccard — exhaustive same-lang pair scan (the oracle detector)
# ---------------------------------------------------------------------------

def capped_shingle_index(docs: DataFrame, *, df_cap: int = DF_CAP) -> DataFrame:
    """Inverted shingle index (doc_id, lang, shingle) with stop-shingles
    removed: any shingle whose document frequency within its language
    exceeds ``df_cap`` is dropped.  The stop-set is computed by a map-side-
    combined group-by (rows shrink to distinct shingles before the shuffle)
    and is SMALL by construction — it is the list of stop-shingles, bounded
    by vocabulary, not corpus — so the anti-join broadcasts it; cheaper than
    a df window, which would sort the full index inside each partition."""
    s = docs.select("doc_id", "lang", F.expr(SPARK_TOKENS).alias("toks")).select(
        "doc_id", "lang", F.expr(SPARK_SHINGLES).alias("sh")
    )
    inv = s.select("doc_id", "lang", F.explode("sh").alias("shingle"))
    frequent = (
        inv.groupBy("lang", "shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("lang", "shingle")
    )
    return inv.join(F.broadcast(frequent), ["lang", "shingle"], "left_anti")


_shingle_idx_cache: dict[str, str] = {}


def staged_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped inverted shingle index persisted once per corpus — index
    state, like the PQ code column: a production dedup pipeline writes the
    inverted index at ingest and every detector reads it, rather than
    re-tokenizing the corpus per query.  Built lazily on first use; bench
    warmup stages it out-of-band (PREPARE)."""
    if sf_dir not in _shingle_idx_cache:
        out = tracked_mkdtemp("shingle_idx_")
        docs = load_table(spark, sf_dir, "documents")
        capped_shingle_index(docs).write.mode("overwrite").parquet(out)
        _shingle_idx_cache[sf_dir] = out
    return spark.read.parquet(_shingle_idx_cache[sf_dir])


def _prepare_shingle_index(spark: SparkSession, sf_dir: str) -> None:
    staged_shingle_index(spark, sf_dir)


PREPARE.append(_prepare_shingle_index)


def jaccard_pairs(
    docs: DataFrame, *, df_cap: int = DF_CAP, index: DataFrame | None = None
) -> DataFrame:
    """Capped-Jaccard pair detector over an arbitrary documents frame
    (exposed for the adversarial stop-shingle test).  ``index`` lets callers
    supply the staged inverted index; the parquet re-read per branch is
    cheaper than recomputing tokenize→explode→stop-set."""
    if index is not None:
        kept = index
    else:
        kept = track_scratch(capped_shingle_index(docs, df_cap=df_cap).persist())
        kept.count()  # materialize before the multi-branch reuse below
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = kept.select(F.col("doc_id").alias("doc1"), "lang", "shingle")
    b = kept.select(F.col("doc_id").alias("doc2"), "lang", "shingle")
    co = (
        a.join(b, ["lang", "shingle"])
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("inter"))
    )
    n1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    # sizes grows with the corpus — no forced broadcast, AQE decides
    return (
        co.join(n1, "doc1")
        .join(n2, "doc2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc1", "doc2", "jaccard")
    )


@register(
    "ngram_jaccard_dups",
    f"""
WITH t AS (SELECT doc_id, lang, {DUCK_TOKENS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {DUCK_SHINGLES} AS sh FROM t),
ex AS (SELECT doc_id, lang, unnest(sh) AS shingle FROM s),
kept AS (
  SELECT doc_id, lang, shingle FROM (
    SELECT *, count(*) OVER (PARTITION BY lang, shingle) AS df FROM ex
  ) WHERE df <= {DF_CAP}
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
  FROM kept a JOIN kept b ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2,
       round(CAST(inter AS DOUBLE) / (n1.n + n2.n - inter), 6) AS jaccard
FROM co JOIN sizes n1 ON n1.doc_id = co.doc1 JOIN sizes n2 ON n2.doc_id = co.doc2
WHERE round(CAST(inter AS DOUBLE) / (n1.n + n2.n - inter), 6) >= {JACCARD_T}
""",
)
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-token-shingle Jaccard over same-language pairs, via a frequency-
    capped inverted shingle index: explode distinct shingles, drop
    stop-shingles (df > DF_CAP — no near-dup signal, |posting|² join
    blow-up), equi-join on (lang, shingle) to count co-occurrences, then
    |A∪B| = |A|+|B|−|A∩B| over the capped sets.

    Plan rationale: the naive form is an N² theta-join intersecting shingle
    arrays per pair; this form's only shuffle is the equi-join on shingle —
    pairs materialize ONLY where a shingle co-occurs, and the cap bounds any
    single shingle's fan-out at DF_CAP², so work scales with true overlap
    at every corpus size.  The oracle applies the identical cap."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, index=staged_shingle_index(spark, sf_dir))


# ---------------------------------------------------------------------------
# 3. MinHash + LSH — the scale path: signature → band keys → bucket join
# ---------------------------------------------------------------------------

def _duck_minhash_sql() -> str:
    mh_list = ", ".join(DUCK_MINHASHES)
    band_keys = ", ".join(
        f"concat(m[{2*i+1}], ',', m[{2*i+2}])" for i in range(N_BANDS)
    )
    return f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
s AS (SELECT doc_id, {DUCK_SHINGLES} AS sh FROM t),
sig AS (SELECT doc_id, sh, [{mh_list}] AS m FROM s),
keyed AS (SELECT doc_id, [{band_keys}] AS ks FROM sig),
bands AS (
  SELECT doc_id, CAST(t.i AS INT) AS band, ks[CAST(t.i AS INT)] AS key
  FROM keyed CROSS JOIN range(1, {N_BANDS + 1}) AS t(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
kept AS (
  SELECT doc_id, shingle FROM (
    SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM ex
  ) WHERE df <= {DF_CAP}
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
inter AS (
  SELECT c.doc1, c.doc2, count(*) AS inter
  FROM cand c
  JOIN kept k1 ON k1.doc_id = c.doc1
  JOIN kept k2 ON k2.doc_id = c.doc2 AND k2.shingle = k1.shingle
  GROUP BY 1, 2
)
SELECT doc1, doc2,
       round(CAST(inter AS DOUBLE) / (n1.n + n2.n - inter), 6) AS jaccard
FROM inter JOIN sizes n1 ON n1.doc_id = inter.doc1 JOIN sizes n2 ON n2.doc_id = inter.doc2
WHERE round(CAST(inter AS DOUBLE) / (n1.n + n2.n - inter), 6) >= {JACCARD_T}
"""


@register("minhash_lsh_dups", _duck_minhash_sql())
def minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 deterministic affine hashes over md5-derived
    shingle ids) → 8 LSH bands of 2 rows → bucket self-join for candidates →
    exact Jaccard verification of candidates only.

    This is the J2 approx-similarity-join (SURVEY §2.3): the shuffle is
    `explode(bands)` + a join keyed on (band, key) — collision-bounded, not
    N².  The exhaustive twin (`ngram_jaccard_dups`) is the recall oracle.

    Plan notes: each shingle is md5-hashed ONCE and the 16 minhashes are
    affine maps over that id array (the oracle writes it inline 16× — same
    values, 16× the hashing); candidate verification counts co-occurring
    shingles with equi-joins against the frequency-capped inverted index
    (stop-shingles with df > DF_CAP dropped — same cap in the oracle, so
    Jaccard is defined over capped sets) instead of intersecting arrays per
    pair.  Signatures stay over the FULL sets: the cap affects only which
    shingles can vouch for a candidate, not the banding recall."""
    docs = load_table(spark, sf_dir, "documents")
    # The shingle table feeds the signature stage AND both sides of the
    # verification join; persist it so shingling runs once (it's one row per
    # document — at scale this is a checkpoint to storage, same plan).
    s = docs.select("doc_id", F.expr(SPARK_TOKENS).alias("toks")).select(
        "doc_id", F.expr(SPARK_SHINGLES).alias("sh")
    )
    s = track_scratch(s.persist())
    s.count()  # materialize before the multi-branch reuse below
    hashed = s.select(
        "doc_id",
        F.size("sh").alias("n"),
        F.expr(f"transform(sh, s -> {spark_hash('s')})").alias("hs"),
    )
    minhashes = ", ".join(
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {P}))" for a, b in MINHASH_AB
    )
    sig = hashed.select("doc_id", F.expr(f"array({minhashes})").alias("m"))
    band_keys = F.expr(
        "array("
        + ", ".join(f"concat(m[{2*i}], ',', m[{2*i+1}])" for i in range(N_BANDS))
        + ")"
    )  # Spark arrays are 0-indexed via [] — element_at is 1-indexed
    bands = sig.select(
        "doc_id", F.posexplode(band_keys).alias("band", "key")
    )
    # Pairs are generated INSIDE each bucket from its member list — one pass
    # over the corpus instead of a bucket self-join that would recompute the
    # shingle/signature chain for both sides.  Buckets are collision-bounded
    # (that's the point of LSH), so the combination expansion is tiny; the
    # least/greatest normalization makes output independent of collect order.
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.collect_set("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
    )
    combos = (
        "flatten(transform(sequence(0, size(ds) - 2), "
        "i -> transform(sequence(i + 1, size(ds) - 1), "
        "j -> struct(least(ds[i], ds[j]) AS doc1, greatest(ds[i], ds[j]) AS doc2))))"
    )
    cand_plan = (
        buckets.select(F.explode(F.expr(combos)).alias("p"))
        .select("p.doc1", "p.doc2")
        .distinct()
    )
    # cand is collision-bounded but grows with corpus dup-density (~248k
    # pairs already at sf0.1).  AQE's runtime shuffle statistics convert
    # the post-shuffle verify join to broadcast-hash when cand is small
    # and keep it a shuffle join above the threshold — decided from
    # ACTUAL sizes, with no count job (BENCH_NOTES_r08.md measured it
    # faster than a persist + count + broadcast gate at sf0.1).  cand_plan
    # appears ONCE in the final plan (the i1→i2 join chain), so banding
    # runs exactly once without a persist.
    # verify: intersection size by counting shared shingles (equi-joins
    # against the exploded, frequency-capped shingle index — stop-shingles
    # would contribute |posting|² join rows and no signal; the stop-set is
    # bounded by vocabulary, so it broadcasts)
    inv = s.select("doc_id", F.explode("sh").alias("shingle"))
    frequent = (
        inv.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > DF_CAP)
        .select("shingle")
    )
    kept = track_scratch(inv.join(F.broadcast(frequent), ["shingle"], "left_anti").persist())
    kept.count()  # materialize: feeds sizes and both verify-join branches
    i1 = kept.select(F.col("doc_id").alias("doc1"), "shingle")
    i2 = kept.select(F.col("doc_id").alias("doc2"), "shingle")
    inter = (
        cand_plan
        .join(i1, "doc1")
        .join(i2, ["doc2", "shingle"])
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("inter"))
    )
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    n1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    # sizes grows with the corpus — no forced broadcast, AQE decides
    return (
        inter.join(n1, "doc1")
        .join(n2, "doc2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc1", "doc2", "jaccard")
    )


def _duck_stream_neardup_sql() -> str:
    """Oracle for the INCREMENTAL LSH gate: the full-corpus band self-join
    with exact jaccard over FULL shingle sets (no DF_CAP — a stream cannot
    know the final global shingle df; streaming/neardup.py documents the
    deliberate difference from the batch query's capped verify)."""
    mh_list = ", ".join(DUCK_MINHASHES)
    band_keys = ", ".join(
        f"concat(m[{2*i+1}], ',', m[{2*i+2}])" for i in range(N_BANDS)
    )
    jac = (
        "CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / "
        "(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)))"
    )
    return f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
s AS (SELECT doc_id, {DUCK_SHINGLES} AS sh FROM t),
sig AS (SELECT doc_id, sh, [{mh_list}] AS m FROM s),
keyed AS (SELECT doc_id, [{band_keys}] AS ks FROM sig),
bands AS (
  SELECT doc_id, CAST(t.i AS INT) AS band, ks[CAST(t.i AS INT)] AS key
  FROM keyed CROSS JOIN range(1, {N_BANDS + 1}) AS t(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT c.doc1, c.doc2, round({jac}, 6) AS jaccard
FROM cand c JOIN s s1 ON s1.doc_id = c.doc1 JOIN s s2 ON s2.doc_id = c.doc2
WHERE round({jac}, 6) >= {JACCARD_T}
"""


@register("stream_neardup_pairs", _duck_stream_neardup_sql())
def stream_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup ADMISSION GATE: the minhash-LSH pipeline as an
    incremental stage — documents arrive in micro-batches, each batch's
    band signatures (the IDENTICAL expression trees as the batch query)
    join against the accumulated band store, so a document is compared
    only against its past, and every near-dup pair surfaces exactly once,
    in the batch where its later member arrives.  The drained pair set
    must equal the full-corpus LSH result regardless of batch boundaries
    (the oracle pins it) — the all-data-is-streaming-data invariant for
    the one dedup family that is genuinely stateful.

    Verification is exact jaccard over FULL shingle sets (the stream
    cannot know a shingle's final global df, so no DF_CAP — see
    streaming/neardup.py for the scale notes: append-only band/document
    state tables, per-batch work ∝ |batch| + matched buckets)."""
    from .streaming.neardup import neardup_pairs_stream

    return neardup_pairs_stream(spark, sf_dir)


def _prepare_neardup_staging(spark: SparkSession, sf_dir: str) -> None:
    from .streaming.neardup import _staged_neardup_docs

    _staged_neardup_docs(spark, sf_dir)


PREPARE.append(_prepare_neardup_staging)


# ---------------------------------------------------------------------------
# 4. SimHash — 64-bit frequency-weighted signature, Hamming-ball pairs
# ---------------------------------------------------------------------------
#
# 64 bits come from TWO 32-bit halves of one md5 per token (hex chars 1-8
# and 9-16) — both engines compute the identical integers, so the DuckDB
# oracle stays bit-exact.  Banding is the Manku/Google web-crawl layout
# (Manku, Jain, Sarma — "Detecting Near-Duplicates for Web Crawling",
# WWW'07): 4 disjoint 16-bit bands → 65,536 buckets per band, so at crawl
# scale a band-bucket holds ~N/2¹⁶ docs and the equi-join candidate count
# stays collision-proportional.  (The previous 32-bit/7-bit layout had only
# 128 buckets per band — ~N²/640 candidates at 10⁹ docs; VERDICT r5 item 1.)
# Pigeonhole: Hamming ≤ 3 over 4 disjoint bands ⇒ at least one band is
# bit-identical, so banding loses no true pair.


def _bit_value_sql(b: int) -> str:
    """BIGINT literal for bit b of the signature.  Bit 63 is the two's-
    complement sign bit: 1<<63 doesn't fit signed 64, so emit min-long
    (adding it to the 0..2⁶²-sum of the other bits never overflows)."""
    if b == 63:
        return "(CAST(-9223372036854775807 AS BIGINT) - 1)"
    return f"CAST({1 << b} AS BIGINT)"


def _half_bit_sql(b: int, h_lo: str, h_hi: str) -> str:
    """Bit b of the 64-bit signature read from its 32-bit half column."""
    return f"({h_lo} >> {b}) & 1" if b < 32 else f"({h_hi} >> {b - 32}) & 1"


def _duck_simhash_sql() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN {_half_bit_sql(b, 'h1', 'h2')} = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {_bit_value_sql(b)} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         ('0x' || substring(md5(t.tok), 1, 8))::BIGINT AS h1,
         ('0x' || substring(md5(t.tok), 9, 8))::BIGINT AS h2
  FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents) t
),
bits AS (SELECT doc_id, {bit_sums} FROM tok GROUP BY doc_id),
sig AS (SELECT doc_id, ({combine}) AS simhash FROM bits)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_T}
"""


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT) — 64-bit frequency-weighted SimHash."""
    # pre-aggregate repeated tokens: the word-soup corpus has a small
    # vocabulary, so (doc, token-hash, count) is several times smaller than
    # the raw occurrence stream; the ±1 votes become count-weighted sums
    # (identical integers, map-side combinable at both levels)
    tok = (
        docs.select("doc_id", F.explode(F.expr(SPARK_TOKENS)).alias("tok"))
        .select("doc_id", F.md5("tok").alias("m"))
        .select(
            "doc_id",
            F.expr("CAST(conv(substring(m, 1, 8), 16, 10) AS BIGINT)").alias("h1"),
            F.expr("CAST(conv(substring(m, 9, 8), 16, 10) AS BIGINT)").alias("h2"),
        )
        .groupBy("doc_id", "h1", "h2")
        .agg(F.count("*").alias("cnt"))
    )
    bit_sums = [
        F.sum(
            F.col("cnt")
            * F.when(F.expr(_half_bit_sql(b, "h1", "h2")) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    bits = tok.groupBy("doc_id").agg(*bit_sums)
    combine = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {_bit_value_sql(b)} ELSE CAST(0 AS BIGINT) END"
        for b in range(SIMHASH_BITS)
    )
    return bits.select("doc_id", F.expr(f"({combine})").alias("simhash"))


def simhash_banded_candidates(
    sig: DataFrame, n_bands: int = SIMHASH_BANDS, band_bits: int = SIMHASH_BAND_BITS
) -> DataFrame:
    """Candidate pairs (doc1, doc2, h1, h2) from bit-sliced banding: any
    pair within Hamming ≤ n_bands-1 agrees exactly on at least one of the
    n_bands disjoint band_bits-bit slices, so candidates come from an
    equi-join on (band, band-bits) — work ∝ in-bucket collisions, never
    N²/2 — then the caller verifies exact Hamming.  distinct() collapses
    pairs that collide in several bands."""
    mask = (1 << band_bits) - 1
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(i) for i in range(n_bands)])).alias("band"),
    ).withColumn("bucket", F.expr(f"(simhash >> (band * {band_bits})) & {mask}"))
    a = banded.select(
        "band", "bucket", F.col("doc_id").alias("doc1"), F.col("simhash").alias("h1")
    )
    b = banded.select(
        "band", "bucket", F.col("doc_id").alias("doc2"), F.col("simhash").alias("h2")
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2", "h1", "h2")
        .distinct()
    )


@register("simhash_hamming_pairs", _duck_simhash_sql())
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per token-occurrence ±1 vote on each of 64 md5-derived hash
    bits; signature bit = sign of the vote sum.  Near-dups = pairs within
    Hamming ≤ 3, found via 4×16-bit pigeonhole banding (module comment)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = track_scratch(simhash_signatures(docs).persist())
    sig.count()  # materialize: both self-join branches must hit the cache,
    # not race to compute the signature chain twice within one job
    cand = simhash_banded_candidates(sig)
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(h1 ^ h2) AS INT)"))
        .filter(F.col("hamming") <= HAMMING_T)
        .select("doc1", "doc2", "hamming")
    )


# ---------------------------------------------------------------------------
# 5. embedding cosine near-dup — exhaustive pair scan (ANN path: operators.ann)
# ---------------------------------------------------------------------------

# Multi-table sign-LSH: T tables × b sign bits each (disjoint dim groups).
# Tuned empirically at sf0.01 against the exhaustive detector: 8×4 catches
# 81% of true pairs while generating 41% of the N²/2 candidates (cos ≥ 0.4
# is a LOW-similarity operating point — one 6-bit table only reaches 12%
# recall; production near-dup thresholds ≥0.85 need fewer/wider tables).
LSH_TABLES = 8
LSH_BITS = 4

_DUCK_PAIR_COS = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /"
    " (greatest(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))), 1e-12) *"
    "  greatest(sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 1e-12))"
)


def _sign_bucket_terms_dims(col: str, dims, duck: bool) -> str:
    """Bucket id for one hash table = sign bits of the given dim list."""
    elem = (lambda d: f"{col}[{d + 1}]") if duck else (
        lambda d: f"element_at({col}, {d + 1})"
    )
    return " + ".join(
        f"CASE WHEN {elem(d)} >= 0 THEN {1 << i} ELSE 0 END" for i, d in enumerate(dims)
    )


def _sign_bucket_terms(col: str, table: int, duck: bool) -> str:
    """Bucket id for one hash table = sign bits of its dim group."""
    return _sign_bucket_terms_dims(
        col, range(table * LSH_BITS, (table + 1) * LSH_BITS), duck
    )


def _duck_lsh_cand_sql() -> str:
    unions = " UNION ".join(
        f"SELECT a.vec_id AS v1, b.vec_id AS v2 FROM embeddings a JOIN embeddings b "
        f"ON a.vec_id < b.vec_id AND ({_sign_bucket_terms('a.embedding', t, True)})"
        f" = ({_sign_bucket_terms('b.embedding', t, True)})"
        for t in range(LSH_TABLES)
    )
    return unions


@register(
    "embedding_near_dups_lsh",
    f"""
WITH cand AS ({_duck_lsh_cand_sql()})
SELECT c.v1, c.v2, round({_DUCK_PAIR_COS}, 6) AS cos_sim
FROM cand c
JOIN embeddings a ON a.vec_id = c.v1
JOIN embeddings b ON b.vec_id = c.v2
WHERE {_DUCK_PAIR_COS} >= {COSINE_T}
""",
)
def embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, LSH-bucketed scale path: 8 sign-LSH hash tables
    (4 bits over disjoint dim groups) gate the pair candidates — a pair is
    a candidate iff it collides in ANY table (equi-join on (table, bucket),
    work ∝ collisions, not N²/2) — then exact cosine verify inside.  At
    100 TB (table, bucket) is a write-time partition key and each table's
    join is partition-local.  Recall vs the exhaustive scan is measured in
    tests/test_dedup.py (0.81 at sf0.01 for 0.41× the pair work); the
    oracle replicates the same bucketing, so the query is deterministic."""
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = F.array(
        *[F.expr(f"CAST({_sign_bucket_terms('embedding', t, False)} AS INT)")
          for t in range(LSH_TABLES)]
    )
    # bucket keys only — embeddings stay out of the pair shuffle entirely;
    # the distinct carries (v1, v2) ids and the verify re-joins vectors
    keyed = emb.select("vec_id", F.posexplode(buckets).alias("table", "bucket"))
    a = keyed.select("table", "bucket", F.col("vec_id").alias("v1"))
    b = keyed.select("table", "bucket", F.col("vec_id").alias("v2"))
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("v1") < F.col("v2"))
        .select("v1", "v2")
        .distinct()
    )
    e1 = emb.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    e2 = emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    # verify with the Arrow-batched twin of cosine_sql (bit-equal at the
    # fixtures' D, tests/test_kernels.py) — NumPy throughput on the ~0.4·N²/2
    # candidate pairs instead of a per-row Catalyst fold.  No broadcast hint
    # on e1/e2: they are the FULL corpus, the one side that cannot be
    # broadcast at crawl scale.  Catalyst's size-gated autoBroadcast (64 MB,
    # session.py) still broadcasts them at fixture scale; above it the
    # equi-join shuffles candidate-many rows, which is the right cost model.
    from .functions.vector import cosine_pudf

    return (
        cand.join(e1, "v1")
        .join(e2, "v2")
        .withColumn("cos_raw", cosine_pudf(F.col("e1"), F.col("e2")))
        .filter(F.col("cos_raw") >= COSINE_T)
        .select("v1", "v2", F.round("cos_raw", 6).alias("cos_sim"))
    )


@register(
    "stream_embedding_neardups",
    f"""
WITH cand AS ({_duck_lsh_cand_sql()})
SELECT c.v1, c.v2, round({_DUCK_PAIR_COS}, 6) AS cos_sim
FROM cand c
JOIN embeddings a ON a.vec_id = c.v1
JOIN embeddings b ON b.vec_id = c.v2
WHERE {_DUCK_PAIR_COS} >= {COSINE_T}
""",
)
def stream_embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EMBEDDING near-dup gate: the sign-LSH pipeline
    (``embedding_near_dups_lsh`` — 8 tables × 4 coordinate-sign bits,
    exact-cosine verify) as an incremental stage — vectors arrive in
    micro-batches, each batch's (table, bucket) keys (the IDENTICAL
    sign-bucket expressions as the batch query) join against the
    accumulated band store, so a vector is compared only against its
    past, and every near-dup pair surfaces exactly once, in the batch
    where its later member arrives.  The drained pair set must equal the
    batch query's full result regardless of batch boundaries (the oracle
    — the batch query's own SQL — pins it): the text twin's
    exactly-once protocol (``stream_neardup_pairs``) now covers the
    embedding column too.  See streaming/neardup_embedding.py for the
    scale notes (append-only band/vector state tables, per-batch work ∝
    |batch| + matched buckets, never corpus²)."""
    from .streaming.neardup_embedding import embedding_neardup_stream

    return embedding_neardup_stream(spark, sf_dir)


def _prepare_neardup_emb_staging(spark: SparkSession, sf_dir: str) -> None:
    from .streaming.neardup_embedding import _staged_embeddings

    _staged_embeddings(spark, sf_dir)


PREPARE.append(_prepare_neardup_emb_staging)


# Production operating point (VERDICT r5 item 7): near-dup thresholds in a
# real dedup pipeline sit at cos >= 0.85, where colliding on ANY single
# coordinate-sign table of 4 bits is far too permissive.  MORE and WIDER
# tables with pseudo-random (seeded, overlapping) dim subsets prune harder
# per table while the union keeps recall: at cos = 0.85 a sign bit agrees
# with prob 1 - acos(0.85)/pi ~ 0.82, so one 8-bit table catches ~0.82^8 ~
# 0.21 of true pairs and 12 tables catch 1-(1-0.21)^12 ~ 0.94 of them,
# while random pairs collide at ~12/2^8 ~ 4.7% of N^2/2.  Measured on the
# fixture + planted jittered dups (tests/test_dedup.py): recall 1.0 at a
# 4.5% candidate fraction.  The dim subsets are fixed by seed so the DuckDB
# oracle replicates the exact bucketing.
HI_LSH_TABLES = 12
HI_LSH_BITS = 8
HI_COSINE_T = 0.85
_hi_rng = random.Random(101)
HI_LSH_DIMS = [_hi_rng.sample(range(64), HI_LSH_BITS) for _ in range(HI_LSH_TABLES)]


def sign_lsh_near_dups(
    emb: DataFrame,
    *,
    threshold: float = HI_COSINE_T,
    dim_tables: list[list[int]] = HI_LSH_DIMS,
) -> DataFrame:
    """Multi-table coordinate-sign LSH near-dup over (vec_id, embedding):
    candidates = pairs colliding in ANY table's sign-bit bucket (equi-join
    on (table, bucket) — work ∝ collisions, never N²/2), then exact cosine
    verify.  ``dim_tables`` fixes each table's dim subset, so the bucketing
    is deterministic and oracle-replicable."""
    from .functions.vector import cosine_pudf

    buckets = F.array(
        *[
            F.expr(f"CAST({_sign_bucket_terms_dims('embedding', dims, False)} AS INT)")
            for dims in dim_tables
        ]
    )
    keyed = emb.select("vec_id", F.posexplode(buckets).alias("table", "bucket"))
    a = keyed.select("table", "bucket", F.col("vec_id").alias("v1"))
    b = keyed.select("table", "bucket", F.col("vec_id").alias("v2"))
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("v1") < F.col("v2"))
        .select("v1", "v2")
        .distinct()
    )
    e1 = emb.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    e2 = emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    # corpus sides carry no broadcast hint (see embedding_near_dups_lsh):
    # size-gated autoBroadcast handles fixture scale, shuffle join above it
    return (
        cand.join(e1, "v1")
        .join(e2, "v2")
        .withColumn("cos_raw", cosine_pudf(F.col("e1"), F.col("e2")))
        .filter(F.col("cos_raw") >= threshold)
        .select("v1", "v2", F.round("cos_raw", 6).alias("cos_sim"))
    )


def _duck_hi_lsh_cand_sql() -> str:
    return " UNION ".join(
        f"SELECT a.vec_id AS v1, b.vec_id AS v2 FROM embeddings a JOIN embeddings b "
        f"ON a.vec_id < b.vec_id AND ({_sign_bucket_terms_dims('a.embedding', dims, True)})"
        f" = ({_sign_bucket_terms_dims('b.embedding', dims, True)})"
        for dims in HI_LSH_DIMS
    )


@register(
    "embedding_near_dups_lsh_hi",
    f"""
WITH cand AS ({_duck_hi_lsh_cand_sql()})
SELECT c.v1, c.v2, round({_DUCK_PAIR_COS}, 6) AS cos_sim
FROM cand c
JOIN embeddings a ON a.vec_id = c.v1
JOIN embeddings b ON b.vec_id = c.v2
WHERE {_DUCK_PAIR_COS} >= {HI_COSINE_T}
""",
)
def embedding_near_dups_lsh_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at the PRODUCTION threshold (cos >= 0.85):
    12 sign-LSH tables × 8 seeded pseudo-random dims (constants above).
    The driver fixture is near-dup-free at this bar (max pairwise cos ≈
    0.51), so this row legitimately returns zero pairs there — the plan
    still builds/executes the full candidate+verify pipeline, and recall
    (1.0 at a 4.5% candidate fraction) is measured on a planted-duplicate
    corpus in tests/test_dedup.py.  Assumes the corpus' 64-dim embedding
    layout (TESTDATA.md)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sign_lsh_near_dups(emb)


@register(
    "embedding_near_dups",
    f"""
SELECT a.vec_id AS v1, b.vec_id AS v2,
       round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
             (greatest(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))), 1e-12) *
              greatest(sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 1e-12)), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      (greatest(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))), 1e-12) *
       greatest(sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 1e-12)) >= {COSINE_T}
""",
)

def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: exhaustive O(N²) pair scan — the recall
    oracle for the bucketed variants (operators.ann sign-LSH / IVF) that
    bound candidates at 100 TB.

    Physical plan: blocked GEMM scan (operators.pairscan) — each block pair
    is one Arrow batch, scores are vectorized sequential folds, so results
    are bit-identical to the Catalyst/DuckDB per-pair fold while running at
    NumPy speed and never materializing N² pair rows."""
    from .operators.pairscan import cosine_pair_scan

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pair_scan(emb, threshold=COSINE_T).select(
        "v1", "v2", F.round("cos_raw", 6).alias("cos_sim")
    )


def _duck_semdedup_sql(n_cells: int = 8, iters: int = 2, tau: float = COSINE_T) -> str:
    """SemDeDup oracle: the SAME deterministic Lloyd's build the kmeans-IVF
    oracle unrolls (workload_ann.duck_kmeans_cents_cte), a final argmax
    assignment, then the within-cluster pair scan."""
    from .workload_ann import duck_kmeans_cents_cte

    from .workload import _dcos

    cents_cte, final = duck_kmeans_cents_cte(n_cells, iters)
    return f"""
WITH nv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
{cents_cte}
asg AS (
  SELECT vec_id, emb, cell FROM (
    SELECT nv.vec_id, nv.emb, c.cell,
           row_number() OVER (PARTITION BY nv.vec_id
                              ORDER BY {_dcos('nv.emb', 'c.centroid')} DESC, c.cell) AS rn
    FROM nv CROSS JOIN {final} c
  ) WHERE rn = 1
)
SELECT a.cell, a.vec_id AS v1, b.vec_id AS v2,
       round({_dcos('a.emb', 'b.emb')}, 6) AS cos_sim
FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE {_dcos('a.emb', 'b.emb')} >= {tau}
"""


# r12 fixture codebook: 32 cells (was 8) — same oracle CTE, just a wider
# seeded init; cuts the benched Σ|c|² pair scan ~4× and lifts the
# cell-keyed shuffle's parallelism from 8 to 32 tasks.  Recall at the
# paper's cos>=0.85 regime is re-pinned in tests/test_dedup.py.
SEMDEDUP_CELLS = 32


@register("semdedup_pairs", _duck_semdedup_sql(n_cells=SEMDEDUP_CELLS))
def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding near-dup
    detection with the quadratic BOUNDED BY CLUSTERING — k-means the
    corpus, then pair-scan only WITHIN each cluster (the paper's
    observation: semantic duplicates land in the same cluster, so
    cross-cluster pairs need never be scored).  Complements the sign-LSH
    variants (random-hyperplane buckets) with the data-dependent
    partitioner production SemDeDup pipelines use; the exact control
    (embedding_near_dups) measures its recall in tests/test_dedup.py.

    The codebook is the SAME deterministic Lloyd's index state the
    kmeans-IVF query serves from (workload_ann._kmeans_cents — trained
    once per corpus, collected as k×D catalog rows), so the oracle unrolls
    the identical finite CTE chain and the whole cluster→pair pipeline is
    hash-checked.

    Scale: assignment is a broadcast-codebook map-side argmax (no
    shuffle); the pair scan shuffles each point ONCE keyed by cell and
    compares Σ|cell|² pairs instead of N²/2 — with production cell counts
    (k ≈ N/⟨cluster⟩, thousands+) keys are plentiful and the per-cell
    quadratic is bounded by the cluster-size cap upstream pipelines
    enforce.  The 32-cell fixture keeps the build oracle-checkable
    (the unrolled Lloyd's CTE is finite at any fixed k)."""
    from .workload_ann import _kmeans_cents

    corpus = load_table(spark, sf_dir, "embeddings")
    return semdedup_pair_scan(
        corpus, _kmeans_cents(spark, sf_dir, k=SEMDEDUP_CELLS), tau=COSINE_T
    )


def _prepare_semdedup_codebook(spark: SparkSession, sf_dir: str) -> None:
    """Train the 32-cell fixture codebook out-of-band (bench warmup) — the
    benched query pays assignment + pair scan, not the index build, same
    as the kmeans-IVF/IVFPQ PREPARE entries."""
    from .workload_ann import _kmeans_cents

    _kmeans_cents(spark, sf_dir, k=SEMDEDUP_CELLS)


PREPARE.append(_prepare_semdedup_codebook)


def semdedup_pair_scan(corpus: DataFrame, cents: DataFrame, *, tau: float) -> DataFrame:
    """The SemDeDup kernel: broadcast-codebook nearest-centroid assignment,
    then the within-cluster cosine pair scan at threshold ``tau``.
    Returns (cell, v1, v2, cos_sim) with v1 < v2, cos_sim rounded 6 dp."""
    from .operators.ann import _assign_cells

    assigned = _assign_cells(corpus, cents)
    a = assigned.select(
        "cell", F.col("vec_id").alias("v1"), F.col("embedding").alias("e1")
    )
    b = assigned.select(
        "cell", F.col("vec_id").alias("v2"), F.col("embedding").alias("e2")
    )
    return (
        a.join(b, "cell")
        .filter(F.col("v1") < F.col("v2"))
        .withColumn("cos_raw", F.expr(cosine_sql("e1", "e2")))
        .filter(F.col("cos_raw") >= tau)
        .select("cell", "v1", "v2", F.round("cos_raw", 6).alias("cos_sim"))
    )


@register(
    "shingle_novelty",
    f"""
WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
s AS (SELECT doc_id, {DUCK_SHINGLES} AS sh FROM t),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM ex GROUP BY shingle)
SELECT ex.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty_ratio
FROM ex JOIN firsts f ON f.shingle = ex.shingle
GROUP BY ex.doc_id
""",
)
def shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-corpus novelty: the fraction of a document's (distinct)
    3-token shingles whose FIRST occurrence (min doc_id = ingest order) is
    this document — the "how much genuinely new content does this crawl
    batch add" metric; near-dups of earlier docs score ≈ 0.

    Scale: one shuffle keyed by shingle (min-combine map-side) re-joined to
    the inverted index on the same key — co-partitioned, so AQE plans a
    shuffle-free join — then a per-doc count.  No windows, no N² anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    inv = (
        docs.select("doc_id", F.expr(SPARK_TOKENS).alias("toks"))
        .select("doc_id", F.expr(SPARK_SHINGLES).alias("sh"))
        .select("doc_id", F.explode("sh").alias("shingle"))
    )
    firsts = inv.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        inv.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("int")).cast("double")
                / F.count("*"),
                6,
            ).alias("novelty_ratio"),
        )
    )
