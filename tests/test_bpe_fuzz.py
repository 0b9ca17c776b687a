"""Differential fuzz of BPE training (`workload_pipeline.bpe_train`)
against a from-scratch pure-Python reference.

The reference implements Sennrich's algorithm the naive way — per-word
symbol LISTS, pair counting by iteration, greedy left-to-right merge by
index — deliberately sharing nothing with the engine's ⟨⟩-wrapped-string
``replace`` formulation, so a divergence in either the argmax tie-break
or (the subtle part) overlap handling (``"aaa"`` merging ``(a, a)`` must
yield ``["aa", "a"]``, and ``"abab"`` merging ``(a, b)`` must merge BOTH
disjoint occurrences in one step) fails the comparison.  Corpora are
hypothesis-drawn with repetition-heavy alphabets ("a", "b", "c") to
maximize overlapping-pair pressure.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
    bpe_train,
    word_vocab,
)


def _ref_bpe(words: list[str], k_merges: int) -> list[tuple]:
    """Independent reference: list-of-symbols formulation."""
    freq = Counter(words)
    vocab = {w: [list(w), n] for w, n in freq.items()}
    out = []
    for step in range(1, k_merges + 1):
        counts: Counter = Counter()
        for syms, n in vocab.values():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += n
        if not counts:
            break
        # argmax with (count desc, left, right) tie-break
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w, entry in vocab.items():
            syms = entry[0]
            merged, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    merged.append(left + right)
                    i += 2  # greedy left-to-right: consume both
                else:
                    merged.append(syms[i])
                    i += 1
            entry[0] = merged
        n_tokens = sum(len(e[0]) * e[1] for e in vocab.values())
        out.append((step, left + right, n, n_tokens))
    return out


WORDS = ["a", "b", "aa", "ab", "ba", "aaa", "abab", "aab", "baa",
         "aaaa", "abba", "bab", "cc", "cac", "acca"]


@settings(max_examples=8, deadline=None)
@given(
    words=st.lists(st.sampled_from(WORDS), min_size=3, max_size=40),
    k=st.integers(1, 5),
)
def test_bpe_matches_pure_python_reference(spark, words, k):
    want = _ref_bpe(words, k)
    if len(want) < k:
        return  # reference exhausted the vocab; engine raises by contract
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id bigint, text string"
    )
    got = bpe_train(word_vocab(docs), k)
    assert got == want, (words, k)


def test_bpe_overlap_and_disjoint_adjacency(spark):
    """The two adversarial shapes, pinned deterministically: overlapping
    occurrences merge greedily left-to-right ("aaa" -> "aa","a"), and
    disjoint adjacent occurrences both merge in one step ("abab" ->
    "ab","ab")."""
    docs_rows = ["aaa"] * 3 + ["abab"] * 2
    want = _ref_bpe(docs_rows, 2)
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(docs_rows)],
        "doc_id bigint, text string",
    )
    got = bpe_train(word_vocab(docs), 2)
    assert got == want
    # step 1 merges (a, a): weighted pair count counts BOTH positions in
    # "aaa" (2 per word x 3 words) + 0 in "abab" = 6, but the merge only
    # collapses one per word: token count drops by 3, not 6
    assert got[0][1] == "aa" and got[0][2] == 6
    assert want[0][3] == got[0][3]


def test_bpe_exhaustion_raises_loud(spark):
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="vocabulary exhausted"):
        bpe_train(word_vocab(docs), 1)


def _ref_encode(words: list[str], k_merges: int) -> dict[str, int]:
    """Independent encode reference: rerun the list-of-symbols training
    loop and capture each distinct word's FINAL symbol list length."""
    freq = Counter(words)
    vocab_entries = {w: [list(w), n] for w, n in freq.items()}
    for step in range(1, k_merges + 1):
        counts: Counter = Counter()
        for syms, n in vocab_entries.values():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += n
        if not counts:
            break
        (left, right), _ = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for entry in vocab_entries.values():
            syms = entry[0]
            merged_l, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    merged_l.append(left + right)
                    i += 2
                else:
                    merged_l.append(syms[i])
                    i += 1
            entry[0] = merged_l
    return {w: len(e[0]) for w, e in vocab_entries.items()}


@settings(max_examples=8, deadline=None)
@given(
    words=st.lists(st.sampled_from(WORDS), min_size=3, max_size=40),
    k=st.integers(1, 5),
)
def test_bpe_encode_matches_pure_python_reference(spark, words, k):
    """The encode stage (train → replay merges over vocab → join) must
    reproduce the reference's per-word final token counts, summed per
    doc (one word per doc here, so the mapping is direct)."""
    from pyspark.sql import functions as F

    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        bpe_encode_vocab,
        bpe_train_pairs,
    )

    if len(_ref_bpe(words, k)) < k:
        return  # vocab exhausted; trainer raises by contract
    want = _ref_encode(words, k)
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id bigint, text string"
    )
    vocab = word_vocab(docs)
    enc = bpe_encode_vocab(vocab, bpe_train_pairs(vocab, k))
    got = {r["word"]: r["n_sym"] for r in enc.collect()}
    assert got == want, (words, k)


def test_bpe_encode_rejects_unsafe_merge_list(spark):
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        bpe_encode_vocab,
    )

    docs = spark.createDataFrame([(0, "ab ab a")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="outside"):
        bpe_encode_vocab(word_vocab(docs), [(1, "a'); DROP", "b", 1, 1)])


def test_bpe_encode_corpus_zero_word_docs(spark):
    """Docs with no [a-z]+ words must appear with zero counts (the packing
    feed needs every doc present)."""
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        _bpe_doc_counts,
    )

    docs = spark.createDataFrame(
        [(0, "aa ab"), (1, "123 !?"), (2, "b")], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in _bpe_doc_counts(docs, 1).collect()
    }
    # merge 1 is (a, a) or (a, b) by tie-break: count (a,b)=1 in "ab",
    # (a,a)=1 in "aa" -> tie broken to (a,a); "aa"->1 tok, "ab"->2, "b"->1
    assert out[1] == (0, 0)  # no gated words
    assert out[0] == (2, 3) and out[2] == (1, 1)


@settings(max_examples=6, deadline=None)
@given(
    words=st.lists(st.sampled_from(WORDS), min_size=3, max_size=30),
    k=st.integers(1, 4),
)
def test_bpe_encode_conserves_trainer_token_count(spark, words, k):
    """Cross-operator invariant: the trainer's final n_tokens equals
    sum(freq x encoded n_sym) over the vocab — training and encoding must
    agree on what the corpus tokenizes to."""
    from pyspark.sql import functions as F

    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        bpe_encode_vocab,
        bpe_train_pairs,
    )

    if len(_ref_bpe(words, k)) < k:
        return
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id bigint, text string"
    )
    vocab = word_vocab(docs)
    pairs = bpe_train_pairs(vocab, k)
    final_n_tokens = pairs[-1][4]
    enc = bpe_encode_vocab(vocab, pairs)
    total = (
        enc.join(vocab.select("word", "freq"), "word")
        .select(F.sum(F.col("freq") * F.col("n_sym")).alias("t"))
        .collect()[0]["t"]
    )
    assert total == final_n_tokens


def _ref_replay(word: str, pairs: list[tuple]) -> int:
    """Replay a GIVEN merge list (not a training run) over one word with
    the standard greedy left-to-right scan; return the final symbol
    count — the independent twin of the engine's replace-chain replay."""
    syms = list(word)
    for _step, left, right, _n, _t in pairs:
        merged, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                merged.append(left + right)
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        syms = merged
    return len(syms)


def test_bpe_encode_replay_crosses_checkpoint_spans(spark):
    """A merge list longer than BPE_CHECKPOINT_EVERY exercises the
    span-compiled + localCheckpoint-capped replay (r16 VERDICT item 1):
    70 merges = 3 spans at the cap of 32, with the WORKING merges placed
    at positions 0, 33, and 66 so each span does real work and the state
    handed across both checkpoint boundaries must be exact.  The other
    67 merges are valid-but-absent symbol pairs (no-ops in both
    engines).  Verified against an independent pure-Python replay of the
    SAME list — not a retrain."""
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        BPE_CHECKPOINT_EVERY,
        bpe_encode_vocab,
        word_vocab,
    )

    assert BPE_CHECKPOINT_EVERY == 32  # positions below assume the cap
    noop = ("zz", "qq")
    real = {0: ("a", "b"), 33: ("ab", "a"), 66: ("aba", "ab")}
    pairs = [
        (k + 1, *real.get(k, noop), 1, 1) for k in range(70)
    ]
    words = ["abaab", "aba", "ab", "ba", "abab", "cabab"]
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id bigint, text string"
    )
    enc = bpe_encode_vocab(word_vocab(docs), pairs)
    got = {r["word"]: r["n_sym"] for r in enc.collect()}
    want = {w: _ref_replay(w, pairs) for w in set(words)}
    assert got == want
    # the three real merges actually fired (sanity against all-no-op):
    # abaab -> [ab,a,ab] -> [aba,ab] -> [abaab], one merge per span
    assert want["abaab"] == 1 and want["aba"] == 1 and want["abab"] == 2


class _Rows:
    """A stand-in vocab: ``bpe_train_pairs`` reads its (sym, freq) rows
    with one ``select(...).collect()``, so hypothesis can feed hundreds of
    examples without a Spark job each."""

    def __init__(self, words: list[str]):
        self.rows = [
            {"sym": "⟨" + "⟩⟨".join(w) + "⟩", "freq": n}
            for w, n in Counter(words).items()
        ]

    def select(self, *cols):
        return self

    def collect(self):
        return self.rows


@settings(max_examples=200, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=8), min_size=20, max_size=120
    ),
    k=st.integers(1, 40),
)
def test_incremental_trainer_matches_reference(words, k):
    """The incremental trainer (pair counts updated per merge, a heap with
    stale entries skipped, a pair → word-ids index) against the
    recount-every-step reference, on vocabs large enough that merges
    create and destroy pairs across many words: same pairs, same weighted
    counts, same (n DESC, l, r) tiebreaks, same per-step token counts, and
    the exhaustion error exactly where the reference runs out."""
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        bpe_train_pairs,
    )

    want = _ref_bpe(words, k)
    if len(want) < k:
        with pytest.raises(ValueError, match=f"exhausted after {len(want)} "):
            bpe_train_pairs(_Rows(words), k)
        return
    got = [
        (step, left + right, n, t)
        for step, left, right, n, t in bpe_train_pairs(_Rows(words), k)
    ]
    assert got == want, (words, k)


def test_each_merge_rewrites_only_the_words_holding_its_pair(spark, monkeypatch):
    """676 distinct two-letter words with distinct frequencies: each pair
    lives in exactly one word, so each of the 50 merges rewrites exactly
    one word (a recount-every-step loop rewrites all 676 per merge)."""
    import robi_biometric_qdrant_vector_db_service_spark.workload_pipeline as WP
    from robi_biometric_qdrant_vector_db_service_spark.session import local_frame

    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = local_frame(
        spark,
        [
            (a + b, f"⟨{a}⟩⟨{b}⟩", 1000 + i)
            for i, (a, b) in enumerate((a, b) for a in letters for b in letters)
        ],
        "word string, sym string, freq bigint",
    )
    calls = []
    real = WP._bpe_merge_word

    def counting(syms, left, right):
        calls.append((left, right))
        return real(syms, left, right)

    monkeypatch.setattr(WP, "_bpe_merge_word", counting)
    merges = WP.bpe_train_pairs(vocab, 50)
    assert len(merges) == 50
    assert len(calls) == 50
    # highest frequency first: "zz", "zy", ... each merged once
    assert [(lf, r) for _s, lf, r, _n, _t in merges] == calls
    assert merges[0][1:4] == ("z", "z", 1000 + 675)


def test_training_runs_one_collect_of_the_vocab(spark):
    """One ``bpe_train_pairs`` call over the sf0.01 documents vocab runs
    the Spark jobs of a plain collect of the vocab and no more."""
    from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import (
        load_table,
    )
    from robi_biometric_qdrant_vector_db_service_spark.workload_pipeline import (
        bpe_train_pairs,
    )
    from tests.conftest import SF_ORACLE, jobs_during

    docs = load_table(spark, SF_ORACLE, "documents")
    collect_jobs, _ = jobs_during(spark, lambda: word_vocab(docs).collect())
    train_jobs, merges = jobs_during(
        spark, lambda: bpe_train_pairs(word_vocab(docs), 8)
    )
    assert len(merges) == 8
    assert len(collect_jobs) == 2, collect_jobs
    assert len(train_jobs) == 2, train_jobs

