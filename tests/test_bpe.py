"""BPE tokenizer: the textbook merge sequence, greedy application,
determinism, and the distributed count plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.operators import bpe as B
from tests import references as R


def _toy_corpus(spark):
    # the Sennrich et al. example frequencies: low*5 lower*2 newest*6
    # widest*3 — one word per doc is fine, counts weight the pairs
    rows, i = [], 0
    for w, n in (("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)):
        for _ in range(n):
            rows.append((i, w))
            i += 1
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_train_bpe_textbook_merge_sequence(spark):
    """Weighted pair counts: es(9) -> est(9) -> lo(7) -> low(7) ->
    ew(6, lexicographic among the 6-count ties) — the classic example,
    with the deterministic tie rule made observable."""
    merges = B.train_bpe(_toy_corpus(spark), num_merges=5)
    assert merges == [
        ("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w"),
    ]


def test_segment_word_greedy_by_rank(spark):
    merges = B.train_bpe(_toy_corpus(spark), num_merges=4)
    ranks = {p: i for i, p in enumerate(merges)}
    assert B.segment_word("lowest", ranks) == ["low", "est"]
    assert B.segment_word("lower", ranks) == ["low", "e", "r"]
    assert B.segment_word("newest", ranks) == ["n", "e", "w", "est"]
    assert B.segment_word("", ranks) == []
    assert B.segment_word("zz", {}) == ["z", "z"]


def test_bpe_distributed_apply_matches_reference(spark):
    """The Arrow count kernel over a multi-word corpus must equal the
    pure segment_word reference applied word-by-word (plumbing:
    tokenizer split, memoization, empty docs)."""
    merges = B.train_bpe(_toy_corpus(spark), num_merges=4)
    ranks = {p: i for i, p in enumerate(merges)}
    texts = [(1, "lowest newest"), (2, "low low widest"), (3, "")]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", R.bpe_count_udf(merges)(F.col("text")).alias("n")
        ).collect()
    }
    from mapreduce_framework_for_mergesort_spark.functions.hashing import (
        tokenize,
    )

    for doc_id, text in texts:
        want = sum(len(B.segment_word(w, ranks)) for w in tokenize(text))
        assert got[doc_id] == want, doc_id


def test_bpe_train_deterministic_and_counts_compress(spark, sf_oracle):
    """Training on the real corpus is run-to-run deterministic, and the
    trained vocabulary compresses: per-doc BPE token counts sit between
    the word count (every merge can only join, not split, within a
    word) and the character count."""
    # orderBy before limit: an unordered LIMIT is not contractually
    # deterministic across re-executions
    docs = load_table(spark, sf_oracle, "documents").orderBy("doc_id").limit(200)
    m1 = B.train_bpe(docs, num_merges=30, top_words=2000)
    m2 = B.train_bpe(docs, num_merges=30, top_words=2000)
    assert m1 == m2 and len(m1) == 30
    joined = (
        docs.select(
            "doc_id",
            R.bpe_count_udf(m1)(F.col("text")).alias("n_bpe_tokens"),
        )
        .join(
            docs.select(
                "doc_id",
                F.expr(
                    "size(filter(split(text, '[ \\t\\n\\f\\r]+'),"
                    " t -> t != ''))"
                ).alias("n_words"),
                F.length(F.regexp_replace("text", r"[ \t\n\f\r]", ""))
                .alias("n_nonspace_chars"),
            ),
            "doc_id",
        )
        .collect()
    )
    assert joined
    for r in joined:
        assert r["n_words"] <= r["n_bpe_tokens"] <= r["n_nonspace_chars"], r


def test_incremental_trainer_equals_naive_recompute(spark, sf_oracle):
    """The incremental pair bookkeeping must reproduce the naive
    recompute-everything trainer merge-for-merge on real data (guards
    the add/remove accounting)."""
    docs = load_table(spark, sf_oracle, "documents").orderBy("doc_id").limit(80)
    got = B.train_bpe(docs, num_merges=25, top_words=500)

    rows = (
        B.word_counts(docs)
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(500)
        .collect()
    )
    vocab = {tuple(r["word"]): r["n"] for r in rows}
    want = []
    for _ in range(25):
        pairs: dict = {}
        for sym, n in vocab.items():
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        want.append(best[0])
        vocab = {B._merge_word(s, best[0]): n for s, n in vocab.items()}
    assert got == want


def test_bpe_counts_feed_sequence_packing(spark):
    """BPE counts compose with pack_documents(count_col=...) —
    tokenizer-true packing, token-conserving."""
    from mapreduce_framework_for_mergesort_spark.operators import sampling

    docs = _toy_corpus(spark)
    merges = B.train_bpe(docs, num_merges=4)
    counted = docs.withColumn(
        "n_bpe_tokens", R.bpe_count_udf(merges)(F.col("text"))
    )
    packed = sampling.pack_documents(
        counted, budget=4, count_col="n_bpe_tokens"
    )
    rows = packed.collect()
    assert sum(r["n_tokens"] for r in rows) == sum(
        r["n_bpe_tokens"] for r in counted.collect()
    )
    assert all(0 <= r["pack_offset"] < 4 for r in rows)


def _literal_bpe_chunks(docs, merges, chunk, overlap):
    """Independent straight-line reference: for each doc, walk the
    words with explicit running sums (no shared helper, no prefix
    arrays) and emit (doc_id, chunk_idx, chunk_text, n_chunk_tokens)."""
    from mapreduce_framework_for_mergesort_spark.functions.hashing import (
        tokenize,
    )

    ranks = {p: i for i, p in enumerate(merges)}
    out = []
    for doc_id, text in docs:
        words = tokenize(text or "")
        counts = [len(B.segment_word(w, ranks)) for w in words]
        s, idx, last_e = 0, 0, -1
        while s < len(words):
            e = s + 1  # a window always takes its first word
            tot = counts[s]
            while e < len(words) and tot + counts[e] <= chunk:
                tot += counts[e]
                e += 1
            if e <= last_e:  # stalled on carried overlap: shed a word
                s += 1
                continue
            out.append((doc_id, idx, " ".join(words[s:e]), tot))
            idx += 1
            last_e = e
            if e >= len(words):
                break
            ns = e
            osum = 0
            while ns - 1 > s and osum + counts[ns - 1] <= overlap:
                osum += counts[ns - 1]
                ns -= 1
            s = ns
    return sorted(out)


def test_bpe_chunker_matches_literal_reference_on_real_corpus(
    spark, sf_oracle
):
    """chunk_documents_bpe over the real documents table equals the
    literal Python walk row-for-row, and the plan is map-only (zero
    exchanges — the same pin the whitespace chunker carries)."""
    from mapreduce_framework_for_mergesort_spark.plans import audit

    docs = load_table(spark, sf_oracle, "documents")
    merges = B.train_bpe(docs, num_merges=40, top_words=2000)
    out = B.chunk_documents_bpe(
        docs, merges, chunk_tokens=24, overlap_tokens=6
    )
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
        for r in out.collect()
    )
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _literal_bpe_chunks(rows, merges, chunk=24, overlap=6)
    assert got == want and len(got) > 0
    a = audit(out)
    assert a.exchanges == 0, a.text


def test_bpe_chunker_invariants_and_edges(spark):
    """Spanning-rule contract: budget respected except single oversized
    words, maximal whole-word overlap within budget, strictly
    increasing starts, full coverage; empty docs emit nothing; a
    too-large overlap is rejected."""
    import pytest

    merges = B.train_bpe(_toy_corpus(spark), num_merges=4)
    ranks = {p: i for i, p in enumerate(merges)}

    def extent(counts, s, chunk):
        e, tot = s, 0
        while e < len(counts) and (e == s or tot + counts[e] <= chunk):
            tot += counts[e]
            e += 1
        return e

    # pure-rule invariants across a grid of budgets and count shapes
    for counts in (
        [], [1], [7], [2, 3, 2, 5, 1, 1, 4], [5, 5, 5], [1] * 20,
        [1, 1, 3],  # the Hypothesis-found stall shape
    ):
        for chunk, overlap in ((5, 2), (5, 0), (3, 1), (10, 4)):
            spans = B.chunk_words_by_budget(counts, chunk, overlap)
            if not counts:
                assert spans == []
                continue
            assert spans[0][0] == 0 and spans[-1][1] == len(counts)
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert s1 < s2 <= e1 < e2  # progress + coverage + new words
                assert sum(counts[s2:e1]) <= overlap  # overlap budget
                if s2 > s1 + 1:
                    # maximal shared suffix — within budget, unless a
                    # wider one would stall the window (no new words)
                    assert (
                        sum(counts[s2 - 1 : e1]) > overlap
                        or extent(counts, s2 - 1, chunk) <= e1
                    )
            for s, e in spans:
                assert e > s
                assert sum(counts[s:e]) <= chunk or e == s + 1

    docs = spark.createDataFrame(
        [(1, "low lower newest widest low"), (2, ""), (3, "newest")],
        ["doc_id", "text"],
    )
    rows = B.chunk_documents_bpe(
        docs, merges, chunk_tokens=4, overlap_tokens=1
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 2 not in by_doc  # empty doc -> no chunks
    assert [r["chunk_text"] for r in by_doc[3]] == ["newest"]
    # every chunk's token count is the true BPE count of its text
    for r in rows:
        from mapreduce_framework_for_mergesort_spark.functions.hashing import (
            tokenize,
        )

        true = sum(
            len(B.segment_word(w, ranks))
            for w in tokenize(r["chunk_text"])
        )
        assert r["n_chunk_tokens"] == true

    with pytest.raises(ValueError):
        B.chunk_documents_bpe(docs, merges, chunk_tokens=4, overlap_tokens=4)


def test_chunk_words_by_budget_hypothesis():
    """Property-test the pure spanning rule across random count
    vectors and budgets: coverage, progress, budget, maximal overlap —
    the same invariants as the grid test, but adversarially searched."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def extent(counts, s, chunk):
        e, tot = s, 0
        while e < len(counts) and (e == s or tot + counts[e] <= chunk):
            tot += counts[e]
            e += 1
        return e

    @settings(max_examples=300, deadline=None)
    @given(
        counts=st.lists(st.integers(1, 9), max_size=40),
        chunk=st.integers(2, 12),
        overlap_frac=st.integers(0, 99),
    )
    def check(counts, chunk, overlap_frac):
        overlap = (chunk - 1) * overlap_frac // 100
        spans = B.chunk_words_by_budget(counts, chunk, overlap)
        if not counts:
            assert spans == []
            return
        assert spans[0][0] == 0 and spans[-1][1] == len(counts)
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s1 < s2 <= e1 < e2
            assert sum(counts[s2:e1]) <= overlap
            if s2 > s1 + 1:
                assert (
                    sum(counts[s2 - 1 : e1]) > overlap
                    or extent(counts, s2 - 1, chunk) <= e1
                )
        for s, e in spans:
            assert sum(counts[s:e]) <= chunk or e == s + 1

    check()
