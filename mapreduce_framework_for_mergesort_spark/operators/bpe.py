"""Byte-pair-encoding tokenizer: corpus-trained merges, distributed apply.

The engine's other token counters are whitespace and regex proxies; real
LM pipelines budget in TOKENIZER tokens — so packing
(``sampling.pack_documents``), corpus token accounting, and mixture math
all want an actual trained subword vocabulary.  This is the classic BPE
of Sennrich et al. '16 ("Neural Machine Translation of Rare Words with
Subword Units"), split along the engine's standard scale seam:

* **Training** is driver-side over bounded metadata: ONE distributed
  word-count aggregation (the only corpus-sized step — a groupBy with
  map-side partials), then the top ``top_words`` (by count desc, word
  asc — total order, deterministic) are collected as the frequency
  dict the greedy merge loop runs on.  This is the same
  bounded-sample-to-driver pattern as the IVF/PQ k-means trainers:
  the collect is O(top_words), fixed by the index definition, never
  corpus-sized.  Merge selection is deterministic: max pair count,
  ties to the lexicographically smallest pair.
* **Application** is one map-only Arrow pass: the merge ranks ride the
  UDF closure (vocab-sized metadata).

Determinism end to end: training input is a totally-ordered top-K,
the merge loop breaks ties lexicographically, and application is a
pure function of (text, merges) — two engines or two runs agree
token-for-token, which is what lets token budgets be reproduced.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.functions import hashing as H

DEFAULT_NUM_MERGES = 200
DEFAULT_TOP_WORDS = 10_000

Merges = list[tuple[str, str]]


def word_counts(documents: DataFrame) -> DataFrame:
    """(word, n) corpus frequencies — the one distributed step of BPE
    training.  Uses the engine's canonical tokenizer so BPE words are
    exactly the tokens every other text operator sees."""
    return (
        documents.select(
            F.explode(F.expr(H.spark_tokens("text"))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _merge_word(sym: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    i, a, b = 0, pair[0], pair[1]
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def train_bpe(
    documents: DataFrame,
    num_merges: int = DEFAULT_NUM_MERGES,
    top_words: int = DEFAULT_TOP_WORDS,
) -> Merges:
    """Learn ``num_merges`` merge rules from the corpus → ordered merge
    list (the tokenizer model; persist it as you would any index
    metadata).  Stops early when no symbol pair reaches two weighted
    occurrences."""
    rows = (
        word_counts(documents)
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(top_words)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["word"]): r["n"] for r in rows
    }
    # Incremental pair bookkeeping (the standard learn-BPE shape): a
    # merge touches only the words CONTAINING the merged pair, so each
    # iteration costs O(affected words × their length) instead of
    # recomputing every pair count from the whole vocab — the
    # difference between seconds and hours at realistic (32k-merge)
    # vocab sizes.  Keys are symbol tuples; distinct words can never
    # collide (a tuple's concatenation is the original word).
    pairs: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[tuple[str, ...]]] = {}

    def _account(sym: tuple[str, ...], n: int) -> None:
        for i in range(len(sym) - 1):
            p = (sym[i], sym[i + 1])
            c = pairs.get(p, 0) + n
            if c:
                pairs[p] = c
            else:
                pairs.pop(p, None)
            if n > 0:
                where.setdefault(p, set()).add(sym)
            else:
                s = where.get(p)
                if s is not None:
                    s.discard(sym)
                    if not s:
                        del where[p]

    for sym, n in vocab.items():
        _account(sym, n)

    merges: Merges = []
    for _ in range(num_merges):
        if not pairs:
            break
        # deterministic: max count, ties to lexicographically smallest
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        merges.append(best[0])
        for sym in list(where.get(best[0], ())):
            n = vocab.pop(sym)
            _account(sym, -n)
            new = _merge_word(sym, best[0])
            vocab[new] = n
            _account(new, n)
    return merges


def segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word in rank order (the standard greedy BPE
    apply): repeatedly merge the lowest-rank adjacent pair present.
    Pure function — the Python reference the Arrow kernel and any
    future port are pinned against."""
    sym = tuple(word)
    while len(sym) > 1:
        ranked = [
            (ranks[p], i)
            for i, p in enumerate(zip(sym, sym[1:]))
            if p in ranks
        ]
        if not ranked:
            break
        _, i = min(ranked)
        sym = sym[:i] + (sym[i] + sym[i + 1],) + sym[i + 2 :]
    return list(sym)


def chunk_words_by_budget(
    counts: list[int], chunk_tokens: int, overlap_tokens: int
) -> list[tuple[int, int]]:
    """Word-boundary windows over per-word token counts — the pure
    spanning rule ``chunk_documents_bpe`` distributes.  Returns
    ``[start, end)`` word spans such that

    * each span's token sum ≤ ``chunk_tokens`` — except a single word
      that alone exceeds the budget, which becomes its own span (the
      chunker never splits a word, so this is the only way to make
      progress past it);
    * consecutive spans share a suffix/prefix of whole words whose
      token sum ≤ ``overlap_tokens`` — the LARGEST such suffix THAT
      STILL LETS THE NEXT WINDOW COVER NEW WORDS (may be 0 words if
      even the last word of the previous span exceeds the budget, or
      if carrying it would crowd every fresh word out of the next
      window's token budget — the stall a Hypothesis run caught: a
      window fully contained in its predecessor is pure redundancy);
    * ends strictly increase (every span covers at least one new
      word), starts strictly increase, and spans cover every word:
      next_start ≤ previous_end.

    Empty input → no spans.  Pure function; the Arrow kernel and the
    tests' literal Python reference both call or replicate exactly
    this."""

    def extent(s: int) -> int:
        e, tot = s, 0
        while e < n and (e == s or tot + counts[e] <= chunk_tokens):
            tot += counts[e]
            e += 1
        return e

    spans: list[tuple[int, int]] = []
    n = len(counts)
    s = 0
    while s < n:
        e = extent(s)
        if spans and e <= spans[-1][1]:
            # stalled: the carried overlap crowds out every new word —
            # shed overlap one word at a time (greedy extent is
            # monotone in the start, so the first progressing start is
            # the maximal overlap subject to progress)
            s += 1
            continue
        spans.append((s, e))
        if e >= n:
            break
        s2, otot = e, 0
        while s2 - 1 > s and otot + counts[s2 - 1] <= overlap_tokens:
            otot += counts[s2 - 1]
            s2 -= 1
        s = s2
    return spans


def chunk_documents_bpe(
    documents: DataFrame,
    merges: Merges,
    chunk_tokens: int = 128,
    overlap_tokens: int = 32,
) -> DataFrame:
    """Tokenizer-TRUE sliding-window chunking: windows budgeted in
    trained-BPE tokens (``text.chunk_documents`` counts whitespace
    words — fine for audits, wrong for a model whose context window is
    measured in learned subwords).  Chunks break at word boundaries
    (never mid-word): each window greedily takes whole words while its
    BPE-token sum fits ``chunk_tokens``, and neighbors share the
    largest whole-word suffix whose token sum fits ``overlap_tokens``
    (``chunk_words_by_budget``).

    Output: (doc_id, chunk_idx, chunk_text, n_chunk_tokens) —
    ``n_chunk_tokens`` is the chunk's BPE token count, the number an
    embedding/pretraining consumer budgets against.

    100 TB shape: ONE map-only Arrow pass (``mapInPandas``), zero
    shuffles/joins — same plan pin as the whitespace chunker.  The
    merge ranks ride the closure (vocab-sized metadata)."""
    if overlap_tokens < 0 or chunk_tokens <= overlap_tokens:
        raise ValueError(
            f"need 0 <= overlap ({overlap_tokens}) < chunk "
            f"({chunk_tokens}) for forward progress"
        )
    ranks = {p: i for i, p in enumerate(merges)}
    token_re = H.tokenize  # script-aware shared tokenizer (round 12)
    schema = (
        "doc_id bigint, chunk_idx bigint, chunk_text string, "
        "n_chunk_tokens bigint"
    )

    def gen(batches):
        # per partition iterator: each word type segments once per task
        counts_of = H.Memo(lambda w: len(segment_word(w, ranks)))
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            texts: list[str] = []
            ntoks: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = token_re(text or "")
                counts = [counts_of[w] for w in words]
                # prefix sums: span token totals in O(1) each
                pre = [0]
                for c in counts:
                    pre.append(pre[-1] + c)
                for i, (s, e) in enumerate(
                    chunk_words_by_budget(
                        counts, chunk_tokens, overlap_tokens
                    )
                ):
                    ids.append(doc_id)
                    idxs.append(i)
                    texts.append(" ".join(words[s:e]))
                    ntoks.append(pre[e] - pre[s])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "chunk_idx": pd.Series(idxs, dtype="int64"),
                    "chunk_text": pd.Series(texts, dtype="object"),
                    "n_chunk_tokens": pd.Series(ntoks, dtype="int64"),
                }
            )

    return documents.select("doc_id", "text").mapInPandas(gen, schema)
