"""Dedup / similarity / text / multimodal: oracle parity + behavior tests
on synthetic duplicates (the fixture corpus has no exact dups)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark import sizing
from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.operators import dedup as D
from mapreduce_framework_for_mergesort_spark.operators import similarity as S
from mapreduce_framework_for_mergesort_spark.queries import ORACLE, QUERIES
from mapreduce_framework_for_mergesort_spark.sources import multimodal as M

from tests import references as R
from tests.oracle import compare_query


def _jpeg_pixels(payload: bytes) -> tuple[int, int, list[int]]:
    w, h, px = M._jpeg_pixels_array(payload)
    return w, h, [int(v) for v in px]


def _jpeg_rgb(payload: bytes) -> tuple[int, int, list]:
    w, h, rgb = M._jpeg_rgb_array(payload)
    return w, h, rgb.tolist()

# Round-2 consolidation: q_token_count/q_quality_score/q_regex_funcs →
# q_text_doc_profile; q_fingerprint → q_lang_id; q_dedup_minhash_bands'
# index math is verified through q_dedup_minhash_pairs' oracle and the
# direct band test below; q_multimodal_features gained a full oracle.
ORACLE_KEYS = [
    "q_dedup_exact",
    "q_dedup_minhash_pairs",
    "q_dedup_simhash",
    "q_dedup_ngram_jaccard",
    "q_dedup_embedding",
    "q_embed_topk_sim",
    "q_text_stats",
    "q_text_doc_profile",
    "q_lang_id",
    "q_tfidf_top_terms",
    "q_embed_ivf_topk",
    "q_embed_ann_lsh",
    "q_multimodal_binary",
    "q_multimodal_features",
    "q_multimodal_frames",
]


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_parity(spark, sf_oracle, name):
    compare_query(spark, name, sf_oracle, QUERIES, ORACLE)


@pytest.fixture(scope="module")
def corpus_with_dups(spark):
    """Documents plus near/exact duplicates so dedup is non-trivial."""
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = "the quick brown fox jumps over the lazy dog again and again yes"
    other = "completely different content about spark shuffles and sort merges"
    rows = [
        (1, base),
        (2, base),          # exact dup of 1
        (3, near),          # near dup of 1
        (4, other),
        (5, "tiny doc"),    # < 3 tokens → no shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_survivor_deterministic(corpus_with_dups):
    groups = D.exact_dup_groups(corpus_with_dups).collect()
    by_text = {r["text"]: r for r in groups}
    dup = [r for r in groups if r["dup_count"] > 1]
    assert len(dup) == 1 and dup[0]["keep_doc_id"] == 1
    assert len(by_text) == 4


def test_minhash_lsh_finds_near_dups(corpus_with_dups):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(D.minhash_bands(corpus_with_dups)).collect()
    }
    assert (1, 2) in pairs  # exact dup always collides
    assert (3, 4) not in pairs and (1, 4) not in pairs  # unrelated don't
    # near-dup (1,3): 12 words differ in the last → most bands collide
    assert (1, 3) in pairs


def test_ngram_jaccard_values(corpus_with_dups):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(corpus_with_dups, 0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0


def test_cluster_pairs_transitive_closure(spark):
    """A~B and B~C must land in ONE cluster even though (A,C) was never
    a pair — the chain case pair-level dedup can't handle.  Also: a
    second component, and nodes with no pairs become singletons."""
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], ["doc_a", "doc_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in (10, 20, 30, 40, 50, 60)], ["doc_id"])
    got = {
        r["node"]: r["cluster"]
        for r in D.cluster_pairs(pairs, nodes=nodes).collect()
    }
    assert got == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40, 60: 60}
    surv = {
        r["keep_doc_id"]: r["cluster_size"]
        for r in D.cluster_survivors(D.cluster_pairs(pairs, nodes=nodes)).collect()
    }
    assert surv == {10: 3, 40: 2, 60: 1}


def test_cluster_pairs_long_chain_converges(spark):
    """A 12-node path graph (worst case for min propagation: the label
    must walk the full diameter) still reaches the exact fixpoint."""
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    got = {r["node"]: r["cluster"] for r in D.cluster_pairs(pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_cluster_pairs_default_nodes_from_pairs(corpus_with_dups):
    """Without an explicit vertex set, clustering covers exactly the
    docs that appear in some pair; survivors follow the min rule."""
    pairs = D.lsh_candidate_pairs(D.minhash_bands(corpus_with_dups))
    got = {r["node"]: r["cluster"] for r in D.cluster_pairs(pairs).collect()}
    # 1~2 (exact) and 1~3 (near) → one cluster rooted at 1
    assert got[1] == got[2] == got[3] == 1
    assert 5 not in got  # shingle-less doc never pairs


def test_near_dedup_documents_keeps_one_per_cluster(corpus_with_dups):
    kept = sorted(
        r["doc_id"] for r in D.near_dedup_documents(corpus_with_dups).collect()
    )
    # docs 1/2/3 are one near-dup cluster → only 1 survives; 4 and 5
    # have no near-dups → survive as singletons
    assert kept == [1, 4, 5]


@pytest.fixture(scope="module")
def paraphrase_corpus(spark):
    """Docs 2/3 are lexical near-dups of each other; doc 2 is a
    PARAPHRASE of doc 1 — zero shingle overlap (MinHash can't pair
    them) but near-identical embeddings.  The full duplicate chain
    1~2~3 is only visible when the lexical and semantic tiers feed one
    clustering."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat by the door this morning ok"),
            (2, "a feline rested upon a rug near an entrance at dawn"),
            (3, "a feline rested upon a rug near an entrance at dusk"),
            (4, "completely unrelated text about spark shuffle mechanics"),
        ],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.1]),
            (2, [0.99, 0.01, 0.0, 0.1]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    return docs, emb


def test_embedding_tier_collapses_paraphrase_chain(paraphrase_corpus):
    docs, emb = paraphrase_corpus
    # MinHash alone: only the lexical pair (2,3) collapses
    lex_only = sorted(
        r["doc_id"] for r in D.near_dedup_documents(docs).collect()
    )
    assert lex_only == [1, 2, 4]
    # + embedding tier: the semantic pair (1,2) joins the chain → one
    # survivor for {1,2,3}
    both = sorted(
        r["doc_id"]
        for r in D.near_dedup_documents(
            docs,
            tiers=("minhash", "embedding"),
            embeddings=emb,
            embed_cells=1,
        ).collect()
    )
    assert both == [1, 4]


def test_near_dup_pair_tiers_validation(paraphrase_corpus):
    docs, _ = paraphrase_corpus
    with pytest.raises(ValueError):
        D.near_dup_pair_tiers(docs, tiers=("minhash", "bogus"))
    with pytest.raises(ValueError):
        D.near_dup_pair_tiers(docs, tiers=("embedding",))  # no embeddings
    with pytest.raises(ValueError):
        D.near_dup_pair_tiers(docs, tiers=())


def test_embedding_tier_cannot_resurrect_filtered_doc(paraphrase_corpus):
    """A vector whose document was filtered out upstream must not
    produce pairs (or become a cluster survivor): the tier semi-joins
    embeddings against the surviving documents first."""
    docs, emb = paraphrase_corpus
    no1 = docs.where("doc_id != 1")  # doc 1 filtered upstream
    kept = sorted(
        r["doc_id"]
        for r in D.near_dedup_documents(
            no1, tiers=("minhash", "embedding"), embeddings=emb,
            embed_cells=1,
        ).collect()
    )
    # 2~3 lexical collapse → 2 survives; had vec 1 leaked in, the
    # cluster min (=1) would be a doc absent from the corpus and the
    # whole cluster would vanish
    assert kept == [2, 4]


def test_curation_pipeline_with_embedding_tier(paraphrase_corpus):
    from mapreduce_framework_for_mergesort_spark import pipelines

    docs, emb = paraphrase_corpus
    out = pipelines.curate_documents(
        docs,
        min_quality=0.0,
        langs=("en", "und"),
        redact=False,
        dedup_tiers=("minhash", "embedding"),
        embeddings=emb,
        embed_cells=1,
    )
    rows = out.collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 4]
    assert {r["split"] for r in rows} <= {"train", "val", "test"}


def test_curation_pipeline_cluster_cap(spark):
    """``cluster_cap=`` caps each embedding k-means cell after dedup:
    a dominant topic cluster (many distinct, non-duplicate docs with
    near-identical embeddings) is cut to the cap while the small
    cluster passes through whole; without the knob everything
    survives.  Missing-embedding docs form their own stratum instead
    of dropping."""
    from mapreduce_framework_for_mergesort_spark import pipelines

    # 12 distinct docs in topic A (one embedding cell), 2 in topic B;
    # no near-duplicates anywhere — dedup removes nothing.
    texts_a = [
        (i, f"the quick brown fox number {i} jumps over the lazy dog "
            f"variant {i * 7} with plenty of distinct filler words "
            + " ".join(f"tok{i}{j}" for j in range(8)))
        for i in range(12)
    ]
    texts_b = [
        (100, "spark shuffle mechanics explained for the curious reader"),
        (101, "catalyst optimizer internals and adaptive query execution"),
    ]
    # round 12: phrased so the trigram lang-id scores it 'en'
    no_emb = [(200, "the document with no embedding row at all that "
                    "still appears here")]
    docs = spark.createDataFrame(
        texts_a + texts_b + no_emb, ["doc_id", "text"]
    )
    emb = spark.createDataFrame(
        [(i, [1.0, float(i) * 1e-3, 0.0, 0.0]) for i in range(12)]
        + [(100, [0.0, 0.0, 1.0, 0.0]), (101, [0.0, 0.0, 0.99, 0.01])],
        "vec_id: bigint, embedding: array<float>",
    )
    kwargs = dict(
        min_quality=0.0, langs=("en", "und"), redact=False,
        embeddings=emb, embed_cells=2,
    )
    uncapped = pipelines.curate_documents(docs, **kwargs).collect()
    assert len(uncapped) == 15
    capped = pipelines.curate_documents(
        docs, cluster_cap=5, **kwargs
    ).collect()
    ids = sorted(r["doc_id"] for r in capped)
    a_kept = [i for i in ids if i < 100]
    assert len(a_kept) == 5  # dominant cell cut to the cap
    assert [i for i in ids if 100 <= i < 200] == [100, 101]
    assert 200 in ids  # no-embedding doc survives in its own stratum
    with pytest.raises(ValueError, match="cluster_cap"):
        pipelines.curate_documents(
            docs, min_quality=0.0, redact=False, cluster_cap=5
        )


def test_curation_pipeline_decontaminates_before_dedup(paraphrase_corpus):
    """``benchmark=`` drops contaminated docs BEFORE dedup, so when the
    contaminated doc would have been a cluster's survivor, a clean
    near-duplicate survives in its place (instead of the whole cluster
    shipping nothing).  Composition is pinned equal to running
    ``decontaminate`` manually before the same pipeline."""
    from mapreduce_framework_for_mergesort_spark import pipelines

    docs, _ = paraphrase_corpus
    # one 8-gram, unique to doc 2's tail ('...at dawn' vs doc 3's
    # '...at dusk') — flags doc 2 only, not its near-dup doc 3
    bench = docs.sparkSession.createDataFrame(
        [("upon a rug near an entrance at dawn",)], "text: string"
    )
    kw = dict(min_quality=0.0, langs=("en", "und"), redact=False)
    without = pipelines.curate_documents(docs, **kw)
    assert sorted(r["doc_id"] for r in without.collect()) == [1, 2, 4]
    with_bench = pipelines.curate_documents(docs, benchmark=bench, **kw)
    # doc 2 (contaminated, was the 2~3 survivor) is gone; its clean
    # near-dup doc 3 survives in its place
    assert sorted(r["doc_id"] for r in with_bench.collect()) == [1, 3, 4]
    manual = pipelines.curate_documents(
        D.decontaminate(docs, bench), **kw
    )
    assert {(r["doc_id"], r["split"]) for r in with_bench.collect()} == {
        (r["doc_id"], r["split"]) for r in manual.collect()
    }


def test_prepare_training_shards_end_to_end(spark, sf_oracle, tmp_path):
    """Corpus → shards: split-scoped packing (no sequence straddles a
    split), in-order shard layout, token-conserving manifest, and a
    bit-identical rerun."""
    import math

    from mapreduce_framework_for_mergesort_spark import pipelines

    docs = load_table(spark, sf_oracle, "documents")
    out = str(tmp_path / "shards")
    man = pipelines.prepare_training_shards(
        docs, out, budget=512, shards_per_split=2, min_quality=0.3
    )
    assert set(man["splits"]) == {"train", "val", "test"}
    seen_ids: set[int] = set()
    for split, info in man["splits"].items():
        back = spark.read.parquet(info["path"])
        rows = back.select("doc_id", "n_tokens", "pack_id", "pack_offset").collect()
        assert len(rows) == info["docs"] > 0
        assert sum(r["n_tokens"] for r in rows) == info["tokens"]
        # packs = ceil(tokens / budget); the last doc may merely
        # STRADDLE into the final pack without starting there, so
        # max(pack_id) is allowed to be one less
        assert info["packs"] == math.ceil(info["tokens"] / 512)
        assert max(r["pack_id"] for r in rows) + 1 in (
            info["packs"], info["packs"] - 1,
        )
        ids = {r["doc_id"] for r in rows}
        assert not (ids & seen_ids)  # splits are disjoint
        seen_ids |= ids
        # every pack_offset is a real concatenation offset
        assert all(0 <= r["pack_offset"] < 512 for r in rows)
    # rerun is identical end to end (deterministic pipeline)
    again = pipelines.prepare_training_shards(
        docs, str(tmp_path / "shards2"), budget=512, shards_per_split=2,
        min_quality=0.3,
    )
    assert {s: {k: v for k, v in i.items() if k != "path"}
            for s, i in again["splits"].items()} == \
           {s: {k: v for k, v in i.items() if k != "path"}
            for s, i in man["splits"].items()}


def test_curation_pipeline_end_to_end(spark, sf_oracle):
    """The composed pipeline must (a) run scale-shaped end-to-end on
    real documents, (b) only keep docs passing the filters, (c) emit
    disjoint deterministic splits, (d) contain no duplicate texts."""
    from mapreduce_framework_for_mergesort_spark import pipelines

    docs = load_table(spark, sf_oracle, "documents")
    out = pipelines.curate_documents(docs, min_quality=0.3)
    rows = out.collect()
    assert 0 < len(rows) < docs.count()
    assert set(out.columns) == set(docs.columns) | {"split"}
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    texts = [r["text"] for r in rows]
    assert len(texts) == len(set(texts))  # exact dups are gone too
    # rerun is bit-identical (deterministic end to end)
    again = {(r["doc_id"], r["split"]) for r in
             pipelines.curate_documents(docs, min_quality=0.3).collect()}
    assert again == {(r["doc_id"], r["split"]) for r in rows}


def test_curation_leakage_safe_split_composed(spark):
    """Round 6: ``curate_documents(split_mode='leakage_safe')``.  With a
    RELAXED dedup configuration (semantic-only tier whose strict
    ``embed_tau`` misses a lexical near-dup pair), both members survive
    dedup — under the default hash split they straddle train/test (the
    texts are crafted so their content buckets route apart); under
    ``leakage_safe`` the split's lexical routing floor puts the pair in
    ONE split, rerun- and partitioning-stable."""
    import hashlib

    from mapreduce_framework_for_mergesort_spark import pipelines
    from mapreduce_framework_for_mergesort_spark.operators import (
        sampling as S,
    )

    def bucket(text: str) -> str:
        h = hashlib.md5(text.encode()).hexdigest()[:2]
        for name, ub in S.split_boundaries()[:-1]:
            if h < ub:
                return name
        return S.split_boundaries()[-1][0]

    base = (
        "the quick brown fox jumps over the lazy dog and then the "
        "fox runs into the forest with all of the other animals %s"
    )
    a_text = base % "today"
    # craft B: a near-dup of A (one differing trailing token) whose
    # content-hash bucket lands in a DIFFERENT split than A's
    b_text = next(
        base % f"now{i}"
        for i in range(1000)
        if bucket(base % f"now{i}") != bucket(a_text)
    )
    fillers = [
        (10 + i, f"completely different document number {i} about the "
                 f"spark shuffles and the sorting windows of {i}")
        for i in range(6)
    ]
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text)] + fillers, ["doc_id", "text"]
    )
    # orthogonal unit vectors: cosine(A, B) = 0 < embed_tau, so the
    # semantic tier cannot collapse the lexical near-dup pair
    emb = spark.createDataFrame(
        [(i, [1.0 if j == n else 0.0 for j in range(8)])
         for n, i in enumerate([1, 2] + [f[0] for f in fillers])],
        "vec_id: bigint, embedding: array<float>",
    )
    kwargs = dict(
        min_quality=0.0,
        dedup_tiers=("embedding",),
        embeddings=emb,
        embed_tau=0.95,
        embed_cells=2,
    )
    # relaxed dedup: both near-dups survive, and the hash split
    # demonstrably strands them apart
    hash_out = {
        r["doc_id"]: r["split"]
        for r in pipelines.curate_documents(docs, **kwargs).collect()
    }
    assert 1 in hash_out and 2 in hash_out
    assert hash_out[1] != hash_out[2]  # the leakage mode being closed

    safe = pipelines.curate_documents(
        docs, split_mode="leakage_safe", **kwargs
    )
    safe_out = {r["doc_id"]: r["split"] for r in safe.collect()}
    assert set(safe_out) == set(hash_out)  # survivor set unchanged
    assert safe_out[1] == safe_out[2]  # near-dup pair travels together
    assert set(safe.columns) == set(docs.columns) | {"split"}

    # rerun- and partitioning-stable
    again = {
        r["doc_id"]: r["split"]
        for r in pipelines.curate_documents(
            docs.repartition(7), split_mode="leakage_safe", **kwargs
        ).collect()
    }
    assert again == safe_out


def test_prepare_training_shards_leakage_safe(spark, sf_oracle, tmp_path):
    """The shard pipeline accepts ``split_mode='leakage_safe'`` through
    its curation kwargs and stays deterministic end to end."""
    from mapreduce_framework_for_mergesort_spark import pipelines

    docs = load_table(spark, sf_oracle, "documents").limit(200)
    man = pipelines.prepare_training_shards(
        docs, str(tmp_path / "s1"), budget=512, shards_per_split=2,
        min_quality=0.3, split_mode="leakage_safe",
    )
    assert all(i["docs"] > 0 for i in man["splits"].values())
    again = pipelines.prepare_training_shards(
        docs, str(tmp_path / "s2"), budget=512, shards_per_split=2,
        min_quality=0.3, split_mode="leakage_safe",
    )
    strip = lambda m: {s: {k: v for k, v in i.items() if k != "path"}
                       for s, i in m["splits"].items()}
    assert strip(again) == strip(man)
    # row-level determinism, not just counts
    r1 = sorted(map(tuple, spark.read.parquet(
        man["splits"]["train"]["path"]).collect()))
    r2 = sorted(map(tuple, spark.read.parquet(
        again["splits"]["train"]["path"]).collect()))
    assert r1 == r2


def test_prepare_training_shards_quarantines_straddlers(spark, tmp_path):
    """Round-7 verdict item 4: the stable split router leaves
    structural straddles (a bridge doc merging clusters whose members
    were already shipped to different splits) in place, and nothing
    acted on them.
    ``prepare_training_shards(quarantine_straddlers=True,
    split_mode='stable')`` now drops a straddling cluster's VAL/TEST
    members before packing (train members kept — train is the safe
    side) and records the drop in the manifest.

    Scenario: docs 1 (X) and 2 (Y) are shipped train/test in batch 1;
    batch 2 adds bridge doc 3 that band-collides with both.  The
    embedding dedup tier sees no pairs (orthogonal vectors), so all
    three SURVIVE dedup while the routing floor clusters them together
    — the exact widened-routing case where a straddle exists at
    survivor grain."""
    from mapreduce_framework_for_mergesort_spark import pipelines
    from mapreduce_framework_for_mergesort_spark.operators import (
        sampling as SA,
    )

    SPLIT_X = ("alpha zebra charlie delta echo foxtrot golf hotel india "
               "juliet kilo lima mike")
    SPLIT_Y = ("alpha bravo charlie delta echo foxtrot golf hotel tango "
               "juliet kilo lima mike")
    SPLIT_BRIDGE = ("alpha bravo charlie delta echo foxtrot golf hotel "
                    "india juliet kilo lima mike")
    HALVES = [("train", 0.5), ("test", 0.5)]

    state = str(tmp_path / "split_state")
    docs1 = spark.createDataFrame(
        [(1, SPLIT_X), (2, SPLIT_Y)], ["doc_id", "text"]
    )
    a1 = {
        r["doc_id"]: r["split"]
        for r in SA.assign_splits_stable(docs1, state, HALVES).collect()
    }
    assert a1 == {1: "train", 2: "test"}  # the shipped batch-1 state

    docs2 = spark.createDataFrame(
        [(1, SPLIT_X), (2, SPLIT_Y), (3, SPLIT_BRIDGE)],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]),
         (2, [0.0, 1.0, 0.0, 0.0]),
         (3, [0.0, 0.0, 1.0, 0.0])],
        "vec_id: bigint, embedding: array<float>",
    )
    langs = tuple(sorted({
        r["pred_lang"]
        for r in pipelines.with_curation_features(docs2).collect()
    }))
    kwargs = dict(
        budget=64, shards_per_split=1, splits=HALVES,
        min_quality=0.0, langs=langs, split_mode="stable",
        split_state_path=state, dedup_tiers=("embedding",),
        embeddings=emb,
    )

    man = pipelines.prepare_training_shards(
        docs2, str(tmp_path / "q"), quarantine_straddlers=True, **kwargs
    )
    assert man["quarantine"] == {
        "straddling_clusters": 1,
        "docs_quarantined_from_eval": 2,
        "kept_in": "train",
    }
    train_ids = {
        r["doc_id"]
        for r in spark.read.parquet(
            man["splits"]["train"]["path"]
        ).collect()
    }
    assert train_ids == {1}  # the train-side member ships
    assert man["splits"]["test"]["docs"] == 0  # 2 and 3 quarantined
    # routing metadata never reaches a shard file
    assert "split_cluster" not in spark.read.schema(
        spark.read.parquet(man["splits"]["train"]["path"]).schema
    ).parquet(man["splits"]["train"]["path"]).columns

    # without the knob the straddle ships to eval — and the manifest
    # carries no quarantine key (auditable difference)
    man2 = pipelines.prepare_training_shards(
        docs2, str(tmp_path / "noq"), quarantine_straddlers=False,
        **kwargs
    )
    assert "quarantine" not in man2
    test_ids = {
        r["doc_id"]
        for r in spark.read.parquet(
            man2["splits"]["test"]["path"]
        ).collect()
    }
    assert test_ids == {2, 3}

    # the knob refuses routers that cannot produce straddles
    with pytest.raises(ValueError, match="split_mode='stable'"):
        pipelines.prepare_training_shards(
            docs2, str(tmp_path / "bad"), quarantine_straddlers=True,
            budget=64, min_quality=0.0, langs=langs,
        )

    # round-8 review follow-ups: (a) the keep-side is the literal
    # 'train' split even when the caller orders splits eval-first;
    # (b) an input corpus already carrying 'split_cluster' is refused
    # loudly in stable mode (the router reserves that name)
    state2 = str(tmp_path / "split_state_rev")
    assert {
        r["doc_id"]: r["split"]
        for r in SA.assign_splits_stable(
            docs1, state2, [("test", 0.5), ("train", 0.5)]
        ).collect()
    }
    man3 = pipelines.prepare_training_shards(
        docs2, str(tmp_path / "rev"), quarantine_straddlers=True,
        **{**kwargs, "splits": [("test", 0.5), ("train", 0.5)],
           "split_state_path": state2},
    )
    assert man3["quarantine"]["kept_in"] == "train"
    with pytest.raises(ValueError, match="split_cluster"):
        pipelines.prepare_training_shards(
            docs2.withColumn("split_cluster", docs2.doc_id),
            str(tmp_path / "resv"), **kwargs,
        )


def test_curation_features_match_operator_outputs(spark, sf_oracle):
    """The fused one-scan feature projection must agree row-for-row
    with the standalone doc_profile / lang_id operators."""
    from mapreduce_framework_for_mergesort_spark import pipelines
    from mapreduce_framework_for_mergesort_spark.operators import text as T

    docs = load_table(spark, sf_oracle, "documents").limit(200)
    fused = {
        r["doc_id"]: (r["quality"], r["pred_lang"])
        for r in pipelines.with_curation_features(docs).collect()
    }
    q = {r["doc_id"]: r["quality"] for r in T.doc_profile(docs).collect()}
    l = {r["doc_id"]: r["pred_lang"] for r in T.lang_id(docs).collect()}
    assert fused == {k: (q[k], l[k]) for k in fused}


def test_curation_repetition_filter(spark):
    """max_dup_token_frac drops heavily repetitive docs in the same
    one-scan filter stage."""
    from mapreduce_framework_for_mergesort_spark import pipelines

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog met near a tree while it was light"),
            (2, "spam spam spam spam spam spam spam spam spam spam the"),
        ],
        ["doc_id", "text"],
    )
    base = pipelines.curate_documents(
        docs, min_quality=0.0, langs=("en", "und"), redact=False
    )
    assert {r["doc_id"] for r in base.collect()} == {1, 2}
    strict = pipelines.curate_documents(
        docs,
        min_quality=0.0,
        max_dup_token_frac=0.5,
        langs=("en", "und"),
        redact=False,
    )
    assert {r["doc_id"] for r in strict.collect()} == {1}


def test_tokenizer_agrees_across_engines_on_exotic_whitespace(spark):
    """The three tokenizer formulations (Spark SQL / DuckDB / Python
    kernel) must split identically on the characters where '\\s'
    diverges between regex engines: VT (Java-only whitespace),
    \\x1c-\\x1f, NEL, NBSP (Python-only).  Round-3 review: Python's
    unicode '\\S' silently produced different MinHash signatures than
    the SQL oracle on such bytes."""
    import duckdb

    from mapreduce_framework_for_mergesort_spark.functions import hashing as H

    cases = [
        "a\x0bb c\td",          # VT + tab
        "x\x1cy",                # file separator
        "p\x85q r s",     # NEL + NBSP
        "plain words only",
        "",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], ["i", "t"])
    from pyspark.sql import functions as F

    got_spark = {
        r["i"]: list(r["toks"])
        for r in df.select(
            "i", F.expr(H.spark_tokens("t")).alias("toks")
        ).collect()
    }
    for i, s in enumerate(cases):
        d = duckdb.execute(
            f"SELECT {H.duckdb_tokens('t')} FROM (SELECT ? AS t)", [s]
        ).fetchone()[0]
        assert got_spark[i] == d == H.tokenize(s), (i, s)


def test_lang_id_labels_zero_evidence_as_und(spark):
    """A document with no stopword hits in ANY language must classify
    'und', not silently win the all-zero tie as the first language —
    curation would otherwise keep numeric/foreign-script junk as 'en'
    (round-3 review finding; Spark, oracle, and the fused pipeline
    projection all carry the same guard)."""
    from mapreduce_framework_for_mergesort_spark import pipelines
    from mapreduce_framework_for_mergesort_spark.operators import text as T

    rows = [(1, "1234 5678 9012"), (2, "the cat sat of the mat in a hat")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("xx")
    )
    got = {r["doc_id"]: r["pred_lang"] for r in T.lang_id(docs).collect()}
    assert got == {1: "und", 2: "en"}
    fused = {
        r["doc_id"]: r["pred_lang"]
        for r in pipelines.with_curation_features(docs).collect()
    }
    assert fused == got


def test_fingerprint_kernel_survives_non_ascii_and_null(spark):
    """The Arrow kernel must behave like the canonical SQL on inputs
    the ASCII fixture never shows: unicode text (codepoints, matching
    Spark ascii()/DuckDB ord()) and NULL (NULL out, not a crash)."""
    from mapreduce_framework_for_mergesort_spark.functions import hashing as H

    rows = [(1, "café au lait forever and ever"), (2, None), (3, "abc")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", H.fingerprint_udf()(F.col("text")).alias("fp")
        ).collect()
    }
    want = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", F.expr(R.spark_fingerprint("text")).alias("fp")
        ).collect()
    }
    assert got == want
    assert got[2] == 0  # SQL CASE falls through to the zero sum on NULL


def test_redact_pii_replaces_and_is_idempotent(spark):
    from mapreduce_framework_for_mergesort_spark.operators import text as T

    rows = [
        (1, "mail me at jo.doe+x@example.co.uk please"),
        (2, "card 1234 5678 9012 3456 and ssn 123-45-6789"),
        (3, "call +1 555 123 4567 today"),
        (4, "nothing sensitive here"),
        (5, "dup mail jo.doe+x@example.co.uk"),
        (6, "us forms 555-123-4567 and (555) 123-4567"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"] for r in T.redact_pii(docs).collect()}
    assert got[1] == "mail me at <EMAIL> please"
    assert got[2] == "card <CARD> and ssn <SSN>"
    assert got[3] == "call <PHONE> today"
    assert got[4] == "nothing sensitive here"
    assert got[6] == "us forms <PHONE> and <PHONE>"
    # idempotent: placeholders contain no redactable shapes
    again = {
        r["doc_id"]: r["text"]
        for r in T.redact_pii(T.redact_pii(docs)).collect()
    }
    assert again == got


def test_redact_pii_digit_boundaries_and_duckdb_parity(spark):
    """Round-3 advisory: digit-run patterns must not half-match inside
    longer digit runs, must cover the space-separated US phone form, and
    adjacent matches sharing one boundary char must all redact.  The
    DuckDB mirror (``duckdb_redact_sql``) is pinned equal row-for-row —
    the 'exactly oracle-able' claim, executed."""
    import duckdb
    import pandas as pd

    from mapreduce_framework_for_mergesort_spark.operators import text as T

    rows = [
        (1, "id 91234-5678-9012-34567 stays"),  # longer run: no partial hit
        (2, "phones 555 123 4567 and 555-123-4567"),
        (3, "chain 111-22-3333,444-55-6666"),  # shared boundary char
        (4, "x123-45-67890 untouched"),  # trailing extra digit
        (5, "edge 123-45-6789"),  # match ends at $
        (6, "123-45-6789 at start"),  # match begins at ^
        (7, "run 1111-2222-3333-44445 kept"),  # card + trailing digit
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"] for r in T.redact_pii(docs).collect()}
    assert got[1] == "id 91234-5678-9012-34567 stays"
    assert got[2] == "phones <PHONE> and <PHONE>"
    assert got[3] == "chain <SSN>,<SSN>"
    assert got[4] == "x123-45-67890 untouched"
    assert got[5] == "edge <SSN>"
    assert got[6] == "<SSN> at start"
    assert got[7] == "run 1111-2222-3333-44445 kept"

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("docs", pdf)
    oracle = dict(
        con.execute(
            f"SELECT doc_id, {R.duckdb_redact_sql('text')} FROM docs"
        ).fetchall()
    )
    assert oracle == got


def test_hash_split_is_deterministic_and_partition_proof(spark, sf_oracle):
    """Split membership must be a pure function of the key: identical
    across reruns AND across repartitionings (the randomSplit failure
    mode this operator exists to avoid), with duplicates of a key never
    straddling splits."""
    from mapreduce_framework_for_mergesort_spark.operators import sampling

    orders = load_table(spark, sf_oracle, "orders").select("o_orderkey")
    a = {
        r["o_orderkey"]: r["split"]
        for r in sampling.hash_split(orders, "o_orderkey").collect()
    }
    b = {
        r["o_orderkey"]: r["split"]
        for r in sampling.hash_split(
            orders.repartition(7), "o_orderkey"
        ).collect()
    }
    assert a == b
    n = len(a)
    from collections import Counter

    frac = {k: v / n for k, v in Counter(a.values()).items()}
    # 256-bucket resolution: expect within a few points of 80/10/10
    assert abs(frac["train"] - 0.8) < 0.03, frac
    assert abs(frac["val"] - 0.1) < 0.02, frac
    assert abs(frac["test"] - 0.1) < 0.02, frac


def test_hash_split_custom_weights(spark):
    """Boundary arithmetic honors custom weights and normalizes them."""
    from mapreduce_framework_for_mergesort_spark.operators import sampling

    df = spark.range(4000).withColumnRenamed("id", "k")
    got = sampling.hash_split(df, "k", [("a", 1.0), ("b", 1.0)])
    frac = (
        got.groupBy("split").count().collect()
    )
    frac = {r["split"]: r["count"] / 4000 for r in frac}
    assert set(frac) == {"a", "b"}
    assert abs(frac["a"] - 0.5) < 0.05, frac


def test_hash_split_edge_cases(spark):
    """Review findings pinned: (a) a tiny trailing weight must not
    overflow the hex boundary to the 3-char '100' and swallow the
    corpus; (b) NULL keys route to the FIRST split, explicitly, in both
    engines; (c) a single-split config routes every row to it."""
    import duckdb

    from mapreduce_framework_for_mergesort_spark.operators import sampling

    # (a) 0.999/0.001: bound caps at 'ff'; only bucket 0xff is 'tiny'
    df = spark.range(4000).withColumnRenamed("id", "k")
    big = sampling.hash_split(df, "k", [("big", 0.999), ("tiny", 0.001)])
    frac = {r["split"]: r["count"] / 4000 for r in big.groupBy("split").count().collect()}
    assert frac.get("big", 0) > 0.98, frac
    # (b) NULL keys → first split name
    nd = spark.createDataFrame([(None,), (7,)], "k: bigint")
    got = {r["k"]: r["split"] for r in sampling.hash_split(nd, "k").collect()}
    assert got[None] == "train"
    assert duckdb.execute(
        "SELECT " + sampling.duckdb_split_case("NULL")
    ).fetchone()[0] == "train"
    # (c) single split
    one = sampling.hash_split(nd, "k", [("all", 1.0)])
    assert {r["split"] for r in one.collect()} == {"all"}


def test_simhash_close_for_near_dups(corpus_with_dups):
    sig = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash_signatures(corpus_with_dups).collect()
    }
    assert sig[1] == sig[2]
    ham = bin(sig[1] ^ sig[3]).count("1")
    ham_far = bin(sig[1] ^ sig[4]).count("1")
    assert ham <= ham_far


def test_simhash_banded_pairs_complete_vs_brute_force(spark, sf_oracle):
    """The 4×4-bit banding must find EVERY pair at hamming ≤ 3
    (pigeonhole completeness) — checked against a literal all-pairs
    hamming computation over the real corpus signatures."""
    docs = load_table(spark, sf_oracle, "documents")
    sig = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash_signatures(docs).collect()
    }
    ids = sorted(sig)
    want = {
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sig[a] ^ sig[b]).count("1") <= D.SIMHASH_R
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D.simhash_candidate_pairs(docs).collect()
    }
    assert got == want
    assert want, "fixture corpus should contain at least one near pair"


def test_simhash_candidate_pairs_rejects_incomplete_r():
    """The one hamming radius the operator verifies is the largest its
    banding is complete for: two signatures within ``NUM_BANDS - 1``
    bits of each other agree on at least one whole band (pigeonhole),
    so they always meet in the band join."""
    assert D.SIMHASH_R == D.SIMHASH_NUM_BANDS - 1


def test_ann_lsh_recall_vs_brute_force(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings")
    exact = [r["vec_id"] for r in S.brute_force_topk(emb, 0, 10).collect()]
    ann = [r["vec_id"] for r in S.lsh_bucketed_topk(emb, 0, 10).collect()]
    # the query vector itself is always in its own bucket
    assert ann[0] == 0
    # ANN candidates must be a subset of the table and scored identically
    # where they overlap with the exact top-k prefix
    assert len(set(ann) & set(exact)) >= 1


def test_ivf_recall_vs_brute_force(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings")
    exact = [r["vec_id"] for r in S.brute_force_topk(emb, 0, 10).collect()]
    ivf = [r["vec_id"] for r in S.ivf_topk(emb, 0, 10, 8).collect()]
    # the query vector scores 1.0 with itself and lives in its own cell
    assert ivf[0] == 0
    # trained cells keep most of the exact top-10 co-located (measured
    # 7/10 at sf0.01; random near-orthogonal embeddings cap what any
    # partitioner can do)
    assert len(set(ivf) & set(exact)) >= 5


def test_ivf_recall_monotone_in_nprobe(spark, sf_oracle):
    """Multi-probe IVF: recall@k vs brute force must be non-decreasing
    in nprobe (candidate sets are nested and the rerank order is a total
    order) and EXACTLY 1.0 at nprobe = C, where probing every cell
    degenerates to the brute-force scan with the identical
    (score desc, vec_id) tie-break."""
    emb = load_table(spark, sf_oracle, "embeddings")
    C, k = 8, 10
    exact = [(r["vec_id"], r["score"])
             for r in S.brute_force_topk(emb, 17, k).collect()]
    exact_ids = {v for v, _ in exact}
    recalls = []
    for nprobe in (1, 2, 4, C):
        got = S.ivf_topk(emb, 17, k, C, nprobe=nprobe).collect()
        recalls.append(len({r["vec_id"] for r in got} & exact_ids) / k)
        if nprobe == C:
            assert [(r["vec_id"], r["score"]) for r in got] == exact
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0


def test_nearest_cells_nprobe1_matches_assignment_kernel(spark, sf_oracle):
    """nearest_cells(·, ·, 1) must agree with the corpus-assignment
    kernel's cell decision for every vector — the probe and the index
    build share one arithmetic."""
    emb = load_table(spark, sf_oracle, "embeddings")
    cents = S._trained_cents(emb, 8)
    cells = {
        r["vec_id"]: r["cell"] for r in S.ivf_cells(emb, 8).collect()
    }
    rows = emb.select("vec_id", "embedding").limit(50).collect()
    for r in rows:
        assert S.nearest_cells(r["embedding"], cents, 1)[0] == cells[
            r["vec_id"]
        ], r["vec_id"]


def test_kmeans_training_reduces_objective(spark, sf_oracle):
    """Lloyd iterations must monotonically improve the quantized SSE —
    the direct 'trained centroids beat the first-C stand-in' claim
    (round-2 verdict item 5), asserted on the k-means objective itself
    rather than per-query recall (which is noise on random data)."""
    import numpy as np

    emb = load_table(spark, sf_oracle, "embeddings")
    xqv = R.quantize_normalized(emb).select("vec_id", "xq").localCheckpoint()
    X = np.array([r.xq for r in xqv.collect()], dtype=np.int64)

    def sse(cents):
        M_ = np.stack([np.array(cq, dtype=np.int64) for _cid, cq in cents])
        d = ((X[:, None, :] - M_[None, :, :]) ** 2).sum(axis=2)
        return int(d.min(axis=1).sum())

    smp = xqv.where(f"vec_id < {8 * S.KM_SAMPLE_FACTOR}").collect()
    ids = np.array([r.vec_id for r in smp], dtype=np.int64)
    Xs = np.array([r.xq for r in smp], dtype=np.int64)

    def trained(iters):
        return S._kmeans_train_np(ids, Xs, 8, iters)

    s0, s1, s2 = sse(trained(0)), sse(trained(1)), sse(trained(2))
    assert trained(S.KM_ITERS) == S._trained_cents(emb, 8)
    assert s1 < s0 * 0.75, (s0, s1)  # measured: 42% drop at sf0.01
    assert s2 <= s1, (s1, s2)


def test_kmeans_np_trainer_matches_distributed(spark, sf_oracle):
    """The driver-side NumPy trainer (what ``_trained_cents`` runs — one
    collect job) and the distributed DataFrame trainer (the reference
    formulation) must produce the IDENTICAL centroid list: both are
    definitions of the same exact integer arithmetic."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_oracle, "embeddings")
    sample = 8 * S.KM_SAMPLE_FACTOR
    smp = (
        R.quantize_normalized(emb)
        .where(F.col("vec_id") < sample)
        .select("vec_id", "xq")
        .localCheckpoint()
    )
    dist = R._kmeans_train(smp, 8, S.KM_ITERS)
    via_np = S._trained_cents(emb, 8)
    assert via_np == dist


def test_ivf_cells_partition_the_table(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings")
    cells = S.ivf_cells(emb, 8)
    assert cells.count() == emb.count()  # every vector in exactly one cell
    assert cells.select("cell").distinct().count() <= 8


def test_kernel_quantize_matches_sql_expression(spark, sf_oracle):
    """``_quantize_np`` (the in-kernel quantizer the corpus assignment
    pass uses) must reproduce the SQL ``quantize_normalized`` expression
    — the oracle-matched canonical definition — bit-for-bit on every
    fixture row.  This is the load-bearing equivalence: cumsum gives the
    fold's sequential summation order, and rounding is half-away like
    SQL round; if either drifts by one ulp on any row, a cell boundary
    can flip and the IVF oracles go red with no pointer to the cause."""
    import numpy as np

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        emb = load_table(spark, sf, "embeddings")
        rows = (
            R.quantize_normalized(emb)
            .select("vec_id", "embedding", "xq")
            .collect()
        )
        X = np.array([r["embedding"] for r in rows], dtype=np.float64)
        sql_xq = np.array([r["xq"] for r in rows], dtype=np.int64)
        np.testing.assert_array_equal(S._quantize_np(X), sql_xq)


def test_fingerprint_kernel_matches_sql_expression(spark, sf_oracle):
    """``fingerprint_udf`` (np.correlate rolling hash) must reproduce
    the canonical Spark SQL expression ``spark_fingerprint`` on every
    fixture document, plus the short/empty edge texts the fixture
    doesn't contain."""
    from mapreduce_framework_for_mergesort_spark.functions import hashing as H

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(100001, ""), (100002, "a"), (100003, "abcdefg"), (100004, "abcdefgh")],
        "doc_id: bigint, text: string",
    )
    both = docs.unionByName(edge).select(
        "doc_id",
        H.fingerprint_udf()(F.col("text")).alias("kern"),
        F.expr(R.spark_fingerprint("text")).alias("sql"),
    )
    bad = both.where(F.col("kern") != F.col("sql")).count()
    assert bad == 0


def test_band_structs_kernel_matches_sql_expression(spark, sf_oracle):
    """``band_structs_udf`` (one-md5-per-shingle + NumPy affine mins)
    must produce exactly the rows of the canonical ``spark_band_structs``
    SQL expression — tokenization, shingling, base hash, affine family,
    and band md5 all agree, plus the <n-token empty case."""
    from mapreduce_framework_for_mergesort_spark.functions import hashing as H

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(100001, ""), (100002, "one two"), (100003, "one two three")],
        "doc_id: bigint, text: string",
    )
    both = docs.unionByName(edge)
    sql_expr = R.spark_band_structs(
        H.spark_shingles(H.spark_tokens("text"))
    )
    rows = both.select(
        "doc_id",
        H.band_structs_udf()(F.col("text")).alias("kern"),
        F.expr(sql_expr).alias("sql"),
    ).collect()
    for r in rows:
        assert sorted(map(tuple, r["kern"])) == sorted(
            map(tuple, r["sql"])
        ), r["doc_id"]


def test_simhash_kernel_matches_sql_expression(spark, sf_oracle):
    from mapreduce_framework_for_mergesort_spark.functions import hashing as H

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(100001, ""), (100002, "tok"), (100003, None)],
        "doc_id: bigint, text: string",
    )
    both = docs.unionByName(edge).select(
        "doc_id",
        H.simhash_udf()(F.col("text")).alias("kern"),
        F.expr(R.spark_simhash(H.spark_tokens("text"))).alias("sql"),
    )
    # null-safe inequality so a kern=NULL/sql=0 divergence can't hide
    assert both.where(~F.col("kern").eqNullSafe(F.col("sql"))).count() == 0
    # NULL text → signature 0 on BOTH spellings (round 7: the bit
    # CASEs fall through to 0 on a NULL count, like empty text)
    nulls = both.where(F.col("doc_id") == 100003).collect()
    assert nulls[0]["kern"] == 0 and nulls[0]["sql"] == 0


def test_gram_rows_kernel_matches_sql_expression(spark, sf_oracle):
    """``gram_rows_udf`` (memoized Arrow positional-k-gram pass, round
    6) must produce exactly the (doc_id, pos, g) rows of the canonical
    ``positional_ngrams_sql`` spelling — tokenization, window join, and
    the 48-bit md5-prefix gram hash all agree, including the <k-token
    empty case and byte-identical docs (the doc-memo path)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    rep = docs.limit(3).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    edge = spark.createDataFrame(
        [(100001, ""), (100002, "one two three four five six seven")],
        "doc_id: bigint, text: string",
    )
    both = docs.unionByName(rep).unionByName(edge)
    kern = D.positional_ngrams(both)
    sql = R.positional_ngrams_sql(both)
    assert sorted(map(tuple, kern.collect())) == sorted(
        map(tuple, sql.collect())
    )


def test_multimodal_feature_pipeline(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").limit(20)
    feats = M.extract_features(M.binarize_documents(docs))
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r["feature"]) == M.FEATURE_DIM for r in rows)
    # deterministic: same input → same features
    again = M.extract_features(M.binarize_documents(docs)).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_binarize_branch_contracts(spark):
    """Every ``BRANCHES`` row against literal (modality, mime) pairs and
    its named synthesizer: no oracle reads ``meta_mime``, and the
    oracles would not tell two synthesizers of one tag apart."""
    from mapreduce_framework_for_mergesort_spark.sources import (
        containers as CT,
    )
    from mapreduce_framework_for_mergesort_spark.sources import layer3 as L3

    def utf8(fn):
        return lambda text: fn(text.encode("utf-8"))

    expected = {
        "audio_wav": ("audio", "audio/wav", utf8(M.synthesize_wav)),
        "audio_mp4": ("mp4", "audio/mp4", utf8(CT.synthesize_mp4)),
        "audio_fmp4": ("fmp4", "video/mp4", utf8(CT.synthesize_fmp4)),
        "audio_mp3": ("mp3", "audio/mpeg", utf8(CT.synthesize_mp3)),
        "audio_mp3_l3": ("mp3", "audio/mpeg", L3.synthesize_mp3_l3),
        "image_bmp": ("image", "image/bmp", utf8(M.synthesize_bmp)),
        "image_png": ("png", "image/png", utf8(M.synthesize_png)),
        "image_jpeg": ("jpeg", "image/jpeg", utf8(M.synthesize_jpeg)),
        "image_jpeg_color": (
            "jpeg_color", "image/jpeg", utf8(M.synthesize_jpeg_color)
        ),
        "video_y4m": ("video", "video/x-yuv4mpeg", utf8(M.synthesize_y4m)),
    }
    assert list(M.BRANCHES) == list(expected)
    texts = {1: "Hello, world", 2: "The quick brown fox jumps over it!"}
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id bigint, text string"
    )
    union = None
    for branch in M.BRANCHES:
        b = M.binarize(docs, branch).withColumn("branch", F.lit(branch))
        union = b if union is None else union.unionByName(b)
    rows = union.collect()
    assert sorted((r["branch"], r["doc_id"]) for r in rows) == sorted(
        (b, d) for b in expected for d in texts
    )
    for r in rows:
        modality, mime, synthesize = expected[r["branch"]]
        payload = bytes(r["payload"])
        assert (r["modality"], r["meta_mime"]) == (modality, mime), r["branch"]
        assert payload == synthesize(texts[r["doc_id"]]), r["branch"]
        assert r["meta_n_bytes"] == len(payload), r["branch"]


def test_documents_fixture_is_ascii(spark, sf_smoke, sf_oracle):
    """Pin the precondition the multimodal oracles depend on: char-count
    SQL equals byte-count ONLY while documents.text is pure ASCII
    (round-2 advisory — a multibyte fixture would flip the hash checks
    red with no pointer to the cause).  If this ever fails, the oracles
    must switch to byte-derived arithmetic."""
    for sf in (sf_smoke, sf_oracle):
        docs = load_table(spark, sf, "documents")
        non_ascii = docs.where(
            F.octet_length(F.col("text")) != F.length(F.col("text"))
        ).count()
        assert non_ascii == 0, f"{sf}: {non_ascii} non-ASCII documents"


def test_png_container_roundtrip_and_real_compression():
    """Round 6: the PNG seam is a REAL spec-level container — signature,
    CRC-validated IHDR/IDAT/IEND chunks, zlib stream, scanline filters.
    Synthesis emits stored deflate blocks (size closed-form, pinned
    here against the oracle's arithmetic); decode additionally inverts
    REALLY-compressed streams at every zlib level and all five filter
    types — the compressed-codec path the previous rounds stubbed."""
    import itertools

    data = b"hello world this is a longer test string with spaces!!"
    png = M.synthesize_png(data)
    h = -(-len(data) // M.IMG_WIDTH)
    assert png[:8] == M.PNG_SIG
    raw = h * (M.IMG_WIDTH + 1)
    assert len(png) == 57 + R.zlib_stored_len(raw)  # oracle formula
    # identical pixel semantics as the BMP twin
    assert M.decode_png(png) == M.decode_bmp(M.synthesize_bmp(data))
    assert M.decode_png(M.synthesize_png(b"")) == [0.0] * M.FEATURE_DIM

    # really-compressed + really-filtered streams all decode back
    px = [data[i] if i < len(data) else 0 for i in range(M.IMG_WIDTH * h)]
    for level, ft in itertools.product([1, 9], [0, 1, 2, 3, 4]):
        p = R.encode_png(px, M.IMG_WIDTH, h, level, ft)
        assert M._png_pixels(p) == (M.IMG_WIDTH, h, px), (level, ft)
        # a dynamic-huffman IDAT, not the stored-block framing
        # (deflate block type bits differ from the stored encoder's)
        assert p != png or (level, ft) == (0, 0)
    assert R.encode_png(px, M.IMG_WIDTH, h, 0, 0) == M._encode_png(
        px, M.IMG_WIDTH, h
    )

    # band tiling is pixel-exact and every band decodes standalone
    tot = []
    for f in M.frame_stub(png, "png"):
        fw, fh, fpx = M._png_pixels(f)
        assert fw == M.IMG_WIDTH and fh <= M.IMG_BAND_ROWS
        tot.extend(fpx)
    assert tot == px

    # corruption is loud, never an empty decode
    bad = bytearray(png)
    bad[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        M._png_pixels(bytes(bad))
    with pytest.raises(ValueError, match="signature"):
        M._png_pixels(b"BM" + bytes(60))
    with pytest.raises(ValueError, match="truncated"):
        M._png_pixels(png[:-4])


def test_jpeg_container_roundtrip_size_and_features():
    """Round 7 (round-6 verdict item 6): the JPEG seam is a REAL
    baseline-JFIF container.  The flat-block synthesis profile is
    bit-exact on round trip (DC-only blocks survive quantize/IDCT
    unchanged — the closed-form-oracle trick), its size is the oracle
    formula JPEG_HEADER + 2·n with a provably stuffing-free entropy
    stream, and features equal the BMP/PNG formula over the 64×
    block-expanded bytes."""
    data = b"hello world this is a longer test string with spaces!!"
    p = M.synthesize_jpeg(data)
    assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
    assert len(p) == M.JPEG_HEADER + 2 * len(data)
    # no 0xFF anywhere in the entropy segment — no stuffing needed,
    # the closed-form size proof's load-bearing property
    assert b"\xff" not in p[len(p) - 2 - 2 * len(data):-2]
    w, h, px = _jpeg_pixels(p)
    assert (w, h) == (M.JPEG_WIDTH, 8 * len(data))
    assert px == [b for b in data for _ in range(64)]
    n = len(data)
    assert M.decode_jpeg(p) == [
        8.0, float(8 * n), float(64 * n), float(data[0]), float(data[-1]),
        float(max(data)), float(64 * sum(data) % M.AUDIO_SUM_MOD),
        float(64 * data.count(32)),
    ]
    assert M.decode_jpeg(M.synthesize_jpeg(b"")) == [0.0] * M.FEATURE_DIM

    # frames are standalone decodable JPEGs; bands group JPEG_BAND_BLOCKS blocks (~the other branches' 64-byte
    # windows); a short payload is one band carrying its blocks verbatim
    frames = M.frame_stub(M.synthesize_jpeg(b"xyz"), "jpeg")
    assert frames == [M.synthesize_jpeg(b"xyz")]
    long = bytes(range(64, 64 + 20))
    frames = M.frame_stub(M.synthesize_jpeg(long), "jpeg")
    assert [len(f) for f in frames] == [
        M.JPEG_HEADER + 16, M.JPEG_HEADER + 16, M.JPEG_HEADER + 8,
    ]
    assert frames[1] == M.synthesize_jpeg(long[8:16])

    # corruption is loud, never an empty decode
    with pytest.raises(ValueError, match="not a JPEG"):
        _jpeg_pixels(b"BM" + bytes(60))
    with pytest.raises(ValueError, match="exhausted|truncated"):
        _jpeg_pixels(p[:-10])
    with pytest.raises(ValueError, match="at most 8191"):
        M.synthesize_jpeg(bytes(9000))


def test_jpeg_decoder_general_baseline_path():
    """The decoder must be GENERAL within baseline greyscale, not just
    the synthesis profile's inverse: arbitrary quantization tables,
    arbitrary canonical Huffman tables, real AC coefficients
    (run/size, ZRL, EOB), byte STUFFING, and multi-block-per-row
    geometry.  This test carries its own independent encoder (standard
    Annex-K-style tables, a plain bit-writer WITH stuffing) and an
    independent numpy IDCT reference — agreement here can't come from
    shared code."""
    import struct

    import numpy as np

    # --- independent test encoder ------------------------------------
    # DC table: the ITU T.81 Annex K luminance DC layout
    DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    DC_VALS = list(range(12))
    # AC table: a small custom canonical table covering exactly the
    # symbols emitted below (EOB, run0/size1, run0/size2, ZRL) — NOT
    # the engine's table, so DHT parsing is genuinely exercised
    AC_BITS = [0, 2, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    AC_VALS = [0x00, 0x01, 0x02, 0xF0]

    def canon(bits, vals):
        out, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return out

    dc_c, ac_c = canon(DC_BITS, DC_VALS), canon(AC_BITS, AC_VALS)

    class W:
        def __init__(self):
            self.bits = []

        def put(self, code, ln):
            self.bits += [(code >> (ln - 1 - i)) & 1 for i in range(ln)]

        def bytes_(self):
            bs, out = self.bits + [1] * (-len(self.bits) % 8), bytearray()
            for i in range(0, len(bs), 8):
                b = int("".join(map(str, bs[i : i + 8])), 2)
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)  # byte stuffing
            return bytes(out)

    def cat_bits(v):
        c = abs(v).bit_length()
        return c, (v if v >= 0 else v + (1 << c) - 1)

    def encode(blocks):
        wtr, prev = W(), 0
        for blk in blocks:
            c, vb = cat_bits(blk.get(0, 0) - prev)
            prev = blk.get(0, 0)
            wtr.put(*dc_c[c])
            if c:
                wtr.put(vb, c)
            last = 0
            for k in sorted(k for k in blk if k > 0):
                run = k - last - 1
                while run >= 16:
                    wtr.put(*ac_c[0xF0])
                    run -= 16
                c2, vb2 = cat_bits(blk[k])
                sym = (run << 4) | c2
                assert sym in ac_c, f"test table missing AC {sym:#04x}"
                wtr.put(*ac_c[sym])
                wtr.put(vb2, c2)
                last = k
            if not blk or max(blk) < 63:
                wtr.put(*ac_c[0x00])  # EOB
        return wtr.bytes_()

    # blocks in COEFFICIENT space (zigzag positions), varied quant
    q = [3 + (i % 5) for i in range(64)]
    blocks = [
        {0: 40},                   # DC-only
        {0: -31, 1: 1, 2: -2},     # adjacent low-frequency AC
        {0: 0, 17: 1},             # zero-run of 16 -> ZRL then size 1
        {0: 127, 1: -1, 18: 1},    # negative AC + a second ZRL run
    ]
    entropy = encode(blocks)

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    def jfif(entropy_bytes):
        return (
            b"\xff\xd8"
            + seg(0xFFDB, bytes([0x00]) + bytes(q))
            + seg(
                0xFFC0,
                struct.pack(">BHHB", 8, 16, 16, 1) + bytes([1, 0x11, 0]),
            )
            + seg(0xFFC4, bytes([0x00] + DC_BITS + DC_VALS))
            + seg(0xFFC4, bytes([0x10] + AC_BITS + AC_VALS))
            + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + entropy_bytes
            + b"\xff\xd9"
        )

    # --- independent reference decode --------------------------------
    xs = np.arange(8)
    C = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16) / 2
    C[0] *= 1 / np.sqrt(2)

    def reference(blocks):
        want = np.zeros((16, 16))
        for i, blk in enumerate(blocks):
            zz = np.zeros(64)
            for k, v in blk.items():
                zz[k] = v * q[k]
            coef = np.zeros(64)
            coef[M._ZIGZAG] = zz
            by, bx = divmod(i, 2)
            want[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                C.T @ coef.reshape(8, 8) @ C
            )
        return [
            int(v)
            for v in np.clip(np.rint(want + 128), 0, 255)
            .astype(int)
            .reshape(-1)
        ]

    w, h, px = _jpeg_pixels(jfif(entropy))
    assert (w, h) == (16, 16)
    assert px == reference(blocks)

    # byte-STUFFING path: search deterministic DC values until the
    # encoder emits a stuffed 0xFF00, then require exact decode
    stuffed = None
    for dc in range(256):
        cand = [{0: dc}, {0: dc - 255}, {0: dc}, {0: dc - 255}]
        ent = encode(cand)
        if b"\xff\x00" in ent:
            stuffed = (cand, ent)
            break
    assert stuffed is not None, "no stuffed byte found in search space"
    cand, ent = stuffed
    w, h, px = _jpeg_pixels(jfif(ent))
    assert px == reference(cand)


def test_bmp_synthesis_roundtrip():
    """The image seam is a REAL Windows BMP: 'BM' magic, 54-byte
    header, 24-bit 4-aligned BOTTOM-UP rows, and decode inverts
    synthesis (including the zero-padded last row and the stored-row
    flip)."""
    data = b"hello world this is a longer test string with spaces!!"
    bmp = M.synthesize_bmp(data)
    h = -(-len(data) // M.IMG_WIDTH)
    assert bmp[:2] == b"BM"
    assert len(bmp) == M.IMG_HEADER + 3 * M.IMG_WIDTH * h
    feats = M.decode_bmp(bmp)
    assert feats == [
        float(M.IMG_WIDTH),
        float(h),
        float(M.IMG_WIDTH * h),
        float(data[0]),
        float(data[-1] if len(data) % M.IMG_WIDTH == 0 else 0),
        float(max(data)),
        float(sum(data) % M.AUDIO_SUM_MOD),
        float(data.count(32)),
    ]
    # exact-multiple width: the last logical pixel is the last byte
    full = bytes(range(64, 64 + 2 * M.IMG_WIDTH))
    assert M.decode_bmp(M.synthesize_bmp(full))[4] == float(full[-1])
    assert M.decode_bmp(M.synthesize_bmp(b"")) == [0.0] * M.FEATURE_DIM
    with pytest.raises(ValueError):
        M.decode_bmp(b"PNG?" + bytes(60))  # wrong magic
    # constructed OUTSIDE the raises blocks so a construction error
    # can't satisfy them without exercising decode_bmp
    import struct

    def mk(width, height, bpp, npx):
        return (
            struct.pack("<2sIHHI", b"BM", 54 + 3 * npx, 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII", 40, width, height, 1, bpp, 0,
                3 * npx, 0, 0, 0, 0,
            )
            + bytes(3 * npx)
        )

    bad_depth = mk(1, 1, 8, 1)
    top_down = mk(16, -1, 24, 16)  # negative height = top-down variant
    zero_width = mk(0, 1, 24, 0)
    with pytest.raises(ValueError):
        M.decode_bmp(bad_depth)
    with pytest.raises(ValueError):
        # must fail LOUDLY, not silently featurize zero pixels
        M.decode_bmp(top_down)
    with pytest.raises(ValueError):
        M.decode_bmp(zero_width)
    # truncation must report truncation, loudly — a header claiming
    # pixels it doesn't carry must not featurize as zeros, and a
    # byte-short payload must not be blamed on "non-grayscale pixels"
    with pytest.raises(ValueError, match="truncated"):
        M.decode_bmp(mk(16, 1, 24, 0))  # header-only, claims 16x1
    with pytest.raises(ValueError, match="truncated"):
        M.decode_bmp(bmp[:-1])


def test_y4m_synthesis_roundtrip():
    """The video seam is a REAL YUV4MPEG2 container: ASCII stream
    header, per-FRAME markers, raw Cmono luma planes; decode inverts
    synthesis and every malformed shape fails loudly."""
    data = bytes(range(32, 32 + 70))  # 70 bytes -> 3 frames (last padded)
    y4m = M.synthesize_y4m(data)
    assert y4m.startswith(b"YUV4MPEG2 ")
    n_frames = -(-len(data) // M.VID_FRAME_PX)
    assert len(y4m) == M.VID_HEADER + n_frames * (
        M.VID_FRAME_HDR + M.VID_FRAME_PX
    )
    feats = M.decode_y4m(y4m)
    assert feats == [
        float(n_frames),
        float(M.VID_WIDTH),
        float(M.VID_HEIGHT),
        float(data[0]),
        0.0,  # 70 % 32 != 0 -> final frame ends in zero padding
        float(max(data)),
        float(sum(data) % M.AUDIO_SUM_MOD),
        float(data.count(32)),
    ]
    # an exact-multiple payload ends on its own last byte, not padding
    full = bytes([7] * (2 * M.VID_FRAME_PX - 1) + [200])
    assert M.decode_y4m(M.synthesize_y4m(full))[4] == 200.0
    # empty text -> header-only zero-frame stream -> all-zero features
    assert M.decode_y4m(M.synthesize_y4m(b"")) == [0.0] * M.FEATURE_DIM
    with pytest.raises(ValueError, match="magic"):
        M.decode_y4m(b"MPEG4??? W8 H4 Cmono\n")
    with pytest.raises(ValueError, match="Cmono"):
        # spec default (no C tag) is 4:2:0 — must be rejected, not
        # mis-parsed as grayscale
        M.decode_y4m(b"YUV4MPEG2 W8 H4 F25:1\nFRAME\n" + bytes(48))
    with pytest.raises(ValueError, match="FRAME"):
        M.decode_y4m(M._y4m_header(8, 4) + b"JUNK!\n" + bytes(32))
    with pytest.raises(ValueError, match="truncated"):
        M.decode_y4m(y4m[:-1])
    with pytest.raises(ValueError, match="dimensions"):
        M.decode_y4m(b"YUV4MPEG2 W0 H4 Cmono\n")
    with pytest.raises(ValueError, match="missing W/H"):
        # missing dimension tags must be the same loud ValueError as
        # every other malformed shape, not a bare KeyError
        M.decode_y4m(b"YUV4MPEG2 Cmono\n")


def test_y4m_frames_and_resize():
    """Temporal frame extraction is real: every emitted frame is itself
    a decodable single-frame Y4M carrying its slice of the source."""
    data = bytes((i * 7) % 256 for i in range(100))  # 4 frames
    y4m = M.synthesize_y4m(data)
    frames = M.frame_stub(y4m, "video")
    assert len(frames) == 4
    padded = data.ljust(4 * M.VID_FRAME_PX, b"\x00")
    for i, f in enumerate(frames):
        w, h, planes = M._y4m_planes(f)
        assert (w, h, len(planes)) == (M.VID_WIDTH, M.VID_HEIGHT, 1)
        assert planes[0] == padded[i * M.VID_FRAME_PX : (i + 1) * M.VID_FRAME_PX]


def test_wav_synthesis_roundtrip():
    """The audio seam is a REAL RIFF/WAVE container: canonical 44-byte
    header, PCM16 mono frames, and decode inverts synthesis."""
    data = bytes(range(256)) + b"hello world"
    wav = M.synthesize_wav(data)
    assert len(wav) == 44 + 2 * len(data)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    feats = M.decode_wav(wav)
    samples = [(b - 128) * 256 for b in data]
    assert feats == [
        float(len(data)),
        float(M.AUDIO_RATE),
        float(min(samples)),
        float(max(samples)),
        float(samples[0]),
        float(samples[-1]),
        float(sum(abs(s) for s in samples) % M.AUDIO_SUM_MOD),
        float(sum(1 for s in samples if s > 0)),
    ]
    assert M.decode_wav(M.synthesize_wav(b"")) == [0.0] * M.FEATURE_DIM
    # malformed payloads raise the module's loud ValueError (the
    # quarantine-routing contract the BMP/Y4M parsers follow), never
    # a bare wave.Error/struct.error
    with pytest.raises(ValueError, match="not a parseable WAV"):
        M.decode_wav(b"RIFFgarbage-not-a-wave-file")
    with pytest.raises(ValueError, match="truncated WAV"):
        M.decode_wav(M.synthesize_wav(b"hello world")[:-3])
    with pytest.raises(ValueError):
        # stereo payload must be rejected, not silently mis-parsed
        import io
        import wave as wv

        buf = io.BytesIO()
        with wv.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(b"\x00\x00\x00\x00")
        M.decode_wav(buf.getvalue())


def test_multimodal_frame_sampling_fans_out(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").limit(10)
    b = M.binarize_documents(docs)
    all_frames = M.sample_frames(b, every_n=1)
    sampled = M.sample_frames(b, every_n=2)
    n_all, n_half = all_frames.count(), sampled.count()
    assert n_all > 10  # real fan-out: more frames than docs
    assert n_half <= n_all
    # frame bytes reassemble the payload when nothing is skipped
    doc0 = b.orderBy("doc_id").first()
    parts = (
        all_frames.where(F.col("doc_id") == doc0["doc_id"])
        .orderBy("frame_idx")
        .collect()
    )
    assert b"".join(bytes(p["frame_payload"]) for p in parts) == bytes(
        doc0["payload"]
    )


def test_image_frame_tiling_is_real():
    """Image frames are 4-row band BMPs (the vision patching op): each
    band is itself a valid BMP, bands reassemble the source pixels, and
    the last band carries the remainder rows."""
    data = bytes(range(32, 32 + 16 * 10))  # 10 rows of 16 px
    frames = M.frame_stub(M.synthesize_bmp(data), "image")
    assert len(frames) == 3  # rows 0-3, 4-7, 8-9
    reassembled: list[int] = []
    for f in frames:
        w, h, px = M._bmp_pixels(f)
        assert w == M.IMG_WIDTH and h in (M.IMG_BAND_ROWS, 2)
        reassembled.extend(px)
    assert reassembled == list(data)
    assert M.frame_stub(M.synthesize_bmp(b""), "image") == []


def test_multimodal_unknown_modality_raises(spark):
    # compressed codecs remain the honest NotImplementedError seam
    # (image became a real BMP parse and video a real Y4M parse in
    # round 4+, so the unknown tag here is a codec-requiring one)
    df = spark.createDataFrame(
        [(1, "video/h264", bytearray(b"xx"), "video/mp4", 2)],
        "doc_id long, modality string, payload binary, meta_mime string, meta_n_bytes long",
    )
    with pytest.raises(Exception, match="NotImplementedError|decoder"):
        M.extract_features(df).collect()
    # malformed image/video payloads fail LOUDLY in the real parsers,
    # never silently featurize
    for modality, mime in (("image", "image/bmp"), ("video", "video/x-yuv4mpeg")):
        bad = spark.createDataFrame(
            [(1, modality, bytearray(b"notacontainer"), mime, 13)],
            "doc_id long, modality string, payload binary, meta_mime string, meta_n_bytes long",
        )
        with pytest.raises(Exception):
            M.extract_features(bad).collect()


def test_decontaminate_matches_brute_force(spark, sf_oracle):
    """contaminated_doc_ids must equal a literal Python n-gram overlap
    computation over the real corpus: benchmark = two verbatim fixture
    docs (must flag at least themselves) + one unrelated text (must
    flag nothing)."""
    from mapreduce_framework_for_mergesort_spark.functions.hashing import (
        tokenize,
    )

    docs = load_table(spark, sf_oracle, "documents")
    picked = docs.where(F.col("doc_id").isin(3, 44)).collect()
    bench_rows = [(r["text"],) for r in picked] + [
        ("benchmark question with no overlap whatsoever in this corpus",)
    ]
    bench = spark.createDataFrame(bench_rows, "text: string")

    n = 8

    def grams(text):
        toks = tokenize(text)
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    bench_grams = set().union(*(grams(t) for (t,) in bench_rows))
    want = {
        r["doc_id"]
        for r in docs.select("doc_id", "text").collect()
        if grams(r["text"]) & bench_grams
    }
    assert {3, 44} <= want

    got = {
        r["doc_id"]
        for r in D.contaminated_doc_ids(docs, bench, n=n).collect()
    }
    assert got == want

    clean = D.decontaminate(docs, bench, n=n)
    kept = {r["doc_id"] for r in clean.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert kept == all_ids - want


def test_text_keys_null_bearing_corpus(spark, sf_oracle, tmp_path):
    """Round 6 (round-5 advisory follow-through): every text-family key
    stays hash-green when the corpus contains NULL, empty, and
    whitespace-only texts.  Spark's ANSI division errored the
    doc-profile scan on zero-length text where DuckDB yields NULL —
    the operators now spell those divisions ``try_divide``, which
    reproduces DuckDB's NULL exactly (caught here: quality is NULL for
    empty text, 0.6 for whitespace-only, on BOTH engines)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(f"{sf_oracle}/documents.parquet")
    texts = [None, "", "   "]
    cols = {}
    for c in src.column_names:
        t = src.schema.field(c).type
        if c == "doc_id":
            import pyarrow.compute as pc

            mx = pc.max(src[c]).as_py()
            cols[c] = pa.array(
                [mx + 1 + i for i in range(len(texts))], t
            )
        elif c == "text":
            cols[c] = pa.array(texts, t)
        else:
            cols[c] = pa.array([src[c][0].as_py()] * len(texts), t)
    out = str(tmp_path / "sfnull")
    os.makedirs(out)
    pq.write_table(
        pa.concat_tables([src, pa.table(cols, schema=src.schema)]),
        f"{out}/documents.parquet",
    )
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"{sf_oracle}/{t}.parquet", f"{out}/{t}.parquet")
    for key in ["q_text_stats", "q_text_doc_profile", "q_lang_id",
                "q_tfidf_top_terms",
                # round 7 (advisory): the dedup/span tiers' distinct-
                # content collapses must also hold their NULL contracts
                # against the oracle — the gram kernel previously
                # relied on join null-filter inference not to crash,
                # and the simhash collapse silently dropped NULL docs
                "q_dedup_exact", "q_dedup_simhash",
                "q_dedup_ngram_jaccard", "q_dedup_minhash_pairs"]:
        compare_query(spark, key, out, QUERIES, ORACLE)


def test_decontaminate_shared_gram_pass_equivalent(spark, sf_oracle):
    """Round 6: the ``doc_grams`` injection (the span tiers' 48-bit
    positional-gram table riding into decontamination —
    ``pipelines.curate_documents`` wires it) must flag exactly the ids
    of the default string-shingle path."""
    docs = load_table(spark, sf_oracle, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0).select("text")
    grams = D.positional_ngrams(docs, k=D.DECONTAM_N)
    via_grams = {
        r["doc_id"]
        for r in D.contaminated_doc_ids(
            docs, bench, doc_grams=grams
        ).collect()
    }
    plain = {
        r["doc_id"] for r in D.contaminated_doc_ids(docs, bench).collect()
    }
    assert via_grams == plain and len(plain) > 0


def test_decontaminate_short_benchmark_flags_nothing(spark, sf_oracle):
    """A benchmark text shorter than n tokens has no n-grams and can
    never flag anything (no degenerate substring matching)."""
    docs = load_table(spark, sf_oracle, "documents")
    bench = spark.createDataFrame([("too short",)], "text: string")
    assert D.contaminated_doc_ids(docs, bench, n=8).count() == 0


def test_bm25_ranking_matches_reference_formula(spark):
    """bm25_topk must equal a literal Python evaluation of the same
    formula (k1=1.2, b=0.75, linear idf (N+1)/(df+0.5)) on a corpus
    built so ranking exercises both BM25 behaviors: term saturation
    (many repeats of one term lose to broader coverage) and length
    normalization (same hits in a shorter doc score higher)."""
    from mapreduce_framework_for_mergesort_spark.operators.text import (
        bm25_topk,
    )

    rows = [
        (0, "merge merge merge merge merge merge merge merge"),  # saturated
        (1, "merge sort spark"),  # all three terms, short
        (2, "merge sort spark pad pad pad pad pad pad pad pad pad"),  # all three, long
        (3, "sort spark"),
        (4, "pad pad pad"),  # no hits
        (5, ""),  # empty doc
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["dl"], r["hits"], r["bm25"], r["rank"])
        for r in bm25_topk(docs, ("merge", "sort", "spark"), top_k=6).collect()
    }

    toks = {d: t.split() if t else [] for d, t in rows}
    n, sum_dl = len(rows), sum(len(t) for t in toks.values())
    avgdl = sum_dl / n
    terms = ("merge", "sort", "spark")
    df = {q: sum(1 for t in toks.values() if q in t) for q in terms}

    def score(d):
        s = 0.0
        for q in terms:
            tf = toks[d].count(q)
            idf = (n + 1) / (df[q] + 0.5)
            s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (len(toks[d]) / avgdl)))
        return s

    want_rank = sorted(toks, key=lambda d: (-score(d), d))
    for rank, d in enumerate(want_rank, start=1):
        dl, hits, bm25, got_rank = got[d]
        assert dl == len(toks[d])
        assert hits == sum(toks[d].count(q) for q in terms)
        assert got_rank == rank
        assert bm25 == pytest.approx(score(d), abs=1e-12)
    # the intended behaviors actually hold on this corpus: broad
    # coverage beats saturation, shorter beats longer at equal hits
    assert score(1) > score(0) and score(1) > score(2)

    # terms that would corrupt the SQL literal (quotes) or could never
    # match a whitespace token (spaces) are rejected loudly, not
    # silently mis-scored
    for bad in (("don't",), ("two words",), ("",), ()):
        with pytest.raises(ValueError):
            bm25_topk(docs, bad)


def test_bm25_plan_shape(spark, sf_smoke):
    """BM25's 100 TB posture: zero Python evals, no token explode (the
    only exchanges are the one-row stats aggregation + top-k), stats
    joined via broadcast, and the top-k is TakeOrderedAndProject —
    never a global sort of the corpus."""
    from mapreduce_framework_for_mergesort_spark.operators.text import (
        bm25_topk,
    )
    from mapreduce_framework_for_mergesort_spark.plans import audit

    top = bm25_topk(load_table(spark, sf_smoke, "documents"))
    a = audit(top)
    assert a.python_evals == 0, a.text
    assert a.broadcasts >= 1, a.text
    assert "TakeOrderedAndProject" in a.text
    assert "Generate" not in a.text  # no explode anywhere


def test_chunk_documents_matches_duckdb(spark, sf_oracle):
    """The sliding-window chunker must agree row-for-row with the
    DuckDB replica over the real corpus (same clamped integer ceil,
    same 1-based slices), and its plan must be one map-only codegen
    projection — no shuffle, no Python."""
    from mapreduce_framework_for_mergesort_spark.operators.text import (
        chunk_documents,
    )
    from mapreduce_framework_for_mergesort_spark.plans import audit
    from tests.oracle import run_oracle

    docs = load_table(spark, sf_oracle, "documents")
    out = chunk_documents(docs, chunk_tokens=16, overlap_tokens=4)
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
        for r in out.collect()
    )
    _cols, rows = run_oracle(
        R.duckdb_chunk_sql(chunk_tokens=16, overlap_tokens=4), sf_oracle
    )
    want = sorted(rows)
    assert got == want and len(got) > 0
    a = audit(out)
    assert a.exchanges == 0 and a.python_evals == 0, a.text

    # edges: neighbor overlap is exactly `overlap` tokens; empty docs
    # emit nothing; a doc shorter than one chunk emits itself whole
    tiny = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, ""), (3, "x y")],
        ["doc_id", "text"],
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_documents(tiny, 4, 1).collect()
    }
    assert rows == {
        (1, 0): ("a b c d", 4),
        (1, 1): ("d e f g", 4),
        (1, 2): ("g h i j", 4),
        (3, 0): ("x y", 2),
    }
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(tiny, 4, 4)


def test_repetition_profile_matches_duckdb(spark, sf_oracle):
    """The Gopher-style repetition metric the curation filter reads
    (``dup_token_frac``, projected by ``with_curation_features``) must
    agree value-for-value with a DuckDB replication over the real
    corpus."""
    from mapreduce_framework_for_mergesort_spark import pipelines
    from mapreduce_framework_for_mergesort_spark.functions import (
        hashing as H,
    )
    from tests.oracle import run_oracle

    sql = f"""
    WITH t AS (SELECT doc_id, {H.duckdb_tokens('text')} AS toks
               FROM documents)
    SELECT doc_id,
           CASE WHEN len(toks) = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(1 AS DOUBLE)
                     - CAST(len(list_distinct(toks)) AS DOUBLE)
                       / len(toks) END AS dup_token_frac
    FROM t
    """
    docs = load_table(spark, sf_oracle, "documents")
    got = {
        r["doc_id"]: round(r["dup_token_frac"], 12)
        for r in pipelines.with_curation_features(docs).collect()
    }
    _cols, rows = run_oracle(sql, sf_oracle)
    assert got == {r[0]: round(r[1], 12) for r in rows}


def test_repetition_profile_edge_cases(spark):
    from mapreduce_framework_for_mergesort_spark import pipelines

    docs = spark.createDataFrame(
        [
            (1, ""),                       # no tokens
            (2, "solo"),                   # 1 token
            (3, "a a a"),                  # pure repetition
            (4, "alpha beta alpha beta"),  # repeating bigram chain
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["dup_token_frac"]
        for r in pipelines.with_curation_features(docs).collect()
    }
    assert got[1] == 0.0 and got[2] == 0.0
    assert got[3] == pytest.approx(2 / 3)
    assert got[4] == pytest.approx(1 / 2)


def test_pack_documents_matches_duckdb_window(spark, sf_oracle):
    """The distributed prefix-sum packing must equal the single-window
    SQL formulation value-for-value (partitioning independence), and
    satisfy the packing invariants: offsets in [0, budget), pack_ids
    contiguous from 0, and each document starting exactly where the
    previous one ends in concat space."""
    from mapreduce_framework_for_mergesort_spark.functions import (
        hashing as H,
    )
    from mapreduce_framework_for_mergesort_spark.operators.sampling import (
        pack_documents,
    )
    from tests.oracle import run_oracle

    budget = 256
    docs = load_table(spark, sf_oracle, "documents")
    got = {
        r["doc_id"]: (r["n_tokens"], r["pack_id"], r["pack_offset"])
        for r in pack_documents(docs, budget).collect()
    }

    sql = f"""
    WITH t AS (SELECT doc_id,
                      len({H.duckdb_tokens('text')}) AS n FROM documents),
    c AS (SELECT doc_id, n,
          COALESCE(SUM(n) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS excl
          FROM t)
    SELECT doc_id, n AS n_tokens,
           excl // {budget} AS pack_id,
           excl % {budget} AS pack_offset
    FROM c
    """
    cols, rows = run_oracle(sql, sf_oracle)
    idx = {c: i for i, c in enumerate(cols)}
    want = {
        r[idx["doc_id"]]: (
            r[idx["n_tokens"]],
            r[idx["pack_id"]],
            r[idx["pack_offset"]],
        )
        for r in rows
    }
    assert got == want

    # invariants
    assert all(0 <= off < budget for (_, _, off) in got.values())
    pack_ids = {p for (_, p, _) in got.values()}
    assert pack_ids == set(range(max(pack_ids) + 1))
    # concat-space continuity: sorted by key, each start = prev start + n
    order = sorted(got)
    starts = [got[k][1] * budget + got[k][2] for k in order]
    for i in range(1, len(order)):
        assert starts[i] == starts[i - 1] + got[order[i - 1]][0]


def test_pack_documents_partitioning_proof(spark, sf_oracle):
    """Same answer at 1 and 16 input partitions (the distributed prefix
    sum may not depend on the physical layout), and count_col override
    works."""
    from mapreduce_framework_for_mergesort_spark.operators.sampling import (
        pack_documents,
    )

    docs = load_table(spark, sf_oracle, "documents")
    a = {
        tuple(r)
        for r in pack_documents(docs.coalesce(1), 100)
        .select("doc_id", "pack_id", "pack_offset")
        .collect()
    }
    b = {
        tuple(r)
        for r in pack_documents(docs.repartition(16), 100)
        .select("doc_id", "pack_id", "pack_offset")
        .collect()
    }
    assert a == b

    with pytest.raises(ValueError):
        pack_documents(docs, 0)

    fixed = docs.withColumn("toklen", F.lit(10))
    packed = pack_documents(fixed, 25, count_col="toklen").collect()
    by_id = {r["doc_id"]: r for r in packed}
    ids = sorted(by_id)
    # doc i starts at 10*i in concat space
    for i, k in enumerate(ids):
        assert by_id[k]["pack_id"] == (10 * i) // 25
        assert by_id[k]["pack_offset"] == (10 * i) % 25


def test_hash_sample_deterministic_and_duckdb_exact(spark, sf_oracle):
    """The salted hash-sample predicate must select the IDENTICAL id
    set as the DuckDB predicate built from the same threshold, be
    partitioning-proof, and be nested across rates (kept@0.1 ⊆
    kept@0.3)."""
    from mapreduce_framework_for_mergesort_spark.operators.sampling import (
        duckdb_sample_predicate,
        sample_predicate,
    )
    from tests.oracle import run_oracle

    def hash_sample(df, rate):
        return df.where(sample_predicate("doc_id", rate))

    docs = load_table(spark, sf_oracle, "documents")
    got = {
        r["doc_id"]
        for r in hash_sample(docs, 0.3).select("doc_id").collect()
    }
    _, rows = run_oracle(
        "SELECT doc_id FROM documents WHERE "
        + duckdb_sample_predicate(0.3, "doc_id"),
        sf_oracle,
    )
    assert got == {r[0] for r in rows}
    assert got, "0.3 of 500 docs must select something"
    # partitioning-proof
    again = {
        r["doc_id"]
        for r in hash_sample(docs.repartition(16), 0.3)
        .select("doc_id")
        .collect()
    }
    assert again == got
    # nested: smaller rate is a subset
    small = {
        r["doc_id"]
        for r in hash_sample(docs, 0.1).select("doc_id").collect()
    }
    assert small <= got
    # rate roughly honored (binomial tolerance)
    n = docs.count()
    assert 0.15 * n < len(got) < 0.45 * n
    # independence from hash_split (round-4 review: an unsalted sample
    # hash made every rate ≤ 0.8 sample a subset of the train split)
    from mapreduce_framework_for_mergesort_spark.operators.sampling import (
        hash_split,
    )

    splits = {
        r["split"]
        for r in hash_split(hash_sample(docs, 0.3), "doc_id").collect()
    }
    assert splits == {"train", "val", "test"}


def test_balanced_sample_caps_and_is_partition_proof(spark):
    """Per-stratum cap: oversized strata cut to exactly cap (the
    prefilter's under-fill probability is ~e^-O(slack·cap), i.e. zero
    at these sizes), undersized strata pass through whole, and the
    kept SET is identical under a different partitioning (membership
    is a pure function of key + stratum population)."""
    from mapreduce_framework_for_mergesort_spark.operators.sampling import (
        balanced_sample,
    )

    rows = [(i, "big") for i in range(2000)] + [
        (10_000 + i, "small") for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "cluster"])
    kept = balanced_sample(df, "cluster", cap=100, key="doc_id")
    by_stratum = {
        r["cluster"]: r["n"]
        for r in kept.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_stratum == {"big": 100, "small": 30}

    ids = sorted(r["doc_id"] for r in kept.collect())
    re_ids = sorted(
        r["doc_id"]
        for r in balanced_sample(
            df.repartition(17, "doc_id"), "cluster", cap=100, key="doc_id"
        ).collect()
    )
    assert ids == re_ids

    # NULL stratum and NULL key rows drop (join/hash semantics)
    with_nulls = spark.createDataFrame(
        [(1, None), (None, "x"), (2, "x")],
        "doc_id bigint, cluster string",
    )
    got = balanced_sample(with_nulls, "cluster", cap=10, key="doc_id").collect()
    assert [(r["doc_id"], r["cluster"]) for r in got] == [(2, "x")]


def test_near_dedup_collapse_exact_identical_kept_set(spark, sf_oracle):
    """The lexical tiers' exact-first collapse must keep the IDENTICAL
    doc set as the uncollapsed pipeline (every document's pairs, one
    clustering, min-id survivors — built here from the public pieces)
    on a replica-heavy corpus, for minhash and for minhash+simhash."""
    docs = load_table(spark, sf_oracle, "documents").limit(100)
    extra = docs.selectExpr("doc_id + 100000 AS doc_id", "text")
    corpus = docs.select("doc_id", "text").unionByName(extra)

    def uncollapsed(tiers):
        pairs = D.near_dup_pair_tiers(corpus, tiers)
        clusters = D.cluster_pairs(pairs, nodes=corpus.select("doc_id"))
        return {
            r["keep_doc_id"]
            for r in D.cluster_survivors(clusters).collect()
        }

    plain = uncollapsed(("minhash",))
    auto = {r["doc_id"] for r in D.near_dedup_documents(corpus).collect()}
    assert auto == plain
    both_tiers = {
        r["doc_id"]
        for r in D.near_dedup_documents(
            corpus, tiers=("minhash", "simhash")
        ).collect()
    }
    assert both_tiers == uncollapsed(("minhash", "simhash"))
    # replicas never survive alongside their original
    assert not (plain & {d + 100000 for d in plain})


# --- duplicate-substring spans (tier 6) ------------------------------------


@pytest.fixture(scope="module")
def corpus_with_spans(spark):
    """Known span structure, k=4: docs 1/2 share one 6-token block
    (→ one merged span each, 3 dup windows), doc 3 repeats a 4-token
    block INSIDE itself twice (within-doc duplication also counts),
    doc 4 is clean, doc 5 is shorter than k."""
    boiler = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one unique lead {boiler} tail one"),
        (2, f"two other start {boiler} two finish here"),
        (3, "p q r s filler words p q r s"),
        (4, "completely clean text with no repeats at all"),
        (5, "too short"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_positional_gram_flags_distinct_grain_equals_direct_window(spark):
    """Round 8 (round-7 verdict item 5): the flags pass now runs its
    per-gram window at DISTINCT-CONTENT grain with replica weights and
    expands per document through a sort-free join — this pins it
    row-for-row against the direct per-occurrence window (the
    ``grams``-injected path, the original spelling) on the adversarial
    corpus: replica-heavy (the weighted ``__cnt`` must equal the
    occurrence count), interleaved doc ids (the first-occurrence
    winner must be the global ``min(struct(doc_id, pos))``, not a
    per-text artifact), within-doc repetition, NULL text (no rows),
    and a sub-k doc (no windows)."""
    boiler = "alpha beta gamma delta epsilon zeta"
    rows = [
        (7, f"one unique lead {boiler} tail one"),
        (2, f"two other start {boiler} two finish here"),
        (9, f"one unique lead {boiler} tail one"),   # replica of 7
        (1, f"one unique lead {boiler} tail one"),   # replica, SMALLER id
        (3, "p q r s filler words p q r s"),
        (4, None),
        (5, "too short"),
        (6, f"two other start {boiler} two finish here"),  # replica of 2
    ]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    got = sorted(
        map(tuple, D.positional_gram_flags(docs, k=4).collect())
    )
    want = sorted(
        map(
            tuple,
            D.positional_gram_flags(
                docs, k=4, grams=D.positional_ngrams(docs, k=4)
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    # the replica group's first occurrence sits on the SMALLEST doc id
    firsts = {
        (d, p) for d, p, _c, f in got if f and d in (1, 7, 9)
    }
    assert firsts and all(d == 1 for d, _p in firsts)


def test_dup_spans_known_structure(corpus_with_spans):
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_dup_pos"])
        for r in D.dup_spans(corpus_with_spans, k=4).collect()
    }
    # docs 1 and 2: the shared 6-token block yields 3 overlapping dup
    # windows merged into ONE span covering exactly the block.
    # doc 1: boiler at token positions 4-9; doc 2: positions 4-9.
    assert spans[1] == (4, 9, 3)
    assert spans[2] == (4, 9, 3)
    # doc 3: "p q r s" at positions 1-4 and 7-10 — two spans, far
    # enough apart (gap > k-1) not to merge.
    all_rows = D.dup_spans(corpus_with_spans, k=4).collect()
    doc3 = sorted(
        (r["span_start"], r["span_end"], r["n_dup_pos"])
        for r in all_rows
        if r["doc_id"] == 3
    )
    assert doc3 == [(1, 4, 1), (7, 10, 1)]
    # clean/short docs emit no spans
    assert not [r for r in all_rows if r["doc_id"] in (4, 5)]


def test_dup_spans_adjacent_windows_merge(spark):
    """Two dup windows overlapping by k-1 tokens fuse into one span;
    the same windows separated by a clean gap do not."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i j"),  # whole doc duplicated
        ],
        ["doc_id", "text"],
    )
    rows = D.dup_spans(docs, k=4).collect()
    per_doc = {(r["doc_id"]): (r["span_start"], r["span_end"]) for r in rows}
    assert len(rows) == 2  # ONE merged span per doc
    assert per_doc[1] == (1, 10) and per_doc[2] == (1, 10)


def test_dup_span_profile_zero_fill_and_frac(corpus_with_spans):
    prof = {
        r["doc_id"]: r for r in D.dup_span_profile(
            corpus_with_spans, k=4
        ).collect()
    }
    assert set(prof) == {1, 2, 3, 4, 5}  # ALL docs, affected or not
    assert prof[4]["dup_span_count"] == 0
    assert prof[4]["dup_token_cover"] == 0
    assert prof[4]["dup_token_frac"] == 0.0
    assert prof[5]["dup_span_count"] == 0
    # doc 1: 6 covered tokens of 10 total
    assert prof[1]["dup_token_cover"] == 6
    assert prof[1]["dup_token_frac"] == 6 / prof[1]["n_tokens"]
    # doc 3: two 4-token spans of 10 tokens
    assert prof[3]["dup_token_cover"] == 8
    assert prof[3]["dup_token_frac"] == 0.8


def test_curation_span_frac_filter(spark):
    """max_dup_span_frac drops docs whose CORPUS-relative boilerplate
    coverage exceeds the ceiling, while docs sharing no k-gram with any
    other doc survive — the cross-page repetition max_dup_token_frac
    (within-doc) cannot see."""
    from mapreduce_framework_for_mergesort_spark import pipelines

    boiler = "click here to subscribe to our newsletter today"
    rows = [
        # docs 1/2: short text mostly made of the shared block → high
        # span coverage (8 of 10 tokens = 0.8)
        (1, f"first page {boiler}"),
        (2, f"other site {boiler}"),
        # doc 3: long unique text plus the same block → low coverage
        # (filler must not self-repeat: repeated filler would create
        # its own within-doc duplicate windows)
        (3, " ".join(f"w{i}" for i in range(40)) + " " + boiler),
        # doc 4: entirely unique
        (4, "entirely original content with no shared window at all ok"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(
        r["doc_id"]
        for r in pipelines.curate_documents(
            docs,
            min_quality=0.0,
            langs=("en", "und"),
            redact=False,
            max_dup_span_frac=0.5,
        ).collect()
    )
    assert kept == [3, 4]
    # Without the knob the near-dup tier collapses 1/2 (8 of their 10
    # tokens are the shared block) but still SHIPS one boilerplate
    # survivor; the span ceiling is what removes the content class
    # entirely while keeping doc 3, whose coverage is low.
    base = sorted(
        r["doc_id"]
        for r in pipelines.curate_documents(
            docs, min_quality=0.0, langs=("en", "und"), redact=False
        ).collect()
    )
    assert base == [1, 3, 4]


def test_strip_dup_spans_first_occurrence_wins(spark):
    """An exact later duplicate strips to '' while the first copy is
    untouched; a shared interior block loses its middle but keeps up to
    k-1 fringe tokens under windows straddling into unique context."""
    block = " ".join(f"b{i}" for i in range(20))  # 20-token shared block
    docs = spark.createDataFrame(
        [
            (1, "x y z w v u t s"),          # 8 tokens, n == k
            (2, "x y z w v u t s"),          # exact dup of 1
            (3, f"p1 p2 p3 {block} q1 q2 q3"),
            (4, f"r1 r2 r3 {block} s1 s2 s3"),
            (5, "short doc"),                # n < k: untouched
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in D.strip_dup_spans(docs, k=4).collect()}
    assert out[1]["stripped_text"] == "x y z w v u t s"
    assert out[2]["stripped_text"] == "" and out[2]["n_kept_tokens"] == 0
    # doc 3 holds the first occurrence of every block window → intact
    assert out[3]["stripped_text"] == docs.where("doc_id=3").collect()[0]["text"]
    # doc 4: block interior removed, k-1=3 fringe tokens survive on
    # each edge (plus the unique 3-token prefix/suffix)
    got4 = out[4]["stripped_text"].split(" ")
    assert got4[:6] == ["r1", "r2", "r3", "b0", "b1", "b2"]
    assert got4[-6:] == ["b17", "b18", "b19", "s1", "s2", "s3"]
    assert out[4]["n_kept_tokens"] == 12 and out[4]["n_tokens"] == 26
    assert out[5]["stripped_text"] == "short doc"


def test_strip_dup_spans_deterministic_across_input_order(spark):
    """The winner is min (doc_id, pos) — reversing input row order must
    not change which copy survives."""
    rows = [(2, "m n o p q r s t"), (1, "m n o p q r s t")]
    fwd = {
        r["doc_id"]: r["stripped_text"]
        for r in D.strip_dup_spans(
            spark.createDataFrame(rows, ["doc_id", "text"]), k=4
        ).collect()
    }
    rev = {
        r["doc_id"]: r["stripped_text"]
        for r in D.strip_dup_spans(
            spark.createDataFrame(rows[::-1], ["doc_id", "text"]), k=4
        ).collect()
    }
    assert fwd == rev
    assert fwd[1] == "m n o p q r s t" and fwd[2] == ""


def test_mix_sources_epochs_and_determinism(spark):
    """Budget-driven mixing: full epochs replicate every row, the
    fractional epoch is a strict subset, unweighted strata vanish, and
    membership survives an input repartition (pure function of key)."""
    from mapreduce_framework_for_mergesort_spark.operators import (
        sampling as SP,
    )

    rows = [(i, f"s{i % 3}", f"text {i}") for i in range(90)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    W = {"s0": 3, "s1": 1}  # s2 unweighted → dropped
    out = SP.mix_sources(docs, W, max_epochs=2).collect()
    got = {(r["source"], r["epoch"], r["doc_id"]) for r in out}
    assert not [g for g in got if g[0] == "s2"]
    # plan: avail 30 each, den 4 → T = min(30·2·4//3, 30·2·4//1) =
    # min(80, 240) = 80; targets 60/20 → s0 rate EXACTLY 2.0 (two
    # complete epochs, no fractional), s1 rate 2/3 (fractional only)
    assert SP.mix_plan({"s0": 30, "s1": 30}, W, max_epochs=2) == {
        "s0": (2, 0),
        "s1": (0, 2 * SP._MIX_ONE // 3),
    }
    # every epoch>0 member is also an epoch-0 member
    for s, e, d in got:
        if e > 0:
            assert (s, 0, d) in got
    s0_all = set(range(0, 90, 3))
    # s0: BOTH epochs complete (rate 2.0 keeps every row twice)
    assert {d for s, e, d in got if s == "s0" and e == 0} == s0_all
    assert {d for s, e, d in got if s == "s0" and e == 1} == s0_all
    # s1: fractional epoch 0 only — a strict nonempty subset
    s1_kept = {d for s, e, d in got if s == "s1"}
    assert {e for s, e, d in got if s == "s1"} == {0}
    assert 0 < len(s1_kept) < 30
    # determinism across partitioning
    out2 = {
        (r["source"], r["epoch"], r["doc_id"])
        for r in SP.mix_sources(
            docs.repartition(7, "text"), W, max_epochs=2
        ).collect()
    }
    assert out2 == got


def test_prepare_training_shards_quality_gate(spark, tmp_path):
    """``input_checks=`` fails the run loudly BEFORE any curation or
    shard output when the landing zone violates a constraint, and
    passes through when the data is clean."""
    from mapreduce_framework_for_mergesort_spark import pipelines

    docs = spark.createDataFrame(
        [(1, "good text about spark the and of"), (1, "duplicate id row"),
         (3, None)],
        "doc_id bigint, text string",
    )
    checks = [("unique", "doc_id"), ("not_null", "text", 0.0)]
    out = str(tmp_path / "gate_shards")
    with pytest.raises(ValueError, match="unique"):
        pipelines.prepare_training_shards(
            docs, out, input_checks=checks, min_quality=0.0,
            langs=("en", "und"),
        )
    import os

    assert not os.path.exists(out)  # nothing partial was written
    clean = spark.createDataFrame(
        # both rows must be genuinely English-SCORING under the
        # round-12 char-trigram lang_id (word salad without English
        # trigrams classifies elsewhere — the model working, not a bug)
        [(1, "the cat sat and the dog ran off to the door again"),
         (2, "the second document is all about the query engines we use")],
        "doc_id bigint, text string",
    )
    manifest = pipelines.prepare_training_shards(
        clean, out, input_checks=checks, min_quality=0.0,
        langs=("en", "und"), shards_per_split=1,
    )
    assert sum(s["docs"] for s in manifest["splits"].values()) == 2


@pytest.mark.parametrize(
    "strip_threshold", [0, 1 << 62], ids=["kernel", "codegen"]
)
def test_curation_strip_spans_rewrites(
    spark, monkeypatch, tmp_path, strip_threshold
):
    """strip_spans=True de-boilerplates survivors instead of dropping
    them: the repeated block's interior is gone from later copies, an
    all-boilerplate doc strips to empty and vanishes, and the
    first-occurrence doc ships intact — on both sides of the strip
    rebuild's input-bytes gate."""
    from mapreduce_framework_for_mergesort_spark import pipelines

    monkeypatch.setattr(
        sizing, "STRIP_ARROW_THRESHOLD_BYTES", strip_threshold
    )

    block = " ".join(f"x{i}" for i in range(20))
    rows = [
        (1, f"lead one two {block} tail alpha beta"),
        (2, f"other open here {block} close gamma delta"),
        (3, block),  # nothing but the (later) boilerplate
        # round 12: the trigram lang-id needs genuinely English
        # phrasing — the old "enough words to pass" salad scored de
        (4, "this is a fully original document and the words that it "
            "carries pass the filter easily"),
    ]
    # a file scan, so the gate has bytes to measure (an in-memory frame
    # is unmeasurable and always counts as below the threshold)
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(path)
    docs = spark.read.parquet(path)
    out = {
        r["doc_id"]: r["text"]
        for r in pipelines.curate_documents(
            docs,
            min_quality=0.0,
            langs=("en", "und"),
            redact=False,
            strip_spans=True,
            dup_span_k=4,
        ).collect()
    }
    assert set(out) == {1, 2, 4}  # doc 3 stripped to '' and removed
    assert out[1] == rows[0][1]  # first occurrence intact
    # doc 2 keeps its unique prefix/suffix and the k-1 fringe only
    assert out[2].startswith("other open here x0 x1 x2 ")
    assert out[2].endswith("x17 x18 x19 close gamma delta")
    assert "x8 x9 x10" not in out[2]
    assert out[4] == rows[3][1]


def test_redact_pii_iban_and_aggressive_shapes(spark):
    """Round-5 shape breadth: IBAN-ish (contiguous + spaced groups,
    alnum-guarded so longer alphanumeric runs stay whole, and running
    BEFORE the card rule so a spaced IBAN's 4-digit interior isn't
    half-eaten); bare 10- and 11-digit runs are left alone (ids as
    likely as phones).  DuckDB parity pinned."""
    import duckdb
    import pandas as pd

    from mapreduce_framework_for_mergesort_spark.operators import text as T

    rows = [
        (1, "pay GB82WEST12345698765432 now"),
        (2, "iban DE44 5001 0517 5407 3249 31 listed"),
        (3, "not XDE44500105175407324931 an iban"),  # alnum prefix
        (4, "chain GB82WEST12345698765432,DE89370400440532013000"),
        (5, "ALL CAPS PROSE WITH FOUR CHAR WORD RUNS"),  # no CC+digits
        (6, "call 5551234567 maybe"),
        (7, "order 15551234567 is an id"),  # 11 digits: guarded
        (8, "card 1234 5678 9012 3456 stays a card"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {r["doc_id"]: r["text"] for r in T.redact_pii(docs).collect()}
    assert got[1] == "pay <IBAN> now"
    assert got[2] == "iban <IBAN> listed"
    assert got[3] == "not XDE44500105175407324931 an iban"
    assert got[4] == "chain <IBAN>,<IBAN>"
    assert got[5] == "ALL CAPS PROSE WITH FOUR CHAR WORD RUNS"
    assert got[6] == "call 5551234567 maybe"  # bare run kept
    assert got[7] == "order 15551234567 is an id"
    assert got[8] == "card <CARD> stays a card"

    twice = T.redact_pii(T.redact_pii(docs))
    assert {r["doc_id"]: r["text"] for r in twice.collect()} == got

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("docs", pdf)
    oracle = dict(
        con.execute(
            f"SELECT doc_id, {R.duckdb_redact_sql('text')} FROM docs"
        ).fetchall()
    )
    assert oracle == got


def test_leakage_safe_split_clusters_never_straddle(spark):
    """The whole point: every near-dup candidate pair (and every exact
    replica) lands in ONE split; singletons reduce to the plain
    content-hash split; membership is partitioning-proof."""
    from mapreduce_framework_for_mergesort_spark.operators import (
        dedup as D,
        sampling as S,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again %s"
    )
    rows = (
        # a near-dup cluster of 3 + an exact replica of one member
        [(1, base % "ok"), (2, base % "ok"), (3, base % "no"),
         (4, base % "yes")]
        # unrelated singletons
        + [
            (10 + i, f"completely different document number {i} about "
                     f"spark shuffles and sorting windows {i}")
            for i in range(40)
        ]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = S.leakage_safe_split(docs)
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(split_of) == len(rows)  # one row per doc, no fan-out

    # exact replicas together
    assert split_of[1] == split_of[2]
    # every LSH candidate pair together (transitively: whole cluster)
    pairs = D.lsh_candidate_pairs(D.minhash_bands(docs)).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert split_of[r["doc_a"]] == split_of[r["doc_b"]], (
            r["doc_a"], r["doc_b"])

    # singletons: exactly the content-hash split
    from pyspark.sql import functions as F

    plain = {
        r["doc_id"]: r["split"]
        for r in docs.withColumn(
            "split",
            S.split_column(F.md5(F.col("text").cast("binary"))),
        ).collect()
    }
    clustered = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs} | {1, 2}
    for i, _ in rows:
        if i not in clustered:
            assert split_of[i] == plain[i], i

    # partitioning-proof
    re_split = {
        r["doc_id"]: r["split"]
        for r in S.leakage_safe_split(docs.repartition(13)).collect()
    }
    assert re_split == split_of


def test_contamination_report_parity_and_consistency(spark, sf_oracle):
    """Per-benchmark-item leakage report: pinned against an independent
    DuckDB recomputation (same canonical tokenizer/shingler), zero-hit
    items present with zeros, and the set of corpus docs any item hits
    equals contaminated_doc_ids' flag set."""
    import duckdb

    from mapreduce_framework_for_mergesort_spark.functions import (
        hashing as H,
    )
    from mapreduce_framework_for_mergesort_spark.operators import (
        dedup as D,
    )

    docs = load_table(spark, sf_oracle, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    rep = D.contamination_report(docs, bench)
    got = sorted(
        (r["bench_id"], r["n_docs_hit"], r["n_gram_hits"])
        for r in rep.collect()
    )
    assert len(got) == bench.count()  # every item reported
    # an item that is itself a corpus doc with >= n tokens hits itself
    assert any(nd >= 1 for _, nd, _ in got)

    n = D.DECONTAM_N
    sh = R.duckdb_shingles(H.duckdb_tokens("text"), n)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM"
        f" '{sf_oracle}/documents.parquet'"
    )
    want = sorted(
        con.execute(f"""
        WITH ds AS (
          SELECT doc_id AS d, unnest({sh}) AS s FROM documents),
        bs AS (
          SELECT doc_id AS bench_id, unnest({sh}) AS s FROM documents
          WHERE doc_id % 97 = 0),
        h AS (
          SELECT bench_id, COUNT(DISTINCT d) AS nd, COUNT(*) AS ng
          FROM ds JOIN bs USING (s) GROUP BY bench_id)
        SELECT b.bench_id, coalesce(nd, 0), coalesce(ng, 0)
        FROM (SELECT DISTINCT doc_id AS bench_id FROM documents
              WHERE doc_id % 97 = 0) b
        LEFT JOIN h USING (bench_id)
        """).fetchall()
    )
    assert got == [tuple(r) for r in want]

    flagged = {
        r["doc_id"]
        for r in D.contaminated_doc_ids(docs, bench).collect()
    }
    hit_docs_expected = {
        r[0]
        for r in con.execute(f"""
        WITH ds AS (
          SELECT doc_id AS d, unnest({sh}) AS s FROM documents),
        bs AS (
          SELECT unnest({sh}) AS s FROM documents WHERE doc_id % 97 = 0)
        SELECT DISTINCT d FROM ds SEMI JOIN bs USING (s)
        """).fetchall()
    }
    assert flagged == hit_docs_expected


def test_feature_hash_embed_parity_and_retrieval(spark, sf_oracle):
    """Deterministic feature-hash embeddings: vectors bit-identical to
    the DuckDB mirror over the real corpus; identical texts embed
    identically (cosine exactly 1 through the existing exact fold);
    and the vectors flow through the stock ANN stack (brute-force
    cosine retrieval with self-similarity on top)."""
    import duckdb

    from mapreduce_framework_for_mergesort_spark.operators import (
        similarity as S,
    )

    DIM = 32
    docs = load_table(spark, sf_oracle, "documents")
    emb = S.feature_hash_embed(docs, dim=DIM)
    got = {
        r["doc_id"]: [float(v) for v in r["embedding"]]
        for r in emb.select("doc_id", "embedding").collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM"
        f" '{sf_oracle}/documents.parquet'"
    )
    want = {
        d: [float(v) for v in vec]
        for d, vec in con.execute(
            f"SELECT doc_id, {R.duckdb_feature_hash_sql('text', DIM)}"
            f" FROM documents"
        ).fetchall()
    }
    assert got == want and len(got) > 0
    assert any(any(v != 0.0 for v in vec) for vec in got.values())

    # identical text => identical vector => cosine exactly 1.0
    two = spark.createDataFrame(
        [(1, "the same text twice over"), (2, "the same text twice over")],
        ["doc_id", "text"],
    )
    e2 = S.feature_hash_embed(two, dim=DIM).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    top = S.brute_force_topk(e2, 1, 2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    # identical vectors: cosine is 1 up to the fold's sqrt rounding
    assert abs(top[1]["score"] - 1.0) < 1e-12

    # the vectors drive the stock ANN machinery end-to-end
    ids = (
        docs.where(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    vecs = S.feature_hash_embed(ids, dim=DIM).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    bf = [r["vec_id"] for r in S.brute_force_topk(vecs, 0, 5).collect()]
    assert len(bf) == 5 and bf[0] == 0  # self-similarity tops the list


def test_jpeg_color_container_roundtrip_size_and_features():
    """Round 7: the COLOR half of the JPEG modality — 4:4:4 baseline
    synthesis with the same closed-form discipline (one flat MCU per
    source byte, 6 entropy bytes, stuffing-free), exact YCbCr round
    trip, and the pinned floor(x+0.5) JFIF RGB conversion."""
    import math

    data = b"The quick brown fox! \x00\xff\x7f"
    p = M.synthesize_jpeg_color(data)
    assert len(p) == M.JPEGC_HEADER + 6 * len(data)
    assert b"\xff" not in p[len(M._jfif_header(8 * len(data), 3)) : -2]
    w, h, yp, cbp, crp = M._jpeg_ycbcr(p)
    assert (w, h) == (M.JPEG_WIDTH, 8 * len(data))
    for i, v in enumerate(data):
        assert int(yp[8 * i][3]) == v
        assert int(cbp[8 * i][3]) == 255 - v
        assert int(crp[8 * i][3]) == (3 * v + 7) % 256

    # pinned conversion: vectorized twin == scalar form, channel by
    # channel, including clamp-active extremes
    _w, _h, rgb = _jpeg_rgb(p)
    for i, v in enumerate(data):
        want = R.ycbcr_to_rgb(v, 255 - v, (3 * v + 7) % 256)
        assert tuple(rgb[i * 192 : i * 192 + 3]) == want
        # and the scalar form really is floor(x+0.5) with the literals
        cl = lambda x: max(0, min(255, math.floor(x + 0.5)))
        cb, cr = 255 - v, (3 * v + 7) % 256
        assert want == (
            cl(v + 1.402 * (cr - 128)),
            cl(v - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
            cl(v + 1.772 * (cb - 128)),
        )

    # features: fast path == general entropy decoder (COM segment
    # defeats the byte-identical header gate) — for grey too
    import struct

    com = struct.pack(">HH", 0xFFFE, 9) + b"comment"
    assert M.decode_jpeg_color(p) == M.decode_jpeg_color(p[:2] + com + p[2:])
    g = M.synthesize_jpeg(data)
    assert M.decode_jpeg(g) == M.decode_jpeg(g[:2] + com + g[2:])
    assert M.decode_jpeg_color(M.synthesize_jpeg_color(b"")) == [0.0] * M.FEATURE_DIM

    # frames are standalone decodable color JPEGs carrying their MCUs
    # verbatim
    frames = M.frame_stub(M.synthesize_jpeg_color(b"xyz"), "jpeg_color")
    assert frames == [M.synthesize_jpeg_color(b"xyz")]
    long = bytes(range(64, 64 + 20))
    frames = M.frame_stub(M.synthesize_jpeg_color(long), "jpeg_color")
    assert [len(f) for f in frames] == [
        M.JPEGC_HEADER + 48, M.JPEGC_HEADER + 48, M.JPEGC_HEADER + 24,
    ]
    assert frames[1] == M.synthesize_jpeg_color(long[8:16])

    # cross-profile misuse is a loud error, both directions
    with pytest.raises(ValueError, match="use the jpeg_color verbs"):
        _jpeg_pixels(p)
    with pytest.raises(ValueError, match="use the\n?.*greyscale jpeg verbs"):
        M._jpeg_ycbcr(M.synthesize_jpeg(b"abc"))
    with pytest.raises(ValueError, match="at most 8191"):
        M.synthesize_jpeg_color(bytes(9000))


def test_jpeg_vectorized_encoder_matches_scalar_reference():
    """The numpy unit emitter must be bit-identical to the scalar
    per-block Huffman arithmetic it replaced (independent inline
    reimplementation, random payloads incl. max-swing diffs)."""
    import random

    def scalar_units(dcs):
        codes = M._jpeg_dc_codes()
        out = bytearray()
        prev = 0
        for dc in dcs:
            d = dc - prev
            prev = dc
            cat = abs(d).bit_length()
            value = d if d >= 0 else d + (1 << cat) - 1
            code, _ln = codes[cat]
            out += (((code << (cat + 1)) | (value << 1))).to_bytes(2, "big")
        return bytes(out)

    rng = random.Random(1234)
    for trial in range(25):
        data = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        dcs = [b - 128 for b in data]
        assert M._jpeg_dc_units(dcs) == scalar_units(dcs), trial
        assert M.synthesize_jpeg(data) == (
            M._jfif_header(8 * len(data), 1) + scalar_units(dcs) + b"\xff\xd9"
        ), trial
    # max-swing chain 0<->255 exercises category 8 both signs
    swing = bytes([0, 255] * 100)
    dcs = [b - 128 for b in swing]
    assert M._jpeg_dc_units(dcs) == scalar_units(dcs)


def test_jpeg_color_decoder_general_baseline_path():
    """The color decoder must be GENERAL within baseline color, not
    just the synthesis profile's inverse: 3-component interleaved
    scans, DISTINCT per-component quant tables and Huffman selectors,
    real AC coefficients, 4:2:0 SUBSAMPLING (2x2 luma sampling with
    replicate chroma upsample), and byte stuffing.  Independent
    test-side encoder + independent numpy reference, as in the
    greyscale twin."""
    import struct

    import numpy as np

    DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    DC_VALS = list(range(12))
    AC_BITS = [0, 2, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    AC_VALS = [0x00, 0x01, 0x02, 0xF0, 0x11]  # incl. run-1/size-1
    # a SECOND, differently-shaped DC table for the chroma selector
    DC2_BITS = [0, 0, 4, 4, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    DC2_VALS = list(range(12))

    def canon(bits, vals):
        out, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return out

    dc0, dc1 = canon(DC_BITS, DC_VALS), canon(DC2_BITS, DC2_VALS)
    ac0 = canon(AC_BITS, AC_VALS)

    class W:
        def __init__(self):
            self.bits = []

        def put(self, code, ln):
            self.bits += [(code >> (ln - 1 - i)) & 1 for i in range(ln)]

        def bytes_(self):
            bs, out = self.bits + [1] * (-len(self.bits) % 8), bytearray()
            for i in range(0, len(bs), 8):
                b = int("".join(map(str, bs[i : i + 8])), 2)
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    def cat_bits(v):
        c = abs(v).bit_length()
        return c, (v if v >= 0 else v + (1 << c) - 1)

    def put_block(wtr, blk, prev, dc_tab):
        c, vb = cat_bits(blk.get(0, 0) - prev)
        wtr.put(*dc_tab[c])
        if c:
            wtr.put(vb, c)
        last = 0
        for k in sorted(k for k in blk if k > 0):
            run = k - last - 1
            while run >= 16:
                wtr.put(*ac0[0xF0])
                run -= 16
            c2, vb2 = cat_bits(blk[k])
            wtr.put(*ac0[(run << 4) | c2])
            wtr.put(vb2, c2)
            last = k
        if not blk or max(blk) < 63:
            wtr.put(*ac0[0x00])
        return blk.get(0, 0)

    qy = [2 + (i % 4) for i in range(64)]
    qc = [5 + (i % 3) for i in range(64)]

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    def jfif_420(y_blocks, cb_block, cr_block):
        # one 4:2:0 MCU: image 16x16, Y sampled 2x2, chroma 1x1
        wtr = W()
        prev = 0
        for blk in y_blocks:
            prev = put_block(wtr, blk, prev, dc0)
        put_block(wtr, cb_block, 0, dc1)
        put_block(wtr, cr_block, 0, dc1)
        return (
            b"\xff\xd8"
            + seg(0xFFDB, bytes([0x00]) + bytes(qy))
            + seg(0xFFDB, bytes([0x01]) + bytes(qc))
            + seg(
                0xFFC0,
                struct.pack(">BHHB", 8, 16, 16, 3)
                + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
            )
            + seg(0xFFC4, bytes([0x00] + DC_BITS + DC_VALS))
            + seg(0xFFC4, bytes([0x01] + DC2_BITS + DC2_VALS))
            + seg(0xFFC4, bytes([0x10] + AC_BITS + AC_VALS))
            + seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 63, 0]))
            + wtr.bytes_()
            + b"\xff\xd9"
        )

    y_blocks = [
        {0: 40},
        {0: -31, 1: 1, 2: -2},
        {0: 0, 17: 1},
        {0: 127, 1: -1, 18: 1},
    ]
    cb_block = {0: 12, 1: 2}
    cr_block = {0: -9, 2: -1}
    payload = jfif_420(y_blocks, cb_block, cr_block)

    # --- independent reference --------------------------------------
    xs = np.arange(8)
    C = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16) / 2
    C[0] *= 1 / np.sqrt(2)

    def idct_plane(blocks, q, bw_blocks):
        n = len(blocks)
        bh_blocks = n // bw_blocks
        out = np.zeros((bh_blocks * 8, bw_blocks * 8))
        prev = 0
        for i, blk in enumerate(blocks):
            zz = np.zeros(64)
            dc = blk.get(0, 0)
            for k, v in blk.items():
                zz[k] = v * q[k]
            zz[0] = dc * q[0]
            coef = np.zeros(64)
            coef[M._ZIGZAG] = zz
            by, bx = divmod(i, bw_blocks)
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                C.T @ coef.reshape(8, 8) @ C
            )
            prev = dc
        return np.clip(np.rint(out + 128), 0, 255).astype(np.int64)

    # the encoder wrote DC DIFFS per chain implicitly via put_block's
    # prev threading; blocks hold ABSOLUTE DC in position 0 already
    yref = idct_plane(y_blocks, qy, 2)          # 16x16 luma
    cbref = idct_plane([cb_block], qc, 1)        # 8x8 chroma
    crref = idct_plane([cr_block], qc, 1)

    w, h, yp, cbp, crp = M._jpeg_ycbcr(payload)
    assert (w, h) == (16, 16)
    assert np.array_equal(np.asarray(yp), yref)
    # replicate upsample: chroma pixel (x, y) <- plane (x//2, y//2)
    up = lambda p: p[np.arange(16) // 2][:, np.arange(16) // 2]
    assert np.array_equal(np.asarray(cbp), up(cbref))
    assert np.array_equal(np.asarray(crp), up(crref))

    # RGB conversion on the general path equals the scalar pinned form
    _w, _h, rgb = _jpeg_rgb(payload)
    want00 = R.ycbcr_to_rgb(int(yref[0, 0]), int(cbref[0, 0]), int(crref[0, 0]))
    assert tuple(rgb[0:3]) == want00

    # byte-stuffing branch: drive both chroma DCs until the stream
    # stuffs a 0xFF00, then require exact decode of every plane.  DC
    # coefficients live in quantized-coefficient space (not pixel
    # space), so large categories are legal — a cat-11 DC emits 11
    # consecutive one-bits, which is what lines a 0xFF up
    stuffed = None
    for dcb in range(-2047, 2048, 3):
        for dcr in range(-255, 256, 7):
            cand = jfif_420(y_blocks, {0: dcb}, {0: dcr})
            ent = cand[cand.index(b"\xff\xda") + 14 : -2]
            if b"\xff\x00" in ent:
                stuffed = (dcb, dcr, cand)
                break
        if stuffed:
            break
    assert stuffed is not None, "no stuffed byte found in search space"
    dcb, dcr, cand = stuffed
    _w3, _h3, yp3, cbp3, crp3 = M._jpeg_ycbcr(cand)
    assert np.array_equal(np.asarray(yp3), yref)
    assert np.array_equal(np.asarray(cbp3), up(idct_plane([{0: dcb}], qc, 1)))
    assert np.array_equal(np.asarray(crp3), up(idct_plane([{0: dcr}], qc, 1)))


def test_jpeg_decoder_restart_intervals():
    """Round-7 verdict item 2: camera-output baseline JPEGs routinely
    carry restart markers, so the general decoder accepts DRI/RSTn —
    at each boundary it byte-aligns the bit reader, consumes the
    CYCLING RST marker, and resets every component's DC predictor.
    The independent test-side 4:2:0 encoder gains DRI emission: a
    48x16 image = three MCUs with DRI=1, so the stream crosses two
    boundaries (RST0 then RST1 — marker cycling is exercised, not just
    one restart).  DC values are chosen so a decoder that failed to
    RESET predictors would produce different pixels (each segment's
    first DC is a diff from 0, not from the previous MCU).  A stream
    whose restart marker index is wrong must fail loudly."""
    import struct

    import numpy as np

    DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    DC_VALS = list(range(12))
    AC_BITS = [0, 2, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    AC_VALS = [0x00, 0x01, 0x02, 0xF0, 0x11]
    DC2_BITS = [0, 0, 4, 4, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    DC2_VALS = list(range(12))

    def canon(bits, vals):
        out, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return out

    dc0, dc1 = canon(DC_BITS, DC_VALS), canon(DC2_BITS, DC2_VALS)
    ac0 = canon(AC_BITS, AC_VALS)

    class W:
        def __init__(self):
            self.bits = []

        def put(self, code, ln):
            self.bits += [(code >> (ln - 1 - i)) & 1 for i in range(ln)]

        def bytes_(self):
            bs, out = self.bits + [1] * (-len(self.bits) % 8), bytearray()
            for i in range(0, len(bs), 8):
                b = int("".join(map(str, bs[i : i + 8])), 2)
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    def cat_bits(v):
        c = abs(v).bit_length()
        return c, (v if v >= 0 else v + (1 << c) - 1)

    def put_block(wtr, blk, prev, dc_tab):
        c, vb = cat_bits(blk.get(0, 0) - prev)
        wtr.put(*dc_tab[c])
        if c:
            wtr.put(vb, c)
        last = 0
        for k in sorted(k for k in blk if k > 0):
            run = k - last - 1
            while run >= 16:
                wtr.put(*ac0[0xF0])
                run -= 16
            c2, vb2 = cat_bits(blk[k])
            wtr.put(*ac0[(run << 4) | c2])
            wtr.put(vb2, c2)
            last = k
        if not blk or max(blk) < 63:
            wtr.put(*ac0[0x00])
        return blk.get(0, 0)

    qy = [2 + (i % 4) for i in range(64)]
    qc = [5 + (i % 3) for i in range(64)]

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    # each MCU's entropy bytes encoded INDEPENDENTLY: predictors start
    # at 0 after every restart, and the writer 1-pads to a byte before
    # the (raw, unstuffed) marker is appended
    def entropy_mcu(y_blocks, cb, cr):
        wtr, prev = W(), 0
        for blk in y_blocks:
            prev = put_block(wtr, blk, prev, dc0)
        put_block(wtr, cb, 0, dc1)
        put_block(wtr, cr, 0, dc1)
        return wtr.bytes_()

    # three 16x16 MCUs; DCs differ per MCU so an unreset predictor
    # decodes visibly wrong values
    mcus = [
        ([{0: 40}, {0: -31, 1: 1}, {0: 5, 17: 1}, {0: 127, 2: -1}],
         {0: 12, 1: 2}, {0: -9}),
        ([{0: -100}, {0: 63, 2: 1}, {0: 0}, {0: 11, 1: -1}],
         {0: -30}, {0: 25, 1: 1}),
        ([{0: 7, 1: 3}, {0: -7}, {0: 90, 18: -1}, {0: -55}],
         {0: 4}, {0: -2, 2: 1}),
    ]

    def build(rst_indices):
        scan_bytes = b""
        for i, m in enumerate(mcus):
            if i:
                scan_bytes += bytes([0xFF, 0xD0 + rst_indices[i - 1]])
            scan_bytes += entropy_mcu(*m)
        return (
            b"\xff\xd8"
            + seg(0xFFDB, bytes([0x00]) + bytes(qy))
            + seg(0xFFDB, bytes([0x01]) + bytes(qc))
            + seg(0xFFDD, struct.pack(">H", 1))  # DRI: restart every MCU
            + seg(
                0xFFC0,
                struct.pack(">BHHB", 8, 16, 48, 3)
                + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
            )
            + seg(0xFFC4, bytes([0x00] + DC_BITS + DC_VALS))
            + seg(0xFFC4, bytes([0x01] + DC2_BITS + DC2_VALS))
            + seg(0xFFC4, bytes([0x10] + AC_BITS + AC_VALS))
            + seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 63, 0]))
            + scan_bytes
            + b"\xff\xd9"
        )

    payload = build([0, 1])  # the standard cycling order

    # --- independent reference ---------------------------------------
    xs = np.arange(8)
    C = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16) / 2
    C[0] *= 1 / np.sqrt(2)

    def idct_block(blk, q):
        zz = np.zeros(64)
        for k, v in blk.items():
            zz[k] = v * q[k]
        coef = np.zeros(64)
        coef[M._ZIGZAG] = zz
        return C.T @ coef.reshape(8, 8) @ C

    yref = np.zeros((16, 48))
    cbref = np.zeros((8, 24))
    crref = np.zeros((8, 24))
    for mx, (yb, cb, cr) in enumerate(mcus):
        for i, blk in enumerate(yb):  # (by, bx) in decode order
            by, bx = divmod(i, 2)
            yref[by * 8 : by * 8 + 8,
                 (mx * 2 + bx) * 8 : (mx * 2 + bx) * 8 + 8] = \
                idct_block(blk, qy)
        cbref[:, mx * 8 : mx * 8 + 8] = idct_block(cb, qc)
        crref[:, mx * 8 : mx * 8 + 8] = idct_block(cr, qc)
    lvl = lambda p: np.clip(np.rint(p + 128), 0, 255).astype(np.int64)
    yref, cbref, crref = lvl(yref), lvl(cbref), lvl(crref)

    w, h, yp, cbp, crp = M._jpeg_ycbcr(payload)
    assert (w, h) == (48, 16)
    assert np.array_equal(np.asarray(yp), yref)
    up = lambda p: p[np.arange(16) // 2][:, np.arange(48) // 2]
    assert np.array_equal(np.asarray(cbp), up(cbref))
    assert np.array_equal(np.asarray(crp), up(crref))

    # the full decode verb (feature vector) runs too on a DRI stream
    feats = M.decode_jpeg_color(payload)
    assert feats[0] == 48.0 and feats[1] == 16.0

    # a wrong restart-marker index is corruption, not silently skipped
    with pytest.raises(ValueError, match="expected RST0"):
        M._jpeg_ycbcr(build([1, 0]))


def _prog_jpeg_toolkit():
    """Shared pieces of the INDEPENDENT test-side progressive encoder
    (round 9 — the encoder twin the DRI test established for baseline,
    extended to multi-scan emission: spectral selection, successive
    approximation with buffered correction bits, EOBn runs, ZRL in
    both passes, restartable DC scans).  Nothing here is shared with
    the engine decoder — agreement can't come from shared code."""
    import struct

    DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    DC_VALS = list(range(12))
    AC_VALS = sorted(
        {0x00, 0x10, 0x20, 0x30, 0xF0}
        | {(r << 4) | s for r in range(16) for s in (1, 2, 3)}
    )
    AC_BITS = [0, 0, 0, 0, 0, len(AC_VALS)] + [0] * 10

    def canon(bits, vals):
        out, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return out

    dc_c, ac_c = canon(DC_BITS, DC_VALS), canon(AC_BITS, AC_VALS)

    class W:
        def __init__(self):
            self.bits = []

        def put(self, code, ln):
            self.bits += [(code >> (ln - 1 - i)) & 1 for i in range(ln)]

        def put_bit(self, b):
            self.bits.append(b)

        def bytes_(self):
            bs = self.bits + [1] * (-len(self.bits) % 8)
            out = bytearray()
            for i in range(0, len(bs), 8):
                b = int("".join(map(str, bs[i : i + 8])), 2)
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    def cat_bits(v):
        c = abs(v).bit_length()
        return c, (v if v >= 0 else v + (1 << c) - 1)

    def emit_eobn(wtr, eobrun):
        run = eobrun.bit_length() - 1
        wtr.put(*ac_c[run << 4])
        if run:
            wtr.put(eobrun - (1 << run), run)

    def dc_first_scan(mcus, al, restart=0):
        # mcus: list of MCUs, each a list of (cid, dc) in traversal
        # order; a restarted scan resets predictors and byte-aligns
        out, wtr, prev, rst_n = bytearray(), W(), {}, 0
        for count, mcu in enumerate(mcus):
            if restart and count and count % restart == 0:
                out += wtr.bytes_()
                out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) & 7
                wtr, prev = W(), {}
            for cid, dc in mcu:
                v = dc >> al  # DC point transform: arithmetic shift
                c, vb = cat_bits(v - prev.get(cid, 0))
                prev[cid] = v
                wtr.put(*dc_c[c])
                if c:
                    wtr.put(vb, c)
        out += wtr.bytes_()
        return bytes(out)

    def dc_refine_scan(dcs, al):
        wtr = W()
        for dc in dcs:
            wtr.put_bit((dc >> al) & 1)
        return wtr.bytes_()

    def ac_first_scan(blocks, ss, se, al):
        # AC point transform truncates toward zero: sign * (|v| >> al)
        wtr, eobrun = W(), 0
        for blk in blocks:
            band = {}
            for k, v in blk.items():
                if ss <= k <= se and abs(v) >> al:
                    band[k] = (abs(v) >> al) * (1 if v > 0 else -1)
            if not band:
                eobrun += 1
                continue
            if eobrun:
                emit_eobn(wtr, eobrun)
                eobrun = 0
            r = 0
            for k in range(ss, se + 1):
                v = band.get(k, 0)
                if v == 0:
                    r += 1
                    continue
                while r > 15:
                    wtr.put(*ac_c[0xF0])
                    r -= 16
                c, vb = cat_bits(v)
                wtr.put(*ac_c[(r << 4) | c])
                wtr.put(vb, c)
                r = 0
            if max(band) < se:
                eobrun += 1
        if eobrun:
            emit_eobn(wtr, eobrun)
        return wtr.bytes_()

    def ac_refine_scan(blocks, ss, se, al):
        # the libjpeg-shaped refinement emitter: newly-nonzero coefs
        # (|v|>>al == 1) carry run/size=1 + sign; already-nonzero ones
        # buffer one correction bit each, appended after the next
        # symbol (or after the EOBn covering their block)
        wtr, eobrun, be = W(), 0, []

        def flush_eob():
            nonlocal eobrun, be
            if eobrun:
                emit_eobn(wtr, eobrun)
                for b in be:
                    wtr.put_bit(b)
                eobrun, be = 0, []

        for blk in blocks:
            absv = {}
            for k, v in blk.items():
                if ss <= k <= se and abs(v) >> al:
                    absv[k] = (abs(v) >> al, 1 if v > 0 else 0)
            eob_k = max(
                (k for k, (t, _s) in absv.items() if t == 1),
                default=ss - 1,
            )
            r, br = 0, []
            for k in range(ss, se + 1):
                t, sign = absv.get(k, (0, 0))
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob_k:
                    flush_eob()
                    wtr.put(*ac_c[0xF0])
                    r -= 16
                    for b in br:
                        wtr.put_bit(b)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                flush_eob()
                wtr.put(*ac_c[(r << 4) | 1])
                wtr.put_bit(sign)
                for b in br:
                    wtr.put_bit(b)
                br, r = [], 0
            if r > 0 or br:
                eobrun += 1
                be += br
        flush_eob()
        return wtr.bytes_()

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    def sos(scan_comps, ss, se, ah, al):
        body = bytes([len(scan_comps)])
        for cid, tt in scan_comps:
            body += bytes([cid, tt])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xFFDA, body)

    tables = (
        seg(0xFFC4, bytes([0x00] + DC_BITS + DC_VALS))
        + seg(0xFFC4, bytes([0x10] + AC_BITS + AC_VALS))
    )
    return {
        "seg": seg, "sos": sos, "tables": tables,
        "dc_first": dc_first_scan, "dc_refine": dc_refine_scan,
        "ac_first": ac_first_scan, "ac_refine": ac_refine_scan,
    }


def _idct_ref(blk, q):
    """Independent numpy IDCT reference (same as the baseline tests)."""
    import numpy as np

    xs = np.arange(8)
    C = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16) / 2
    C[0] *= 1 / np.sqrt(2)
    zz = np.zeros(64)
    for k, v in blk.items():
        zz[k] = v * q[k]
    coef = np.zeros(64)
    coef[M._ZIGZAG] = zz
    return C.T @ coef.reshape(8, 8) @ C


def test_jpeg_decoder_progressive_greyscale():
    """Round 9 (round-8 verdict item 2): progressive JPEG (SOF2)
    decodes on the general path.  A 16x16 grey fixture from the
    independent test-side progressive encoder spreads its coefficients
    over SIX scans — DC first at Al=1, two spectral AC bands (1..20,
    21..63) at Al=1, then one refinement scan for each — and the
    decoded pixels must equal the independent IDCT reference exactly.
    The coefficients exercise: DC successive approximation on negative
    and odd values; an EOB run of 3 with an extra-bit count (band
    21..63: three empty blocks before the coded one); ZRL in the first
    pass (runs of 38 and 22 zeros); a refinement ZRL (16 zero-history
    positions before a newly-nonzero -1); newly-nonzero refinement
    coefficients of both signs; correction bits of both values; and
    correction bits buffered under an EOB run (block 0's band-2
    corrections ride the EOBn)."""
    import struct

    import numpy as np

    t = _prog_jpeg_toolkit()
    q = [3 + (i % 5) for i in range(64)]
    blocks = [
        {0: 40, 1: 5, 20: -2},
        {0: -31},
        {0: 0},
        {0: 127, 2: 1, 19: -1, 40: 3, 63: -6},
    ]
    AL = 1
    payload = (
        b"\xff\xd8"
        + t["seg"](0xFFDB, bytes([0x00]) + bytes(q))
        + t["seg"](
            0xFFC2,
            struct.pack(">BHHB", 8, 16, 16, 1) + bytes([1, 0x11, 0]),
        )
        + t["tables"]
        + t["sos"]([(1, 0x00)], 0, 0, 0, AL)
        + t["dc_first"]([[(1, b.get(0, 0))] for b in blocks], AL)
        + t["sos"]([(1, 0x00)], 1, 20, 0, AL)
        + t["ac_first"](blocks, 1, 20, AL)
        + t["sos"]([(1, 0x00)], 21, 63, 0, AL)
        + t["ac_first"](blocks, 21, 63, AL)
        + t["sos"]([(1, 0x00)], 0, 0, 1, 0)
        + t["dc_refine"]([b.get(0, 0) for b in blocks], 0)
        + t["sos"]([(1, 0x00)], 1, 20, 1, 0)
        + t["ac_refine"](blocks, 1, 20, 0)
        + t["sos"]([(1, 0x00)], 21, 63, 1, 0)
        + t["ac_refine"](blocks, 21, 63, 0)
        + b"\xff\xd9"
    )

    want = np.zeros((16, 16))
    for i, blk in enumerate(blocks):
        by, bx = divmod(i, 2)
        want[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_ref(blk, q)
    want = np.clip(np.rint(want + 128), 0, 255).astype(np.int64)

    w, h, got = _jpeg_pixels(payload)
    assert (w, h) == (16, 16)
    assert np.array_equal(np.array(got).reshape(16, 16), want)

    # the decode verb runs end to end on a progressive stream
    feats = M.decode_jpeg(payload)
    assert feats[0] == 16.0 and feats[1] == 16.0

    # corruption stays loud: an AC scan claiming three components
    bad = payload.replace(
        t["sos"]([(1, 0x00)], 1, 20, 0, AL),
        t["seg"](0xFFDA, bytes([3, 1, 0, 2, 0, 3, 0, 1, 20, AL])),
    )
    with pytest.raises(ValueError, match="exactly one component"):
        _jpeg_pixels(bad)
    # invalid successive approximation (Ah must be Al+1)
    bad = payload.replace(
        t["sos"]([(1, 0x00)], 1, 20, 1, 0),
        t["sos"]([(1, 0x00)], 1, 20, 2, 0),
    )
    with pytest.raises(ValueError, match="successive approximation"):
        _jpeg_pixels(bad)
    # truncation mid-scan
    with pytest.raises(ValueError):
        _jpeg_pixels(payload[: len(payload) - 40])


def test_jpeg_decoder_progressive_color_420_with_restarts():
    """Progressive + color + subsampling + restart markers, composed:
    a 24x8 4:2:0 frame whose luma MCU-padded grid (4x2 blocks) differs
    from its own block grid (3x1) — the interleaved DC scan must code
    the padding blocks, the per-component AC scans must NOT (the
    classic progressive block-count trap).  The DC scan carries DRI=1
    (restart after each MCU: predictors reset, cycling marker), DRI is
    redefined to 0 between scans, and chroma planes decode through
    their own scans.  Pixels must equal the independent per-plane IDCT
    reference after the engine's upsampling."""
    import struct

    import numpy as np

    t = _prog_jpeg_toolkit()
    qy = [2 + (i % 4) for i in range(64)]
    qc = [5 + (i % 3) for i in range(64)]
    y_own = [
        {0: 40, 1: 5, 20: -2},
        {0: -31, 2: 1, 19: -1},
        {0: 127, 40: 3},
    ]
    cb_own = [{0: 12, 1: 2}, {0: -30}]
    cr_own = [{0: -9, 17: 1}, {0: 25}]
    AL = 1

    def y_dc(bx, by):
        return y_own[bx].get(0, 0) if by == 0 and bx < 3 else 0

    mcus_dc = []
    for mx in range(2):
        mcu = []
        for iy in range(2):
            for ix in range(2):
                mcu.append((1, y_dc(mx * 2 + ix, iy)))
        mcu.append((2, cb_own[mx].get(0, 0)))
        mcu.append((3, cr_own[mx].get(0, 0)))
        mcus_dc.append(mcu)
    dc_order = [dc for mcu in mcus_dc for _cid, dc in mcu]

    payload = (
        b"\xff\xd8"
        + t["seg"](0xFFDB, bytes([0x00]) + bytes(qy))
        + t["seg"](0xFFDB, bytes([0x01]) + bytes(qc))
        + t["seg"](
            0xFFC2,
            struct.pack(">BHHB", 8, 8, 24, 3)
            + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
        + t["tables"]
        + t["seg"](0xFFDD, struct.pack(">H", 1))  # DRI for the DC scan
        + t["sos"]([(1, 0x00), (2, 0x00), (3, 0x00)], 0, 0, 0, AL)
        + t["dc_first"](mcus_dc, AL, restart=1)
        + t["seg"](0xFFDD, struct.pack(">H", 0))  # DRI off again
        + t["sos"]([(1, 0x00)], 1, 63, 0, AL)
        + t["ac_first"](y_own, 1, 63, AL)
        + t["sos"]([(2, 0x00)], 1, 63, 0, AL)
        + t["ac_first"](cb_own, 1, 63, AL)
        + t["sos"]([(3, 0x00)], 1, 63, 0, AL)
        + t["ac_first"](cr_own, 1, 63, AL)
        + t["sos"]([(1, 0x00), (2, 0x00), (3, 0x00)], 0, 0, 1, 0)
        + t["dc_refine"](dc_order, 0)
        + t["sos"]([(1, 0x00)], 1, 63, 1, 0)
        + t["ac_refine"](y_own, 1, 63, 0)
        + t["sos"]([(2, 0x00)], 1, 63, 1, 0)
        + t["ac_refine"](cb_own, 1, 63, 0)
        + t["sos"]([(3, 0x00)], 1, 63, 1, 0)
        + t["ac_refine"](cr_own, 1, 63, 0)
        + b"\xff\xd9"
    )

    lvl = lambda p: np.clip(np.rint(p + 128), 0, 255).astype(np.int64)
    yref = np.zeros((8, 24))
    for bx, blk in enumerate(y_own):
        yref[:, bx * 8 : bx * 8 + 8] = _idct_ref(blk, qy)
    cbref = np.zeros((4, 16))
    crref = np.zeros((4, 16))
    for bx in range(2):
        cbref[:, bx * 8 : bx * 8 + 8] = _idct_ref(cb_own[bx], qc)[:4]
        crref[:, bx * 8 : bx * 8 + 8] = _idct_ref(cr_own[bx], qc)[:4]
    yref = lvl(yref)
    cbref, crref = lvl(cbref[:, :12]), lvl(crref[:, :12])

    w, h, yp, cbp, crp = M._jpeg_ycbcr(payload)
    assert (w, h) == (24, 8)
    assert np.array_equal(np.asarray(yp), yref)
    up = lambda p: p[np.arange(8) // 2][:, np.arange(24) // 2]
    assert np.array_equal(np.asarray(cbp), up(cbref))
    assert np.array_equal(np.asarray(crp), up(crref))

    # the full color decode verb runs on a progressive stream
    feats = M.decode_jpeg_color(payload)
    assert feats[0] == 24.0 and feats[1] == 8.0

    # a wrong restart index inside a progressive scan stays loud
    bad = payload.replace(bytes([0xFF, 0xD0]), bytes([0xFF, 0xD3]))
    with pytest.raises(ValueError, match="expected RST0"):
        M._jpeg_ycbcr(bad)


# ---------------------------------------------------------------------------
# round-13 per-content kernels and scale gates, checked against the
# DuckDB oracles on a corpus with replicas and edge texts
# ---------------------------------------------------------------------------

_TEXT_EDGE_BATTERY = [
    "plain english text with the and of to stopwords. Plus Caps!",
    "",  # empty → NULL ratios/quality
    "   \t\n  ",  # whitespace-only → quality 0.6
    "汉字测试页面内容 no spaces needed",  # unsegmented script
    "これは日本語のテキスト",
    "numbers 123 and 456 plus http://example.com/x?a=1",
    "!!!,,,;;;:::...???",  # punctuation-dense
    "repeat repeat repeat repeat repeat",
    None,  # NULL text keeps its own content group
]


def _edge_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TEXT_EDGE_BATTERY)],
        "doc_id bigint, text string",
    )


def test_text_keys_oracle_on_replica_and_edge_corpus(
    spark, sf_oracle, tmp_path, monkeypatch
):
    """q_text_doc_profile, q_lang_id and q_tfidf_top_terms == their
    DuckDB oracles on a corpus WITH replicas (so per-content collapses,
    df's replica-count sum and the fanned-out window ranks bind), the
    text edge battery (empty, whitespace-only, CJK, NULL) and bm25 rows
    with NULL/'' text and a score tie.  q_tfidf_top_terms runs twice:
    once on the per-document bm25 (this corpus is below the gate) and
    once with the gate at 0, so the collapsed bm25 is checked too.
    doc_id stays UNIQUE across the corpus (collapsed tf-idf's key
    contract)."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mapreduce_framework_for_mergesort_spark.operators import text as T

    src = pq.read_table(f"{sf_oracle}/documents.parquet")
    base = src.filter(pa.array(src["doc_id"].to_numpy() % 3 == 0))
    dups = base.set_column(
        base.schema.get_field_index("doc_id"),
        "doc_id",
        pc.add(base["doc_id"], 100000),
    )
    extra = [(900000 + i, t) for i, t in enumerate(_TEXT_EDGE_BATTERY)] + [
        (910001, "merge sort spark merge"),
        (910002, ""),
        (910003, None),
        (910004, "merge sort spark merge"),
    ]
    extra_cols = {
        f.name: pa.nulls(len(extra), f.type) for f in src.schema
    }
    extra_cols["doc_id"] = pa.array([i for i, _ in extra], pa.int64())
    extra_cols["text"] = pa.array([t for _, t in extra], pa.string())
    out = str(tmp_path / "sfedge")
    os.makedirs(out)
    pq.write_table(
        pa.concat_tables(
            [base, dups, pa.table(extra_cols, schema=src.schema)]
        ),
        f"{out}/documents.parquet",
    )
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"{sf_oracle}/{t}.parquet", f"{out}/{t}.parquet")
    # the first pass must take the per-document bm25 side
    assert not sizing.reaches(
        load_table(spark, out, "documents"),
        sizing.BM25_COLLAPSE_THRESHOLD_BYTES,
    )
    for key in ["q_text_doc_profile", "q_lang_id", "q_tfidf_top_terms"]:
        compare_query(spark, key, out, QUERIES, ORACLE)
    monkeypatch.setattr(sizing, "BM25_COLLAPSE_THRESHOLD_BYTES", 0)
    compare_query(spark, "q_tfidf_top_terms", out, QUERIES, ORACLE)


def test_doc_profile_strategies_equal(spark, sf_oracle):
    """doc_profile's per-content collapse is invisible: the operator ==
    its struct kernel projected once per document row, with no
    collapse, on the edge battery (NULL text keeps its own row) and the
    fixture.  Values are pinned against the DuckDB oracle by
    test_text_keys_oracle_on_replica_and_edge_corpus."""
    from mapreduce_framework_for_mergesort_spark.operators import text as T

    key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
    for df in (
        _edge_df(spark),
        load_table(spark, sf_oracle, "documents"),
    ):
        a = sorted((tuple(r) for r in T.doc_profile(df).collect()), key=key)
        per_row = df.select(
            "doc_id", T.doc_profile_arrow(F.col("text")).alias("__p")
        ).select("doc_id", "__p.*")
        c = sorted((tuple(r) for r in per_row.collect()), key=key)
        assert a == c and len(a) == df.count()


def _tfidf_per_document(documents, top_n: int = 3):
    """tf-idf at document grain — the spelling the DuckDB oracle uses:
    tf per (doc_id, term), df = documents containing the term, one
    top-n window per doc_id.  The reference the operator's
    content-grain pipeline must reproduce row for row."""
    from pyspark.sql import Window

    from mapreduce_framework_for_mergesort_spark.functions import hashing as H

    tf = (
        documents.select(
            "doc_id", F.explode(F.expr(H.spark_tokens("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(n_docs)
        .withColumn(
            "tfidf",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= top_n)
        .select("doc_id", "term", "tf", "df", "tfidf", "rn")
    )


def test_tfidf_strategies_equal(spark, sf_oracle):
    """tfidf_top_terms == the document-grain reference on the edge
    battery and the fixture."""
    from mapreduce_framework_for_mergesort_spark.operators import text as T

    for df in (
        _edge_df(spark),
        load_table(spark, sf_oracle, "documents"),
    ):
        a = sorted(tuple(r) for r in T.tfidf_top_terms(df).collect())
        c = sorted(tuple(r) for r in _tfidf_per_document(df).collect())
        assert a == c


def test_tfidf_collapsed_strategy_equals_per_document(spark, sf_oracle):
    """The distinct-content-grain tfidf == the document-grain
    reference, row for row, on a corpus WITH replicas (so df's
    replica-count sum and the fanned-out window ranks actually bind)
    plus edge texts."""
    from mapreduce_framework_for_mergesort_spark.operators import text as T

    # key filter, not limit(): an unordered limit may pick different
    # rows on each side's independent evaluation
    base = load_table(spark, sf_oracle, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    dups = base.withColumn("doc_id", F.col("doc_id") + 100000)
    docs = base.unionByName(dups).unionByName(
        _edge_df(spark)
        # doc_id must stay UNIQUE across the corpus (the operator's
        # documented key contract): a colliding id with different
        # texts makes the per-document window pool terms across both
        # texts, which is not a corpus any declared query can produce
        .withColumn("doc_id", F.col("doc_id") + 900000)
        .withColumn("lang", F.lit(None).cast("string"))
        .withColumn("source", F.lit(None).cast("string"))
        .withColumn("n_chars", F.lit(None).cast("bigint"))
        .select(base.columns)
    )
    a = sorted(tuple(r) for r in T.tfidf_top_terms(docs).collect())
    c = sorted(tuple(r) for r in _tfidf_per_document(docs).collect())
    assert a == c and len(a) > 0


def test_bm25_strategies_equal(spark, sf_oracle, monkeypatch):
    """The per-content-collapsed bm25 == the per-document side, row for
    row, on a replica-bearing corpus with NULL/empty text and score
    ties.  Each side is selected through bm25_topk's own input-bytes
    gate."""
    from mapreduce_framework_for_mergesort_spark.operators import text as T

    base = load_table(spark, sf_oracle, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    docs = base.unionByName(
        base.withColumn("doc_id", F.col("doc_id") + 100000)
    ).unionByName(
        spark.createDataFrame(
            [(900001, "merge sort spark merge"), (900002, ""),
             (900003, None), (900004, "merge sort spark merge")],
            "doc_id bigint, text string",
        )
        .withColumn("lang", F.lit(None).cast("string"))
        .withColumn("source", F.lit(None).cast("string"))
        .withColumn("n_chars", F.lit(None).cast("bigint"))
        .select(base.columns)
    )

    def topk(threshold: int):
        monkeypatch.setattr(sizing, "BM25_COLLAPSE_THRESHOLD_BYTES", threshold)
        return sorted(tuple(r) for r in T.bm25_topk(docs).collect())

    a = topk(0)
    c = topk(1 << 62)
    assert a == c and len(a) == T.BM25_TOP_K


def _strip_kernel_in_plan(df) -> bool:
    return "rebuild(" in df._jdf.queryExecution().optimizedPlan().toString()


def test_strip_rebuild_strategies_equal(spark, sf_oracle, monkeypatch):
    """Round-13 pin: the Arrow strip-rebuild kernel == the codegen
    HOF slice rebuild, row for row, on the fixture plus synthetic
    duplicates (so protecting intervals actually bind) and edge texts.
    Each side is selected through the operator's own input-bytes gate."""
    from mapreduce_framework_for_mergesort_spark.operators.materialize import (
        materialize,
    )

    base = load_table(spark, sf_oracle, "documents").limit(150)
    dups = base.withColumn("doc_id", F.col("doc_id") + 100000)
    edge = _edge_df(spark)
    for c, dt in base.dtypes:
        if c not in edge.columns:
            edge = edge.withColumn(c, F.lit(None).cast(dt))
    docs = base.unionByName(dups).unionByName(edge.select(base.columns))
    flags = materialize(D.positional_gram_flags(docs))
    cols = ["doc_id", "stripped_text", "n_tokens", "n_kept_tokens"]
    key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731

    def strip(threshold: int, kernel: bool):
        monkeypatch.setattr(sizing, "STRIP_ARROW_THRESHOLD_BYTES", threshold)
        out = D.strip_dup_spans(docs, flags=flags).select(cols)
        assert _strip_kernel_in_plan(out) is kernel
        return sorted((tuple(r) for r in out.collect()), key=key)

    a = strip(0, kernel=True)
    c = strip(1 << 62, kernel=False)
    assert a == c and len(a) == docs.count()
