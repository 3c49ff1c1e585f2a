"""Product-quantization ANN: cross-engine exactness of the full
train/encode/ADC/rerank pipeline, recall bounds vs brute force, and
the compressed-domain shapes."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.operators import pq as P
from mapreduce_framework_for_mergesort_spark.operators import similarity as S

DIM = 64


@pytest.fixture(scope="module")
def emb(spark, sf_oracle):
    return load_table(spark, sf_oracle, "embeddings")


def test_pq_matches_duckdb_value_for_value(spark, sf_oracle, emb):
    """Training, encoding, int64 ADC, the deterministic candidate cut,
    and the exact-cosine rerank must all agree across engines — the
    final (vec_id, score) list matches bit-for-bit."""
    got = [
        (r["vec_id"], r["score"])
        for r in P.pq_adc_topk(emb, 0, 10, DIM).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM"
        f" '{sf_oracle}/embeddings.parquet'"
    )
    want = con.execute(
        "WITH " + P.duckdb_pq_cte(DIM, 0, 10)
        + " SELECT vec_id, score FROM ptop ORDER BY rank"
    ).fetchall()
    assert got == [(v, s) for v, s in want]


def test_pq_recall_monotone_and_exact_at_full(spark, emb):
    """r_cand is the recall knob: candidate sets are nested (ADC order
    is total), so recall@10 vs brute force is non-decreasing in r_cand
    and exactly 1.0 when every vector is reranked."""
    n = emb.count()
    bf = {r["vec_id"] for r in S.brute_force_topk(emb, 0, 10).collect()}
    last = -1.0
    for rc in (40, 100, n):
        got = {
            r["vec_id"]
            for r in P.pq_adc_topk(emb, 0, 10, DIM, r_cand=rc).collect()
        }
        recall = len(bf & got) / 10
        assert recall >= last, (rc, recall, last)
        last = recall
    assert last == 1.0
    # and the engine's default r_cand is useful on real embeddings
    got = {r["vec_id"] for r in P.pq_adc_topk(emb, 0, 10, DIM).collect()}
    assert len(bf & got) / 10 >= 0.4


def test_pq_codebook_and_code_shapes(spark, emb):
    """M books of <= K codewords of subdim width; codes are M positions
    each in [0, len(book)) — the 64-float embedding compresses to 4
    small ints (the 100 TB memory story)."""
    books = P.train_codebooks(emb, DIM)
    assert len(books) == P.PQ_M
    for book in books:
        assert 0 < len(book) <= P.PQ_K
        assert all(len(cq) == DIM // P.PQ_M for _, cq in book)
    rows = P.pq_encode(emb, books).select("code").limit(50).collect()
    for r in rows:
        assert len(r["code"]) == P.PQ_M
        for j, c in enumerate(r["code"]):
            assert 0 <= c < len(books[j])


def test_pq_validation():
    with pytest.raises(ValueError):
        P.train_codebooks(None, dim=65)  # not divisible by PQ_M


def test_pq_adc_plan_is_codegen_take_ordered(spark, emb):
    """The compressed-domain scan must stay JVM-side: one Arrow encode
    pass (ArrowEvalPython), ADC as a literal-array projection (no join,
    no second Python stage), TakeOrderedAndProject for the candidate
    cut."""
    books = P.train_codebooks(emb, DIM)
    tables = P._adc_tables(
        emb.where(F.col("vec_id") == 0).collect()[0]["embedding"],
        books,
        DIM,
    )
    cand = (
        P.pq_encode(emb, books)
        .select("vec_id", F.expr(P._adc_expr(tables)).alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("vec_id"))
        .limit(40)
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "Join" not in plan


def test_ivfadc_recall_surface_guaranteed_axes(spark, emb):
    """The recall knob is nprobe, and the candidate cut scales with it
    (4·k·nprobe, round 9): a fixed cut kept the ADC pool constant and
    the knob did nothing (the ANN_r08 trap: recall flat ~0.35 across
    nprobe).  Empirical pin on this deterministic fixture: recall@10 is
    non-decreasing in nprobe and strictly better at nprobe = C than at
    nprobe = 1."""
    C = 8
    bf = {r["vec_id"] for r in S.brute_force_topk(emb, 0, 10).collect()}
    cents = S._trained_cents(emb, C)
    cells = S.assign_cells(emb, cents)
    books = P.train_codebooks(emb, DIM)

    def recall(nprobe):
        got = {
            r["vec_id"]
            for r in P.ivfadc_topk(
                emb, 0, 10, DIM, C, nprobe=nprobe,
                cents=cents, cells=cells, books=books,
            ).collect()
        }
        return len(bf & got) / 10

    last = -1.0
    got = []
    for nprobe in (1, 2, 4, C):
        r = recall(nprobe)
        assert r >= last, (nprobe, r, last)
        last = r
        got.append(r)
    assert got[-1] > got[0], got


def test_ivfadc_persisted_probe_matches_inline_and_prunes(
    spark, emb, tmp_path
):
    """probe_ivfadc_index over the persisted cell-partitioned codes
    equals the in-session ivfadc_topk for a corpus vector's embedding,
    and the probe's scan carries a cell partition filter (it never
    opens unprobed cell directories)."""
    path = str(tmp_path / "ivfadc")
    P.write_ivfadc_index(emb, path, DIM, num_centroids=8)
    qe = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    got = [
        (r["vec_id"], r["score"])
        for r in P.probe_ivfadc_index(
            spark, path, emb, qe, 10, DIM, nprobe=2
        ).collect()
    ]
    want = [
        (r["vec_id"], r["score"])
        for r in P.ivfadc_topk(emb, 0, 10, DIM, 8, nprobe=2).collect()
    ]
    assert got == want and len(got) == 10

    cand = (
        spark.read.parquet(f"{path}/codes")
        .where(F.col("cell").isin([0, 1]))
        .select("vec_id")
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan


def test_ann_recall_artifact_monotonicities():
    """The committed recall-vs-cost artifact (the latest ANN_r*.json,
    generated by ``bench.py --ann``) must exhibit the stack's two GUARANTEED
    monotonicities: IVF recall@10 non-decreasing in nprobe (nested
    candidate sets) and PQ recall@10 non-decreasing in r_cand (nested
    rerank pools).  IVFADC at FIXED r_cand is deliberately not pinned —
    probing more cells can displace true neighbors from the fixed-size
    best-ADC pool, which is exactly the sizing trap the artifact
    documents for users.

    Round 7 (round-6 verdict item 1): the grid must also be
    NON-DEGENERATE at scale — the old byte-identical ×10 replication
    read recall 1.0 for every variant (ten clones of the nearest
    vector fill any true top-10), so these monotonicity checks
    trivially passed on a constant column.  The ×10 dataset now comes
    from ``bench.ensure_ann_dir`` (deterministically perturbed
    replicas) and the cheapest knobs must measurably MISS."""
    import json
    import os

    import glob

    arts = sorted(
        glob.glob(
            os.path.join(os.path.dirname(__file__), "..", "ANN_r*.json")
        )
    )
    if not arts:
        import pytest

        pytest.skip("ANN artifact not generated (run bench.py --ann)")
    path = arts[-1]  # the current round's artifact
    doc = json.load(open(path))
    assert doc["queries_per_point"] >= 20  # 0.02 recall steps resolvable
    for label, ds in doc["datasets"].items():
        v = ds["variants"]
        ivf = [v[f"ivf_nprobe{n}"]["recall_at_10"] for n in (1, 2, 4, 8)]
        assert ivf == sorted(ivf), (label, ivf)
        assert ivf[-1] == 1.0, (label, ivf)  # nprobe = C is exact
        pq = [v[f"pq_rcand{r}"]["recall_at_10"] for r in (10, 40, 160)]
        assert pq == sorted(pq), (label, pq)
        assert v["brute"]["recall_at_10"] == 1.0
        # non-degenerate: partial probes / small rerank pools miss
        assert ivf[0] < 0.95, (label, ivf)
        assert pq[0] < 0.95, (label, pq)
        # round 9: artifacts generated at the scaled default r_cand
        # (4·k·nprobe — the field marks them) must show the nprobe
        # knob WORKING for ivfadc: recall non-decreasing and the
        # deepest probe strictly above the shallowest (the ANN_r08
        # trap was a flat ~0.35 line)
        if "ivfadc_default_r_cand" in doc:
            ia = [
                v[f"ivfadc_nprobe{n}"]["recall_at_10"] for n in (1, 2, 4)
            ]
            assert ia == sorted(ia), (label, ia)
            assert ia[-1] > ia[0], (label, ia)


def test_ivfadc_incremental_append_lifecycle(spark, emb, tmp_path):
    """append_ivfadc_index (round 7): the incremental half of the
    write-once/probe-many index.  (a) EQUIVALENCE: a probe over
    (base-on-80% + one appended 20% batch) is row-identical to a probe
    over a monolithic codes dir holding every vector encoded against
    the SAME frozen metadata — appending changes durability layout,
    never scoring.  (b) IDEMPOTENCE: re-appending a published batch_id
    is a no-op.  (c) CRASH WINDOW: a temp dir left by a crash before
    the publish rename is invisible to probes and a retry converges.
    (d) PRUNING: batch dirs share the cell partitioning, so the probe
    still carries partition filters inside them."""
    base = emb.where(F.col("vec_id") % 5 != 0)
    extra = emb.where(F.col("vec_id") % 5 == 0)

    path = str(tmp_path / "inc")
    P.write_ivfadc_index(base, path, DIM, num_centroids=8)
    assert P.append_ivfadc_index(extra, path, "b1") is True

    # monolithic twin: encode EVERYTHING with the index's frozen
    # metadata into a fresh dir (same cents/books — copied, not
    # retrained)
    mono = str(tmp_path / "mono")
    cents = P.read_ivfadc_centroids(spark, path)
    books = P.read_codebooks(spark, path)
    coded = P.pq_encode(S.assign_cells(emb, cents), books)
    coded.select("vec_id", "code", "cell").write.partitionBy(
        "cell"
    ).parquet(f"{mono}/codes")
    spark.read.parquet(f"{path}/books").write.parquet(f"{mono}/books")
    spark.read.parquet(f"{path}/cents").write.parquet(f"{mono}/cents")

    qe = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    got = [
        (r["vec_id"], r["score"])
        for r in P.probe_ivfadc_index(
            spark, path, emb, qe, 10, DIM, nprobe=2
        ).collect()
    ]
    want = [
        (r["vec_id"], r["score"])
        for r in P.probe_ivfadc_index(
            spark, mono, emb, qe, 10, DIM, nprobe=2
        ).collect()
    ]
    assert got == want and len(got) == 10

    # idempotence: the published batch refuses a re-append, and the
    # probe result is unchanged
    assert P.append_ivfadc_index(extra, path, "b1") is False
    again = [
        (r["vec_id"], r["score"])
        for r in P.probe_ivfadc_index(
            spark, path, emb, qe, 10, DIM, nprobe=2
        ).collect()
    ]
    assert again == got

    # crash window: a leftover temp (crash before the rename) is
    # invisible; the retry overwrites it and publishes
    import shutil

    crash_tmp = f"{path}/batches/.tmp-b2"
    shutil.copytree(f"{path}/batches/b1", crash_tmp)
    dirs = P._ivfadc_code_dirs(spark, path)
    assert not any(".tmp-" in d for d in dirs)
    assert P.append_ivfadc_index(extra.limit(7), path, "b2") is True
    assert any(d.endswith("/batches/b2") for d in P._ivfadc_code_dirs(spark, path))

    # pruning inside a batch dir
    cand = (
        spark.read.parquet(f"{path}/batches/b1")
        .where(F.col("cell").isin([0, 1]))
        .select("vec_id")
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan

    # slug validation
    with pytest.raises(ValueError, match="plain slug"):
        P.append_ivfadc_index(extra, path, "../evil")


def test_ivfadc_append_empty_batch_does_not_poison_the_index(
    spark, emb, tmp_path
):
    """Round-7 review: an EMPTY appended batch (a day with no new
    vectors — a routine input) publishes a directory holding only
    _SUCCESS; a schema-inference read of it would raise
    UNABLE_TO_INFER_SCHEMA and break every later probe.  The probe
    reads with the explicit CODES_SCHEMA, so the empty batch is zero
    rows, results are unchanged, and later non-empty appends still
    land."""
    path = str(tmp_path / "empt")
    P.write_ivfadc_index(emb.where(F.col("vec_id") < 400), path, DIM, 8)
    qe = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]

    def ids():
        return [
            r["vec_id"]
            for r in P.probe_ivfadc_index(
                spark, path, emb, qe, 5, DIM, nprobe=2
            ).collect()
        ]

    before = ids()
    assert P.append_ivfadc_index(
        emb.where(F.col("vec_id") < 0), path, "quiet-day"
    ) is True
    assert ids() == before  # empty batch is invisible, not fatal
    assert P.append_ivfadc_index(
        emb.where(F.col("vec_id") == 450), path, "busy-day"
    ) is True
    assert ids() == before or 450 in ids()  # probe still works
    with pytest.raises(ValueError, match="plain slug"):
        P.append_ivfadc_index(emb, path, "")


def test_ivfadc_delete_lifecycle(spark, emb, tmp_path):
    """delete_from_ivfadc_index (round-7 verdict item 3): the removal
    half of the index lifecycle — takedowns and dedup-driven
    retractions must not require a corpus-scale re-encode.

    (a) EXCLUSION-EQUIVALENCE: after tombstoning a mix of
    base-resident and append-batch-resident vec_ids, a probe is
    row-identical to a probe over a monolithic codes dir holding only
    the RETAINED vectors encoded with the SAME frozen metadata —
    deletion is metadata, never scoring, and tombstoned vectors don't
    eat r_cand slots.  (b) IDEMPOTENCE: re-publishing a tombstone
    batch_id is a no-op.  (c) CRASH WINDOW: a temp left before the
    publish rename is invisible and a fresh-id retry lands.  (d) EMPTY
    TAKEDOWN: a round that matched nothing publishes an empty batch
    that poisons nothing.  (e) REBUILD FOLD: write_ivfadc_index over
    the retained corpus removes batches/ + tombstones/ and the probe
    still excludes the deleted vectors."""
    import os

    base = emb.where(F.col("vec_id") % 5 != 0)
    extra = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "del")
    P.write_ivfadc_index(base, path, DIM, num_centroids=8)
    assert P.append_ivfadc_index(extra, path, "b1") is True

    qe = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]

    def probe(p, corpus):
        return [
            (r["vec_id"], r["score"])
            for r in P.probe_ivfadc_index(
                spark, p, corpus, qe, 10, DIM, nprobe=2
            ).collect()
        ]

    before = probe(path, emb)
    # delete two of the current top hits (one base-resident, one from
    # the appended batch if present) plus an arbitrary mid-corpus id —
    # exclusion must be observable at the top of the ranking
    top_ids = [v for v, _ in before]
    doomed = sorted({top_ids[0], top_ids[1], 777})
    assert P.delete_from_ivfadc_index(spark, doomed, path, "t1") is True

    retained = emb.where(~F.col("vec_id").isin(doomed))
    after = probe(path, retained)
    assert not set(doomed) & {v for v, _ in after}
    assert after != before

    # the frozen-metadata twin over ONLY the retained vectors
    mono = str(tmp_path / "mono")
    cents = P.read_ivfadc_centroids(spark, path)
    books = P.read_codebooks(spark, path)
    coded = P.pq_encode(S.assign_cells(retained, cents), books)
    coded.select("vec_id", "code", "cell").write.partitionBy(
        "cell"
    ).parquet(f"{mono}/codes")
    spark.read.parquet(f"{path}/books").write.parquet(f"{mono}/books")
    spark.read.parquet(f"{path}/cents").write.parquet(f"{mono}/cents")
    assert after == probe(mono, retained)

    # (b) idempotence; (d) empty takedown; slug validation
    assert P.delete_from_ivfadc_index(spark, doomed, path, "t1") is False
    assert probe(path, retained) == after
    assert P.delete_from_ivfadc_index(spark, [], path, "t-empty") is True
    assert probe(path, retained) == after
    with pytest.raises(ValueError, match="plain slug"):
        P.delete_from_ivfadc_index(spark, [1], path, ".hidden")

    # (c) crash window: a stray temp is invisible to the probe
    import shutil

    shutil.copytree(f"{path}/tombstones/t1", f"{path}/tombstones/.tmp-t2")
    assert probe(path, retained) == after
    # DataFrame-typed takedown list also lands
    assert P.delete_from_ivfadc_index(
        spark, emb.where(F.col("vec_id") == 999).select("vec_id"),
        path, "t2",
    ) is True
    assert 999 not in {v for v, _ in probe(path, retained)}

    # (e) rebuild over the retained corpus folds every lifecycle dir
    retained2 = retained.where(F.col("vec_id") != 999)
    P.write_ivfadc_index(retained2, path, DIM, num_centroids=8)
    assert not os.path.exists(f"{path}/batches")
    assert not os.path.exists(f"{path}/tombstones")
    rebuilt = probe(path, retained2)
    assert not ({*doomed, 999} & {v for v, _ in rebuilt})


def test_publish_rename_losing_writer_is_noop_without_residue(
    spark, tmp_path
):
    """Round-8 ADVICE: Hadoop FileSystem.rename(tmp, final) with an
    EXISTING final directory does not fail — it moves tmp INSIDE final
    as a hidden child and returns true, so before the recheck a LOSING
    concurrent publisher of the same batch_id also returned True
    ('published') and left residue in the winner's batch dir.  Pins
    both losing interleavings against the real Hadoop local FS:
    (a) the winner's final lands between the loser's exists-check and
    its rename — loser's tmp is swallowed into final, detected,
    residue deleted, False returned; (b) the loser's rename itself
    fails because its tmp is gone (renamed by a twin) while final
    exists — also the False path.  The winner's content survives
    byte-for-byte in both."""
    import os

    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = str(tmp_path / "pub")
    os.makedirs(root)
    fs = Path(root).getFileSystem(spark._jsc.hadoopConfiguration())

    def mkdir_with(tag, name):
        d = os.path.join(root, name)
        os.makedirs(d)
        with open(os.path.join(d, "payload"), "w") as f:
            f.write(tag)
        return d

    # (a) winner published; loser's completed tmp renames into it
    final = mkdir_with("winner", "b1")
    mkdir_with("loser", ".tmp-b1")
    assert P._publish_rename(
        fs, jvm, f"{root}/.tmp-b1", f"{root}/b1"
    ) is False
    assert open(os.path.join(final, "payload")).read() == "winner"
    assert os.listdir(final) == ["payload"]  # no swallowed residue
    assert not os.path.exists(f"{root}/.tmp-b1")

    # (b) tmp already gone (a twin renamed it), final exists
    assert P._publish_rename(
        fs, jvm, f"{root}/.tmp-b1", f"{root}/b1"
    ) is False
    assert open(os.path.join(final, "payload")).read() == "winner"

    # and the plain uncontended publish still returns True
    mkdir_with("solo", ".tmp-b2")
    assert P._publish_rename(
        fs, jvm, f"{root}/.tmp-b2", f"{root}/b2"
    ) is True
    assert open(os.path.join(root, "b2", "payload")).read() == "solo"
