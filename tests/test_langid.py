"""Script-aware tokenization + char-n-gram language ID (round 12).

The round-11 verdict's top gap: the whole text surface tokenized on
whitespace (every CJK page read as ~one token per line) and lang_id
was Latin stopword argmax (every CJK page classified 'und').  These
tests pin the fix: the shared tokenizer segments unsegmented scripts
identically on all three engines, and the two-stage classifier
(script detection + LEARNED trigram profiles) labels a multilingual
battery correctly with exact Spark/DuckDB parity.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.functions import hashing as H
from mapreduce_framework_for_mergesort_spark.operators import langid as L
from mapreduce_framework_for_mergesort_spark.operators import text as T
from tests import references as R

# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOK_CASES = [
    ("hello 世界 world", ["hello", "世", "界", "world"]),
    # Japanese: every kana/Han char is its own token
    ("日本語のテキスト", ["日", "本", "語", "の", "テ", "キ", "ス", "ト"]),
    # Korean IS space-delimited — hangul must NOT char-split
    ("한국어는 띄어쓰기를", ["한국어는", "띄어쓰기를"]),
    ("สวัสดี ครับ", ["ส", "ว", "ั", "ส", "ด", "ี", "ค", "ร", "ั", "บ"]),
    # ASCII and Latin-diacritic text is untouched (the no-op path that
    # keeps every pre-round-12 pinned value stable)
    ("plain ascii text", ["plain", "ascii", "text"]),
    ("héllo wörld", ["héllo", "wörld"]),
    ("", []),
]


def test_tokenize_python_kernel():
    for s, want in _TOK_CASES:
        assert H.tokenize(s) == want, s


def test_tokenize_three_engine_parity(spark):
    texts = [s for s, _ in _TOK_CASES]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "id long, text string"
    )
    got_spark = {
        r["id"]: r["t"]
        for r in df.select(
            "id", F.expr(H.spark_tokens("text")).alias("t")
        ).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(texts):
        lit = s.replace("'", "''")
        duck = con.execute(
            "SELECT " + H.duckdb_tokens(f"'{lit}'")
        ).fetchone()[0]
        assert got_spark[i] == duck == H.tokenize(s), s


def test_cjk_token_counts_are_character_counts(spark):
    """The round-11 failure mode in reverse: a 12-char Chinese line is
    12 tokens now, not 1."""
    zh = "我们的数据系统每天在增长"
    assert len(zh) == 12
    df = spark.createDataFrame([(1, zh)], "doc_id long, text string")
    row = df.select(
        F.expr(f"size({H.spark_tokens('text')})").alias("n_tokens")
    ).collect()[0]
    assert row["n_tokens"] == 12


def test_chunking_parity_on_cjk(spark):
    """chunk_documents == duckdb_chunk_sql on a CJK+mixed corpus —
    the chunker now windows CHARACTERS of unsegmented scripts instead
    of emitting one page-sized chunk."""
    rows = [
        (1, "我们的数据系统每天都在快速增长而且质量很好"),
        (2, "mixed 中文 and english 内容 here"),
        (3, "plain english text that chunks as before"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
        for r in T.chunk_documents(
            df, chunk_tokens=8, overlap_tokens=2
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            R.duckdb_chunk_sql(chunk_tokens=8, overlap_tokens=2)
        ).fetchall()
    )
    assert got == want
    # the 21-char doc at window 8 / stride 6 → 4 chunks, not 1
    assert sum(1 for d, *_ in got if d == 1) == 4


def test_bpe_chunking_parity_on_cjk(spark):
    """BPE-true chunking on a CJK row: BPE words are the shared
    tokenizer's tokens (single CJK chars), counts match the
    segment_word replica exactly."""
    from mapreduce_framework_for_mergesort_spark.operators import bpe as B

    corpus = spark.createDataFrame(
        [(1, "数据 系统 数据 系统 lowest lower"),
         (2, "我们的数据系统每天都在增长")],
        "doc_id long, text string",
    )
    merges = B.train_bpe(corpus, num_merges=8)
    ranks = {p: i for i, p in enumerate(merges)}
    rows = B.chunk_documents_bpe(
        corpus, merges, chunk_tokens=6, overlap_tokens=0
    ).collect()
    assert rows, "no chunks produced"
    for r in rows:
        true = sum(
            len(B.segment_word(w, ranks))
            for w in H.tokenize(r["chunk_text"])
        )
        assert r["n_chunk_tokens"] == true
    # the unsegmented doc must produce >1 chunk (it is 12 BPE words)
    assert sum(1 for r in rows if r["doc_id"] == 2) > 1


# ---------------------------------------------------------------------------
# profiles
# ---------------------------------------------------------------------------


def test_shipped_profiles_regenerate_exactly():
    """The packaged trigram table is exactly what train_lang_profiles
    produces from the embedded seed corpus — the learned-data pinning
    discipline (brotli transforms, PSL snapshot)."""
    assert L.load_lang_profiles() == L.train_lang_profiles()


def test_profiles_are_sql_safe_and_discriminative():
    p = L.load_lang_profiles()
    assert set(p) == set(L.SEED_TEXT)
    for lang, grams in p.items():
        assert len(grams) == L.PROFILE_K
        for g in grams:
            assert len(g) == L.PROFILE_N
            assert "\\" not in g
            assert not any(ch.isdigit() for ch in g)
    # ru grams are Cyrillic (the script rides the profile path)
    assert all(any(ord(c) > 0x400 for c in g) for g in p["ru"])


# ---------------------------------------------------------------------------
# classifier
# ---------------------------------------------------------------------------

_BATTERY = [
    ("我们的数据系统每天都在快速增长", "zh"),
    ("これは日本語のテキストです。データを読んで書きます", "ja"),
    # Japanese includes Han chars — kana must win over Han
    ("日本の会社はデータを使う", "ja"),
    ("한국어 문장은 띄어쓰기를 사용합니다", "ko"),
    ("ระบบข้อมูลของเราเติบโตอย่างรวดเร็ว", "th"),
    ("the people who build the system must think about the work", "en"),
    ("die menschen, die das system bauen, müssen über die arbeit "
     "nachdenken", "de"),
    ("las personas que construyen el sistema deben pensar en el "
     "trabajo", "es"),
    ("les personnes qui construisent le système doivent réfléchir à "
     "la manière", "fr"),
    ("le persone che costruiscono il sistema devono pensare a come "
     "viene svolto", "it"),
    ("as pessoas que constroem o sistema devem pensar em como o "
     "trabalho é feito", "pt"),
    ("люди, которые строят систему, должны думать о том, как "
     "делается работа", "ru"),
    ("12345 67890 24680 13579", "und"),
    # mixed English + Han: the script stage wins by design
    ("mixed page 混合内容测试 with english words", "zh"),
    ("", "und"),
]


def test_classifier_battery_duckdb():
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INT, text VARCHAR, expected VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?,?,?)",
        [(i, s, e) for i, (s, e) in enumerate(_BATTERY)],
    )
    rows = con.execute(
        L.duckdb_pred_query(table="t", extra_cols="id, expected")
        + " ORDER BY id"
    ).fetchall()
    assert [(e, p) for _, e, p in rows if e != p] == []


def test_classifier_seeds_classify_as_themselves():
    """Training-set sanity: every seed paragraph gets its own label."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t(lang VARCHAR, text VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?,?)", list(L.SEED_TEXT.items())
    )
    rows = con.execute(
        L.duckdb_pred_query(table="t", extra_cols="lang")
    ).fetchall()
    assert all(lang == pred for lang, pred in rows)


def test_classifier_spark_duckdb_parity(spark):
    texts = [s for s, _ in _BATTERY] + [None]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "id long, text string"
    )
    got_spark = {
        r["id"]: r["p"]
        for r in df.select(
            "id", F.expr(L.spark_pred_expr("text")).alias("p")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?,?)", list(enumerate(texts)))
    got_duck = dict(
        con.execute(
            L.duckdb_pred_query(table="t", extra_cols="id")
        ).fetchall()
    )
    assert got_spark == got_duck
    assert got_spark[len(texts) - 1] == "und"  # NULL text


def test_lang_id_strategies_equal_on_fixture(spark, sf_oracle):
    """lang_id's Arrow kernel == the codegen expression
    ``spark_pred_expr`` that pipelines.with_curation_features runs,
    document for document, on the fixture."""
    from mapreduce_framework_for_mergesort_spark.io import load_table

    # key filter, not limit(): an unordered limit may pick different
    # rows on each side's independent evaluation
    docs = load_table(spark, sf_oracle, "documents").where(
        F.col("doc_id") % 2 == 0
    )
    a = {r["doc_id"]: r["pred_lang"] for r in T.lang_id(docs).collect()}
    b = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", F.expr(L.spark_pred_expr("text")).alias("p")
        ).collect()
    }
    assert a == b and len(a) == docs.count()


def test_lang_id_operator_and_ml_accuracy(spark, sf_oracle):
    """The done-criterion: through the REAL registry query, the
    synthesized multilingual column classifies correctly on every row
    (zh/ja/ko/th script paths, 7 trigram languages, und, mixed)."""
    import __spark_entry__ as e

    out = e.queries()["q_lang_id"](spark, sf_oracle).collect()
    assert out, "empty result"
    bad = [
        (r["doc_id"], r["ml_expected"], r["pred_ml"])
        for r in out
        if r["pred_ml"] != r["ml_expected"]
    ]
    assert bad == [], bad[:10]
    # every branch of the sentence table actually occurred
    from mapreduce_framework_for_mergesort_spark.queries.text_family import (
        ML_SENTENCES,
    )

    assert {r["ml_expected"] for r in out} == {
        lang for lang, _ in ML_SENTENCES
    }


def test_lang_id_handles_null_text(spark):
    df = spark.createDataFrame(
        [(1, None, "en"), (2, "the the the", "en")],
        "doc_id long, text string, lang string",
    )
    rows = {
        r["doc_id"]: r["pred_lang"]
        for r in T.lang_id(df).collect()
    }
    assert rows[1] == "und" and rows[2] == "en"


# ---------------------------------------------------------------------------
# round 12: the Arrow kernel's body vs the codegen let (pinned equal)
# ---------------------------------------------------------------------------


def test_python_pred_replica_matches_sql_decision(spark):
    """python_pred (the Arrow kernel body) == the codegen expression
    on a battery covering every decision branch: all four scripts,
    each trigram language's seed, mixed scripts, zero evidence, empty,
    NULL."""
    from pyspark.sql import functions as F

    texts = (
        list(L.SEED_TEXT.values())
        + [
            "汉字测试页面内容", "これは日本語のテキストです",
            "한국어 텍스트입니다", "ข้อความภาษาไทย",
            "mixed 汉字 with english words", "zzz qqq xxx", "", "12345",
        ]
    )
    df = spark.createDataFrame(
        [(t,) for t in texts] + [(None,)], "text string"
    )
    rows = df.select(
        "text",
        F.expr(L.spark_pred_expr("text")).alias("cg"),
        L.lang_pred_arrow("text").alias("ar"),
    ).collect()
    for r in rows:
        assert r["cg"] == r["ar"], r["text"]
        assert r["ar"] == L.python_pred(r["text"]), r["text"]
