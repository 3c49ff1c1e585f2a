"""Character-n-gram language identification (round 12).

Rounds 1–11 shipped ``lang_id`` as stopword-hit argmax over tiny
Latin-script stopword lists — its own docstring conceded "a real
system uses char-n-gram models", and the round-11 verdict ranked the
gap first: on a real multilingual crawl every Chinese / Japanese /
Thai page classified ``und``.  This module is the real thing, in two
deterministic stages, both expressible as the SAME SQL on Spark and
DuckDB (the repo's oracle discipline):

1. **Script detection** for languages whose writing system is
   (nearly) language-determining: kana → ``ja``, hangul → ``ko``,
   Thai → ``th``, Han → ``zh`` (checked in that order — Japanese text
   contains Han characters, so kana must win over Han).  A script
   fires when the text contains at least ``SCRIPT_MIN`` characters of
   it; counting is ``length(text) − length(regexp_replace(text,
   '[ranges]', ''))`` — pure string expressions, no Python.

2. **Learned char-trigram profiles** (Cavnar–Trenkle 1994, the public
   classic) for languages sharing the Latin / Cyrillic scripts:
   ``train_lang_profiles`` counts character trigrams in a small
   embedded seed corpus (parallel paragraphs composed for this repo —
   translation-parallel seeds make the DISCRIMINATIVE grams exactly
   the function-word patterns: ``'the'`` vs ``'der'`` vs ``' el '``),
   scores each gram by ``freq / (1 + freq_in_other_languages)``, and
   keeps the top ``PROFILE_K`` per language.  The shipped table
   (``data/lang_ngram_profiles.json``) is regeneration-pinned in
   tests, the brotli-transforms discipline.  At classify time a
   language's score is the total occurrence count of its profile
   grams (all grams are the same length, so the counts are directly
   comparable — no division, integer-exact on every engine), and the
   winner is argmax with a fixed CASE-order tiebreak; zero evidence →
   ``und``.

The whole classifier compiles to ONE expression: on Spark a nested
``let`` (``functions/hashing.let``) binds ``lower(text)`` and the
score array exactly once per row (HOF columns get no common-
subexpression elimination — the round-11 measured trap), and the
oracle spells the identical arithmetic over named CTE columns.
"""

from __future__ import annotations

import json
import os
import re
from functools import lru_cache

import pandas as pd

from mapreduce_framework_for_mergesort_spark.functions import hashing as H

PROFILE_N = 3  # char n-gram width
PROFILE_K = 8  # grams kept per language
SCRIPT_MIN = 2  # chars of a script required before it decides

_PROFILE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "lang_ngram_profiles.json",
)

#: Script → Unicode ranges (block data, public).  Order below is the
#: decision order: kana before Han because Japanese text contains Han.
SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    "ja": (
        (0x3040, 0x309F),
        (0x30A0, 0x30FF),
        (0x31F0, 0x31FF),
        (0xFF66, 0xFF9D),
    ),
    "ko": ((0x1100, 0x11FF), (0x3130, 0x318F), (0xAC00, 0xD7A3)),
    "th": ((0x0E00, 0x0E7F),),
    "zh": ((0x3400, 0x4DBF), (0x4E00, 0x9FFF), (0xF900, 0xFAFF)),
}

#: Seed corpus for the trigram profiles: one translation-parallel
#: paragraph per Latin/Cyrillic-script language, composed for this
#: repo (ordinary prose carrying each language's common function
#: words).  Parallel CONTENT is deliberate — the ratio scoring then
#: selects exactly the grams that differ between languages.
SEED_TEXT: dict[str, str] = {
    "en": (
        "the quick growth of open data systems means that the people "
        "who build them must think about how the work is done and why "
        "it matters. it is often said that a good tool should be "
        "simple, and that the best way to learn is to read and to "
        "write with care. these are the words of a plain paragraph "
        "that carries the most common patterns of the language."
    ),
    "de": (
        "die schnelle entwicklung offener datensysteme bedeutet, dass "
        "die menschen, die sie bauen, darüber nachdenken müssen, wie "
        "die arbeit gemacht wird und warum sie wichtig ist. es wird "
        "oft gesagt, dass ein gutes werkzeug einfach sein soll, und "
        "dass man am besten lernt, wenn man mit sorgfalt liest und "
        "schreibt. dies sind die wörter eines einfachen absatzes mit "
        "den häufigsten mustern der sprache."
    ),
    "es": (
        "el rápido crecimiento de los sistemas de datos abiertos "
        "significa que las personas que los construyen deben pensar "
        "en cómo se hace el trabajo y por qué es importante. se dice "
        "a menudo que una buena herramienta debe ser sencilla, y que "
        "la mejor manera de aprender es leer y escribir con cuidado. "
        "estas son las palabras de un párrafo sencillo con los "
        "patrones más comunes de la lengua."
    ),
    "fr": (
        "la croissance rapide des systèmes de données ouverts "
        "signifie que les personnes qui les construisent doivent "
        "réfléchir à la manière dont le travail est fait et pourquoi "
        "il est important. on dit souvent qu'un bon outil doit être "
        "simple, et que la meilleure façon d'apprendre est de lire et "
        "d'écrire avec soin. ce sont les mots d'un paragraphe simple "
        "avec les motifs les plus courants de la langue."
    ),
    "it": (
        "la rapida crescita dei sistemi di dati aperti significa che "
        "le persone che li costruiscono devono pensare a come viene "
        "svolto il lavoro e perché è importante. si dice spesso che "
        "un buono strumento debba essere semplice, e che il modo "
        "migliore per imparare sia leggere e scrivere con cura. "
        "queste sono le parole di un semplice paragrafo con gli "
        "schemi più comuni della lingua."
    ),
    "pt": (
        "o rápido crescimento dos sistemas de dados abertos significa "
        "que as pessoas que os constroem devem pensar em como o "
        "trabalho é feito e por que ele é importante. diz-se muitas "
        "vezes que uma boa ferramenta deve ser simples, e que a "
        "melhor maneira de aprender é ler e escrever com cuidado. "
        "estas são as palavras de um parágrafo simples com os padrões "
        "mais comuns da língua."
    ),
    "ru": (
        "быстрый рост открытых систем данных означает, что люди, "
        "которые их создают, должны думать о том, как делается работа "
        "и почему это важно. часто говорят, что хороший инструмент "
        "должен быть простым, и что лучший способ учиться — это "
        "читать и писать с вниманием. это слова простого абзаца на "
        "русском языке с самыми частыми узорами речи."
    ),
}


def _grams(text: str, n: int = PROFILE_N) -> list[str]:
    """All char n-grams of the lowercased, whitespace-collapsed text."""
    t = re.sub(r"\s+", " ", text.lower()).strip()
    return [t[i : i + n] for i in range(len(t) - n + 1)]


def train_lang_profiles() -> dict[str, list[str]]:
    """Cavnar–Trenkle-style profile learning: per language, the top-k
    char n-grams by ``freq / (1 + freq_in_others)`` (frequency then
    gram as deterministic tiebreaks).  Grams containing digits or SQL-
    breaking backslashes are excluded (quotes are fine — both engines
    escape them as ``''``)."""
    counts: dict[str, dict[str, int]] = {}
    for lang, text in SEED_TEXT.items():
        c: dict[str, int] = {}
        for g in _grams(text, PROFILE_N):
            if "\\" in g or any(ch.isdigit() for ch in g):
                continue
            c[g] = c.get(g, 0) + 1
        counts[lang] = c
    profiles: dict[str, list[str]] = {}
    for lang, c in counts.items():
        scored = []
        for g, f in c.items():
            others = sum(
                counts[m].get(g, 0) for m in counts if m != lang
            )
            scored.append((-f / (1.0 + others), -f, g))
        scored.sort()
        profiles[lang] = [g for _, _, g in scored[:PROFILE_K]]
    return profiles


@lru_cache(maxsize=1)
def load_lang_profiles() -> dict[str, list[str]]:
    """The shipped profile table (regeneration-pinned in tests)."""
    with open(_PROFILE_PATH, encoding="utf-8") as f:
        doc = json.load(f)
    return {lang: list(grams) for lang, grams in doc["langs"].items()}


def write_profiles() -> None:
    """(Re)generate the packaged profile table from the seed corpus —
    the build-time utility; tests pin that the shipped file equals
    what this writes."""
    doc = {
        "n": PROFILE_N,
        "k": PROFILE_K,
        "langs": train_lang_profiles(),
    }
    with open(_PROFILE_PATH, "w", encoding="utf-8") as f:
        json.dump(doc, f, ensure_ascii=False, indent=1, sort_keys=True)
        f.write("\n")


# ---------------------------------------------------------------------------
# SQL construction (both engines)
# ---------------------------------------------------------------------------


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _len_fn(engine: str) -> str:
    # both count CHARACTERS; the names differ
    return "char_length" if engine == "spark" else "length"


def script_count_sql(text_ref: str, script: str, engine: str) -> str:
    """Occurrences of ``script``'s characters in ``text_ref`` as one
    remove-and-measure expression (no per-char loops)."""
    cls = "[" + "".join(
        f"{chr(a)}-{chr(b)}" for a, b in SCRIPT_RANGES[script]
    ) + "]"
    ln = _len_fn(engine)
    flag = ", 'g'" if engine == "duckdb" else ""
    return (
        f"({ln}({text_ref}) - "
        f"{ln}(regexp_replace({text_ref}, '{cls}', ''{flag})))"
    )


def score_sum_sql(lt_ref: str, grams: list[str], engine: str) -> str:
    """Total occurrence count of ``grams`` in the (already lowercased)
    ``lt_ref`` — a sum of remove-and-measure terms.  All grams share
    one length, so scores compare without division."""
    ln = _len_fn(engine)
    terms = [
        f"({ln}({lt_ref}) - "
        f"{ln}(replace({lt_ref}, {_sql_quote(g)}, '')))"
        for g in grams
    ]
    return "(" + " + ".join(terms) + ")"


def decision_case_sql(
    script_refs: dict[str, str], score_refs: dict[str, str]
) -> str:
    """The shared decision CASE over pre-computed count references:
    script branches in fixed order, the zero-evidence guard, then
    profile argmax with CASE-order tiebreak.  NULL text falls through
    every comparison to ELSE 'und' identically on both engines."""
    branches = [
        f"WHEN {script_refs[s]} >= {SCRIPT_MIN} THEN '{s}'"
        for s in SCRIPT_RANGES
    ]
    zero = " AND ".join(f"{r} = 0" for r in score_refs.values())
    branches.append(f"WHEN {zero} THEN 'und'")
    langs = list(score_refs)
    for lang in langs:
        cond = " AND ".join(
            f"{score_refs[lang]} >= {score_refs[o]}"
            for o in langs
            if o != lang
        )
        branches.append(f"WHEN {cond} THEN '{lang}'")
    return f"CASE {' '.join(branches)} ELSE 'und' END"


def spark_pred_expr(text_col: str = "text") -> str:
    """The whole classifier as ONE Spark SQL expression: nested lets
    bind ``lower(text)`` and the score array exactly once (HOF eval
    has no CSE — every other factoring re-lowercases the document per
    gram), script counts are referenced once each so they stay
    inline."""
    profiles = load_lang_profiles()
    langs = list(profiles)
    scores = [
        score_sum_sql("lt", profiles[lang], "spark") for lang in langs
    ]
    script_refs = {
        s: script_count_sql(text_col, s, "spark") for s in SCRIPT_RANGES
    }
    score_refs = {
        lang: f"element_at(ss, {i + 1})" for i, lang in enumerate(langs)
    }
    case = decision_case_sql(script_refs, score_refs)
    return H.let(
        f"lower({text_col})",
        "lt",
        H.let(f"array({', '.join(scores)})", "ss", case),
    )


def duckdb_pred_query(
    table: str = "documents",
    text_col: str = "text",
    extra_cols: str = "",
) -> str:
    """Oracle spelling: a CTE computes lower(text), script counts and
    per-language scores as named columns (DuckDB projections evaluate
    once), then the SAME decision CASE picks the label.  Returns a
    complete ``SELECT {extra_cols} pred FROM (...)`` fragment body —
    callers wrap/alias as needed."""
    profiles = load_lang_profiles()
    langs = list(profiles)
    score_items = ", ".join(
        f"{score_sum_sql('__lt', profiles[lang], 'duckdb')} AS __s_{lang}"
        for lang in langs
    )
    script_items = ", ".join(
        f"{script_count_sql(text_col, s, 'duckdb')} AS __sc_{s}"
        for s in SCRIPT_RANGES
    )
    case = decision_case_sql(
        {s: f"__sc_{s}" for s in SCRIPT_RANGES},
        {lang: f"__s_{lang}" for lang in langs},
    )
    ec = f"{extra_cols}, " if extra_cols else ""
    return f"""
    SELECT {ec}{case} AS pred
    FROM (
      SELECT *, {score_items}, {script_items}
      FROM (SELECT *, lower({text_col}) AS __lt FROM {table})
    )
    """


# ---------------------------------------------------------------------------
# the Arrow kernel lang_id runs (round 12 A/B winner) + the Python replica
# ---------------------------------------------------------------------------


@lru_cache(maxsize=1)
def _script_regexes():
    compiled = {}
    for s, ranges in SCRIPT_RANGES.items():
        cls = "[" + "".join(f"{chr(a)}-{chr(b)}" for a, b in ranges) + "]"
        compiled[s] = re.compile(cls)
    return compiled


def python_pred(text: str | None,
                profiles: dict[str, list[str]] | None = None) -> str:
    """Pure-Python replica of the classifier decision — the SAME
    script order, zero-evidence guard, and CASE-order argmax tiebreak
    as ``decision_case_sql``.  Double duty: the independent pin for
    the SQL expression in tests, AND the kernel body of
    ``lang_pred_arrow`` (the two roles keep each other honest — the
    replica is pinned to the SQL decision on a battery covering every
    branch, and q_lang_id's oracle checks the kernel on the real
    corpus, so a divergence in either copy fails loudly)."""
    if text is None:
        return "und"
    profiles = profiles or load_lang_profiles()
    regexes = _script_regexes()
    for s in SCRIPT_RANGES:  # fixed order: kana before Han
        if len(regexes[s].findall(text)) >= SCRIPT_MIN:
            return s
    lt = text.lower()
    langs = list(profiles)
    scores = {
        lang: sum(lt.count(g) for g in profiles[lang]) for lang in langs
    }
    if all(v == 0 for v in scores.values()):
        return "und"
    for lang in langs:  # CASE-order tiebreak
        if all(scores[lang] >= scores[o] for o in langs if o != lang):
            return lang
    return "und"  # pragma: no cover - argmax always exists


def lang_pred_arrow(text_col):
    """The classifier as one memoized Arrow kernel — the round-12 A/B
    winner over the codegen ``let`` expression (0.82 → 0.48 s min on
    the sf0.1 documents fixture, 1.7×; same CodegenFallback reasoning
    as the URL pct/dot fold A/B, numbers in SCALE_NOTES).  The codegen
    expression stays as ``spark_pred_expr`` — it is what the DuckDB
    oracle replicates, and ``pipelines.with_curation_features`` runs
    it (see the caveat below).

    CAVEAT (measured round 12): feed this a PLAIN COLUMN.  A pandas
    UDF whose argument is a HOF-derived expression (e.g. the
    strip-spans text rewrite) dies with SparkException INTERNAL_ERROR
    ``Cannot evaluate expression: kernel(expressionproxy(...))``
    under subexpression elimination — which is why
    ``pipelines.with_curation_features`` keeps the codegen
    expression."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # per UDF closure: a text classifies once per deserialized kernel,
    # across all the batches that kernel sees
    labels = H.Memo(python_pred)

    @pandas_udf("string")
    def kernel(s: pd.Series) -> pd.Series:
        return s.map(labels)

    return kernel(F.col(text_col) if isinstance(text_col, str) else text_col)
