"""Reference implementations the tests compare engine code against.

Each one is the canonical or oracle-side spelling of something the
engine computes another way: the Spark SQL expressions the Arrow
kernels are pinned to row for row, DuckDB replicas of operators, the
distributed k-means trainer the driver-side trainer must equal,
closed-form container sizes, and the encoder forms the package does
not write (other PNG filters and zlib levels, narrower LZW codes,
other Layer III gains, plain WARC) that the decoder tests feed in.  No
production path calls them, so they live with the tests.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.functions import hashing as H
from mapreduce_framework_for_mergesort_spark.functions import vector as V
from mapreduce_framework_for_mergesort_spark.operators import bpe as B
from mapreduce_framework_for_mergesort_spark.operators import dedup as D
from mapreduce_framework_for_mergesort_spark.operators import layout as L
from mapreduce_framework_for_mergesort_spark.operators import similarity as S
from mapreduce_framework_for_mergesort_spark.operators import sketches as K
from mapreduce_framework_for_mergesort_spark.operators import text as T
from mapreduce_framework_for_mergesort_spark.sources import containers as CT
from mapreduce_framework_for_mergesort_spark.sources import encodings as E
from mapreduce_framework_for_mergesort_spark.sources import layer3 as L3
from mapreduce_framework_for_mergesort_spark.sources import multimodal as M
from mapreduce_framework_for_mergesort_spark.sources import warc as W


# --- Spark SQL spellings the Arrow kernels are pinned to -------------------

def spark_band_structs(shingles: str) -> str:
    """Full MinHash-LSH index expression: shingles → array of
    ``NUM_BANDS`` ``struct<band_id:int, band_val:string>`` in ONE pass.

    Canonical Spark SQL definition (the hot path is the Arrow kernel
    ``band_structs_udf``, pinned to this expression in tests).  The
    shingle list AND the per-shingle base hashes are let-bound, so the
    tokenize/shingle/md5 pipeline runs exactly once per document — each
    of the NUM_MINHASHES signature mins is then pure integer math over
    the bound hash list.  Docs with no shingles yield an empty array
    (nothing to collide on)."""

    def sig(k: int) -> str:
        a, b = H.MINHASH_AB[k]
        return (
            f"CAST(array_min(transform(hs, h -> "
            f"pmod({a} * h + {b}, {H.MINHASH_P}))) AS STRING)"
        )

    structs = ", ".join(
        "named_struct('band_id', CAST({} AS INT), 'band_val', "
        "md5(concat_ws('|', {})))".format(
            b_id, ", ".join(sig(k) for k in idxs)
        )
        for b_id, idxs in H.band_slices()
    )
    body = (
        f"CASE WHEN size(sh) > 0 THEN array({structs}) "
        "ELSE CAST(array() AS "
        "ARRAY<STRUCT<band_id: INT, band_val: STRING>>) END"
    )
    return H.let(
        shingles,
        "sh",
        H.let(f"transform(sh, s -> {H.spark_base_hash('s')})", "hs", body),
    )


def spark_simhash(toks: str) -> str:
    # The per-token md5 list is referenced in every bit term — let-bound
    # so tokens are hashed exactly once per document.
    def hi(d: int, mask: int) -> str:
        return (
            f"size(filter(hs, h -> "
            f"((instr({H._HEXPOS}, substring(h, {d}, 1)) - 1) & {mask}) > 0))"
        )

    bits = H._simhash_bits_sql(hi, "size(hs)")
    return H.let(
        f"transform({toks}, t -> md5(t))",
        "hs",
        f"CAST({' + '.join(bits)} AS BIGINT)",
    )


def spark_fingerprint(text_col: str = "text", k: int = H.FINGERPRINT_K) -> str:
    """Canonical Spark SQL definition (the hot path is the Arrow kernel
    ``fingerprint_udf``, pinned to this expression row-for-row in
    tests)."""
    terms = " + ".join(
        f"pmod(ascii(substring({text_col}, i + {j}, 1)), 256)"
        f" * CAST({H._fp_weight(j)} AS BIGINT)"
        for j in range(k)
    )
    short = " + ".join(
        f"(CASE WHEN {j} < char_length({text_col}) THEN "
        f"pmod(ascii(substring({text_col}, {j + 1}, 1)), 256)"
        f" * CAST({H._fp_weight(j)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(k)
    )
    return (
        f"CASE WHEN char_length({text_col}) >= {k} THEN "
        f"array_min(transform(sequence(1, char_length({text_col}) - {k - 1}), "
        f"i -> {terms})) "
        f"WHEN char_length({text_col}) = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE {short} END"
    )


def positional_ngrams_sql(
    documents: DataFrame, k: int = D.DUP_SPAN_K
) -> DataFrame:
    """Canonical Spark SQL spelling of ``positional_ngrams`` (the
    kernel is pinned to this in tests; the HOF lambda makes it the
    slow path — one interpreted concat+md5 per window)."""
    toks = H.spark_tokens("text")
    parts = ", ".join(f"element_at(ts, i + {j})" for j in range(k))
    window = f"concat_ws(' ', {parts})"
    grams = H.let(
        toks,
        "ts",
        f"CASE WHEN size(ts) >= {k} THEN "
        f"transform(sequence(1, size(ts) - {k - 1}), "
        f"i -> {H.spark_gram_hash(window)}) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END",
    )
    return documents.select(
        "doc_id", F.posexplode(F.expr(grams)).alias("pos0", "g")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")


# --- k-means: quantization and the distributed trainer ---------------------

def _xq_transform() -> str:
    """Quantize a (near-)unit embedding to int64: ``round(v / nrm · 2^20)``
    per component, ``nrm`` pre-bound as a real column so the exact fold
    runs once per row, not once per component."""
    return (
        "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) / __nrm"
        f" * CAST({S.QUANT} AS DOUBLE)) AS BIGINT))"
    )


def quantize_normalized(embeddings: DataFrame) -> DataFrame:
    """Add ``xq: array<bigint>`` — the L2-normalized embedding quantized
    at 2^20 per component.  All k-means arithmetic downstream is exact
    int64 (order-independent), which is what lets a trained index carry
    a value-exact DuckDB oracle; the norm itself is the engine's
    canonical sequential fold (bitwise equal to DuckDB's ``list_sum``
    formulation, see ``functions/vector.py``)."""
    nrm = f"sqrt({V.spark_dot('embedding', 'embedding')})"
    return (
        embeddings.withColumn(
            "__nrm",
            F.expr(
                f"CASE WHEN {nrm} = CAST(0 AS DOUBLE)"
                f" THEN CAST(1 AS DOUBLE) ELSE {nrm} END"
            ),
        )
        .withColumn("xq", F.expr(_xq_transform()))
        .drop("__nrm")
    )


def _assign(
    xqv: DataFrame, cents: S.Cents, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, xq, …) → (vec_id, …, cell): exact int64 squared-L2
    argmin over the (driver-side) centroid list, ties to the lowest
    cid.  Map-only — no join, no shuffle; ``carry`` payload columns
    ride the row untouched."""
    udf = S._argmin_cell_udf(cents)
    return xqv.select("vec_id", *carry, udf(F.col("xq")).alias("cell"))


def _kmeans_train(xqv: DataFrame, num_centroids: int, iters: int) -> S.Cents:
    """Distributed integer Lloyd's k-means over (vec_id, xq) rows →
    driver-side centroid list: the cluster formulation of
    ``similarity._kmeans_train_np``, which tests pin equal to it.
    Per-iteration cluster work is one scan of ``xqv`` + one partial
    aggregation (component sums compose map-side).

    Centroid state lives ON THE DRIVER between iterations — the classic
    Spark-MLlib KMeans shape.  The collect here is O(C·dim) index
    metadata (~512 ints at the defaults), never data; keeping the state
    as a DataFrame instead (round-3 first cut) made every iteration
    either a nested-plan re-analysis (~2.5 s/iter of pure driver-side
    planning) or an extra checkpoint job per iteration.  Cells that lose
    all members drop out (deterministically, on both engines).
    """
    init = (
        xqv.orderBy("vec_id")
        .limit(num_centroids)  # first C sample vectors by id (TakeOrdered
        .select(F.col("vec_id").alias("cid"), F.col("xq").alias("cq"))
        .collect()  # — xqv is already the bounded training sample)
    )
    cents: S.Cents = sorted((r["cid"], list(r["cq"])) for r in init)
    for _ in range(iters):
        upd = (
            _assign(xqv, cents, carry=("xq",))
            .select("cell", F.posexplode("xq").alias("i", "v"))
            .groupBy("cell", "i")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn(
                "cq_i",
                F.expr(
                    "CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
                    " AS BIGINT)"
                ),
            )
            .collect()  # C·dim rows — index metadata, not data
        )
        by_cell: dict[int, dict[int, int]] = {}
        for r in upd:
            by_cell.setdefault(r["cell"], {})[r["i"]] = r["cq_i"]
        cents = sorted(
            (cell, [comp[i] for i in sorted(comp)])
            for cell, comp in by_cell.items()
        )
    return cents


# --- KMV sketch: the DataFrame spelling of q_profile_stats' SQL -----------

def kmv_min_hashes(df: DataFrame, key: str, k: int = K.KMV_K) -> DataFrame:
    """The sketch itself: the ``k`` smallest distinct hash values of
    ``df[key]`` as one ``h`` column (NULL keys contribute nothing —
    md5(NULL) is NULL and is filtered, mirroring COUNT DISTINCT).
    This is plain data: persist it, merge it, or estimate from it
    (``duckdb_kmv_cte`` spells the estimator)."""
    h = F.expr(K._spark_kmv_hash(key))
    return (
        df.select(h.alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(k)
    )


# --- feature-hash embedding: DuckDB replica -------------------------------

def duckdb_feature_hash_sql(text_sql: str = "text", dim: int = 64) -> str:
    """Oracle mirror of ``feature_hash_embed``'s vector expression —
    same salted hash, same bucket/sign bit split, integer sums
    surfaced as FLOAT."""
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    h = H.duckdb_base_hash(f"t || '{S.FH_SALT}'")
    hvs = f"list_transform({H.duckdb_tokens(text_sql)}, t -> {h})"
    return (
        f"list_transform(range(0, {dim}), i -> CAST(COALESCE("
        f"list_sum(list_transform({hvs}, hv -> "
        f"CASE WHEN hv % {dim} = i THEN "
        f"(CASE WHEN (hv // {dim}) % 2 = 0 THEN 1 ELSE -1 END) "
        f"ELSE 0 END)), 0) AS FLOAT))"
    )


# --- layout: z-order key and file-level pruning ---------------------------

def python_zorder_key(vals: list[int], bits: int = L.ZORDER_BITS) -> int:
    """Reference implementation for tests (same clamp + interleave)."""
    mask = (1 << bits) - 1
    out = 0
    for j, v in enumerate(vals):
        v = min(max(v, 0), mask)
        for b in range(bits):
            out |= ((v >> b) & 1) << (b * len(vals) + j)
    return out


def parquet_file_ranges(
    path: str, column: str
) -> list[tuple[str, object, object]]:
    """Per-file (file, min, max) of ``column`` from parquet footer
    statistics — the exact metadata a reader's file-level skipping
    consults.  Used by tests to PROVE a layout prunes instead of
    asserting it does.  Raises when any row group lacks min/max stats
    (nothing can be proven then, and silently returning "everything
    prunes" would invert the conservative direction)."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(path, name))
        idx = md.schema.to_arrow_schema().get_field_index(column)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                # loud, not an empty list: [] would read as "0 files
                # match" — missing statistics masquerading as PERFECT
                # pruning, the inverted-conservative direction
                # (round-4+ review)
                raise ValueError(
                    f"{name} row group {rg} has no min/max statistics"
                    f" for {column!r}; file-level pruning cannot be"
                    " proven"
                )
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append((name, lo, hi))
    return out


def files_matching(path: str, column: str, lo, hi) -> int:
    """How many files a ``column BETWEEN lo AND hi`` scan must read
    under file-level min/max skipping (fewer = better layout)."""
    ranges = parquet_file_ranges(path, column)
    return sum(1 for _, mn, mx in ranges if not (mx < lo or mn > hi))


# --- text operators' DuckDB replicas ---------------------------------------

def duckdb_chunk_sql(
    table: str = "documents",
    chunk_tokens: int = T.CHUNK_TOKENS,
    overlap_tokens: int = T.CHUNK_OVERLAP,
) -> str:
    """Oracle replica of ``chunk_documents`` (same clamped integer
    ceil, same 1-based slices — DuckDB ``list_slice`` takes an
    inclusive END where Spark ``slice`` takes a LENGTH)."""
    if overlap_tokens < 0 or chunk_tokens <= overlap_tokens:
        raise ValueError("need 0 <= overlap < chunk")
    stride = chunk_tokens - overlap_tokens
    return f"""
    SELECT doc_id,
           CAST(i - 1 AS BIGINT) AS chunk_idx,
           array_to_string(
             list_slice(ts, (i - 1) * {stride} + 1,
                        (i - 1) * {stride} + {chunk_tokens}), ' ')
             AS chunk_text,
           CAST(least({chunk_tokens}, len(ts) - (i - 1) * {stride})
                AS BIGINT) AS n_chunk_tokens
    FROM (
      SELECT doc_id, ts,
             unnest(range(1, 1 + CASE WHEN len(ts) = 0 THEN 0
                          ELSE 1 + (greatest(len(ts) - {chunk_tokens}, 0)
                                    + {stride - 1}) // {stride} END)) AS i
      FROM (SELECT doc_id, {H.duckdb_tokens('text')} AS ts FROM {table})
    )
    """


def duckdb_redact_sql(col: str = "text") -> str:
    """The oracle half of ``redact_pii``: the identical chain of
    replaces as a DuckDB expression (RE2 runs the same guarded
    patterns; only the replacement backref syntax differs, ``$n`` →
    ``\\n``).  Pinned equal to the Spark operator row-for-row in
    tests, which is what makes the 'exactly oracle-able' claim real."""
    out = col
    for pat, repl in T.PII_PATTERNS:
        gpat, grepl = T._guarded(pat, repl)
        passes = 1 if (gpat, grepl) == (pat, repl) else 2
        grepl = grepl.replace("$1", r"\1").replace("$3", r"\3")
        for _ in range(passes):
            out = f"regexp_replace({out}, '{gpat}', '{grepl}', 'g')"
    return out


# --- closed-form container sizes -------------------------------------------

def mp4_n_bytes(n: int) -> int:
    """Closed-form byte size of ``synthesize_mp4`` for ``n`` source
    bytes — the formula the SQL oracle mirrors (every term is one
    sample-table entry): 2 bytes of PCM per sample, 4 per chunk offset,
    one 8-byte stts run and 12-byte stsc runs when non-empty, plus the
    fixed box skeleton ``CT.MP4_EMPTY``."""
    if n == 0:
        return CT.MP4_EMPTY
    n_chunks = -(-n // CT.MP4_SAMPLES_PER_CHUNK)
    stsc_runs = 2 if n_chunks > 1 and n % CT.MP4_SAMPLES_PER_CHUNK else 1
    return CT.MP4_EMPTY + 2 * n + 8 + 12 * stsc_runs + 4 * n_chunks


def fmp4_n_bytes(n: int) -> int:
    """Closed-form byte size of ``synthesize_fmp4`` for ``n`` source
    bytes — the formula the SQL oracle mirrors: the fixed
    ftyp+moov(+mvex) skeleton, then per fragment a constant 96-byte
    moof+mdat-header overhead plus 2 bytes of PCM per sample."""
    if n == 0:
        return CT.FMP4_EMPTY
    n_frags = -(-n // CT.MP4_SAMPLES_PER_CHUNK)
    return CT.FMP4_EMPTY + CT.FMP4_FRAGMENT_OVERHEAD * n_frags + 2 * n


def mp3_n_bytes(n: int) -> int:
    """Closed-form byte size of ``synthesize_mp3`` for ``n`` source
    bytes — mirrored by the SQL oracle."""
    return CT.MP3_ID3_LEN + CT.MP3_FRAME_LEN * (-(-n // CT.MP3_FRAME_PAYLOAD))


def zlib_stored_len(n: int) -> int:
    """Closed-form byte size of ``multimodal._stored_zlib`` for ``n``
    payload bytes: 2-byte header, 5 bytes per stored block, payload,
    4-byte Adler-32."""
    return 2 + 5 * max(1, -(-n // M._ZBLOCK)) + n + 4


# --- JPEG color conversion: the scalar JFIF reference -----------------------

def ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    """JFIF color conversion over EXACT integer inputs, rounded with
    floor(x + 0.5) and clamped — the exact expression tree the DuckDB
    oracle replicates (identical literals, identical op order, so the
    IEEE doubles agree bit-for-bit).  ``multimodal._rgb_from_ycbcr_rows``
    is its vectorized twin."""
    import math

    def cl(x: float) -> int:
        return max(0, min(255, math.floor(x + 0.5)))

    r = cl(y + M._JPEGC_R_CR * (cr - 128))
    g = cl(y - M._JPEGC_G_CB * (cb - 128) - M._JPEGC_G_CR * (cr - 128))
    b = cl(y + M._JPEGC_B_CB * (cb - 128))
    return r, g, b


# --- BPE token counts -------------------------------------------------------

def bpe_count_udf(merges: B.Merges):
    """Arrow-batched text → BPE token COUNT under ``merges``: the
    per-document subword count the BPE tests pin apply, compression and
    budgets against (``B.segment_word`` over the shared tokenizer)."""
    from pyspark.sql.functions import pandas_udf

    ranks = {p: i for i, p in enumerate(merges)}

    @pandas_udf("long")
    def count(texts: pd.Series) -> pd.Series:
        counts = H.Memo(lambda w: len(B.segment_word(w, ranks)))
        return texts.map(
            lambda text: sum(map(counts.__getitem__, H.tokenize(text or "")))
        )

    return count


# --- inputs for the decoders: forms the package encoders do not write -------

def encode_lzw(data: bytes, maxbits: int) -> bytes:
    """``E.encode_lzw`` at any max code width 9..16: the ``.Z`` streams
    the ``decode_lzw`` tests read at every width (the package encoder
    writes 16-bit streams only)."""
    if not 9 <= maxbits <= 16:
        raise ValueError(f"invalid LZW max code width {maxbits}")
    CLEAR = 256
    first = 257
    cap = 1 << maxbits
    head = bytes((E.LZW_MAGIC[0], E.LZW_MAGIC[1], 0x80 | maxbits))
    if not data:
        return head
    body = bytearray()
    nbits = 9
    bitbuf = 0
    bitcnt = 0
    seg_bits = 0

    def emit(code: int) -> None:
        nonlocal bitbuf, bitcnt, seg_bits
        bitbuf |= code << bitcnt
        bitcnt += nbits
        seg_bits += nbits
        while bitcnt >= 8:
            body.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8

    def pad_unit() -> None:
        nonlocal bitcnt, seg_bits
        rem = seg_bits % (nbits * 8)
        if rem:
            bitcnt += nbits * 8 - rem  # zero bits
            while bitcnt >= 8:
                body.append(bitbuf & 0xFF)  # low byte is already 0-padded
                _drop()
        seg_bits = 0

    def _drop() -> None:
        nonlocal bitbuf, bitcnt
        bitbuf >>= 8
        bitcnt -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    free = first
    # same maxcode state machine as the decoder, including the
    # maxbits==9 bug-compat fire past maxbits (see decode_lzw)
    maxcode = (1 << nbits) - 1
    w = b""
    for byte in data:
        c = bytes([byte])
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w])
        # width check AFTER the write, with free still excluding this
        # step's new entry — compress(1)'s output() order; the decoder
        # checks before its NEXT read with the same free value, so
        # both switch between the same two codes
        if free > maxcode:
            pad_unit()
            nbits += 1
            maxcode = (
                (1 << maxbits) if nbits == maxbits else (1 << nbits) - 1
            )
        if free < cap:
            table[wc] = free
            free += 1
        else:
            # table full: CLEAR and start over (real compress gates
            # this on the ratio; any policy decodes identically)
            emit(CLEAR)
            pad_unit()
            nbits = 9
            maxcode = (1 << nbits) - 1
            table = {bytes([i]): i for i in range(256)}
            free = first
        w = c
    emit(table[w])
    if bitcnt:
        body.append(bitbuf & 0xFF)
    return head + bytes(body)


def encode_tone_frame(bins: list[tuple[int, int]], global_gain: int) -> bytes:
    """``L3.encode_tone_frame`` with ``global_gain`` rewritten in both
    granules' side info (the package encoder writes 210, unit
    amplitude).  The 8-bit field sits after the 4-byte header, the
    18-bit frame prelude, and each granule's part2_3_length (12) and
    big_values (9); a granule's side info is 59 bits."""
    frame = bytearray(L3.encode_tone_frame(bins))
    for start in (32 + 18 + 21, 32 + 18 + 59 + 21):
        for k in range(8):
            byte, shift = divmod(start + k, 8)
            mask = 0x80 >> shift
            if (global_gain >> (7 - k)) & 1:
                frame[byte] |= mask
            else:
                frame[byte] &= ~mask
    return bytes(frame)


def encode_png(
    px: list[int], width: int, h: int, level: int, filter_type: int
) -> bytes:
    """``M._encode_png`` with any of the five PNG scanline filters and
    any zlib level (0 = the package's stored blocks): the inputs the
    PNG decoder must invert, which the package encoder never writes."""
    import zlib

    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"unknown PNG filter type {filter_type}")
    ihdr = (
        width.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 0, 0, 0, 0])  # depth 8, grey, deflate, adaptive, no interlace
    )
    raw = bytearray()
    prev = bytes(width)
    for y in range(h):
        row = bytes(px[y * width : (y + 1) * width])
        raw.append(filter_type)
        if filter_type == 0:
            raw += row
        elif filter_type == 1:  # Sub
            raw += bytes(
                (row[x] - (row[x - 1] if x else 0)) & 0xFF
                for x in range(width)
            )
        elif filter_type == 2:  # Up
            raw += bytes((row[x] - prev[x]) & 0xFF for x in range(width))
        elif filter_type == 3:  # Average
            raw += bytes(
                (row[x] - ((row[x - 1] if x else 0) + prev[x]) // 2) & 0xFF
                for x in range(width)
            )
        else:  # Paeth
            raw += bytes(
                (row[x] - M._paeth(row[x - 1] if x else 0, prev[x], prev[x - 1] if x else 0)) & 0xFF
                for x in range(width)
            )
        prev = row
    idat = (
        M._stored_zlib(bytes(raw))
        if level == 0
        else zlib.compress(bytes(raw), level)
    )
    return (
        M.PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", idat)
        + M._png_chunk(b"IEND", b"")
    )


def synthesize_warc(
    records: list[tuple[str, str | None, bytes]], gzip_members: bool
) -> bytes:
    """``W.synthesize_warc`` (gzip member per record), or with
    ``gzip_members=False`` the same records as one plain WARC stream —
    the uncompressed layout the reader also accepts."""
    if gzip_members:
        return W.synthesize_warc(records)
    return b"".join(W._record_bytes(t, u, p) for t, u, p in records)


# --- DuckDB word n-grams at any width ---------------------------------------

def duckdb_shingles(toks: str, n: int) -> str:
    """``H.duckdb_shingles`` at window width ``n`` (the package spells
    ``SHINGLE_N`` only): the oracle for the ``DECONTAM_N``-gram
    contamination operators."""
    parts = ", ".join(f"{toks}[i + {k}]" for k in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> concat_ws(' ', {parts}))) "
        f"ELSE [] END"
    )
