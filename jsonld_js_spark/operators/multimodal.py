"""Multimodal-column plumbing: image/audio/video as opaque `binary`
columns with typed metadata, decoded/feature-extracted inside
Arrow-batched mapInPandas.

The container has no image/audio libraries (PIL/soundfile/av), so
COMPRESSED-format decode (PNG/JPEG/FLAC) is STUBBED in
`q_multimodal_decode` (`_try_real_decode` raises NotImplementedError
and the pipeline falls back to a deterministic header-parse fake).
Everything the stdlib CAN genuinely decode is real further down:
RIFF/WAVE PCM and binary P6 PPM decode (`q_multimodal_decode_real`),
nearest-neighbor resize (`q_multimodal_resize`), exact-integer audio
DSP features (`q_multimodal_audio_features`), and perceptual-hash
near-dup (`q_multimodal_phash[_neardup]`) — plus the Spark-side
plumbing throughout: binary column synthesis, BinaryType schema,
Arrow transfer of bytes into pandas, batch-shaped decode UDFs, and
the partitioning story (payloads stay in the executor; only small
typed metadata/hash rows shuffle).

The synthetic payload is header(4B magic) + md5(text) + md5(text||'2')
(36 bytes), so the DuckDB oracle can re-derive every extracted value
from hex strings without any binary support.
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

MAGICS = {0: ("89504E47", "image/png"), 1: ("FFD8FFE0", "image/jpeg"),
          2: ("52494646", "audio/wav")}


def _payload_hex_col():
    magic = (F.when(F.col("doc_id") % 3 == 0, MAGICS[0][0])
             .when(F.col("doc_id") % 3 == 1, MAGICS[1][0])
             .otherwise(MAGICS[2][0]))
    return F.concat(magic, F.md5("text"),
                    F.md5(F.concat("text", F.lit("2"))))


def media_df(spark, sf_dir):
    """documents → (doc_id, payload binary, declared_type): the opaque
    multimodal column, synthesized deterministically."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    declared = (F.when(F.col("doc_id") % 3 == 0, MAGICS[0][1])
                .when(F.col("doc_id") % 3 == 1, MAGICS[1][1])
                .otherwise(MAGICS[2][1]))
    return d.select("doc_id", F.unhex(_payload_hex_col()).alias("payload"),
                    declared.alias("declared_type"))


DECODE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", IntegerType()),
    StructField("magic_hex", StringType()),
    StructField("media_type", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("checksum", LongType()),
])

_MAGIC_TO_TYPE = {hexs: mt for hexs, mt in MAGICS.values()}


def _try_real_decode(payload: bytes, media_type: str):
    """Real decode would go here (PIL / soundfile / av). Those libs are
    not in this container — keep the stub explicit."""
    raise NotImplementedError("media decode libraries not available")


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            magic = b[:4].hex().upper()
            media_type = _MAGIC_TO_TYPE.get(magic, "application/octet-stream")
            try:
                meta = _try_real_decode(b, media_type)  # pragma: no cover
            except NotImplementedError:
                # deterministic fake: dims from header-adjacent bytes,
                # checksum = sum of payload bytes
                meta = (16 + b[4], 16 + b[5], sum(b))
            out.append((doc_id, len(b), magic, media_type) + meta)
        yield pd.DataFrame(out, columns=DECODE_SCHEMA.fieldNames())


def q_multimodal_decode(spark, sf_dir):
    """binary payload → typed metadata via Arrow-batched mapInPandas."""
    return (media_df(spark, sf_dir)
            .mapInPandas(_decode_batch, schema=DECODE_SCHEMA)
            .orderBy("doc_id"))


def _byte_sql(pos: int) -> str:  # 1-based byte position in hex string
    return f"cast(('0x' || substr(payload_hex, {2*pos-1}, 2)) as int)"


_PAYLOAD_HEX_SQL = """
SELECT doc_id,
       (case when doc_id % 3 = 0 then '89504E47'
             when doc_id % 3 = 1 then 'FFD8FFE0'
             else '52494646' end) || md5(text) || md5(text || '2')
         AS payload_hex
FROM documents"""

_BYTESUM_SQL = ("list_sum(list_transform(range(1, 37), "
                "i -> cast(('0x' || substr(payload_hex, i*2-1, 2)) as int)))")

ORACLE_MULTIMODAL_DECODE = f"""
WITH p AS ({_PAYLOAD_HEX_SQL})
SELECT doc_id,
       cast(length(payload_hex) / 2 as int) AS n_bytes,
       upper(substr(payload_hex, 1, 8)) AS magic_hex,
       case when doc_id % 3 = 0 then 'image/png'
            when doc_id % 3 = 1 then 'image/jpeg'
            else 'audio/wav' end AS media_type,
       cast(16 + {_byte_sql(5)} as int) AS width,
       cast(16 + {_byte_sql(6)} as int) AS height,
       cast({_BYTESUM_SQL} as bigint) AS checksum
FROM p ORDER BY doc_id
"""


FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("byte_offset", IntegerType()),
    StructField("frame_value", IntegerType()),
])
FRAME_STRIDE = 8


def q_multimodal_frame_sample(spark, sf_dir):
    """'Video' frame sampling: one sample every FRAME_STRIDE bytes of
    the payload (stand-in for decode+frame-extract at stride). Same
    mapInPandas shape a real ffmpeg-backed extractor would use."""
    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for k, off in enumerate(range(0, len(b), FRAME_STRIDE)):
                    out.append((doc_id, k, off, b[off]))
            yield pd.DataFrame(out, columns=FRAME_SCHEMA.fieldNames())

    return (media_df(spark, sf_dir)
            .mapInPandas(sample, schema=FRAME_SCHEMA)
            .orderBy("doc_id", "frame_idx"))


ORACLE_MULTIMODAL_FRAMES = f"""
WITH p AS ({_PAYLOAD_HEX_SQL})
SELECT doc_id,
       cast(k as int) AS frame_idx,
       cast(k * {FRAME_STRIDE} as int) AS byte_offset,
       cast(('0x' || substr(payload_hex, k * {FRAME_STRIDE} * 2 + 1, 2))
            as int) AS frame_value
FROM p, (SELECT unnest(range(0, 5)) AS k)
WHERE k * {FRAME_STRIDE} < length(payload_hex) / 2
ORDER BY doc_id, frame_idx
"""


def payload_dedup(media):
    """Exact content dedup over the opaque media column: one row per
    DISTINCT payload with its copy count and the canonical (min)
    doc_id — the survivor map an asset store ships before spending
    decode/re-encode cycles on duplicates. The key is the portable
    content fingerprint md5(hex(payload)) — hex-encode-then-hash keeps
    the DuckDB oracle binary-free (its md5 is VARCHAR-only), and the
    scale property is the same as hashing raw bytes: only the 16-byte
    fingerprint shuffles; payload bytes never leave their scan
    partition. One groupBy on a uniform hash key with map-side partial
    agg — the dedup_exact plan shape over binary instead of text."""
    return (media.groupBy(F.md5(F.hex("payload")).alias("content_fp"))
            .agg(F.count("*").alias("n_copies"),
                 F.min("doc_id").alias("keep_doc_id"))
            .orderBy("content_fp"))


def q_multimodal_dedup(spark, sf_dir):
    return payload_dedup(media_df(spark, sf_dir))


ORACLE_MULTIMODAL_DEDUP = f"""
WITH p AS ({_PAYLOAD_HEX_SQL})
SELECT md5(upper(payload_hex)) AS content_fp,
       cast(count(*) as bigint) AS n_copies,
       cast(min(doc_id) as bigint) AS keep_doc_id
FROM p GROUP BY 1 ORDER BY content_fp
"""


# ---------------------------------------------------------------------------
# fuzzy (near-dup) content fingerprinting over the opaque payload —
# the ssdeep/perceptual-hash slot of an asset pipeline: catch the SAME
# asset under minor corruption / appended metadata, which the exact
# md5 of payload_dedup cannot. Shingles are byte-aligned 4-byte grams
# of the payload hex (stride 1 byte), pushed through the SHARED
# one-hash MinHash + 4x2 LSH band machinery of operators/dedup.py
# (minhash_band_rows), then exact-Jaccard verified — so the scale
# story (band bucket join, never all-pairs; only 16-byte band keys
# shuffle, payloads stay in their scan partition) and the measured
# recall math carry over unchanged. The gated corpus plants tagged
# copies (doc_id+500000, payload || DEADBEEF — "re-encoded with an
# appended metadata atom"): 33 of 37 grams shared -> J ~ 0.89, while
# unrelated md5-derived payloads share ~0 grams.

MM_GRAM_HEX_CHARS = 8      # 4 bytes per shingle
MM_NEARDUP_J_PPM = 700000
MM_CORRUPT_TAG = "DEADBEEF"


def _hex_shingles(hex_col):
    """Distinct byte-aligned 4-byte-gram shingles of a hex string.
    The (possibly computed) hex expression is bound ONCE per row via
    the transform-array let-binding (see CLAUDE.md: inlining it into
    the per-index lambda makes codegen re-evaluate it per element)."""
    def _grams_of(hx):
        return F.array_distinct(F.transform(
            F.sequence(F.lit(1),
                       F.length(hx) - (MM_GRAM_HEX_CHARS - 1), F.lit(2)),
            lambda i: hx.substr(i, F.lit(MM_GRAM_HEX_CHARS))))
    return F.element_at(F.transform(F.array(hex_col), _grams_of), 1)


def payload_neardup_pairs(media_hex, j_ppm: int = MM_NEARDUP_J_PPM):
    """(doc_id, payload_hex) -> verified near-dup pairs
    (doc_a, doc_b, jaccard_ppm) via byte-gram MinHash/LSH."""
    from .dedup import _jaccard_ppm, minhash_band_rows
    docs = media_hex.select(
        "doc_id", _hex_shingles(F.col("payload_hex")).alias("shingles"))
    bands = minhash_band_rows(docs)
    pairs = (bands.alias("a").join(
        bands.alias("b"),
        (F.col("a.band") == F.col("b.band")) &
        (F.col("a.bkey") == F.col("b.bkey")) &
        (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct())
    verified = (pairs
                .join(docs.select(F.col("doc_id").alias("doc_a"),
                                  F.col("shingles").alias("sa")), "doc_a")
                .join(docs.select(F.col("doc_id").alias("doc_b"),
                                  F.col("shingles").alias("sb")), "doc_b")
                .select("doc_a", "doc_b",
                        _jaccard_ppm(F.col("sa"), F.col("sb"))
                        .alias("jaccard_ppm"))
                .filter(F.col("jaccard_ppm") >= j_ppm))
    return verified


def q_multimodal_neardup(spark, sf_dir):
    from .dedup import guard_injection_span
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = guard_injection_span(
        d.select("doc_id", _payload_hex_col().alias("payload_hex")),
        500000)
    planted = (base.filter(F.col("doc_id") % 10 == 0)
               .select((F.col("doc_id") + 500000).alias("doc_id"),
                       F.concat("payload_hex", F.lit(MM_CORRUPT_TAG))
                       .alias("payload_hex")))
    return (payload_neardup_pairs(base.unionAll(planted))
            .orderBy("doc_a", "doc_b"))


def _oracle_multimodal_neardup() -> str:
    from .dedup import _BAND_UNION, _BANDS_SQL, _JACCARD_PPM_SQL, _SIG_SQL
    from .textstats import hash60_sql
    gram_positions = (f"range(1, len(payload_hex) - "
                      f"{MM_GRAM_HEX_CHARS - 2}, 2)")
    shingles = (f"list_distinct(list_transform({gram_positions}, "
                f"i -> substr(payload_hex, i, {MM_GRAM_HEX_CHARS})))")
    return f"""
WITH p AS ({_PAYLOAD_HEX_SQL}),
ncorpus AS (
  SELECT doc_id, payload_hex FROM p
  UNION ALL
  SELECT doc_id + 500000, payload_hex || '{MM_CORRUPT_TAG}'
  FROM p WHERE doc_id % 10 = 0
),
docs AS (SELECT doc_id, {shingles} AS shingles FROM ncorpus),
hashed AS (SELECT doc_id, shingles,
           list_transform(shingles, s -> {hash60_sql('s')}) AS hs
           FROM docs),
sigs0 AS (SELECT doc_id, shingles, {_SIG_SQL} FROM hashed),
sigs AS (SELECT *, {_BANDS_SQL} FROM sigs0),
bands AS ({_BAND_UNION}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b, da.shingles AS sa, db.shingles AS sb
  FROM cand c JOIN docs da ON da.doc_id = c.doc_a
              JOIN docs db ON db.doc_id = c.doc_b
)
SELECT doc_a, doc_b, {_JACCARD_PPM_SQL} AS jaccard_ppm FROM pairs
WHERE {_JACCARD_PPM_SQL} >= {MM_NEARDUP_J_PPM}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# REAL decode — stdlib decoders over real container formats. The
# container has no PIL/soundfile/av, but Python's stdlib genuinely
# decodes RIFF/WAVE (wave + struct) and binary PPM needs only its
# 4-token header — so this path synthesizes REAL media files (a valid
# 16-bit mono PCM WAV; a valid P6 PPM) as binary columns and runs a
# real decoder per Arrow batch: container parse, dimension/rate
# extraction, full sample/pixel decode, and exact integer features
# (per-channel pixel sums; sum of |PCM samples|). Compressed formats
# (PNG/JPEG/FLAC) remain honestly stubbed in q_multimodal_decode.
# The DuckDB oracle re-derives every feature from (doc_id, text) —
# it never parses the container, so the gate cross-checks the REAL
# decoder against an independent derivation.

WAV_RATE = 8000


def _le_sql(e: str, nbytes: int) -> str:
    """Little-endian hex of integer expr `e` (Spark SQL), nbytes wide."""
    h = f"lpad(hex({e}), {2 * nbytes}, '0')"
    pairs = ", ".join(f"substr({h}, {2 * i - 1}, 2)"
                      for i in range(nbytes, 0, -1))
    return f"concat({pairs})"


def media_real_df(spark, sf_dir):
    """documents → (doc_id, payload binary): even doc_ids get a valid
    P6 PPM (w,h in 3..9, pixels = repeated md5 bytes), odd doc_ids a
    valid WAV (mono 16-bit {rate} Hz, 4..16 samples = md5 bytes)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # PPM: 'P6\n' w ' ' h '\n' '255\n' + 3*w*h pixel bytes
    ppm = ("concat('50360A', hex(cast(48 + w as tinyint)), '20', "
           "hex(cast(48 + h as tinyint)), '0A', '3235350A', "
           "substr(repeat(md5(text), 16), 1, 6 * w * h))")
    # WAV: RIFF header + fmt + data chunks, then n 16-bit LE samples
    data_sz = "(2 * n)"
    wav = ("concat('52494646', "                       # 'RIFF'
           f"{_le_sql(f'36 + {data_sz}', 4)}, "
           "'57415645', "                              # 'WAVE'
           "'666D7420', " + _le_sql("16", 4) + ", "    # 'fmt ', size 16
           + _le_sql("1", 2) + ", "                    # PCM
           + _le_sql("1", 2) + ", "                    # mono
           + _le_sql(str(WAV_RATE), 4) + ", "          # sample rate
           + _le_sql(str(WAV_RATE * 2), 4) + ", "      # byte rate
           + _le_sql("2", 2) + ", "                    # block align
           + _le_sql("16", 2) + ", "                   # bits/sample
           "'64617461', "                              # 'data'
           f"{_le_sql(data_sz, 4)}, "
           "substr(concat(md5(text), md5(concat(text, '2'))), 1, 4 * n))")
    return (d.selectExpr(
        "doc_id", "text",
        "cast(3 + pmod(doc_id, 7) as int) AS w",
        "cast(3 + pmod(doc_id * 5, 7) as int) AS h",
        "cast(4 + pmod(doc_id, 13) as int) AS n")
        .selectExpr("doc_id",
                    f"unhex(case when doc_id % 2 = 0 then {ppm} "
                    f"else {wav} end) AS payload"))


REAL_DECODE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sum_r", LongType()),
    StructField("sum_g", LongType()),
    StructField("sum_b", LongType()),
    StructField("n_samples", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("duration_us", LongType()),
    StructField("sum_abs", LongType()),
])


def _decode_ppm(b: bytes):
    """Real P6 parse: header tokens, then raw RGB triples."""
    w, h, px = _parse_ppm(b)
    return w, h, sum(px[0::3]), sum(px[1::3]), sum(px[2::3])


def _decode_wav(b: bytes):
    """Real RIFF/WAVE decode via the stdlib wave module."""
    import io
    import struct
    import wave
    with wave.open(io.BytesIO(b)) as wf:
        if wf.getsampwidth() != 2 or wf.getnchannels() != 1:
            raise ValueError("only mono 16-bit PCM supported")
        rate = wf.getframerate()
        n = wf.getnframes()
        samples = struct.unpack(f"<{n}h", wf.readframes(n))
    return n, rate, n * 1_000_000 // rate, sum(abs(s) for s in samples)


def _real_decode_batch(batches: Iterator[pd.DataFrame]) \
        -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            if b[:2] == b"P6":
                w, h, sr, sg, sb = _decode_ppm(b)
                out.append((doc_id, "image/x-portable-pixmap", len(b),
                            w, h, sr, sg, sb,
                            None, None, None, None))
            elif b[:4] == b"RIFF":
                n, rate, dur, sa = _decode_wav(b)
                out.append((doc_id, "audio/wav", len(b),
                            None, None, None, None, None,
                            n, rate, dur, sa))
            else:
                raise ValueError(f"unknown container for doc {doc_id}")
        yield pd.DataFrame(out, columns=REAL_DECODE_SCHEMA.fieldNames())


def q_multimodal_decode_real(spark, sf_dir):
    """Real stdlib decode of real media bytes inside mapInPandas; the
    oracle cross-checks against an independent (doc_id, text)
    derivation that never touches the container bytes."""
    return (media_real_df(spark, sf_dir)
            .mapInPandas(_real_decode_batch, schema=REAL_DECODE_SCHEMA)
            .orderBy("doc_id"))


def _px_sum_sql(offset: int) -> str:
    """Sum of pixel channel `offset` (0=R,1=G,2=B) from the repeated-
    md5 hex string, 1-based hex positions 6k+2*offset+1 (list_sum →
    HUGEINT, hence the bigint cast per the portability rules)."""
    return (f"cast(list_sum(list_transform(range(0, w * h), "
            f"k -> cast(('0x' || substr(px_hex, 6 * k + {2 * offset + 1}, "
            f"2)) as bigint))) as bigint)")


# signed little-endian int16 at sample k: MSB hex pair || LSB hex pair
_S16 = ("cast(('0x' || substr(smp_hex, k * 4 + 3, 2) "
        "|| substr(smp_hex, k * 4 + 1, 2)) as bigint)")
_SAMPLE_ABS_SQL = (
    f"cast(list_sum(list_transform(range(0, n), "
    f"k -> abs(case when {_S16} >= 32768 then {_S16} - 65536 "
    f"else {_S16} end))) as bigint)")

ORACLE_MULTIMODAL_DECODE_REAL = f"""
WITH dims AS (
  SELECT doc_id,
         cast(3 + (doc_id % 7) as int) AS w,
         cast(3 + ((doc_id * 5) % 7) as int) AS h,
         cast(4 + (doc_id % 13) as int) AS n,
         substr(repeat(md5(text), 16), 1, 6 * (3 + (doc_id % 7))
                * (3 + ((doc_id * 5) % 7))) AS px_hex,
         substr(md5(text) || md5(text || '2'), 1,
                4 * (4 + (doc_id % 13))) AS smp_hex
  FROM documents
)
SELECT doc_id,
       case when doc_id % 2 = 0 then 'image/x-portable-pixmap'
            else 'audio/wav' end AS media_type,
       cast(case when doc_id % 2 = 0 then 11 + 3 * w * h
            else 44 + 2 * n end as int) AS n_bytes,
       case when doc_id % 2 = 0 then w end AS width,
       case when doc_id % 2 = 0 then h end AS height,
       case when doc_id % 2 = 0 then {_px_sum_sql(0)} end AS sum_r,
       case when doc_id % 2 = 0 then {_px_sum_sql(1)} end AS sum_g,
       case when doc_id % 2 = 0 then {_px_sum_sql(2)} end AS sum_b,
       case when doc_id % 2 = 1 then n end AS n_samples,
       case when doc_id % 2 = 1 then {WAV_RATE} end AS sample_rate,
       case when doc_id % 2 = 1
            then cast(n * 1000000 // {WAV_RATE} as bigint)
       end AS duration_us,
       case when doc_id % 2 = 1 then {_SAMPLE_ABS_SQL} end AS sum_abs
FROM dims ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# REAL resize — the remaining slot of the multimodal quartet
# (decode / feature-extract / resize / frame-sample): genuine
# nearest-neighbor downsampling over genuinely decoded PPM pixels
# (numpy fancy-indexing per Arrow batch — vectorized, no per-pixel
# Python), emitting the full resized pixel buffer as lowercase hex
# plus exact per-channel sums. The DuckDB oracle re-derives the
# resized buffer from (doc_id, text) in closed form — source pixel of
# out (y, x) is ((y*h)//OUT, (x*w)//OUT), all operands non-negative so
# Spark/numpy floor-div and DuckDB `//` agree — and never touches the
# container bytes, so the gate cross-checks the real decoder+resizer
# against an independent derivation. Scale story: payload bytes never
# leave their scan partition (one scan, one mapInPandas, no Exchange
# before the write); output is a fixed 3*OUT*OUT bytes per image.

RESIZE_OUT = 4  # output is RESIZE_OUT x RESIZE_OUT RGB


def _parse_ppm(b: bytes):
    """P6 header parse returning (w, h, pixel_bytes)."""
    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    tokens, i = [], 2
    while len(tokens) < 3:
        while i < len(b) and b[i:i + 1].isspace():
            i += 1
        j = i
        while j < len(b) and not b[j:j + 1].isspace():
            j += 1
        tokens.append(int(b[i:j]))
        i = j
    i += 1
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    px = b[i:i + 3 * w * h]
    if len(px) != 3 * w * h:
        raise ValueError("truncated pixel data")
    return w, h, px


RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("src_w", IntegerType()),
    StructField("src_h", IntegerType()),
    StructField("out_w", IntegerType()),
    StructField("out_h", IntegerType()),
    StructField("resized_hex", StringType()),
    StructField("sum_r", LongType()),
    StructField("sum_g", LongType()),
    StructField("sum_b", LongType()),
])


def _resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np
    out_n = RESIZE_OUT
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px = _parse_ppm(bytes(payload))
            img = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
            rows = (np.arange(out_n) * h) // out_n
            cols = (np.arange(out_n) * w) // out_n
            r = img[rows][:, cols]
            out.append((doc_id, w, h, out_n, out_n,
                        r.tobytes().hex(),
                        int(r[:, :, 0].sum()), int(r[:, :, 1].sum()),
                        int(r[:, :, 2].sum())))
        yield pd.DataFrame(out, columns=RESIZE_SCHEMA.fieldNames())


def q_multimodal_resize(spark, sf_dir):
    """Real decode + nearest-neighbor resize of the PPM images (even
    doc_ids of the real-media corpus) inside one mapInPandas stage."""
    media = media_real_df(spark, sf_dir).filter(F.col("doc_id") % 2 == 0)
    return media.mapInPandas(_resize_batch, schema=RESIZE_SCHEMA) \
                .orderBy("doc_id")


def _resize_chunk_sql() -> str:
    """Hex chunk (6 chars) of the source pixel feeding out-pixel j."""
    o = RESIZE_OUT
    src_k = f"((((j // {o}) * h) // {o}) * w + (((j % {o}) * w) // {o}))"
    return f"substr(px_hex, 6 * {src_k} + 1, 6)"


def _resize_ch_sum_sql(offset: int) -> str:
    return (f"cast(list_sum(list_transform(chunks, c -> "
            f"cast(('0x' || substr(c, {2 * offset + 1}, 2)) as bigint))) "
            f"as bigint)")


ORACLE_MULTIMODAL_RESIZE = f"""
WITH dims AS (
  SELECT doc_id,
         cast(3 + (doc_id % 7) as int) AS w,
         cast(3 + ((doc_id * 5) % 7) as int) AS h,
         substr(repeat(md5(text), 16), 1, 6 * (3 + (doc_id % 7))
                * (3 + ((doc_id * 5) % 7))) AS px_hex
  FROM documents WHERE doc_id % 2 = 0
),
px AS (
  SELECT doc_id, w, h,
         list_transform(range(0, {RESIZE_OUT * RESIZE_OUT}),
                        j -> {_resize_chunk_sql()}) AS chunks
  FROM dims
)
SELECT doc_id,
       w AS src_w, h AS src_h,
       cast({RESIZE_OUT} as int) AS out_w,
       cast({RESIZE_OUT} as int) AS out_h,
       list_aggregate(chunks, 'string_agg', '') AS resized_hex,
       {_resize_ch_sum_sql(0)} AS sum_r,
       {_resize_ch_sum_sql(1)} AS sum_g,
       {_resize_ch_sum_sql(2)} AS sum_b
FROM px ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# REAL audio feature extraction — genuine DSP features over genuinely
# decoded PCM samples (the odd doc_ids of the real-media corpus):
# energy (sum of squared samples), zero-crossing count, and peak
# amplitude, all exact integers so the cross-engine gate is bit-exact
# (no float sums, per the portability rules). The DuckDB oracle
# re-derives every feature from the sample hex stream without ever
# parsing the RIFF container, so the gate cross-checks the real
# stdlib decoder + numpy feature kernel against an independent
# derivation. Scale story: payload bytes never leave their scan
# partition (one scan, one mapInPandas); output is 6 small columns.

AUDIO_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_samples", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("sum_sq", LongType()),
    StructField("zero_crossings", LongType()),
    StructField("peak_abs", LongType()),
])


def _audio_features_batch(batches: Iterator[pd.DataFrame]) \
        -> Iterator[pd.DataFrame]:
    import io
    import wave

    import numpy as np
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            with wave.open(io.BytesIO(bytes(payload))) as wf:
                rate = wf.getframerate()
                n = wf.getnframes()
                raw = wf.readframes(n)
            s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
            nonneg = s >= 0
            out.append((doc_id, n, rate,
                        int((s * s).sum()),
                        int((nonneg[:-1] != nonneg[1:]).sum()),
                        int(np.abs(s).max())))
        yield pd.DataFrame(out, columns=AUDIO_FEATURES_SCHEMA.fieldNames())


def q_multimodal_audio_features(spark, sf_dir):
    """Real decode + exact-integer DSP features (energy / zero
    crossings / peak) over the WAV half of the real-media corpus,
    inside one mapInPandas stage."""
    media = media_real_df(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    return media.mapInPandas(_audio_features_batch,
                             schema=AUDIO_FEATURES_SCHEMA) \
                .orderBy("doc_id")


def _s16_at(var: str) -> str:
    """Signed little-endian int16 at sample index `var` (DuckDB)."""
    u = (f"cast(('0x' || substr(smp_hex, ({var}) * 4 + 3, 2) "
         f"|| substr(smp_hex, ({var}) * 4 + 1, 2)) as bigint)")
    return f"(case when {u} >= 32768 then {u} - 65536 else {u} end)"


ORACLE_MULTIMODAL_AUDIO_FEATURES = f"""
WITH dims AS (
  SELECT doc_id,
         cast(4 + (doc_id % 13) as int) AS n,
         substr(md5(text) || md5(text || '2'), 1,
                4 * (4 + (doc_id % 13))) AS smp_hex
  FROM documents WHERE doc_id % 2 = 1
)
SELECT doc_id,
       n AS n_samples,
       cast({WAV_RATE} as int) AS sample_rate,
       cast(list_sum(list_transform(range(0, n),
            k -> {_s16_at('k')} * {_s16_at('k')})) as bigint) AS sum_sq,
       cast(list_sum(list_transform(range(0, n - 1),
            k -> case when ({_s16_at('k')} >= 0)
                      != ({_s16_at('k + 1')} >= 0)
                 then 1 else 0 end)) as bigint) AS zero_crossings,
       cast(list_max(list_transform(range(0, n),
            k -> abs({_s16_at('k')}))) as bigint) AS peak_abs
FROM dims ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# REAL perceptual hash (dHash) + Hamming near-dup — the image-side
# scale path for visual near-duplicate detection. A dedicated corpus
# plants genuine near-duplicates: groups of {PHASH_GROUP}/2 even
# doc_ids share one anchor image (pixels from a non-periodic chained-
# md5 stream keyed by the anchor, dims 8..15 keyed by the anchor so
# group members are the SAME image), and each member differs by one
# perturbed pixel — a true pixel-level near-duplicate, which dHash
# (8x9 nearest-neighbor resize -> row-gradient bits) maps to small
# Hamming distance (measured max 4 within groups; random cross-group
# pairs sit near 32). Candidates come from 4x16-bit band buckets
# (LSH, the dedup.py pattern — never all-pairs), then the exact
# 64-bit Hamming filter. The operator contract IS band-match AND
# d <= {PHASH_HAM_T}, identically on both engines, so the gate is
# exact. The DuckDB oracle re-derives hash and pairs in closed form
# from doc_id alone and never parses the container. Scale story:
# pixels never shuffle — only (doc_id, 16-hex-char hash) rows reach
# the band exchange; candidate volume grows linearly with corpus
# size (planted groups are constant-size) — see SOAK_PHASH_r5.
# Integer-only throughout (NN index math is floor-div on non-negative
# operands; gray = r+g+b sum, no /3).

PHASH_GROUP = 20          # even doc_ids per anchor group = 10
PHASH_BASE_CHUNKS = 43    # 43 * 32 hex chars >= 6 * 15 * 15
PHASH_HAM_T = 10          # exact Hamming cutoff (planted max = 4)
PHASH_MIX = 2654435761    # Knuth multiplicative hash (public domain)


def media_phash_df(spark, sf_dir):
    """documents (even doc_ids) → (doc_id, payload binary): valid P6
    PPMs where anchor groups of 10 share dims + base pixels and each
    member perturbs one pixel (position doc_id % (w*h), bytes from a
    doc_id mix) — planted visual near-duplicates."""
    base = "concat(" + ", ".join(
        f"md5(concat(cast(anchor as string), '|', '{i}'))"
        for i in range(PHASH_BASE_CHUNKS)) + ")"
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (d.filter(F.col("doc_id") % 2 == 0)
            .selectExpr("doc_id",
                        f"doc_id - (doc_id % {PHASH_GROUP}) AS anchor")
            .selectExpr("doc_id",
                        "cast(8 + anchor % 8 as int) AS w",
                        "cast(8 + (anchor * 3) % 8 as int) AS h",
                        f"{base} AS chain")
            .selectExpr("doc_id", "w", "h",
                        "substr(chain, 1, 6 * w * h) AS base_hex",
                        "cast(doc_id % (w * h) as int) AS k0",
                        f"format_string('%06x', (doc_id * {PHASH_MIX}) "
                        f"% 16777216) AS pert")
            .selectExpr("doc_id", "w", "h",
                        "concat(substr(base_hex, 1, 6 * k0), pert, "
                        "substr(base_hex, 6 * k0 + 7)) AS px_hex")
            .selectExpr("doc_id",
                        "unhex(concat('50360A', hex(cast(w as string)), "
                        "'20', hex(cast(h as string)), '0A3235350A', "
                        "px_hex)) AS payload"))


PHASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("phash_hex", StringType()),
])


def _phash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np
    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px = _parse_ppm(bytes(payload))
            img = (np.frombuffer(px, dtype=np.uint8)
                   .reshape(h, w, 3).astype(np.int32))
            g = img[(np.arange(8) * h) // 8][:, (np.arange(9) * w) // 9] \
                .sum(axis=2)
            bits = (g[:, :8] > g[:, 1:9]).astype(int).ravel()
            hexs = "".join(
                format(bits[4 * j] * 8 + bits[4 * j + 1] * 4
                       + bits[4 * j + 2] * 2 + bits[4 * j + 3], "x")
                for j in range(16))
            out.append((doc_id, w, h, hexs))
        yield pd.DataFrame(out, columns=PHASH_SCHEMA.fieldNames())


def phash_frame(spark, sf_dir):
    """(doc_id, width, height, phash_hex) via real decode + dHash."""
    return media_phash_df(spark, sf_dir) \
        .mapInPandas(_phash_batch, schema=PHASH_SCHEMA)


def q_multimodal_phash(spark, sf_dir):
    """Real decode + 64-bit dHash of the planted-near-dup corpus."""
    return phash_frame(spark, sf_dir).orderBy("doc_id")


def _ham_sql(a: str, b: str, engine: str) -> str:
    """Exact 64-bit Hamming distance between two 16-hex-char hashes,
    as 4 band-wise bit_count(xor) terms (no per-nibble lambda)."""
    terms = []
    for i in range(4):
        if engine == "spark":
            terms.append(
                f"bit_count(cast(conv(substr({a}, {4 * i + 1}, 4), 16, 10)"
                f" as int) ^ cast(conv(substr({b}, {4 * i + 1}, 4), 16, 10)"
                f" as int))")
        else:
            terms.append(
                f"bit_count(xor(cast(('0x' || substr({a}, {4 * i + 1}, 4))"
                f" as bigint), cast(('0x' || substr({b}, {4 * i + 1}, 4))"
                f" as bigint)))")
    return "(" + " + ".join(terms) + ")"


def q_multimodal_phash_neardup(spark, sf_dir):
    """Visual near-dup pairs: 4x16-bit band buckets propose candidates
    (only tiny hash rows shuffle — pixels stay in their scan
    partition), exact Hamming <= PHASH_HAM_T keeps them. The hash
    frame feeds both self-join sides, so it is cached (Catalyst does
    not dedupe a doubly-referenced corpus-scale subtree — CLAUDE.md)."""
    ph = phash_frame(spark, sf_dir).cache()
    bands = ph.select(
        "doc_id", "phash_hex",
        F.posexplode(F.array(*[
            F.expr(f"substr(phash_hex, {4 * i + 1}, 4)")
            for i in range(4)])).alias("band_idx", "band_val"))
    a, b = bands.alias("a"), bands.alias("b")
    ham = _ham_sql("ha", "hb", "spark")
    return (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.phash_hex").alias("ha"),
                    F.col("b.phash_hex").alias("hb"))
            .distinct()
            .selectExpr("doc_a", "doc_b",
                        f"cast({ham} as int) AS hamming")
            .filter(F.col("hamming") <= PHASH_HAM_T)
            .orderBy("doc_a", "doc_b"))


def _phash_cte() -> str:
    """DuckDB CTE chain deriving (doc_id, width, height, phash_hex)
    in closed form from doc_id alone — never parses the container, so
    the gate cross-checks the real decoder + numpy dHash kernel
    against an independent derivation."""
    base = " || ".join(
        f"md5(anchor_s || '|' || '{i}')" for i in range(PHASH_BASE_CHUNKS))
    src = "((((i // 9) * h) // 8) * w + (((i % 9) * w) // 9))"
    gray = " + ".join(
        f"cast(('0x' || substr(px_hex, 6 * {src} + {2 * c + 1}, 2)) "
        f"as bigint)" for c in range(3))

    def bit(r: int) -> str:
        pos = f"(((4 * j + {r}) // 8) * 9 + ((4 * j + {r}) % 8))"
        return f"(case when g[{pos} + 1] > g[{pos} + 2] then 1 else 0 end)"

    nib = (f"(8 * {bit(0)} + 4 * {bit(1)} + 2 * {bit(2)} + {bit(3)})")
    return f"""
dims AS (
  SELECT doc_id,
         cast(doc_id - (doc_id % {PHASH_GROUP}) as varchar) AS anchor_s,
         (doc_id - (doc_id % {PHASH_GROUP})) AS anchor
  FROM documents WHERE doc_id % 2 = 0
), geom AS (
  SELECT doc_id, anchor_s,
         cast(8 + anchor % 8 as int) AS w,
         cast(8 + (anchor * 3) % 8 as int) AS h
  FROM dims
), raw AS (
  SELECT doc_id, w, h,
         substr({base}, 1, 6 * w * h) AS base_hex,
         cast(doc_id % (w * h) as int) AS k0,
         printf('%06x', (doc_id * {PHASH_MIX}) % 16777216) AS pert
  FROM geom
), px AS (
  SELECT doc_id, w, h,
         concat(substr(base_hex, 1, 6 * k0), pert,
                substr(base_hex, 6 * k0 + 7)) AS px_hex
  FROM raw
), gr AS (
  SELECT doc_id, w, h,
         list_transform(range(0, 72), i -> {gray}) AS g
  FROM px
), ph AS (
  SELECT doc_id, w AS width, h AS height,
         list_aggregate(list_transform(range(0, 16),
             j -> substr('0123456789abcdef', 1 + {nib}, 1)),
             'string_agg', '') AS phash_hex
  FROM gr
)"""


ORACLE_MULTIMODAL_PHASH = f"""
WITH {_phash_cte()}
SELECT doc_id, width, height, phash_hex FROM ph ORDER BY doc_id
"""

_PHASH_BAND_MATCH = " OR ".join(
    f"substr(a.phash_hex, {4 * i + 1}, 4) = substr(b.phash_hex, "
    f"{4 * i + 1}, 4)" for i in range(4))

ORACLE_MULTIMODAL_PHASH_NEARDUP = f"""
WITH {_phash_cte()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast({_ham_sql('a.phash_hex', 'b.phash_hex', 'duckdb')} as int)
           AS hamming
FROM ph a JOIN ph b
  ON a.doc_id < b.doc_id AND ({_PHASH_BAND_MATCH})
WHERE {_ham_sql('a.phash_hex', 'b.phash_hex', 'duckdb')} <= {PHASH_HAM_T}
ORDER BY doc_a, doc_b
"""
