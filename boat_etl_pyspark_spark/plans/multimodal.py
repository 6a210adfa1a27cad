"""Oracle-checked queries for the multimodal binary operators.

The payloads are UTF-8 bytes of ``documents.text`` (stand-in for real
image/audio columns); the DuckDB oracle reproduces the byte math via
``hex(encode(text))`` so the checks hold for any byte content. The
decode/resize/feature steps are real pure-numpy raster math (see
``operators.multimodal``) — nothing in the checked path is stubbed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import track_persist
from ..operators.multimodal import (
    attach_binary,
    binary_metadata,
    decode_features,
    frame_sample,
    phash_keys,
)
from ..sources.readers import load_table


def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return binary_metadata(attach_binary(docs))


_META_SQL = """
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS byte_len, hex(encode(text)) AS hx
  FROM documents
)
SELECT doc_id, byte_len,
       (['image', 'audio', 'video', 'blob'])[byte_len % 4 + 1] AS kind,
       CAST(list_sum(list_transform(range(0, byte_len),
                i -> CAST(concat('0x', substring(hx, i * 2 + 1, 2)) AS BIGINT)))
         % 1000003 AS BIGINT) AS checksum
FROM b
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(attach_binary(docs), chunk=1024, stride=2)


_FRAME_SQL = """
WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
f AS (
  SELECT doc_id, n,
         unnest(range(0, CAST((n + 1023) // 1024 AS BIGINT), 2)) AS frame_idx
  FROM b
)
SELECT doc_id, frame_idx,
       least(1024, n - frame_idx * 1024) AS frame_len
FROM f
"""


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = decode_features(attach_binary(docs), dim=8)
    return feats.select(
        "doc_id", F.posexplode("feature").alias("j", "value")
    )


# band j of a payload covers byte indexes [j*n//8, (j+1)*n//8); the
# feature is the band's mean byte value (0.0 for an empty band)
_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS hx
  FROM documents
),
e AS (SELECT doc_id, n, hx, unnest(range(0, 8)) AS j FROM b),
s AS (
  SELECT doc_id, CAST(j AS INT) AS j, hx,
         (j * n) // 8 AS lo, ((j + 1) * n) // 8 AS hi
  FROM e
)
SELECT doc_id, j,
       CASE WHEN hi > lo THEN
         CAST(list_sum(list_transform(range(lo, hi),
              i -> CAST(concat('0x', substring(hx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT)))
           AS DOUBLE) / (hi - lo)
       ELSE 0.0 END AS value
FROM s
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import resize

    docs = load_table(spark, sf_dir, "documents")
    return resize(attach_binary(docs), out_w=64, out_h=64)


# real nearest-neighbor resample of the stride-128 raster decode:
# output cell (x, y) reads source pixel (sy, sx) with sy=(y*h)//64,
# sx=(x*128)//64, byte index sy*128+sx (zero beyond the payload —
# the padded tail row); checksum = sum of the 64x64 resampled bytes
_RESIZE_SQL = """
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS hx
  FROM documents
),
d AS (SELECT doc_id, n, hx, greatest(1, (n + 127) // 128) AS h FROM b)
SELECT doc_id,
       n AS src_len,
       CAST(128 AS INT) AS src_w,
       CAST(h AS INT) AS src_h,
       CAST(64 AS INT) AS out_w,
       CAST(64 AS INT) AS out_h,
       CAST(list_sum(list_transform(range(0, 64 * 64),
            c -> CASE WHEN ((c // 64) * h) // 64 * 128 + ((c % 64) * 128) // 64 < n
                 THEN CAST(concat('0x', substring(hx,
                      CAST((((c // 64) * h) // 64 * 128 + ((c % 64) * 128) // 64) * 2 + 1 AS INT),
                      2)) AS BIGINT)
                 ELSE 0 END)) AS BIGINT) AS checksum
FROM d
"""


_PH_MAXHAM = 10


def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate candidates via the banded perceptual hash:
    equality on any of the four 16-bit aHash band keys generates
    candidate pairs (the MinHash-LSH banding trick in hamming space —
    NEVER all-pairs), then the exact 64-bit hamming distance verifies
    each candidate with four XOR+popcount column ops, keeping pairs
    within {_PH_MAXHAM} bits. Only 4-int keys shuffle; payloads stay
    in the mapInPandas stage — at 100 TB image scale the identical
    plan buckets billions of images with per-band exchanges, exactly
    like the text MinHash pipeline. The DuckDB oracle recomputes every
    band bit from the raw bytes via the integer cross-multiplication
    threshold, so the numpy path is pinned bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    keys = track_persist(phash_keys(attach_binary(docs)))
    bands = keys.selectExpr(
        "doc_id", "stack(4, 0, k0, 1, k1, 2, k2, 3, k3) AS (b, v)"
    )
    a, bb = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    x = keys.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"k{i}").alias(f"a{i}") for i in range(4)],
    )
    y = keys.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"k{i}").alias(f"b{i}") for i in range(4)],
    )
    ham = (
        "CAST(bit_count(a0 ^ b0) + bit_count(a1 ^ b1)"
        " + bit_count(a2 ^ b2) + bit_count(a3 ^ b3) AS INT)"
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("hamming_bits", F.expr(ham))
        .where(F.col("hamming_bits") <= _PH_MAXHAM)
        .select("doc_a", "doc_b", "hamming_bits")
        .orderBy("doc_a", "doc_b")
    )


# band-bit j: band_sum * n > total_sum * band_len — integer exact;
# keys pack 16 bits per band, MSB first, mirroring the numpy packing
_PHASH_SQL = f"""
WITH raw AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), bytes AS (
  SELECT doc_id, n,
         list_transform(range(0, n),
             i -> CAST(concat('0x', substring(hx, CAST(i * 2 + 1 AS INT), 2))
                       AS BIGINT)) AS bs
  FROM raw
), stats AS (
  SELECT doc_id, n, bs, coalesce(list_sum(bs), 0) AS total FROM bytes
), bits AS (
  SELECT doc_id,
         list_transform(range(0, 64), j -> CASE WHEN
             coalesce(list_sum(list_slice(bs,
                 CAST((j * n) // 64 + 1 AS INT),
                 CAST(((j + 1) * n) // 64 AS INT))), 0) * n
             > total * (((j + 1) * n) // 64 - (j * n) // 64)
             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bv
  FROM stats
), kb AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, 16),
             j -> bv[CAST(j + 1 AS INT)] << (15 - j))) AS k0,
         list_sum(list_transform(range(0, 16),
             j -> bv[CAST(j + 17 AS INT)] << (15 - j))) AS k1,
         list_sum(list_transform(range(0, 16),
             j -> bv[CAST(j + 33 AS INT)] << (15 - j))) AS k2,
         list_sum(list_transform(range(0, 16),
             j -> bv[CAST(j + 49 AS INT)] << (15 - j))) AS k3
  FROM bits
), bands AS (
  SELECT doc_id, 0 AS b, k0 AS v FROM kb
  UNION ALL SELECT doc_id, 1, k1 FROM kb
  UNION ALL SELECT doc_id, 2, k2 FROM kb
  UNION ALL SELECT doc_id, 3, k3 FROM kb
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, bb.doc_id AS doc_b
  FROM bands a JOIN bands bb
    ON a.b = bb.b AND a.v = bb.v AND a.doc_id < bb.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(x.k0, y.k0)) + bit_count(xor(x.k1, y.k1))
          + bit_count(xor(x.k2, y.k2)) + bit_count(xor(x.k3, y.k3))
          AS INT) AS hamming_bits
FROM cand c
JOIN kb x ON x.doc_id = c.doc_a
JOIN kb y ON y.doc_id = c.doc_b
WHERE bit_count(xor(x.k0, y.k0)) + bit_count(xor(x.k1, y.k1))
    + bit_count(xor(x.k2, y.k2)) + bit_count(xor(x.k3, y.k3))
    <= {_PH_MAXHAM}
ORDER BY doc_a, doc_b
"""


QUERIES = {
    "multimodal_binary_meta": multimodal_binary_meta,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_decode_features": multimodal_decode_features,
    "multimodal_resize": multimodal_resize,
    "multimodal_phash_pairs": multimodal_phash_pairs,
}

ORACLE = {
    "multimodal_binary_meta": _META_SQL,
    "multimodal_frame_sample": _FRAME_SQL,
    "multimodal_decode_features": _FEATURES_SQL,
    "multimodal_resize": _RESIZE_SQL,
    "multimodal_phash_pairs": _PHASH_SQL,
}
