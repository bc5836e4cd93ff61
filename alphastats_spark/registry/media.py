"""Media family: the real image decode, resize and frame-sampling kernels,
value-hashed through pixel-byte sums DuckDB recomputes from the text."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from alphastats_spark.functions import multimodal
from alphastats_spark.registry.shared import _docs


def _padded_text() -> Column:
    """A document's printable-ASCII prefix, space-padded to 64 characters."""
    return F.rpad(
        F.regexp_replace(F.substring(F.col("text"), 1, 256), r"[^\x20-\x7e]", ""), 64, " "
    )


def _pgm_media(spark: SparkSession, sf_dir: str, content: Column, side: int) -> DataFrame:
    """The non-null documents as media rows whose ``content`` is a
    ``side``×``side`` PGM payload built from the text."""
    return _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        content.alias("content"),
        F.struct(
            F.lit("image/x-portable-graymap").alias("mime"),
            F.lit(side).alias("width"),
            F.lit(side).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def register(add) -> None:
    """Register the media queries through ``add(name, query, oracle)``."""
    # The real decode/resize/frame-sample queries below cover the
    # mapInPandas plumbing with REAL kernels and value oracles.
    # ``decoder="fake"`` stays in the API for payloads with no parseable
    # format; it is determinism-tested in pytest rather than gated.

    # REAL decode path with a value oracle: each document's printable-ASCII
    # prefix becomes an 8×8 PGM (P5) payload; the decoded mean-gray feature
    # × 255 × 64 is exactly the pixel-byte sum, which DuckDB recomputes
    # from the text — an integer check that is immune to the float32
    # feature-vector quantization.
    def _media_real(spark, sf_dir):
        media = _pgm_media(spark, sf_dir, F.concat(
            F.encode(F.lit("P5\n8 8\n255\n"), "utf-8"), F.encode(_padded_text(), "utf-8")
        ), 8)
        feats = multimodal.decode_features(media, decoder="real")
        return feats.select(
            "media_id",
            F.round(F.element_at("features", 1) * 255 * 64).cast("bigint").alias("byte_sum"),
        )

    add("media_decode_real", _media_real, """
WITH padded AS (
  SELECT doc_id,
         rpad(regexp_replace(substr(text, 1, 256), '[^ -~]', '', 'g'), 64, ' ') AS p
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id AS media_id,
       CAST(list_sum(list_transform(range(1, 65),
            i -> ascii(substr(p, CAST(i AS INTEGER), 1)))) AS BIGINT) AS byte_sum
FROM padded""")

    # REAL JPEG path: a constant 8×8 PGM (value = the first printable char
    # of the text) is TRANSCODED to baseline JPEG (real DCT + huffman
    # encoder) and decoded back through the real JPEG decoder — three
    # chained Arrow-batched kernels. For a constant block only the integer
    # DC coefficient survives the flat-quant DCT, so the roundtrip is
    # BIT-EXACT and the decoded pixel sum is 64 × ascii(first char) — which
    # DuckDB recomputes from the text. Entropy coding, huffman tables, and
    # the IDCT all sit on the checked path.
    def _media_jpeg(spark, sf_dir):
        cleaned = F.regexp_replace(
            F.substring(F.col("text"), 1, 64), r"[^\x20-\x7e]", ""
        )
        first = F.when(F.length(cleaned) > 0, F.substring(cleaned, 1, 1)).otherwise(
            F.lit(" ")
        )
        media = _pgm_media(spark, sf_dir, F.concat(
            F.encode(F.lit("P5\n8 8\n255\n"), "utf-8"),
            F.encode(F.repeat(first, 64), "utf-8"),
        ), 8)
        jpeg = multimodal.transcode_images(media, "image/jpeg")
        feats = multimodal.decode_features(jpeg, decoder="real")
        return feats.select(
            "media_id",
            F.round(F.element_at("features", 1) * 255 * 64).cast("bigint").alias("byte_sum"),
        )

    add("media_decode_jpeg", _media_jpeg, """
WITH c AS (
  SELECT doc_id, regexp_replace(substr(text, 1, 64), '[^ -~]', '', 'g') AS cl
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id AS media_id,
       CAST(64 * CASE WHEN length(cl) > 0 THEN ascii(substr(cl, 1, 1))
                      ELSE 32 END AS BIGINT) AS byte_sum
FROM c""")

    # REAL resize stage chained into the REAL decoder — two Arrow-batched
    # mapInPandas kernels back to back (decode PGM → nearest-neighbor 8×8 →
    # 4×4 → re-encode → decode again → features). Nearest-neighbor picks
    # source pixel (2i+1, 2j+1) for output (i, j) (codecs.resize_nearest:
    # floor((i+0.5)·8/4) = 2i+1), so the oracle reads the exact 16 ascii
    # positions of the padded text and sums them.
    def _media_resize(spark, sf_dir):
        media = _pgm_media(spark, sf_dir, F.concat(
            F.encode(F.lit("P5\n8 8\n255\n"), "utf-8"), F.encode(_padded_text(), "utf-8")
        ), 8)
        resized = multimodal.resize_images(media, 4, 4)
        feats = multimodal.decode_features(resized, decoder="real")
        return feats.select(
            "media_id",
            F.round(F.element_at("features", 1) * 255 * 16).cast("bigint").alias("byte_sum"),
        )

    _RESIZE_POSITIONS = [i * 8 + j + 1 for i in (1, 3, 5, 7) for j in (1, 3, 5, 7)]
    add("media_resize_real", _media_resize, f"""
WITH padded AS (
  SELECT doc_id,
         rpad(regexp_replace(substr(text, 1, 256), '[^ -~]', '', 'g'), 64, ' ') AS p
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id AS media_id,
       CAST(list_sum(list_transform([{', '.join(str(p) for p in _RESIZE_POSITIONS)}],
            i -> ascii(substr(p, CAST(i AS INTEGER), 1)))) AS BIGINT) AS byte_sum
FROM padded""")

    # REAL frame sampling chained into the REAL decoder: each doc renders a
    # 4-frame "animation" (concatenated 4×4 P5 frames over successive
    # 16-char slices of the padded text); sample_frames(every=2) keeps
    # frames 0 and 2, then decode_features recovers each sampled frame's
    # exact pixel-byte sum. Three mapInPandas kernels are value-hashed in
    # one query: container split, per-frame re-emit, decode.
    def _media_frames(spark, sf_dir):
        clean = _padded_text()
        header = F.encode(F.lit("P5\n4 4\n255\n"), "utf-8")
        frames = [
            F.concat(header, F.encode(F.substring(clean, k * 16 + 1, 16), "utf-8"))
            for k in range(4)
        ]
        media = _pgm_media(spark, sf_dir, F.concat(*frames), 4)
        sampled = multimodal.sample_frames(media, every=2)
        feats = multimodal.decode_features(
            sampled, decoder="real", passthrough_cols=("frame_idx",)
        )
        byte_sum = F.round(F.element_at("features", 1) * 255 * 16).cast("bigint")
        return feats.select("media_id", "frame_idx", byte_sum.alias("byte_sum"))

    add("media_frames_real", _media_frames, """
WITH padded AS (
  SELECT doc_id,
         rpad(regexp_replace(substr(text, 1, 256), '[^ -~]', '', 'g'), 64, ' ') AS p
  FROM documents WHERE text IS NOT NULL
),
f AS (SELECT doc_id, p, unnest([0, 2]) AS frame_idx FROM padded)
SELECT doc_id AS media_id, frame_idx,
       CAST(list_sum(list_transform(range(1, 17),
            i -> ascii(substr(p, CAST(frame_idx * 16 + i AS INTEGER), 1)))) AS BIGINT)
         AS byte_sum
FROM f""")
