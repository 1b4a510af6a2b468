"""Multimodal + UDF-surface query registrations.

The multimodal decode is a deterministic stub (no codecs in this
container) — but because the fake dimensions derive only from payload
length, the mapInPandas path is still exactly oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators import multimodal as MM
from wikipedia_data_pipeline_spark.operators import udfs as U
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table


@register(
    "multimodal_image_meta",
    oracle="""
WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents)
SELECT doc_id, n_bytes,
       1 + (n_bytes % 640) AS width,
       1 + (n_bytes % 480) AS height,
       (1 + (n_bytes % 640)) * (1 + (n_bytes % 480)) AS n_pixels
FROM m
""",
)
def multimodal_image_meta(spark, sf_dir):
    """binary payload column → mapInPandas decode (stubbed) → metadata."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.decode_image_meta(MM.attach_binary_payload(docs))


@register(
    "multimodal_audio_meta",
    oracle="""
WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents)
SELECT doc_id, n_bytes,
       8000 * (1 + (n_bytes % 3)) AS sample_rate,
       n_bytes * 4 AS n_samples,
       (n_bytes * 4 * 1000000) // (8000 * (1 + (n_bytes % 3))) AS duration_us
FROM m
""",
)
def multimodal_audio_meta(spark, sf_dir):
    """Audio decode stub via mapInPandas: deterministic sample-rate /
    duration metadata from the payload bytes."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.decode_audio_meta(MM.attach_binary_payload(docs))


@register(
    "multimodal_video_framesample",
    oracle=f"""
WITH m AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         1 + (octet_length(encode(text)) % 24) AS n_frames
  FROM documents
)
SELECT doc_id, n_bytes, n_frames,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(f AS BIGINT) * (n_bytes // n_frames) AS frame_offset
FROM m, unnest(generate_series(0, n_frames - 1, {MM.FRAME_SAMPLE_STRIDE})) AS u(f)
""",
)
def multimodal_video_framesample(spark, sf_dir):
    """Video frame sampling stub: 1→N row expansion inside mapInPandas
    (every 4th frame), exact-checkable against generate_series."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.sample_video_frames(MM.attach_binary_payload(docs))


@register(
    "udf_pandas_token_count",
    oracle="SELECT doc_id, len(string_split(text, ' '))::BIGINT AS ws_tokens FROM documents",
)
def udf_pandas_token_count(spark, sf_dir):
    """Vectorized pandas UDF (Arrow) — must agree with the SQL count."""
    return U.token_counts_pandas(load_table(spark, sf_dir, "documents"))


@register(
    "udf_grouped_top_word",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
counts AS (
  SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word
),
ranked AS (
  SELECT doc_id, word, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, word) AS rn
  FROM counts
),
ntok AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
         FROM documents)
SELECT n.doc_id, n.n_tokens, r.word AS top_word, r.c AS top_count
FROM ntok n JOIN ranked r ON n.doc_id = r.doc_id AND r.rn = 1
""",
)
def udf_grouped_top_word(spark, sf_dir):
    """groupBy().applyInPandas grouped-map (the reference's DocInfo.run
    as a UDF) — per-doc token count + modal word."""
    return U.doc_top_word(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_image_headers",
    oracle="""
SELECT doc_id,
       CAST(24 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
       'png' AS format,
       CAST(1 + (length(text) % 640) AS BIGINT) AS width,
       CAST(1 + (length(text) % 480) AS BIGINT) AS height
FROM documents
""",
)
def multimodal_image_headers(spark, sf_dir):
    """REAL container-header decode, driver-checked: the Spark side
    synthesizes a valid PNG signature+IHDR per document (width/height
    derived from the text length) and runs the actual byte-level parser
    (operators.multimodal.parse_image_header) inside mapInPandas; the
    oracle computes the same dimensions arithmetically. Hash equality
    holds only if the parser really decodes what was encoded."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    png_prefix = bytes.fromhex("89504e470d0a1a0a0000000d49484452")
    be4 = lambda col: F.unhex(F.lpad(F.hex(col), 8, "0"))  # noqa: E731
    payload = F.concat(
        F.lit(bytearray(png_prefix)),
        be4(1 + F.length("text") % 640),
        be4(1 + F.length("text") % 480),
        F.encode(F.col("text"), "UTF-8"),
    )
    media = docs.select("doc_id", payload.alias("payload"))
    return MM.decode_image_headers(media)


@register(
    "multimodal_png_pixel_stats",
    oracle="""
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i FROM dims
),
ch AS (
  SELECT doc_id, w, h,
         (i % w + i // w + doc_id) % 256 AS r,
         (2 * (i % w) + doc_id) % 256 AS g,
         (3 * (i // w) + doc_id) % 256 AS b
  FROM px
)
SELECT doc_id, CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(b) AS BIGINT) AS sum_b
FROM ch GROUP BY doc_id
""",
)
def multimodal_png_pixel_stats(spark, sf_dir):
    """REAL image decode, driver-checked end to end: per document a
    genuine PNG is ENCODED (operators.multimodal.png_encode — zlib
    deflate, filtered scanlines, CRC chunks) with pixels that are
    closed-form in (doc_id, x, y), then DECODED by the actual PNG
    reader (inflate + all-five-filters defilter, no Pillow) and reduced
    to per-channel pixel sums. The oracle recomputes every pixel
    arithmetically — the hash matches only if the full compress →
    chunk → parse → inflate → defilter round trip is bit-exact. This
    retires the 'decode step is stubbed' gap for PNG; JPEG/audio/video
    remain header-level."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.decode_png_pixel_stats(MM.synth_png_corpus(docs))


@register(
    "multimodal_wav_pcm_stats",
    oracle="""
WITH dims AS (
  SELECT doc_id, 8000 * (1 + doc_id % 3) AS sr, 64 + doc_id % 128 AS n
  FROM documents
),
s AS (SELECT doc_id, sr, n, unnest(generate_series(0, n - 1)) AS i FROM dims),
v AS (
  SELECT doc_id, sr, n, ((i * (doc_id + 3)) % 65536) - 32768 AS x FROM s
)
SELECT doc_id,
       CAST(max(sr) AS BIGINT) AS sample_rate,
       CAST(max(n) AS BIGINT) AS n_samples,
       CAST(max(n) * 1000000 // max(sr) AS BIGINT) AS duration_us,
       CAST(sum(x) AS BIGINT) AS sum_samples,
       CAST(max(abs(x)) AS BIGINT) AS peak
FROM v GROUP BY doc_id
""",
)
def multimodal_wav_pcm_stats(spark, sf_dir):
    """REAL audio decode, driver-checked: per document a genuine mono
    16-bit PCM WAV is written (operators.multimodal.wav_encode — RIFF
    chunks, little-endian PCM) with samples closed-form in (doc_id, i),
    then parsed back by the actual chunk-walking reader and reduced to
    waveform stats. Retires the 'audio decode is stubbed' gap for PCM
    WAV; compressed codecs stay declared out (no codec libs in the
    container)."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.decode_wav_stats(MM.synth_wav_corpus(docs))


# Every pixel i of every 2nd frame f of the synthetic per-document
# video (nf frames of w x h), shared by the frame-stats and scene-cut
# oracles.
_VIDEO_PIXELS_CTES = """
dims AS (
  SELECT doc_id, 1 + doc_id % 9 AS nf, 1 + doc_id % 8 AS w,
         1 + doc_id % 6 AS h
  FROM documents
),
fr AS (
  SELECT doc_id, nf, w, h, unnest(generate_series(0, nf - 1, 2)) AS f
  FROM dims
),
px AS (
  SELECT doc_id, nf, w, h, f, unnest(generate_series(0, w * h - 1)) AS i
  FROM fr
)"""


@register(
    "multimodal_video_frame_stats",
    oracle=f"""
WITH {_VIDEO_PIXELS_CTES}
SELECT doc_id,
       CAST(max(nf) AS BIGINT) AS n_frames,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(max(w) AS BIGINT) AS width,
       CAST(max(h) AS BIGINT) AS height,
       CAST(sum((i % w + 2 * (i // w) + doc_id + 5 * f) % 256) AS BIGINT)
         AS sum_gray
FROM px GROUP BY doc_id, f
""",
)
def multimodal_video_frame_stats(spark, sf_dir):
    """REAL frame-sampled video decode: per document a container of
    grayscale PNG frames (length-prefixed, this module's real codec);
    the sampler walks the container, pays decode cost ONLY for every
    2nd frame, and emits per-frame pixel sums — the oracle recomputes
    every sampled pixel arithmetically. The keyframe-extraction shape
    (cheap seek, selective decode, in-batch 1→N expansion) is what an
    MJPEG/MP4 path does; only the codec behind png_decode differs."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.decode_video_frame_stats(MM.synth_video_corpus(docs), stride=2)


@register(
    "multimodal_video_scene_cuts",
    oracle=f"""
WITH {_VIDEO_PIXELS_CTES},
stats AS (
  SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
         CAST(max(w) AS BIGINT) AS w, CAST(max(h) AS BIGINT) AS h,
         CAST(sum((i % w + 2 * (i // w) + doc_id + 5 * f) % 256) AS BIGINT)
           AS sum_gray
  FROM px GROUP BY doc_id, f
),
lagged AS (
  SELECT doc_id, w, h, frame_idx, sum_gray,
         lag(sum_gray) OVER (PARTITION BY doc_id ORDER BY frame_idx)
           AS prev_sum
  FROM stats
),
flags AS (
  SELECT doc_id, w, h,
         CASE WHEN prev_sum IS NULL THEN NULL
              ELSE abs(sum_gray - prev_sum) END AS delta,
         CASE WHEN prev_sum IS NOT NULL
                   AND abs(sum_gray - prev_sum) >= 8 * w * h
              THEN 1 ELSE 0 END AS is_cut
  FROM lagged
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(is_cut) AS BIGINT) AS n_cuts,
       CAST(COALESCE(max(delta), 0) AS BIGINT) AS max_abs_delta,
       CASE WHEN count(*) > 1
            THEN CAST(sum(is_cut) AS DOUBLE) / (count(*) - 1)
            ELSE 0.0 END AS cut_rate
FROM flags GROUP BY doc_id
""",
)
def multimodal_video_scene_cuts(spark, sf_dir):
    """Scene-cut detection over the frame-sampled video corpus — the
    shot-boundary pass a video-training pipeline runs right after
    keyframe extraction: a cut is a sampled frame whose mean gray
    level jumps >= 8 levels vs the previous sampled frame, tested as
    the INTEGER inequality |sum_gray_f - sum_gray_prev| >= 8*w*h (the
    per-pixel mean never gets divided, so no float boundary can flip
    a cut). Emits per video: sampled-frame count, cut count, the
    largest inter-frame delta, and the cut rate.

    Rides the same decode path as multimodal_video_frame_stats (real
    container walk, selective every-2nd-frame decode, mapInPandas
    1->N expansion); the lag window partitions by video, so state is
    per-container — the 100-TB shape where each video's frames land
    in one task without any global ordering."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    fs = MM.decode_video_frame_stats(MM.synth_video_corpus(docs), stride=2)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    lagged = fs.select(
        "doc_id",
        "width",
        "height",
        "frame_idx",
        "sum_gray",
        F.lag("sum_gray").over(w).alias("prev_sum"),
    )
    delta = F.when(
        F.col("prev_sum").isNotNull(),
        F.abs(F.col("sum_gray") - F.col("prev_sum")),
    )
    is_cut = F.when(
        F.col("prev_sum").isNotNull()
        & (
            F.abs(F.col("sum_gray") - F.col("prev_sum"))
            >= 8 * F.col("width") * F.col("height")
        ),
        1,
    ).otherwise(0)
    return (
        lagged.select("doc_id", delta.alias("delta"), is_cut.alias("is_cut"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.sum("is_cut").cast("long").alias("n_cuts"),
            F.coalesce(F.max("delta"), F.lit(0))
            .cast("long")
            .alias("max_abs_delta"),
            F.when(
                F.count(F.lit(1)) > 1,
                F.sum("is_cut").cast("double")
                / (F.count(F.lit(1)) - 1),
            )
            .otherwise(F.lit(0.0))
            .alias("cut_rate"),
        )
    )


@register(
    "multimodal_audio_vad_segments",
    oracle="""
WITH dims AS (
  SELECT doc_id, 8000 * (1 + doc_id % 3) AS sr, 64 + doc_id % 128 AS n
  FROM documents
),
fr AS (
  SELECT doc_id, n, unnest(generate_series(0, n // 32 - 1)) AS j
  FROM dims WHERE n // 32 >= 1
),
s AS (
  SELECT doc_id, j, unnest(generate_series(j * 32, j * 32 + 31)) AS i
  FROM fr
),
en AS (
  SELECT doc_id, j,
         sum((((i * (doc_id + 3)) % 65536) - 32768)
             * (((i * (doc_id + 3)) % 65536) - 32768)) AS energy
  FROM s GROUP BY doc_id, j
),
act AS (
  SELECT doc_id, j,
         CASE WHEN energy * 4 >= 32::BIGINT * 32768 * 32768 THEN 1 ELSE 0 END
           AS active,
         CASE WHEN energy * 4 >= 32::BIGINT * 32768 * 32768
              AND coalesce(CAST(lag(CASE WHEN energy * 4
                    >= 32::BIGINT * 32768 * 32768 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY j) AS BIGINT), 0) = 0
              THEN 1 ELSE 0 END AS seg_start
  FROM en
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(active) AS BIGINT) AS n_active,
       CAST(sum(seg_start) AS BIGINT) AS n_segments
FROM act GROUP BY doc_id
""",
)
def multimodal_audio_vad_segments(spark, sf_dir):
    """Energy-threshold voice-activity detection over REAL decoded PCM:
    frames of 32 samples reduce to integer Σx² energies inside the
    Arrow decode batch, then the RELATIONAL half — active iff mean
    energy ≥ (fullscale/2)², segment starts found by a per-document
    lag window over the frame spine — runs in Spark SQL. The
    silence-trim / speech-segment primitive an audio curation pipeline
    applies before transcription, with the decode/SQL boundary in the
    right place: Python touches bytes once, segmentation is pure
    integer relational algebra the oracle replays arithmetically.

    Scale shape: mapInPandas decode (one batch per task) → per-doc
    frame rows (n/32 per doc) → lag window partitioned by doc_id
    (fully parallel, bounded per-partition by the longest clip) →
    per-doc aggregate. The 4·Σx² ≥ 32·32768² threshold comparison is
    exact int64 (max 32·32768²·4 ≈ 2^42)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    en = MM.decode_wav_frame_energies(MM.synth_wav_corpus(docs))
    thr = F.lit(32 * 32768 * 32768).cast("long")
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    act = en.select(
        "doc_id",
        "frame_idx",
        (F.col("energy") * 4 >= thr).cast("long").alias("active"),
    ).withColumn(
        "seg_start",
        (
            (F.col("active") == 1)
            & (F.coalesce(F.lag("active").over(w), F.lit(0)) == 0)
        ).cast("long"),
    )
    return act.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("active").cast("long").alias("n_active"),
        F.sum("seg_start").cast("long").alias("n_segments"),
    )


@register(
    "multimodal_image_ahash_groups",
    oracle="""
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h FROM documents
),
cells AS (
  SELECT doc_id, ((j % 8) * w) // 8 AS x, ((j // 8) * h) // 8 AS y, j
  FROM dims, unnest(generate_series(0, 63)) AS u(j)
),
g AS (
  SELECT doc_id, j,
         (((x + y + doc_id) % 256) + ((2 * x + doc_id) % 256)
          + ((3 * y + doc_id) % 256)) // 3 AS gray
  FROM cells
),
m AS (SELECT doc_id, sum(gray) // 64 AS mean FROM g GROUP BY doc_id),
bits AS (
  SELECT g.doc_id, j,
         CASE WHEN gray > mean THEN 1 ELSE 0 END AS b
  FROM g JOIN m ON g.doc_id = m.doc_id
),
hash AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN j < 32 AND b = 1
                       THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS lo,
         CAST(sum(CASE WHEN j >= 32 AND b = 1
                       THEN (1::BIGINT << (j - 32)) ELSE 0 END) AS BIGINT)
           AS hi
  FROM bits GROUP BY doc_id
)
SELECT lo AS ahash_lo, hi AS ahash_hi,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc
FROM hash GROUP BY lo, hi
""",
)
def multimodal_image_ahash_groups(spark, sf_dir):
    """Perceptual image dedup, stage 1: REAL PNG decode → 64-bit
    average hash (8×8 nearest-neighbor gray downsample, bit = cell >
    image mean) → exact hash-group relation (count + representative
    per fingerprint) — the image-side counterpart to dedup_exact's
    content-hash grouping, tolerant of anything aHash is tolerant of
    (re-encoding, metadata) by construction. Stage 2 at scale is a
    banded Hamming-ball join over the same two-BIGINT signature
    columns (embedding_hamming_topk's convention).

    The hash is computed INSIDE the Arrow decode batch (one pass over
    the bytes, 16 B out per image); the grouping is a plain hash agg —
    at 10^9 images the signature relation is ~16 GB and the group-by
    is the only exchange. Integer arithmetic end to end: the oracle
    replays every pixel, the downsample indices, the floor-mean, and
    the bit packing exactly."""
    docs = load_table(spark, sf_dir, "documents")
    # full fan-out, not sources.tables.fan_out: that helper no-ops once
    # the scan reaches 1/4 of cluster parallelism (right for cheap
    # per-row work), but this path is decode-bound Python on a
    # doc_id-only scan — closing even a 2x split gap pays, and the
    # round-robin shuffle moves 8 bytes/row (r11: 14-split replica scan
    # capped the decode at 14/32 cores)
    ids = docs.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )
    sig = MM.decode_png_ahash(MM.synth_png_corpus(ids))
    return sig.groupBy(
        F.col("ahash_lo"), F.col("ahash_hi")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc"),
    )


# ---------------------------------------------------------------------------
# Corpus luminance histogram over REAL-decoded pixels (round 12)
# ---------------------------------------------------------------------------

_LUMA_ORACLE = """
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i FROM dims
),
ch AS (
  SELECT ((i % w + i // w + doc_id) % 256
          + (2 * (i % w) + doc_id) % 256
          + (3 * (i // w) + doc_id) % 256) // 3 AS luma
  FROM px
),
hist AS (
  SELECT luma // 16 AS bin, CAST(count(*) AS BIGINT) AS n_pixels
  FROM ch GROUP BY 1
),
spine AS (SELECT unnest(generate_series(0, 15)) AS bin)
SELECT CAST(spine.bin AS BIGINT) AS bin,
       CAST(coalesce(hist.n_pixels, 0) AS BIGINT) AS n_pixels
FROM spine LEFT JOIN hist ON spine.bin = hist.bin
ORDER BY bin
"""


@register("multimodal_image_luma_histogram", oracle=_LUMA_ORACLE)
def multimodal_image_luma_histogram(spark, sf_dir):
    """Corpus-level luminance histogram over REAL-decoded PNG pixels —
    the exposure/brightness screen a multimodal curation pipeline runs
    before training (all-black / blown-out image detection): encode →
    decode (inflate + defilter, multimodal_png_pixel_stats round trip)
    → integer luma (r+g+b)//3 → 16 bins of width 16.

    Exactness: integer luma (no Rec.601 float weights) makes every bin
    assignment and count exact; the oracle replays the closed-form
    pixels arithmetically, so the hash matches only if the full codec
    round trip is bit-exact. Scale shape: each Arrow batch emits its
    PARTIAL 16-row bincount inside the decoder (operators.multimodal.
    decode_png_luma_histogram), so the only shuffle is a 16-group
    map-side-combined sum — pixels never leave their task."""
    from wikipedia_data_pipeline_spark.operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents")
    partials = MM.decode_png_luma_histogram(MM.synth_png_corpus(docs))
    return (
        partials.groupBy("bin")
        .agg(F.sum("n_pixels").cast("long").alias("n_pixels"))
        .orderBy("bin")
    )
