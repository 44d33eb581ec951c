"""Multimodal pipeline queries, oracle-checked: the Arrow-batched
``mapInPandas`` feature stage is certified against a DuckDB twin that
expands the payload BLOB to per-byte integers via hex — byte-identical math
(integer sums, double division of identical operands), so the hash gate
covers the whole mapInPandas plumbing, not just row counts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    audio_decode_stats,
    documents_as_media,
    extract_features,
    frame_sample,
    image_decode_stats,
    synthesize_bmp_media,
    synthesize_wav_media,
)
from ..streaming.pipeline import drain
from .helpers import gate_workdir, read, release_held, spread, staged_stream

QUERIES = {}
ORACLES: dict[str, str] = {}


def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    return extract_features(media).select(
        "media_id",
        "media_type",
        "n_bytes",
        "mean_byte",
        F.element_at("byte_hist", 7).alias("hist_bucket_6"),
        "fake_width",
        "fake_height",
    )


def mm_frame_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents")
    return frame_sample(documents_as_media(docs), n_frames=4).select(
        "media_id",
        "payload_bytes",
        F.element_at("frame_offsets", 3).alias("frame2_offset"),
    )


def mm_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real codec round-trip under the value-hash gate: encode a
    deterministic test-card image per document as an actual 8-bit BMP
    (header + palette + padded bottom-up rows), DECODE it back with the
    pure-Python parser, and emit integer pixel stats. The oracle recomputes
    the same stats from the pixel formula alone — any container-parse bug
    (stride, flip, offset) breaks the position-weighted checksum. Two
    chained Arrow mapInPandas stages, map-only at scale; locally the
    single-file scan is spread first so the codec stage parallelizes
    (no-op on an already-split production layout). Fan-out capped at 8:
    with only thousands of tiny rows locally, 32 one-busy-millisecond
    Python partitions are dominated by worker round-trips (measured 0.4 s
    at 8 parts vs 2.5 s at 32); real corpora get their parallelism from
    the input split count, which spread never reduces."""
    docs = spread(read(spark, sf_dir, "documents"), spark, min_parts=8)
    return image_decode_stats(synthesize_bmp_media(docs))


QUERIES["mm_media_features"] = mm_media_features
QUERIES["mm_frame_offsets"] = mm_frame_offsets
QUERIES["mm_image_decode_stats"] = mm_image_decode_stats

# byte-level twin of extract_features: hex-expand the utf-8 payload and
# recompute n_bytes / mean / one histogram bucket / fake codec geometry
ORACLES["mm_media_features"] = """
WITH b AS (
  SELECT doc_id AS media_id,
         'text/plain;fake-image' AS media_type,
         hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
),
e AS (
  SELECT media_id, media_type, n_bytes,
         list_transform(range(CAST(n_bytes AS INTEGER)),
                        i -> ('0x' || substr(hx, i*2 + 1, 2))::BIGINT) AS bytes
  FROM b
)
SELECT media_id, media_type, n_bytes,
       CASE WHEN n_bytes > 0
            THEN CAST(list_sum(bytes) AS DOUBLE) / n_bytes END AS mean_byte,
       CAST(len(list_filter(bytes, x -> x // 16 = 6)) AS BIGINT) AS hist_bucket_6,
       CASE WHEN n_bytes > 0 THEN 16 + bytes[1] % 240
            ELSE 0 END AS fake_width,
       CASE WHEN n_bytes > 0
            THEN 16 + bytes[CAST(n_bytes // 2 AS INTEGER) + 1] % 240
            ELSE 0 END AS fake_height
FROM e
"""

# mm_frame_offsets is actually SQL-expressible — give it an oracle.
ORACLES["mm_frame_offsets"] = """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           2 * CAST(octet_length(encode(text)) // 4 AS BIGINT) AS frame2_offset
    FROM documents
"""

# first-principles twin of the BMP round-trip: the same integer pixel
# formula evaluated directly — the Spark side only matches if encode→decode
# reproduced every pixel in top-down row-major order
ORACLES["mm_image_decode_stats"] = """
WITH g AS (
  SELECT doc_id,
         8 + doc_id % 9 AS width,
         8 + doc_id % 7 AS height
  FROM documents
),
px AS (
  SELECT doc_id, width, height,
         list_transform(range(CAST(width * height AS INTEGER)),
                        i -> (doc_id * 31 + 7 * i) % 256) AS pxs
  FROM g
)
SELECT doc_id AS media_id,
       CAST(width AS BIGINT) AS width,
       CAST(height AS BIGINT) AS height,
       CAST(width * height AS BIGINT) AS n_pixels,
       CAST(list_sum(pxs) AS BIGINT) AS pixel_sum,
       CAST(list_sum(list_transform(range(CAST(width * height AS INTEGER)),
            i -> (i + 1) * pxs[i + 1])) AS BIGINT) AS pos_checksum
FROM px
"""


def mm_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of mm_image_decode_stats: encode a deterministic PCM16
    waveform per document as a real RIFF/WAVE file, DECODE it back through
    the chunk-walking parser, and emit integer sample stats the oracle
    recomputes from the waveform formula alone — endianness/offset bugs
    break the position-weighted checksum. Spread + two map-only Arrow
    stages, no shuffles at scale (fan-out capped at 8 locally — see
    mm_image_decode_stats)."""
    docs = spread(read(spark, sf_dir, "documents"), spark, min_parts=8)
    return audio_decode_stats(synthesize_wav_media(docs))


QUERIES["mm_audio_decode_stats"] = mm_audio_decode_stats

# first-principles twin of the WAV round-trip: n = 64 + id%129,
# s_i = ((id*17 + 3*i*i) % 4001) - 2000, evaluated directly in SQL
ORACLES["mm_audio_decode_stats"] = """
WITH g AS (
  SELECT doc_id, 64 + doc_id % 129 AS n FROM documents
),
sm AS (
  SELECT doc_id, n,
         list_transform(range(CAST(n AS INTEGER)),
                        i -> (doc_id * 17 + 3 * i * i) % 4001 - 2000) AS s
  FROM g
)
SELECT doc_id AS media_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(16000 AS BIGINT) AS sample_rate,
       CAST(list_sum(s) AS BIGINT) AS sample_sum,
       CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak_abs,
       CAST(list_sum(list_transform(range(CAST(n AS INTEGER)),
            i -> (i + 1) * s[i + 1])) AS BIGINT) AS pos_checksum
FROM sm
"""


def mm_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio feature extraction under the gate: encode the
    deterministic PCM16 waveform per document as a real WAV, decode it,
    and emit per-32-sample-frame integer energy/peak rows; the oracle
    recomputes every frame from the waveform formula alone. Same map-only
    Arrow shape as the decode-stats gate (no shuffles at scale)."""
    from ..operators.multimodal import audio_frame_energy

    docs = spread(read(spark, sf_dir, "documents"), spark, min_parts=8)
    return audio_frame_energy(synthesize_wav_media(docs))


QUERIES["mm_audio_frame_energy"] = mm_audio_frame_energy

# first-principles frame twin: n = 64 + id%129, s_i = ((id*17+3i²)%4001)-2000,
# frames of 32 samples, last frame ragged
ORACLES["mm_audio_frame_energy"] = """
WITH g AS (
  SELECT doc_id, 64 + doc_id % 129 AS n FROM documents
),
f AS (
  SELECT doc_id, n,
         unnest(range(CAST((n + 31) // 32 AS INTEGER))) AS frame_idx
  FROM g
)
SELECT doc_id AS media_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * 32 AS BIGINT) AS frame_start,
       CAST(least(n - frame_idx * 32, 32) AS BIGINT) AS frame_len,
       CAST(list_sum(list_transform(
            range(CAST(frame_idx * 32 AS INTEGER),
                  CAST(least(n, frame_idx * 32 + 32) AS INTEGER)),
            i -> ((doc_id * 17 + 3 * i * i) % 4001 - 2000)
               * ((doc_id * 17 + 3 * i * i) % 4001 - 2000))) AS BIGINT)
         AS energy,
       CAST(list_max(list_transform(
            range(CAST(frame_idx * 32 AS INTEGER),
                  CAST(least(n, frame_idx * 32 + 32) AS INTEGER)),
            i -> abs((doc_id * 17 + 3 * i * i) % 4001 - 2000))) AS BIGINT)
         AS peak_abs
FROM f
"""


def mm_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patchification under the gate: encode the deterministic
    test card per document as a real BMP, decode it, and emit per-4x4-patch
    integer pixel stats; the oracle recomputes every patch from the pixel
    formula, mapping each within-patch position back to the global
    row-major index — a patch extractor with a transposed tile or a wrong
    stride cannot hash-match."""
    from ..operators.multimodal import image_patches

    docs = spread(read(spark, sf_dir, "documents"), spark, min_parts=8)
    return image_patches(synthesize_bmp_media(docs))


QUERIES["mm_image_patches"] = mm_image_patches

ORACLES["mm_image_patches"] = """
WITH g AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents
),
pr AS (
  SELECT doc_id, w, h, unnest(range(CAST((h + 3) // 4 AS INTEGER))) AS pr
  FROM g
),
pc AS (
  SELECT doc_id, w, h, pr, unnest(range(CAST((w + 3) // 4 AS INTEGER))) AS pc
  FROM pr
),
dims AS (
  SELECT doc_id, w, h, pr, pc,
         least(4, h - pr * 4) AS ph,
         least(4, w - pc * 4) AS pw
  FROM pc
)
SELECT doc_id AS media_id,
       CAST(pr AS BIGINT) AS patch_row,
       CAST(pc AS BIGINT) AS patch_col,
       CAST(ph AS BIGINT) AS patch_h,
       CAST(pw AS BIGINT) AS patch_w,
       CAST(list_sum(list_transform(range(CAST(ph * pw AS INTEGER)),
            j -> (doc_id * 31
                  + 7 * ((pr * 4 + j // pw) * w + pc * 4 + j % pw)) % 256))
         AS BIGINT) AS pixel_sum,
       CAST(list_sum(list_transform(range(CAST(ph * pw AS INTEGER)),
            j -> (j + 1) * ((doc_id * 31
                  + 7 * ((pr * 4 + j // pw) * w + pc * 4 + j % pw)) % 256)))
         AS BIGINT) AS pos_checksum
FROM dims
"""


def mm_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video keyframe selection: split each (fake-video) payload into 8
    frames at the ``frame_sample`` boundaries, compute per-frame byte
    energy in ONE vectorized Arrow stage (np.add.reduceat over the
    concatenated batch buffer), then pick frames whose energy is a STRICT
    local maximum against both neighbors — the shot-boundary heuristic a
    frame sampler feeds the expensive decoder. Python does only the byte
    crunching; the selection logic is a Catalyst lag/lead window, so at
    scale the plan is map-only + one media_id window exchange."""
    from pyspark.sql import Window

    from ..operators.multimodal import video_frame_energies

    docs = spread(read(spark, sf_dir, "documents"), spark, min_parts=8)
    en = video_frame_energies(documents_as_media(docs), n_frames=8)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    flagged = en.select(
        "media_id",
        "frame_idx",
        "frame_start",
        "energy",
        F.lag("energy").over(w).alias("prev_e"),
        F.lead("energy").over(w).alias("next_e"),
    )
    return (
        flagged.filter(
            (F.col("energy") > F.coalesce(F.col("prev_e"), F.lit(-1)))
            & (F.col("energy") > F.coalesce(F.col("next_e"), F.lit(-1)))
        )
        .select("media_id", "frame_idx", "frame_start", "energy")
    )


QUERIES["mm_video_keyframes"] = mm_video_keyframes

# first-principles twin: byte values from the hex expansion of the utf-8
# payload, the same len//8 frame boundaries (last frame absorbs the
# remainder), the same strict-local-max window
ORACLES["mm_video_keyframes"] = """
WITH b AS (
  SELECT doc_id AS media_id,
         hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
),
e AS (
  SELECT media_id, n_bytes,
         list_transform(range(CAST(n_bytes AS INTEGER)),
                        i -> ('0x' || substr(hx, i*2 + 1, 2))::BIGINT) AS bytes,
         greatest(n_bytes // 8, 0) AS chunk
  FROM b
),
f AS (
  SELECT media_id, n_bytes, bytes, chunk,
         unnest(range(CASE WHEN n_bytes = 0 OR chunk = 0 THEN 1 ELSE 8 END))
           AS frame_idx
  FROM e
),
fr AS (
  SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         CAST(frame_idx * chunk AS BIGINT) AS frame_start,
         CASE WHEN n_bytes = 0 THEN 0
              ELSE CAST(coalesce(list_sum(bytes[
                     CAST(frame_idx * chunk + 1 AS INTEGER) :
                     CAST(CASE WHEN frame_idx = 7 OR chunk = 0
                               THEN n_bytes
                               ELSE (frame_idx + 1) * chunk END AS INTEGER)
                   ]), 0) AS BIGINT) END AS energy
  FROM f
),
flagged AS (
  SELECT media_id, frame_idx, frame_start, energy,
         lag(energy)  OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev_e,
         lead(energy) OVER (PARTITION BY media_id ORDER BY frame_idx) AS next_e
  FROM fr
)
SELECT media_id, frame_idx, frame_start, energy
FROM flagged
WHERE energy > coalesce(prev_e, -1) AND energy > coalesce(next_e, -1)
"""


def mm_resize_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage under the hard gate: aspect-preserving fit geometry
    (scale = min(224/w, 224/h), truncated target dims, per-axis scale
    factors) plus a CHECKSUM of the stubbed resized payload — the tiling
    is (payload repeated)[:tw·th], so the oracle reproduces its byte sum
    in closed form (full_tiles·Σbytes + prefix sum of the remainder)
    without materializing the tiled list. The byte sum on the Spark side
    reuses video_frame_energies with n_frames=1 (one vectorized reduceat
    over the resized payloads). Two Arrow stages + one broadcast join —
    map-only at any scale."""
    from ..operators.multimodal import resize_media, video_frame_energies

    docs = spread(read(spark, sf_dir, "documents"), spark, min_parts=8)
    rz = resize_media(documents_as_media(docs), target_w=224, target_h=224)
    sums = video_frame_energies(
        rz.select("media_id", F.col("resized_payload").alias("payload")),
        n_frames=1,
    ).select(
        "media_id",
        F.col("frame_len").alias("resized_len"),
        F.col("energy").alias("resized_sum"),
    )
    geo = rz.select(
        "media_id",
        "orig_width",
        "orig_height",
        "target_width",
        "target_height",
        "scale_x",
        "scale_y",
    )
    return geo.join(sums, "media_id")


QUERIES["mm_resize_geometry"] = mm_resize_geometry

# closed-form twin: geometry from the byte formula (first / middle byte),
# numpy's (x*s).astype(int64) truncates -> FLOOR (DuckDB CAST rounds);
# checksum = full_tiles * sum(bytes) + prefix-sum of the sz % L remainder
ORACLES["mm_resize_geometry"] = """
WITH b AS (
  SELECT doc_id AS media_id,
         hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
),
e AS (
  SELECT media_id, n_bytes,
         list_transform(range(CAST(n_bytes AS INTEGER)),
                        i -> ('0x' || substr(hx, i*2 + 1, 2))::BIGINT) AS bytes
  FROM b
),
g AS (
  SELECT media_id, n_bytes, bytes,
         16 + bytes[1] % 240 AS ow,
         16 + bytes[CAST(n_bytes // 2 AS INTEGER) + 1] % 240 AS oh,
         CAST(list_sum(bytes) AS BIGINT) AS byte_sum
  FROM e
),
fit AS (
  SELECT media_id, n_bytes, bytes, ow, oh, byte_sum,
         least(224.0 / ow, 224.0 / oh) AS s
  FROM g
),
t AS (
  SELECT media_id, n_bytes, bytes, ow, oh, byte_sum,
         greatest(1, CAST(FLOOR(ow * s) AS BIGINT)) AS tw,
         greatest(1, CAST(FLOOR(oh * s) AS BIGINT)) AS th
  FROM fit
)
SELECT media_id,
       CAST(ow AS BIGINT) AS orig_width,
       CAST(oh AS BIGINT) AS orig_height,
       tw AS target_width,
       th AS target_height,
       CAST(tw AS DOUBLE) / ow AS scale_x,
       CAST(th AS DOUBLE) / oh AS scale_y,
       tw * th AS resized_len,
       ((tw * th) // n_bytes) * byte_sum
         + CASE WHEN (tw * th) % n_bytes = 0 THEN 0
                ELSE CAST(coalesce(list_sum(
                       bytes[1 : CAST((tw * th) % n_bytes AS INTEGER)]), 0)
                     AS BIGINT) END AS resized_sum
FROM t
"""


# ---------------------------------------------------------------------------
# image near-dup: the multimodal columns composed with the dedup stack.
# The corpus is the BMP test cards plus synthesized near-dup TWINS (every
# 5th card re-emitted with one pixel bumped — one changed patch), so the
# pairs to recover are known by construction. Per image, the ViT
# patchification's per-patch pixel sums (ordered row-major) form an
# integer perceptual signature; candidate pairs come from PIGEONHOLE
# BANDING — the signature split into 2 halves, pairs must agree exactly
# on one half — which is provably lossless for pairs differing in ≤1
# patch (the twin perturbation), the LSH-banding idea with exact-match
# bands. Verification counts matching patches and keeps pairs with ≥70%
# agreement. 100 TB shape: decode+patchify is Arrow map-only; signatures
# are one media_id aggregation; candidates come from a band equi-join
# (never all-pairs); the quadratic is bounded to band-colliding pairs.
# Oracle: the entire pipeline from the pixel formula in pure SQL, same
# banding — both engines express the same blocked operator.
# ---------------------------------------------------------------------------
_IMG_SIM = 0.7


def mm_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_patches, synthesize_bmp_media_twins

    docs = spread(read(spark, sf_dir, "documents"), spark, min_parts=8)
    patches = image_patches(synthesize_bmp_media_twins(docs))
    sig = (
        patches.groupBy("media_id")
        .agg(
            (F.max("patch_row") + 1).alias("n_pr"),
            (F.max("patch_col") + 1).alias("n_pc"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("patch_row", "patch_col", "pixel_sum")
                    )
                ),
                lambda x: x["pixel_sum"],
            ).alias("sig"),
        )
        .withColumn("n", F.size("sig"))
        .withColumn("half", F.ceil(F.col("n") / 2).cast("int"))
    )
    bands = sig.select(
        "media_id",
        "n_pr",
        "n_pc",
        "n",
        "sig",
        F.posexplode(
            F.array(
                F.slice("sig", F.lit(1), F.col("half")),
                F.slice("sig", F.col("half") + 1, F.col("n") - F.col("half")),
            )
        ).alias("band_idx", "band"),
    ).withColumn(
        "band_key", F.concat_ws(",", F.transform("band", lambda x: x.cast("string")))
    )
    # lazy persist: both sides of the band self-join reference this subtree —
    # without the pin the Arrow decode+patchify pipeline runs twice (the
    # t_kcore_peel cache-substitution discipline; ~600 narrow rows)
    bands = bands.persist()
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.n_pr") == F.col("b.n_pr"))
            & (F.col("a.n_pc") == F.col("b.n_pc"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.col("a.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
            F.col("a.n").alias("n_patches"),
        )
        .distinct()
    )
    n_match = F.size(
        F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m)
    )
    return (
        cand.withColumn("n_match", n_match.cast("long"))
        .withColumn(
            "sim", F.col("n_match") / F.col("n_patches")
        )
        .filter(F.col("sim") >= _IMG_SIM)
        .select("media_a", "media_b", F.col("n_patches").cast("long").alias("n_patches"), "n_match", "sim")
    )


QUERIES["mm_image_near_dup"] = mm_image_near_dup


def _pigeonhole_bands(sig: DataFrame, grid_cols: list[str]) -> DataFrame:
    """Signature rows (media_id, *grid, sig, n, half) → two exact-match
    half-bands per media with a string band key — the pigeonhole banding
    shared by the audio near-dup and the streaming image twin.
    (mm_image_near_dup keeps its certified inline copy of the identical
    construction: it sits in the fingerprint-guarded tail, where the plan
    must stay byte-equal to its certification snapshot.)"""
    keep = ["media_id"] + [c for c in grid_cols if c != "n"] + ["n", "sig"]
    return sig.select(
        *keep,
        F.posexplode(
            F.array(
                F.slice("sig", F.lit(1), F.col("half")),
                F.slice("sig", F.col("half") + 1, F.col("n") - F.col("half")),
            )
        ).alias("band_idx", "band"),
    ).withColumn(
        "band_key",
        F.concat_ws(",", F.transform("band", lambda x: x.cast("string"))),
    )


# ---------------------------------------------------------------------------
# STREAMING twin of the image near-dup: dedup-on-ingest for the multimodal
# column, the band-store probe pattern of t_stream_lsh_pairs applied to the
# patch-signature bands. Per micro-batch: decode+patchify the batch's media
# (the same Arrow pipeline), append its bands + signatures to persistent
# stores FIRST (so within-batch pairs form), probe the band store for
# collisions, verify candidates patch-by-patch against the signature store,
# and append qualifying pairs. Media are sliced by media_id % 3, so a base
# card (2d) and its twin (2d+1) land in DIFFERENT batches — cross-batch
# pair formation is exercised by construction — and the run RESTARTS
# mid-stream: the first incarnation drains two staged files, then a second
# incarnation on the same checkpoint picks up a third file that appears
# after the handoff. After the drain the accumulated pairs equal the batch
# pigeonhole oracle exactly. 100 TB shape: per batch the work is (batch
# bands) ⋈ (band store) on exact-match band keys — O(batch · collisions),
# never a corpus rescan; payloads never leave their batch's Arrow stage
# (only integer signatures persist).
# ---------------------------------------------------------------------------
def mm_stream_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import image_patches, synthesize_bmp_media_twins

    docs = spread(read(spark, sf_dir, "documents"), spark, min_parts=8)
    # pin the synthesized corpus across the three staging writes (each
    # write is its own action — unpinned, the twin-synthesis Arrow stage
    # would run three times), and release it before the stream starts
    media = synthesize_bmp_media_twins(docs).persist()
    workdir = gate_workdir("stream-imgdup-gate-")
    try:
        stream = staged_stream(
            workdir,
            [media.filter(F.col("media_id") % 3 == i) for i in range(3)],
            held=1,
        )
    finally:
        media.unpersist()

    bands_dir = f"{workdir}/bands"
    sigs_dir = f"{workdir}/sigs"
    pairs_dir = f"{workdir}/pairs"

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        patches = image_patches(batch_df)
        # pinned for the batch: three actions read this subtree (bands
        # append, sig append, candidate probe) — unpinned, the Arrow
        # decode+patchify pipeline would run three times per micro-batch.
        # foreachBatch is synchronous, so the pin is released before return
        # (no session-lifetime leak, unlike the lazy batch-query pins)
        sig = (
            patches.groupBy("media_id")
            .agg(
                (F.max("patch_row") + 1).alias("n_pr"),
                (F.max("patch_col") + 1).alias("n_pc"),
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("patch_row", "patch_col", "pixel_sum")
                        )
                    ),
                    lambda x: x["pixel_sum"],
                ).alias("sig"),
            )
            .withColumn("n", F.size("sig"))
            .withColumn("half", F.ceil(F.col("n") / 2).cast("int"))
        ).persist()
        # EVERY action that reads the pinned subtree (both store appends,
        # the candidate probe, the pairs write) sits inside the try so a
        # failure anywhere — not just in the final write — releases the
        # pin (round-7 ADVICE: a raise between persist and the old, later
        # try leaked the DataFrame for the session)
        try:
            bands = _pigeonhole_bands(sig, ["n_pr", "n_pc"]).select(
                "media_id", "n_pr", "n_pc", "band_idx", "band_key"
            )
            # append this batch's state FIRST so within-batch pairs form too
            bands.write.mode("append").parquet(bands_dir)
            sig.select("media_id", "n", "sig").write.mode("append").parquet(
                sigs_dir
            )
            store = s.read.parquet(bands_dir)
            cand = (
                bands.alias("a")
                .join(
                    store.alias("b"),
                    (F.col("a.n_pr") == F.col("b.n_pr"))
                    & (F.col("a.n_pc") == F.col("b.n_pc"))
                    & (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.media_id") != F.col("b.media_id")),
                )
                .select(
                    F.least("a.media_id", "b.media_id").alias("media_a"),
                    F.greatest("a.media_id", "b.media_id").alias("media_b"),
                )
                .distinct()
            )
            sigs = s.read.parquet(sigs_dir)
            x = sigs.select(
                F.col("media_id").alias("media_a"),
                F.col("sig").alias("sa"),
                F.col("n").alias("n_patches"),
            )
            y = sigs.select(
                F.col("media_id").alias("media_b"), F.col("sig").alias("sb")
            )
            n_match = F.size(
                F.filter(F.zip_with("sa", "sb", lambda p, q: p == q), lambda m: m)
            )
            (
                cand.join(x, "media_a")
                .join(y, "media_b")
                .withColumn("n_match", n_match.cast("long"))
                .withColumn("sim", F.col("n_match") / F.col("n_patches"))
                .filter(F.col("sim") >= _IMG_SIM)
                .select(
                    "media_a",
                    "media_b",
                    F.col("n_patches").cast("long").alias("n_patches"),
                    "n_match",
                    "sim",
                )
                .write.mode("append")
                .parquet(pairs_dir)
            )
        finally:
            sig.unpersist()

    # restart leg: incarnation 1 drains the two staged files; the third
    # appears only after the handoff and is picked up from the checkpoint
    writer = stream.writeStream.foreachBatch(merge)
    drain(writer, f"{workdir}/ckpt", "mm_stream_image_near_dup (2 files)")
    release_held(workdir)
    drain(writer, f"{workdir}/ckpt", "mm_stream_image_near_dup (3 files)")
    # a pair forms exactly once (its later media's batch); distinct guards
    # the value hash against any at-least-once replay of a batch
    return spark.read.parquet(pairs_dir).distinct()


QUERIES["mm_stream_image_near_dup"] = mm_stream_image_near_dup

# first-principles twin: cards + twins from the pixel formula, patch sums
# via the same grid mapping as the mm_image_patches oracle, identical
# pigeonhole banding and verification
ORACLES["mm_image_near_dup"] = f"""
WITH cards AS (
  SELECT doc_id, doc_id * 2 AS media_id, 0 AS delta FROM documents
  UNION ALL
  SELECT doc_id, doc_id * 2 + 1, 1 FROM documents WHERE doc_id % 5 = 0
),
g AS (
  SELECT media_id, doc_id, delta,
         8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
  FROM cards
),
pr AS (
  SELECT *, unnest(range(CAST((h + 3) // 4 AS INTEGER))) AS pr FROM g
),
pc AS (
  SELECT *, unnest(range(CAST((w + 3) // 4 AS INTEGER))) AS pc FROM pr
),
dims AS (
  SELECT *, least(4, h - pr * 4) AS ph, least(4, w - pc * 4) AS pw FROM pc
),
psum AS (
  SELECT media_id, pr, pc,
         CAST(list_sum(list_transform(range(CAST(ph * pw AS INTEGER)),
           j -> ((doc_id * 31
                  + 7 * ((pr * 4 + j // pw) * w + pc * 4 + j % pw)) % 256
                 + CASE WHEN delta = 1
                         AND (pr * 4 + j // pw) * w + pc * 4 + j % pw = w * h - 1
                        THEN 1 ELSE 0 END) % 256))
           AS BIGINT) AS s
  FROM dims
),
sig AS (
  SELECT media_id,
         max(pr) + 1 AS n_pr, max(pc) + 1 AS n_pc,
         list(s ORDER BY pr, pc) AS sig,
         count(*) AS n,
         CAST(ceil(count(*) / 2.0) AS INTEGER) AS half
  FROM psum GROUP BY media_id
),
bands AS (
  SELECT media_id, n_pr, n_pc, n, sig, 0 AS band_idx,
         array_to_string(sig[1:half], ',') AS band_key
  FROM sig
  UNION ALL
  SELECT media_id, n_pr, n_pc, n, sig, 1,
         array_to_string(sig[half + 1:CAST(n AS INTEGER)], ',')
  FROM sig
),
cand AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         a.sig AS sa, b.sig AS sb, a.n AS n_patches
  FROM bands a JOIN bands b
    ON a.n_pr = b.n_pr AND a.n_pc = b.n_pc
   AND a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.media_id < b.media_id
),
v AS (
  SELECT media_a, media_b, n_patches,
         CAST(len(list_filter(range(CAST(n_patches AS INTEGER)),
                i -> sa[i + 1] = sb[i + 1])) AS BIGINT) AS n_match
  FROM cand
)
SELECT media_a, media_b, CAST(n_patches AS BIGINT) AS n_patches, n_match,
       CAST(n_match AS DOUBLE) / n_patches AS sim
FROM v WHERE CAST(n_match AS DOUBLE) / n_patches >= {_IMG_SIM}
"""

# the streaming twin accumulates exactly the batch pipeline's pair set
ORACLES["mm_stream_image_near_dup"] = ORACLES["mm_image_near_dup"]


# ---------------------------------------------------------------------------
# audio near-dup: the WAV column composed with the dedup stack — the audio
# sibling of mm_image_near_dup. Corpus = the PCM16 test waveforms plus
# synthesized near-dup TWINS (every 5th waveform re-emitted with its last
# sample bumped — exactly one changed analysis frame, since frame energy
# moves by 2s+1 ≠ 0). Per media, the ordered per-frame energies form an
# integer acoustic signature; candidates come from the same PIGEONHOLE
# BANDING (two exact-match halves — provably lossless for pairs differing
# in ≤ 1 frame); verification keeps pairs with AT MOST ONE differing
# frame (n_match ≥ n_frames − 1) — the same criterion the banding is
# lossless for. A ratio threshold (the image family's 70%) would silently
# drop every twin whose waveform has ≤ 3 frames (1 differing frame of 2–3
# is only 50–67% similarity), and the test waveforms run 2–6 frames.
# 100 TB shape: decode + frame energy is Arrow map-only; signatures are
# one media_id aggregation; candidates come from a (n_frames, band_idx,
# band_key) equi-join — never all-pairs. Oracle: the whole pipeline from
# the waveform formula in pure SQL, identical banding.
# ---------------------------------------------------------------------------
def mm_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import audio_frame_energy, synthesize_wav_media_twins

    docs = spread(read(spark, sf_dir, "documents"), spark, min_parts=8)
    frames = audio_frame_energy(synthesize_wav_media_twins(docs))
    sig = (
        frames.groupBy("media_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("frame_idx", "energy"))),
                lambda x: x["energy"],
            ).alias("sig")
        )
        .withColumn("n", F.size("sig"))
        .withColumn("half", F.ceil(F.col("n") / 2).cast("int"))
    )
    bands = _pigeonhole_bands(sig, ["n"])
    # lazy persist: both sides of the band self-join reference this subtree
    # (the t_kcore_peel discipline — the Arrow decode pipeline runs once)
    bands = bands.persist()
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.n") == F.col("b.n"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.col("a.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
            F.col("a.n").alias("n_frames"),
        )
        .distinct()
    )
    n_match = F.size(
        F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m)
    )
    return (
        cand.withColumn("n_match", n_match.cast("long"))
        .withColumn("sim", F.col("n_match") / F.col("n_frames"))
        .filter(F.col("n_match") >= F.col("n_frames") - 1)
        .select(
            "media_a",
            "media_b",
            F.col("n_frames").cast("long").alias("n_frames"),
            "n_match",
            "sim",
        )
    )


QUERIES["mm_audio_near_dup"] = mm_audio_near_dup

# first-principles twin: waveforms + twins from the sample formula
# (n = 64 + id%129, s_i = ((id*17 + 3i²) % 4001) − 2000, twin bumps s_{n−1}),
# 32-sample frames, identical pigeonhole banding and verification
ORACLES["mm_audio_near_dup"] = f"""
WITH cards AS (
  SELECT doc_id, doc_id * 2 AS media_id, 0 AS delta FROM documents
  UNION ALL
  SELECT doc_id, doc_id * 2 + 1, 1 FROM documents WHERE doc_id % 5 = 0
),
g AS (
  SELECT media_id, doc_id, delta, 64 + doc_id % 129 AS n FROM cards
),
f AS (
  SELECT *, unnest(range(CAST((n + 31) // 32 AS INTEGER))) AS frame_idx FROM g
),
fr AS (
  SELECT media_id, frame_idx, n,
         CAST(list_sum(list_transform(
           list_transform(range(CAST(LEAST(32, n - frame_idx * 32) AS INTEGER)),
             j -> ((doc_id * 17
                    + 3 * (frame_idx * 32 + j) * (frame_idx * 32 + j)) % 4001
                   - 2000
                   + CASE WHEN delta = 1 AND frame_idx * 32 + j = n - 1
                          THEN 1 ELSE 0 END)),
           x -> x * x)) AS BIGINT) AS e
  FROM f
),
sig AS (
  SELECT media_id,
         list(e ORDER BY frame_idx) AS sig,
         count(*) AS n,
         CAST(ceil(count(*) / 2.0) AS INTEGER) AS half
  FROM fr GROUP BY media_id
),
bands AS (
  SELECT media_id, n, sig, 0 AS band_idx,
         array_to_string(sig[1:half], ',') AS band_key
  FROM sig
  UNION ALL
  SELECT media_id, n, sig, 1,
         array_to_string(sig[half + 1:CAST(n AS INTEGER)], ',')
  FROM sig
),
cand AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         a.sig AS sa, b.sig AS sb, a.n AS n_frames
  FROM bands a JOIN bands b
    ON a.n = b.n AND a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.media_id < b.media_id
),
v AS (
  SELECT media_a, media_b, n_frames,
         CAST(len(list_filter(range(CAST(n_frames AS INTEGER)),
                i -> sa[i + 1] = sb[i + 1])) AS BIGINT) AS n_match
  FROM cand
)
SELECT media_a, media_b, CAST(n_frames AS BIGINT) AS n_frames, n_match,
       CAST(n_match AS DOUBLE) / n_frames AS sim
FROM v WHERE n_match >= n_frames - 1
"""


# ---------------------------------------------------------------------------
# STREAMING twin of the AUDIO near-dup (PRE-BUILT for round 9 — not yet
# registered: runtime queries must hold a certification-prefix slot, and
# round 8's prefix is fully committed; the restart-equality pytest pins it
# until the gate slot opens). Same band-store dedup-on-ingest shape as
# mm_stream_image_near_dup, applied to frame-energy signatures: per batch,
# decode WAV frames (Arrow), build per-media signature rows, append bands
# + signatures FIRST (within-batch pairs), probe the band store on exact
# (n, band_idx, band_key) matches, verify candidates frame-by-frame
# against the signature store (at-most-one-differing-frame verdict — the
# ratio-threshold trap documented at the batch query), append pairs.
# media_id % 3 slicing puts a base (2d) and its twin (2d+1) in different
# batches, and the run restarts mid-stream on one checkpoint. After the
# drain the pairs must equal the batch mm_audio_near_dup exactly.
# ---------------------------------------------------------------------------
def mm_stream_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import audio_frame_energy, synthesize_wav_media_twins

    docs = spread(read(spark, sf_dir, "documents"), spark, min_parts=8)
    media = synthesize_wav_media_twins(docs).persist()
    workdir = gate_workdir("stream-auddup-gate-")
    try:
        stream = staged_stream(
            workdir,
            [media.filter(F.col("media_id") % 3 == i) for i in range(3)],
            held=1,
        )
    finally:
        media.unpersist()

    bands_dir = f"{workdir}/bands"
    sigs_dir = f"{workdir}/sigs"
    pairs_dir = f"{workdir}/pairs"

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        frames = audio_frame_energy(batch_df)
        sig = (
            frames.groupBy("media_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("frame_idx", "energy"))),
                    lambda x: x["energy"],
                ).alias("sig")
            )
            .withColumn("n", F.size("sig"))
            .withColumn("half", F.ceil(F.col("n") / 2).cast("int"))
        ).persist()
        # every consumer of the pinned subtree sits inside the try (the
        # round-7 ADVICE leak class)
        try:
            bands = _pigeonhole_bands(sig, ["n"]).select(
                "media_id", "n", "band_idx", "band_key"
            )
            bands.write.mode("append").parquet(bands_dir)
            sig.select("media_id", "n", "sig").write.mode("append").parquet(
                sigs_dir
            )
            store = s.read.parquet(bands_dir)
            cand = (
                bands.alias("a")
                .join(
                    store.alias("b"),
                    (F.col("a.n") == F.col("b.n"))
                    & (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.media_id") != F.col("b.media_id")),
                )
                .select(
                    F.least("a.media_id", "b.media_id").alias("media_a"),
                    F.greatest("a.media_id", "b.media_id").alias("media_b"),
                )
                .distinct()
            )
            sigs = s.read.parquet(sigs_dir)
            x = sigs.select(
                F.col("media_id").alias("media_a"),
                F.col("sig").alias("sa"),
                F.col("n").alias("n_frames"),
            )
            y = sigs.select(
                F.col("media_id").alias("media_b"), F.col("sig").alias("sb")
            )
            n_match = F.size(
                F.filter(F.zip_with("sa", "sb", lambda p, q: p == q), lambda m: m)
            )
            (
                cand.join(x, "media_a")
                .join(y, "media_b")
                .withColumn("n_match", n_match.cast("long"))
                .withColumn("sim", F.col("n_match") / F.col("n_frames"))
                .filter(F.col("n_match") >= F.col("n_frames") - 1)
                .select(
                    "media_a",
                    "media_b",
                    F.col("n_frames").cast("long").alias("n_frames"),
                    "n_match",
                    "sim",
                )
                .write.mode("append")
                .parquet(pairs_dir)
            )
        finally:
            sig.unpersist()

    writer = stream.writeStream.foreachBatch(merge)
    drain(writer, f"{workdir}/ckpt", "mm_stream_audio_near_dup (2 files)")
    release_held(workdir)
    drain(writer, f"{workdir}/ckpt", "mm_stream_audio_near_dup (3 files)")
    return spark.read.parquet(pairs_dir).distinct()


QUERIES["mm_stream_audio_near_dup"] = mm_stream_audio_near_dup

# the streaming twin accumulates exactly the batch pipeline's pair set
# (restart-equality law pinned by tests/test_multimodal.py)
ORACLES["mm_stream_audio_near_dup"] = ORACLES["mm_audio_near_dup"]
