"""Multimodal (image) lane: binary columns + typed metadata + pandas-UDF
preprocessing (SURVEY.md §2 D1-D3, O1-O6).

Reference pipeline (preprocess_image.py): S3 prefix scan → JPEG decode →
paint-outside-ROI white → crop to ROI bbox → normalize to [0,1] → VGG16
conv-base featurize → flat float32 vector. Spark-first restatement:

- **Source**: ``spark.read.format("binaryFile")`` → one row per image with
  ``path/modificationTime/length/content:binary`` — images are just rows
  with an opaque binary column; filename metadata becomes columns via
  functions/filename.py (regexp_extract, JVM-side).
- **Preprocess**: one ``mapInPandas`` pass — Arrow-batched, whole partitions
  per Python call (the reference's batch-size-1 anti-pattern,
  preprocess_image.py:195, inverted). ROI mask/crop/normalize are real
  numpy re-expressions of the reference semantics; they run on whatever the
  decoder yields.
- **Decode/featurize are pluggable**: ``jpeg_decoder()``, the default, is
  a REAL JPEG decode — the system libjpeg through sources/jpeg.py's C
  shim, the ISLOW decode cv2.imdecode runs — with cv2's IMREAD_COLOR
  contract (3 channels, BGR). A frame that fails to decode fails its
  batch with a ValueError that names the frame's path. VGG16 weights are
  not in this container (the reference's .h5 blobs are absent too,
  .MISSING_LARGE_BLOBS:1-3): ``default_featurizer`` is a deterministic
  patch-mean pooler with the real output contract (flat float32). Swap in
  a keras callable in a full container — the Spark plumbing (schema,
  batching, partitioning) is identical.
- **Sink**: features persist as parquet ``array<float>`` (no pickle —
  reference preprocess_image.py:139-151), partitionable by station_id.

Scale posture: executors each process whole Arrow batches; model/decoder
objects are created once per Python worker (lazy module-level singleton),
never per row — the reference reloads VGG16 per image
(preprocess_image.py:184,194), an anti-pattern SURVEY.md §4 flags.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import filename as fnm
from ..registry import register
from ..scratch import detach_result, new_scratch_dir

# Reference ROI polygon (preprocess_image.py:19) and crop geometry: bbox of
# the polygon is y∈[101,211], x∈[0,1227] → 110×1227 crop (FIXTURES.md).
ROI = np.array([[0, 132], [0, 211], [1227, 125], [1075, 101]], dtype=np.int32)
RAW_H, RAW_W = 240, 1280  # test fixture frame size (BASELINE.md)

FEATURE_LEN = 512  # fake featurizer output length (real VGG16 path: 58368)

features_schema = StructType(
    [
        StructField("path", StringType()),
        StructField("station_id", LongType()),
        StructField("epoch", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def _point_in_polygon(ys: np.ndarray, xs: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Vectorized ray-casting point-in-polygon over a pixel grid.

    numpy-only stand-in for cv2.drawContours-based filling
    (reference preprocess_image.py:66-74).
    """
    inside = np.zeros(ys.shape, dtype=bool)
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        cond = (ys > min(y1, y2)) & (ys <= max(y1, y2))
        if y1 != y2:
            x_int = (ys - y1) * (x2 - x1) / (y2 - y1) + x1
            inside ^= cond & (xs < x_int)
    return inside


# The inside-ROI boolean grid depends only on (frame shape, polygon) — both
# constant per camera — so it is computed once per worker and reused for
# every frame (same executor-side-singleton rule as model objects; the
# per-image recompute costs ~25 ms/frame, 60% of lane time when naive).
_ROI_MASK_CACHE: dict[tuple, np.ndarray] = {}


def _inside_mask(h: int, w: int, roi: np.ndarray) -> np.ndarray:
    key = (h, w, roi.tobytes())
    mask = _ROI_MASK_CACHE.get(key)
    if mask is None:
        ys, xs = np.mgrid[0:h, 0:w]
        mask = _point_in_polygon(ys, xs, roi)
        _ROI_MASK_CACHE[key] = mask
    return mask


def mask_outside_roi(image: np.ndarray, roi: np.ndarray = ROI) -> np.ndarray:
    """Paint everything outside the ROI polygon white (255) — reference
    preprocess_image.py:57-79 semantics."""
    h, w = image.shape[:2]
    inside = _inside_mask(h, w, roi)
    out = np.full_like(image, 255)
    out[inside] = image[inside]
    return out


def crop_to_roi_bbox(image: np.ndarray, roi: np.ndarray = ROI) -> np.ndarray:
    """Crop to the ROI bounding box (reference preprocess_image.py:82-107):
    the 'column pruning' of the image lane — cheap data reduction before
    the expensive featurizer."""
    x_min, y_min = roi.min(axis=0)
    x_max, y_max = roi.max(axis=0)
    return image[y_min:y_max, x_min:x_max]


def normalize(image: np.ndarray) -> np.ndarray:
    """uint8 → float64 in [0,1] (reference preprocess_image.py:110-136)."""
    out = image.astype(np.float64) * (1.0 / 255.0)
    assert out.min() >= 0.0 and out.max() <= 1.0
    return out


def default_featurizer(image: np.ndarray) -> np.ndarray:
    """DETERMINISTIC FAKE conv-base (VGG16 weights unavailable): mean-pool
    fixed patches → flat float32[FEATURE_LEN]. Preserves the featurize
    contract (reference preprocess_image.py:176-195): float32, flat,
    deterministic for identical input."""
    h, w = image.shape[:2]
    gh, gw = 8, 64  # 8*64 = FEATURE_LEN patches
    ph, pw = max(h // gh, 1), max(w // gw, 1)
    trimmed = image[: ph * gh, : pw * gw]
    pooled = trimmed.reshape(gh, ph, gw, pw, -1).mean(axis=(1, 3, 4))
    return pooled.astype(np.float32).flatten()[:FEATURE_LEN]


def jpeg_decoder() -> Callable[[bytes], np.ndarray]:
    """REAL JPEG decoder with the cv2.imdecode(IMREAD_COLOR) contract
    (reference preprocess_image.py:52): bytes → uint8 BGR ndarray, a
    grayscale stream as 3 identical channels; damaged bytes raise
    ValueError. Decodes through the system libjpeg (sources/jpeg.py)."""
    from . import jpeg

    def decode(content: bytes) -> np.ndarray:
        img = jpeg.decode(content)
        if img.ndim == 2:
            img = np.dstack([img, img, img])
        return img

    return decode


def vgg16_featurizer() -> Callable[[np.ndarray], np.ndarray]:
    """REAL conv-base featurizer (reference preprocess_image.py:176-195):
    VGG16(weights='imagenet', include_top=False) prediction, flattened
    float32 — 58368 values for the reference camera geometry. Instantiate
    ONCE PER WORKER (pass the returned callable into preprocess_images, the
    factory runs the heavyweight model construction a single time — the
    reference reloads it per image, preprocess_image.py:184,194)."""
    from tensorflow.keras.applications import VGG16  # optional dependency

    model = VGG16(weights="imagenet", include_top=False)

    def featurize(image: np.ndarray) -> np.ndarray:
        return model.predict(image[np.newaxis, ...], verbose=0).astype(
            np.float32
        ).flatten()

    return featurize


def real_lane_available() -> bool:
    """True iff the optional keras/VGG16 featurizer can be constructed."""
    try:
        from tensorflow.keras.applications import VGG16  # noqa: F401
    except Exception:
        return False
    return True


def read_images(spark: SparkSession, path: str, glob: str = "*.jpg") -> DataFrame:
    """Binary-file source: one row per image (reference O1/O2,
    preprocess_image.py:22-54)."""
    return (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )


def with_path_metadata(images: DataFrame, ext: str = "jpg") -> DataFrame:
    """Filename-encoded metadata → columns (reference estimate_queue.py:31-61),
    JVM-side regex on the basename. Raw frames are ``station_id_X_T.jpg``;
    the reference's parser handles the ``.bin`` intermediates — same stem,
    different extension."""
    base = F.element_at(F.split(F.col("path"), "/"), -1)
    return images.withColumn(
        "station_id", fnm.station_id_col(base, ext=ext)
    ).withColumn("epoch", fnm.epoch_col(base, ext=ext))


def _frame_chain(
    path: str,
    content: bytes,
    decoder: Callable[[bytes], np.ndarray],
    featurizer: Callable[[np.ndarray], np.ndarray],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One frame through the reference chain (decode → mask → crop →
    normalize → featurize, preprocess_image.py:198-205): returns the
    decoded frame, its masked crop and its features. A frame the decoder
    rejects raises its ValueError prefixed with the frame's path."""
    try:
        img = decoder(bytes(content))
    except ValueError as e:
        raise ValueError(f"{path}: {e}") from e
    crop = crop_to_roi_bbox(mask_outside_roi(img))
    return img, crop, featurizer(normalize(crop))


def preprocess_images(
    images: DataFrame,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    featurizer: Callable[[np.ndarray], np.ndarray] = default_featurizer,
    n_partitions: int | None = None,
) -> DataFrame:
    """binaryFile rows → feature rows in one Arrow-batched pass.

    The whole reference preprocess chain (``_frame_chain``) runs per
    partition inside ``mapInPandas`` — batch-at-a-time, decoder/featurizer
    constructed once per worker. ``decoder`` defaults to
    :func:`jpeg_decoder`; a frame it rejects fails the batch with a
    ValueError that starts with the frame's path.

    ``n_partitions``: small-file corpora pack into few input splits
    (maxPartitionBytes), starving the CPU-bound UDF; set this to fan the
    compute out (the tiny binary payloads reshuffle cheaply). The scan is
    repartitioned only when it has fewer splits than that: a few frames
    already get a split each, and the exchange would only add a stage.
    Counting the splits plans the scan but starts no job.
    """
    if decoder is None:
        decoder = jpeg_decoder()
    with_meta = with_path_metadata(images).select(
        "path", "station_id", "epoch", "content"
    )
    if n_partitions is not None and with_meta.rdd.getNumPartitions() < n_partitions:
        with_meta = with_meta.repartition(n_partitions)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _frame_chain(path, content, decoder, featurizer)[2]
                for path, content in zip(pdf["path"], pdf["content"])
            ]
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "station_id": pdf["station_id"],
                    "epoch": pdf["epoch"],
                    "features": feats,
                }
            )

    return with_meta.mapInPandas(process, schema=features_schema)


_PIPELINE_FRAMES = 6
_PIPELINE_W = 128  # narrower than the camera's 1280 to keep the
# per-frame numpy work (ROI mask, crop, featurize) at fixture scale; the
# ROI geometry still applies (the bbox slice clips to frame width, same
# numpy semantics at any W ≥ 1)

_PIPELINE_STATS_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("station_id", LongType()),
        StructField("epoch", LongType()),
        StructField("raw_h", LongType()),
        StructField("raw_w", LongType()),
        StructField("crop_h", LongType()),
        StructField("crop_w", LongType()),
        StructField("px_checksum", LongType()),
        StructField("n_features", LongType()),
        StructField("feat_norm", FloatType()),
    ]
)


def _synthetic_frame(i: int, h: int = RAW_H, w: int = _PIPELINE_W) -> np.ndarray:
    """Deterministic uint8 BGR gradient frame — no RNG, so every
    invocation (and the driver's repeat runs) sees identical bytes."""
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    return np.stack(
        [
            (3 * y + x + 17 * i) % 256,
            (y + 2 * x + 41 * i) % 256,
            (5 * y + 7 * x + 97 * i) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)


def pipeline_stats(
    images: DataFrame,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    featurizer: Callable[[np.ndarray], np.ndarray] = default_featurizer,
) -> DataFrame:
    """REAL image lane end-to-end, emitting per-image scalar stats: the
    full reference chain (``_frame_chain``, as ``preprocess_images`` runs
    it, decode errors included) in ONE ``mapInPandas`` pass, with
    decoded/cropped shapes, an exact pixel checksum of the masked crop,
    and the feature norm as the scoring stand-in. Scalar columns only —
    the shape the driver can hash and a monitoring sink would ingest."""
    if decoder is None:
        decoder = jpeg_decoder()
    with_meta = with_path_metadata(images).select(
        "path", "station_id", "epoch", "content"
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                img, crop, feats = _frame_chain(path, content, decoder, featurizer)
                rows.append(
                    (
                        img.shape[0],
                        img.shape[1],
                        crop.shape[0],
                        crop.shape[1],
                        int(crop.astype(np.int64).sum()),
                        len(feats),
                        float(np.linalg.norm(feats)),
                    )
                )
            arr = list(zip(*rows)) if rows else [[]] * 7
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "station_id": pdf["station_id"],
                    "epoch": pdf["epoch"],
                    "raw_h": arr[0],
                    "raw_w": arr[1],
                    "crop_h": arr[2],
                    "crop_w": arr[3],
                    "px_checksum": arr[4],
                    "n_features": arr[5],
                    "feat_norm": np.asarray(arr[6], dtype=np.float32),
                }
            )

    return with_meta.mapInPandas(process, schema=_PIPELINE_STATS_SCHEMA)


@register(
    "image_pipeline_stats",
    oracle=None,  # decode/featurize are numpy-side → rows-only by design
    doc="The reference's core business lane END-TO-END with real codec "
    "work: deterministic synthetic frames are ENCODED to real baseline "
    "JPEGs (the test encoder in sources/jpeg.py), land in a "
    "hermetic scratch dir, are scanned via binaryFile with filename "
    "metadata parsed JVM-side (station_id/epoch, reference "
    "estimate_queue.py:31-61), then one mapInPandas pass runs REAL JPEG "
    "decode (the system libjpeg, as cv2.imdecode) → paint-outside-ROI white → bbox crop → normalize → "
    "featurize (reference preprocess_image.py:198-205) and emits "
    "per-image scalar stats (shapes, exact pixel checksum, feature "
    "norm). The only Python in the plan is the single declared "
    "mapInPandas; the result is detached from scratch before return.",
    tags=("multimodal", "image", "pipeline", "binary"),
)
def image_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from . import jpeg

    frames_dir = new_scratch_dir("frames")
    for i in range(_PIPELINE_FRAMES):
        sid = 41 + (i % 2)
        ts = f"202005{(i % 9) + 1:02d}T09{i % 60:02d}00"
        data = jpeg.encode(_synthetic_frame(i), quality=90)
        with open(
            os.path.join(frames_dir, f"station_id_{sid}_{ts}.jpg"), "wb"
        ) as f:
            f.write(data)
    stats = pipeline_stats(read_images(spark, frames_dir)).select(
        # path is scratch-dir-unique per invocation → strip to basename so
        # the output is invocation-stable
        F.element_at(F.split(F.col("path"), "/"), -1).alias("frame"),
        "station_id",
        "epoch",
        "raw_h",
        "raw_w",
        "crop_h",
        "crop_w",
        "px_checksum",
        "n_features",
        "feat_norm",
    )
    return detach_result(stats, frames_dir)


def write_features(features: DataFrame, out_dir: str) -> None:
    """Persist features as parquet array<float>, partitioned by station —
    the reference's pickle-to-S3 sink (preprocess_image.py:139-151) made
    columnar + partition-prunable."""
    features.write.mode("overwrite").partitionBy("station_id").parquet(out_dir)


# --- perceptual-hash near-dup dedup -----------------------------------


def _block_mean(g: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Downsample by block means to a (th, tw) grid (crops the ragged
    remainder) — the numpy-only stand-in for a resize kernel."""
    h, w = g.shape
    bh, bw = h // th, w // tw
    g = g[: bh * th, : bw * tw]
    return g.reshape(th, bh, tw, bw).mean(axis=(1, 3))


def dhash64(image: np.ndarray) -> int:
    """64-bit difference hash (dHash) of an HxWx3 uint8 frame, as a
    SIGNED int64 (BIGINT-safe): grayscale → block-mean to an 8×9 grid →
    one bit per horizontal neighbor comparison (8×8 = 64). Gradient
    SIGNS survive re-encoding and global brightness shifts but flip on
    structural change — the perceptual-hash property; measured on the
    fixture frames: ≤2 bits flip across a mild edit + JPEG re-encode,
    ≥5 bits differ between distinct frames."""
    g = image.astype(np.float64).mean(axis=2)
    m = _block_mean(g, 8, 9)
    bits = (m[:, :-1] > m[:, 1:]).ravel()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


_PHASH_SCHEMA = "frame string, phash long"
_PHASH_BANDS = 4  # 4 x 16-bit bands: a hamming<=3 pair ALWAYS shares one
_PHASH_MAX_HAMMING = 3


def phash_frames(
    images: DataFrame, decoder: Callable[[bytes], np.ndarray] | None = None
) -> DataFrame:
    """(frame, phash) per image: decode + hash in ONE mapInPandas."""
    if decoder is None:
        decoder = jpeg_decoder()

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            names = [p.rsplit("/", 1)[-1] for p in pdf["path"]]
            hashes = [dhash64(decoder(bytes(c))) for c in pdf["content"]]
            yield pd.DataFrame({"frame": names, "phash": hashes})

    return images.select("path", "content").mapInPandas(
        process, schema=_PHASH_SCHEMA
    )


def phash_near_dup_pairs(hashes: DataFrame) -> DataFrame:
    """Banded near-dup candidate join over the 64-bit perceptual hashes:
    4×16-bit bands propose pairs (pigeonhole: a hamming-≤3 pair always
    leaves one band untouched), exact hamming via bit_count(XOR)
    verifies JVM-side — SimHash-style bit-band blocking applied to the
    image lane; never an all-pairs comparison."""
    banded = hashes.select(
        "frame",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("phash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bits"),
                    )
                    for b in range(_PHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("frame", "phash", F.col("bb.band"), F.col("bb.bits"))
    a = banded.select(
        F.col("frame").alias("frame_a"),
        F.col("phash").alias("ph_a"),
        "band",
        "bits",
    )
    b = banded.select(
        F.col("frame").alias("frame_b"),
        F.col("phash").alias("ph_b"),
        "band",
        "bits",
    )
    hamming = F.bit_count(
        F.col("ph_a").bitwiseXOR(F.col("ph_b"))
    ).cast("long")
    return (
        a.join(b, ["band", "bits"])
        .where(F.col("frame_a") < F.col("frame_b"))
        .select("frame_a", "frame_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= _PHASH_MAX_HAMMING)
        .distinct()
    )


_PHASH_BASE_FRAMES = 6


def _smooth_noise_field(i: int, h: int, w: int) -> np.ndarray:
    """Deterministic smooth pseudo-random field in [0, 1] keyed by ``i``:
    integer spatial hash (no RNG state, stable across platforms and
    numpy versions) box-blurred into natural-image-like low-frequency
    structure, so distinct keys give decorrelated dHashes."""
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    v = (
        ((x * 73856093) ^ (y * 19349663) ^ ((i + 1) * 83492791)) % 256
    ).astype(np.float64)
    k = np.ones(15) / 15.0
    for _ in range(3):
        v = np.apply_along_axis(
            lambda r: np.convolve(r, k, mode="same"), 1, v
        )
        v = np.apply_along_axis(
            lambda c: np.convolve(c, k, mode="same"), 0, v
        )
    return (v - v.min()) / (v.max() - v.min() + 1e-9)


def _phash_fixture_frame(i: int, variant: int) -> np.ndarray:
    """Fixture frame ``i`` (variant 0) or its mild edit (variant 1: a
    small +6-gray patch — the 'same photo, light retouch' case)."""
    base = 40.0 + 175.0 * _smooth_noise_field(i, RAW_H, _PIPELINE_W)
    if variant:
        base = base.copy()
        base[60:80, 40:60] += 6.0
    gray = np.clip(base, 0, 255).astype(np.uint8)
    return np.stack([gray, gray, gray], axis=-1)


@register(
    "multimodal_image_phash_dedup",
    oracle=None,  # JPEG decode + hashing are numpy-side → rows-only
    doc="Perceptual-hash near-dup detection over REAL JPEGs: six "
    "distinct synthetic frames each stored twice — original and a "
    "mildly edited re-encode — are hashed with a 64-bit dHash "
    "(grayscale → 8×9 block means → horizontal-gradient sign bits) "
    "inside one mapInPandas, then 4×16-bit band blocking + exact "
    "bit_count(XOR) hamming finds near-dup pairs JVM-side — SimHash-"
    "style bit-band blocking, and the multimodal dedup step of a "
    "vision-language pipeline (copies survive re-encoding, so "
    "exact-byte dedup misses them; a perceptual hash does not). "
    "Measured margins on the fixture: edit pairs ≤2 bits, distinct "
    "frames ≥5, threshold 3 — exactly the six planted pairs come out "
    "(tests/test_images.py pins pairs and margins). Deterministic "
    "end-to-end: hash-keyed frames, test encoder + system libjpeg "
    "decode, no RNG.",
    tags=("multimodal", "image", "dedup", "lsh", "phash"),
)
def multimodal_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from . import jpeg

    frames_dir = new_scratch_dir("phash_frames")
    for i in range(_PHASH_BASE_FRAMES):
        for variant in (0, 1):
            data = jpeg.encode(_phash_fixture_frame(i, variant), quality=90)
            name = f"frame_{i:02d}_v{variant}.jpg"
            with open(os.path.join(frames_dir, name), "wb") as f:
                f.write(data)
    hashes = phash_frames(read_images(spark, frames_dir))
    pairs = phash_near_dup_pairs(hashes)
    return detach_result(pairs, frames_dir)


# --- ViT-style patch extraction -----------------------------------------

TILE = 16  # patch side (the ViT-Base convention)
_TILES_FRAMES = 6

_TILE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("tile_row", LongType()),
        StructField("tile_col", LongType()),
        StructField("px_sum", LongType()),
        StructField("sum_b", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_r", LongType()),
    ]
)


def image_tiles(
    images: DataFrame,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    tile: int = TILE,
) -> DataFrame:
    """Patchify decoded frames into non-overlapping ``tile``x``tile``
    blocks (zero-padded at the bottom/right edges) — the ViT/patch-
    embedding prep shape: ONE input row (a whole image) explodes into
    ceil(h/t)*ceil(w/t) patch rows inside a single ``mapInPandas`` pass,
    so the fan-out happens executor-side with Arrow batches, never on
    the driver. Per patch: the exact integer pixel checksum and the
    per-channel sums (the downstream embedding stub's input statistics).
    The reshape is one numpy stride trick per image — no per-pixel
    Python."""
    if decoder is None:
        decoder = jpeg_decoder()

    def patchify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "path", "tile_row", "tile_col",
                "px_sum", "sum_b", "sum_g", "sum_r",
            )}
            for path, content in zip(pdf["path"], pdf["content"]):
                img = decoder(bytes(content)).astype(np.int64)
                h, w, _ = img.shape
                nr, nc = -(-h // tile), -(-w // tile)
                padded = np.zeros((nr * tile, nc * tile, 3), dtype=np.int64)
                padded[:h, :w] = img
                # (nr, tile, nc, tile, 3) → per-tile channel sums in one
                # vectorized reduction
                blocks = padded.reshape(nr, tile, nc, tile, 3)
                csum = blocks.sum(axis=(1, 3))  # (nr, nc, 3)
                for r in range(nr):
                    for c in range(nc):
                        out["path"].append(path)
                        out["tile_row"].append(r)
                        out["tile_col"].append(c)
                        out["sum_b"].append(int(csum[r, c, 0]))
                        out["sum_g"].append(int(csum[r, c, 1]))
                        out["sum_r"].append(int(csum[r, c, 2]))
                        out["px_sum"].append(int(csum[r, c].sum()))
            yield pd.DataFrame(out)

    return images.select("path", "content").mapInPandas(
        patchify, schema=_TILE_SCHEMA
    )


@register(
    "multimodal_image_tiles",
    oracle=None,  # real JPEG decode is numpy-side → rows-only by design
    doc="ViT-style patch extraction over real JPEGs: the same "
    "deterministic synthetic frames as image_pipeline_stats are "
    "encoded with the test encoder of sources/jpeg.py, scanned via "
    "binaryFile, and ONE mapInPandas pass decodes each frame (the system "
    "libjpeg, as cv2.imdecode) and explodes it into "
    "16x16 patches with exact integer checksums and per-channel sums "
    "— 1 row in, ceil(240/16)*ceil(128/16)=120 rows out, fan-out "
    "executor-side. tests/test_media.py pins conservation (tile "
    "checksums sum back to the whole-image checksum, zero padding "
    "adds nothing) and the grid shape. At 100 TB this is the step "
    "between a blob store scan and patch-embedding inference; the "
    "patch rows shuffle-partition freely because each carries its "
    "(path, row, col) identity.",
    tags=("multimodal", "image", "tiles", "vit"),
)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from . import jpeg

    frames_dir = new_scratch_dir("tiles")
    for i in range(_TILES_FRAMES):
        sid = 41 + (i % 2)
        ts = f"202005{(i % 9) + 1:02d}T09{i % 60:02d}00"
        data = jpeg.encode(_synthetic_frame(i), quality=90)
        with open(
            os.path.join(frames_dir, f"station_id_{sid}_{ts}.jpg"), "wb"
        ) as f:
            f.write(data)
    tiles = image_tiles(read_images(spark, frames_dir)).select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("frame"),
        "tile_row",
        "tile_col",
        "px_sum",
        "sum_b",
        "sum_g",
        "sum_r",
    )
    return detach_result(tiles, frames_dir)
