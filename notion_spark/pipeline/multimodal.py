"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The container has no decode libraries (PIL/ffmpeg), so the DECODE step is
stubbed behind `decode_available()` with a deterministic fake; everything
Spark-side — schema, partition sizing, Arrow batch shape, mapInPandas
signatures — is real and tested.

Scale notes: binary payloads ride in their own column so column pruning
drops them unless a stage touches them; decode/feature stages run as
mapInPandas with small `maxRecordsPerBatch` (payloads are MBs, not KBs —
the default 10k-row Arrow batch would OOM). Sizing guidance:
spark.sql.execution.arrow.maxRecordsPerBatch ≈ 64 for images, lower for
video; spark.sql.files.maxPartitionBytes stays default because binary
sources split per file.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Protocol

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16

# features are doubles: exact-decimal fakes stringify identically across
# engines (a float32 would re-expand to 0.0470590011... garbage digits)
IMAGE_FEATURES_SCHEMA = (
    "asset_id string, modality string, width int, height int, features array<double>"
)
AUDIO_FEATURES_SCHEMA = (
    "asset_id string, duration_ms int, sample_rate int, features array<double>"
)


class ImageCodec(Protocol):
    """Decode + featurize one payload. Implementations must be pure
    functions of the payload bytes (executors re-run them on retry)."""

    def decode(self, payload: bytes | None) -> tuple[int, int, list[float]]:
        """-> (width, height, FEATURE_DIM feature vector)."""
        ...


class FakeCodec:
    """Deterministic stand-in for decode+feature-extract: derives
    (width, height) and the feature vector from the sha256 of the
    payload. Stable across runs/executors/engines — the parity oracle
    recomputes it in SQL (DuckDB sha256), so even the fake path is
    hash-checked end to end."""

    def decode(self, payload: bytes | None) -> tuple[int, int, list[float]]:
        if payload is None:
            return 0, 0, [0.0] * FEATURE_DIM
        digest = hashlib.sha256(payload).digest()
        return (
            64 + digest[0],
            64 + digest[1],
            [round(b / 255.0, 6) for b in digest[:FEATURE_DIM]],
        )


class PilCodec:
    """Real decoder (PIL): actual width/height plus a FEATURE_DIM
    grayscale-histogram feature vector. Code-complete but necessarily
    untested in this container (no PIL) — the import is deferred to
    first decode so the module always loads."""

    def decode(self, payload: bytes | None) -> tuple[int, int, list[float]]:
        import io

        import PIL.Image

        if payload is None:
            return 0, 0, [0.0] * FEATURE_DIM
        img = PIL.Image.open(io.BytesIO(payload))
        gray = img.convert("L")
        hist = gray.histogram()  # 256 bins
        bins = [sum(hist[i * 16 : (i + 1) * 16]) for i in range(FEATURE_DIM)]
        total = float(sum(bins)) or 1.0
        return img.width, img.height, [round(b / total, 6) for b in bins]


def decode_available() -> bool:
    """True when a real image decoder is importable. In this container it
    is not; pipelines fall back to the deterministic fake so the Spark
    plumbing stays exercised end-to-end."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def default_codec() -> ImageCodec:
    return PilCodec() if decode_available() else FakeCodec()


def extract_image_features(assets: DataFrame, codec: ImageCodec | None = None) -> DataFrame:
    """assets (ASSETS_SCHEMA) -> per-asset feature rows via mapInPandas.

    The codec is injectable (FakeCodec in this container, PilCodec when a
    decoder ships); the Arrow batch shape, schema, and partitioning are
    identical either way — swapping the codec never changes the plan.
    """
    chosen = codec or default_codec()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [chosen.decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "features": [d[2] for d in decoded],
                }
            )

    return assets.mapInPandas(batches, schema=IMAGE_FEATURES_SCHEMA)


def extract_audio_features(assets: DataFrame) -> DataFrame:
    """Audio twin of the image path (duration/sample-rate/features).
    No audio lib in the container -> deterministic sha256 fake, same
    contract: pure function of payload bytes, engine-recomputable."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                if p is None:
                    rows.append((aid, 0, 0, [0.0] * FEATURE_DIM))
                    continue
                d = hashlib.sha256(bytes(p)).digest()
                rows.append(
                    (
                        aid,
                        1000 + d[2] * 100,
                        8000 + d[3] * 128,
                        [round(b / 255.0, 6) for b in d[16 : 16 + FEATURE_DIM]],
                    )
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "duration_ms", "sample_rate", "features"]
            )

    return assets.mapInPandas(batches, schema=AUDIO_FEATURES_SCHEMA)


def sample_frames(assets: DataFrame, every_n: int = 10, max_frames: int = 8) -> DataFrame:
    """Frame-sampling plumbing for video assets: emits (asset_id,
    frame_idx) rows — the decode of each frame is the stubbed step. The
    explode happens JVM-side so a 2-hour video row fans out without
    touching Python."""
    n_frames = F.coalesce(F.element_at(F.col("meta"), "n_frames").cast("int"), F.lit(0))
    last = F.least(F.floor((n_frames - 1) / every_n).cast("int"), F.lit(max_frames - 1))
    idx = F.sequence(F.lit(0), last)
    return (
        # videos with zero/unknown frame counts emit nothing (Spark's
        # sequence(0,-1) would yield [0,-1], not an empty array)
        assets.filter((F.col("modality") == "video") & (n_frames > 0))
        .select("asset_id", F.explode(F.transform(idx, lambda i: i * every_n)).alias("frame_idx"))
    )


def phash_signatures(
    assets: DataFrame,
    payload_col: str = "payload",
    id_col: str = "asset_id",
) -> DataFrame:
    """(id, hex16, hi, lo): a 64-bit perceptual-hash STAND-IN per asset —
    the first 16 hex chars of sha256(payload), split into two 32-bit
    halves so every integer stays comfortably inside signed int64 on
    any engine (assembling one signed 64-bit value from unsigned hex
    needs shift tricks Spark tolerates and DuckDB rejects as overflow).

    A real pHash (Zauner 2010: DCT of the downscaled grayscale image,
    sign-of-coefficient bits) needs an image decoder this container
    doesn't ship; per the stub convention of this module the hash is
    derived from the payload bytes deterministically instead. The
    CONTRACT is the real one: any per-asset 64-bit locality-sensitive
    hash, as hex, drops into `hex16` (e.g. from a pandas_udf decoding
    real images) and everything downstream — banding, candidate join,
    Hamming verify — is unchanged."""
    h = F.sha2(F.col(payload_col), 256)
    return assets.select(
        F.col(id_col).alias("id"),
        F.substring(h, 1, 16).alias("hex16"),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("lo"),
    )


def phash_dct64_signatures(
    assets: DataFrame,
    payload_col: str = "payload",
    id_col: str = "asset_id",
    side: int = 32,
) -> DataFrame:
    """A REAL 64-bit perceptual hash (Zauner 2010 pHash shape: 2-D
    DCT-II of a ``side``×``side`` grayscale image, the low-frequency
    8×8 coefficient block thresholded at its median, packed row-major
    MSB-first into 16 hex chars) — computed with numpy inside an
    Arrow-batched pandas_udf. Output: (id_col, hex16), the exact frame
    `phash_hamming_pairs(signatures=...)` consumes.

    The only stubbed step in this container is FORMAT DECODING (no
    PIL/ffmpeg): the payload's first side² bytes are interpreted as a
    raw grayscale bitmap (zero-padded when shorter) — swap that one
    line for `PIL.Image.open(...).convert('L').resize(...)` when a
    decoder ships; the DCT, median threshold, bit packing, and all
    downstream banding/verify are the real algorithm and are
    unit-tested for the property that matters: small pixel noise moves
    the hash ≤ a few bits, different content moves ~half of them.

    No DuckDB oracle (a 1024-point float DCT is not reasonably
    SQL-expressible); correctness is unit-level, and the banded
    candidate join it feeds stays oracle-checked via the stand-in row
    (multimodal_phash_pairs)."""
    import numpy as np

    from pyspark.sql.types import StringType

    n = side * side
    # orthonormal DCT-II basis, built once driver-side and closed over
    k = np.arange(side).reshape(-1, 1)
    x = np.arange(side).reshape(1, -1)
    basis = np.cos(np.pi * (2 * x + 1) * k / (2 * side)) * np.sqrt(2.0 / side)
    basis[0, :] /= np.sqrt(2.0)

    def one(b: bytes | None) -> str:
        if b is None:
            b = b""
        raw = bytes(b)[:n].ljust(n, b"\0")
        img = np.frombuffer(raw, dtype=np.uint8).astype(np.float64).reshape(side, side)
        d = basis @ img @ basis.T
        block = d[:8, :8].ravel()
        bits = block > np.median(block)
        val = 0
        for bit in bits:
            val = (val << 1) | int(bit)
        return f"{val:016x}"

    def batch(s: pd.Series) -> pd.Series:
        return s.map(one)

    udf = F.pandas_udf(batch, StringType())
    return assets.select(F.col(id_col).alias(id_col), udf(F.col(payload_col)).alias("hex16"))


def signatures_from_hex(
    sig: DataFrame,
    hex_col: str = "hex16",
    id_col: str = "asset_id",
) -> DataFrame:
    """(id, hex16, hi, lo) from ANY per-asset 64-bit hash rendered as 16
    hex chars — the tested half of the decoder-swap contract: compute a
    real pHash (Zauner 2010) in a pandas_udf that decodes actual image
    bytes, emit it as hex, and feed the (id, hex) frame to
    `phash_hamming_pairs(signatures=...)`; banding, candidate join and
    Hamming verify downstream are byte-identical to the sha256 stand-in
    path. hi/lo are the two 32-bit halves (signed-int64-safe on any
    engine, same rationale as `phash_signatures`)."""
    h = F.lower(F.col(hex_col))
    return sig.select(
        F.col(id_col).alias("id"),
        h.alias("hex16"),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("lo"),
    )


def phash_hamming_pairs(
    assets: DataFrame | None,
    payload_col: str = "payload",
    id_col: str = "asset_id",
    max_bucket: int | None = 1000,
    signatures: DataFrame | None = None,
    hex_col: str = "hex16",
) -> DataFrame:
    """Near-duplicate asset candidates by banded 64-bit pHash:
    (id_a, id_b, hamming), every pair sharing at least one of four
    16-bit hash bands, with the exact pairwise Hamming distance.
    Pigeonhole guarantee: any pair within Hamming distance 3 collides
    on >= 1 band and is therefore ALWAYS found; callers filter the
    `hamming` column to their threshold. Same LSH shape as
    `dedup.simhash_candidates` and the same hot-bucket star guard
    (`max_bucket`), reused directly.

    Scale shape: 4 banded rows per asset, ONE (band, bucket)-keyed
    shuffle for the candidate join, O(bucket²) bounded by the star
    guard; the Hamming verify is per-pair bit arithmetic (xor +
    bit_count, whole-stage codegen). Payload bytes are read ONCE for
    the hash and never shuffled — only 16-char signatures move.

    ``signatures`` swaps in a REAL perceptual hash: a (id_col, hex_col)
    frame — typically a pandas_udf over decoded image bytes — replaces
    the sha256 stand-in entirely (``assets``/``payload_col`` are then
    unused and may be None)."""
    from notion_spark.pipeline.dedup import _banded_candidates

    sig = (
        signatures_from_hex(signatures, hex_col, id_col)
        if signatures is not None
        else phash_signatures(assets, payload_col, id_col)
    )
    banded = sig.select(
        "id",
        "hi",
        "lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.conv(F.substring("hex16", 1 + 4 * b, 4), 16, 10)
                        .cast("int")
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket", "hi", "lo")
    ham = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        _banded_candidates(banded, max_bucket, extra_cols=["hi", "lo"])
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .distinct()
    )
