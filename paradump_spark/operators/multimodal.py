"""Multimodal column plumbing — opaque ``binary`` payloads with typed
metadata, processed via Arrow-batched ``mapInPandas``.

Beyond-reference surface.  Real pipelines carry image/audio/video bytes in
a ``binary`` column next to a metadata struct; decode/resize/frame-sample
run as pandas-batch functions so the bytes never round-trip per-row.  The
actual media codecs aren't in this container, so the decode step is a
clearly-marked stub (`decode_stub`) — everything Spark-side (schema,
partition shape, Arrow batch plumbing, deterministic fake features) is real
and tested.

Scale notes: ``mapInPandas`` streams Arrow batches (bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``) so executor memory is
batch-sized, not partition-sized; payload bytes stay off the driver.
"""

from __future__ import annotations

import hashlib
import logging
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger("paradump_spark")

# metadata struct carried next to every binary payload
MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video|text
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
    ]
)


def decode_stub(payload: bytes) -> object:
    """Placeholder for the real media decode (PIL / libav / etc. are not in
    this container).  Raise loudly so nobody mistakes the stub for a codec.
    For images, :func:`decode_image` is the real path: PIL when present,
    dependency-free PPM/PGM/BMP parsers otherwise."""
    raise NotImplementedError(
        "media decode requires image/audio libraries not present in this "
        "environment; wire PIL/av here in production"
    )


# ---------------------------------------------------------------------------
# Real image decode: PIL when installed, else numpy parsers for the
# uncompressed container formats (PPM/PGM 'P6'/'P5', 24-bit BI_RGB BMP).
# JPEG/PNG without PIL raise the honest NotImplementedError — the
# features/resize operators surface that as a decode_error column value
# instead of failing the job (bad bytes are data, not bugs, at corpus
# scale).


def _decode_ppm(data: bytes):
    """Binary PPM (P6) / PGM (P5), maxval ≤ 255 → (H, W, 3) uint8."""
    import numpy as np

    fields: list[bytes] = []
    i = 2  # past magic
    while len(fields) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":  # comment to end-of-line
            while i < len(data) and data[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        fields.append(data[i:j])
        i = j
    w, h, maxval = (int(f) for f in fields)
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported without PIL")
    i += 1  # single whitespace after maxval
    ch = 3 if data[:2] == b"P6" else 1
    px = np.frombuffer(data, dtype=np.uint8, count=w * h * ch, offset=i)
    img = px.reshape(h, w, ch)
    return np.repeat(img, 3, axis=2) if ch == 1 else img


def _decode_bmp(data: bytes):
    """Uncompressed 24-bit BI_RGB BMP (bottom-up rows, 4-byte padding)
    → (H, W, 3) uint8 RGB."""
    import numpy as np

    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only 24-bit BI_RGB BMP supported without PIL (bpp={bpp}, "
            f"compression={comp})"
        )
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=off
    ).reshape(h, stride)[:, : w * 3]
    img = rows.reshape(h, w, 3)[..., ::-1]  # BGR → RGB
    return img[::-1] if flip else img


def decode_image(payload: bytes):
    """Decode image bytes to an (H, W, 3) uint8 RGB numpy array.

    PIL handles everything when installed; without it the uncompressed
    formats decode natively and compressed ones raise
    ``NotImplementedError`` (callers map that into a decode_error
    value, they don't crash the job).
    """
    try:
        from PIL import Image  # optional dependency
    except ImportError:
        Image = None
    if Image is not None:
        import io

        import numpy as np

        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    data = bytes(payload)
    if data[:2] in (b"P6", b"P5"):
        return _decode_ppm(data)
    if data[:2] == b"BM":
        return _decode_bmp(data)
    raise NotImplementedError(
        "decoding this image format requires PIL (not installed); "
        "PPM/PGM/BMP decode natively"
    )


def _encode_ppm(img) -> bytes:
    """(H, W, 3) uint8 → binary PPM bytes (the codec-free interchange
    format for resized payloads)."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_rgb", T.ArrayType(T.DoubleType())),
        T.StructField("decode_error", T.StringType()),
    ]
)


def image_features(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decoded-image features over the payload column: dimensions +
    per-channel means, Arrow-batched.  Undecodable rows keep their id
    with NULL features and the error text in ``decode_error`` — at
    corpus scale bad bytes are data to quarantine, not exceptions."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            out = {
                "doc_id": [], "width": [], "height": [],
                "mean_rgb": [], "decode_error": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                out["doc_id"].append(int(doc_id))
                try:
                    img = decode_image(payload)
                    out["width"].append(img.shape[1])
                    out["height"].append(img.shape[0])
                    out["mean_rgb"].append(
                        [float(x) for x in img.mean(axis=(0, 1))]
                    )
                    out["decode_error"].append(None)
                except Exception as e:  # undecodable payload → quarantine
                    out["width"].append(None)
                    out["height"].append(None)
                    out["mean_rgb"].append(None)
                    out["decode_error"].append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(out)

    return binary_df.select(F.col(id_col), F.col("payload")).mapInPandas(
        batches, IMAGE_FEATURE_SCHEMA
    )


def resize_image(
    binary_df: DataFrame, width: int, height: int, id_col: str = "doc_id"
) -> DataFrame:
    """REAL resize for decodable payloads: nearest-neighbor via numpy
    index maps (PIL-free), re-encoded as binary PPM with metadata dims
    updated.  Undecodable rows pass through unchanged with
    ``decode_error`` set — same quarantine contract as
    :func:`image_features`.  `resize_stub` remains the codec-less
    deterministic stand-in for formats this cannot decode."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, binary_df.schema[id_col].dataType),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META),
            T.StructField("decode_error", T.StringType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads, metas, errs = [], [], []
            for payload, m in zip(pdf["payload"], pdf["media_meta"]):
                try:
                    img = decode_image(payload)
                    ys = (np.arange(height) * img.shape[0]) // height
                    xs = (np.arange(width) * img.shape[1]) // width
                    resized = img[ys][:, xs]
                    payloads.append(_encode_ppm(np.ascontiguousarray(resized)))
                    metas.append(
                        {
                            "media_type": m["media_type"],
                            "codec": "ppm",
                            "width": width,
                            "height": height,
                            "duration_ms": m["duration_ms"],
                        }
                    )
                    errs.append(None)
                except Exception as e:
                    payloads.append(bytes(payload))
                    metas.append(dict(m))
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": payloads,
                    "media_meta": metas,
                    "decode_error": errs,
                }
            )

    return binary_df.select(
        F.col(id_col), F.col("payload"), F.col("media_meta")
    ).mapInPandas(batches, out_schema)


def attach_binary_payload(
    df: DataFrame, id_col: str, text_col: str, media_type: str = "text"
) -> DataFrame:
    """Model a multimodal table from a text table: payload = UTF-8 bytes,
    plus a typed metadata struct.  (Real ingest reads files into the same
    shape: ``spark.read.format('binaryFile')`` gives path/length/content.)"""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit("utf-8").alias("codec"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("media_meta"),
    )


#: Target bytes per vectorized-reader batch for media payload tables.
#: Spark's columnar parquet reader pulls ``columnarReaderBatchSize``
#: ROWS (default 4096) per batch regardless of row width; at ~64 KB
#: binary payloads that is ~256 MB of heap PER TASK before Arrow
#: copies — 32 local threads OOMed a 16 g heap reading a 250k-clip WAV
#: corpus (sf5 ledger leg, round 11).  16 MB/batch keeps a full-width
#: executor under ~1 GB of reader buffers at any payload size.
MEDIA_READER_BATCH_BYTES = 16 * 1024 * 1024


def media_row_bytes(path: str) -> int:
    """Average encoded row width of a parquet table, from the first
    fragment's first row-group footer stats (``total_byte_size /
    num_rows`` — no data pages are read)."""
    import glob

    import pyarrow.parquet as pq

    frags = sorted(glob.glob(path.rstrip("/") + "/*.parquet")) or [path]
    meta = pq.ParquetFile(frags[0]).metadata
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        if rg.num_rows:
            return max(1, rg.total_byte_size // rg.num_rows)
    return 1


class bounded_media_reader:
    """Context manager bounding the vectorized parquet reader by BYTES
    (not rows) while media-payload actions run.

    Spark's columnar reader pulls ``columnarReaderBatchSize`` ROWS
    (default 4096) per batch regardless of row width — see
    :data:`MEDIA_READER_BATCH_BYTES` for the measured failure.  Row
    width is taken from ``sample_path``'s footer stats, then
    ``spark.sql.parquet.columnarReaderBatchSize`` and
    ``spark.sql.files.maxPartitionBytes`` are set so one batch is
    ~``target_batch_bytes`` and one task holds a few batches.  DSv1
    re-plans every ACTION with the session conf current at that moment,
    so the bound must stay in force for every action that scans the
    payload table — scope the WHOLE media pipeline (signature
    computation, dedup flags, writes) inside the ``with`` block; the
    prior confs are restored on exit.  Narrow-table queries outside the
    block keep the full-size reader batches.  This is the 100 TB ingest
    posture for media tables: reader memory is a function of the
    configured budget, never of payload width."""

    _KEYS = (
        "spark.sql.parquet.columnarReaderBatchSize",
        "spark.sql.files.maxPartitionBytes",
    )

    def __init__(
        self,
        spark,
        sample_path: str,
        target_batch_bytes: int = MEDIA_READER_BATCH_BYTES,
    ):
        self._spark = spark
        self._rows = max(
            16, min(4096, target_batch_bytes // media_row_bytes(sample_path))
        )
        # Split target: a few batches per task, but NEVER larger than the
        # session's own split size — the bound exists to shrink reader
        # memory, and raising maxPartitionBytes instead COARSENS the scan
        # (round 11: the 8×batch override packed a whole bench corpus
        # into 1-2 splits via openCostInBytes, serializing the Python
        # hashing stage onto one worker — the round-10 serial-scan
        # distortion reintroduced through the back door).
        session_split = 128 * 1024 * 1024
        try:
            session_split = int(
                spark.conf.get("spark.sql.files.maxPartitionBytes")
            )
        except Exception:  # non-numeric conf ("1g") keeps the default
            pass
        self._split = min(session_split, 8 * target_batch_bytes)
        self._saved: dict = {}

    def __enter__(self):
        conf = self._spark.conf
        self._saved = {k: conf.get(k) for k in self._KEYS}
        conf.set(self._KEYS[0], str(self._rows))
        conf.set(self._KEYS[1], str(self._split))
        return self

    def __exit__(self, *exc):
        conf = self._spark.conf
        for k, v in self._saved.items():
            conf.set(k, v)
        return False


def bound_media_session(
    spark, sample_path: str,
    target_batch_bytes: int = MEDIA_READER_BATCH_BYTES,
) -> None:
    """Set the bytes-bounded reader confs for the REST OF THE SESSION —
    for CLI verbs whose process exits after the media pipeline, where
    restoring the confs would be dead code."""
    bounded_media_reader(spark, sample_path, target_batch_bytes).__enter__()


def extract_features(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column:
    byte length + content hash (the deterministic stand-in for the decoded
    embedding).  Demonstrates the real batch shape a decoder plugs into."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "content_md5": pdf["payload"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return binary_df.select(F.col(id_col), F.col("payload")).mapInPandas(
        batches, FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup dedup (VERDICT r08 directive 4) — the
# operator a 100 TB multimodal pipeline actually runs: resized /
# re-encoded / brightness-shifted copies of one image collapse to the
# same (or Hamming-close) 64-bit aHash/dHash, and Hamming-band LSH
# turns the pair search into an equi-join — the minhash_lsh banding
# precedent applied to bit fingerprints.  Pure numpy over the
# dependency-free decoders; no PIL required.


def _block_mean(gray, out_h: int, out_w: int):
    """Area-mean downscale of a 2-D float array to (out_h, out_w).
    Mean pooling (not nearest-neighbor sampling) is what makes the hash
    resize-invariant: a 2x-downscaled copy has the same block means."""
    import numpy as np

    h, w = gray.shape
    ys = (np.arange(h) * out_h) // h
    xs = (np.arange(w) * out_w) // w
    out = np.zeros((out_h, out_w))
    cnt = np.zeros((out_h, out_w))
    np.add.at(out, (ys[:, None], xs[None, :]), gray)
    np.add.at(cnt, (ys[:, None], xs[None, :]), 1.0)
    return out / np.where(cnt == 0.0, 1.0, cnt)


def perceptual_hash_bytes(payload: bytes, algo: str = "dhash") -> int:
    """64-bit perceptual hash of one image payload (driver-side /
    per-row kernel).  ``dhash``: 8x9 block means, bit = right > left
    (gradient direction — invariant to uniform brightness shifts).
    ``ahash``: 8x8 block means, bit = above global mean."""
    import numpy as np

    img = decode_image(payload)
    gray = img.astype(np.float64).mean(axis=2)
    if algo == "dhash":
        small = _block_mean(gray, 8, 9)
        bits = small[:, 1:] > small[:, :-1]
    elif algo == "ahash":
        small = _block_mean(gray, 8, 8)
        bits = small > small.mean()
    else:
        raise ValueError(f"unknown perceptual hash algo: {algo}")
    h = int(np.packbits(bits.flatten()).view(">u8")[0])
    return h - (1 << 64) if h >= 1 << 63 else h  # two's-complement long


def _dhash_batch(grays) -> list:
    """dHash a BATCH of same-shape 2-D gray arrays in one vectorized
    pass (one np.add.at over the stacked (n, H, W) cube + one packbits)
    — the per-frame loop was ``video_signature``'s second cost after
    the frame slicing (round 10, VERDICT r09 directive 5).  Bit-equal
    to per-frame ``perceptual_hash_bytes(..., "dhash")``."""
    import numpy as np

    g = np.stack(grays)  # (n, h, w) float64
    n, h, w = g.shape
    ys = (np.arange(h) * 8) // h
    xs = (np.arange(w) * 9) // w
    out = np.zeros((n, 8, 9))
    cnt = np.zeros((8, 9))
    np.add.at(
        out,
        (
            np.arange(n)[:, None, None],
            ys[None, :, None],
            xs[None, None, :],
        ),
        g,
    )
    np.add.at(cnt, (ys[:, None], xs[None, :]), 1.0)
    small = out / np.where(cnt == 0.0, 1.0, cnt)[None, :, :]
    bits = small[:, :, 1:] > small[:, :, :-1]
    hs = np.packbits(bits.reshape(n, 64), axis=1).view(">u8").reshape(n)
    return [int(v) - (1 << 64) if v >= 1 << 63 else int(v) for v in hs]


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def image_perceptual_hash(
    binary_df: DataFrame, id_col: str = "doc_id", algo: str = "dhash"
) -> DataFrame:
    """(id, phash, decode_error) — Arrow-batched perceptual hashing over
    the payload column.  Undecodable rows keep their id with a NULL
    hash and the error text (same quarantine contract as
    :func:`image_features`); map-only, corpus-linear."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, hashes, errs = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                ids.append(int(doc_id))
                try:
                    hashes.append(perceptual_hash_bytes(bytes(payload), algo))
                    errs.append(None)
                except Exception as e:  # bad bytes are data, not bugs
                    hashes.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {"doc_id": ids, "phash": pd.array(hashes, dtype="Int64"),
                 "decode_error": errs}
            )

    return binary_df.select(F.col(id_col), F.col("payload")).mapInPandas(
        batches, PHASH_SCHEMA
    )


# Distinct-fingerprint count beyond which hamming_band_pairs widens its
# band keys with a second pigeonhole level (VERDICT r09: at max_hamming=4
# a single-level band key is only 12-13 bits — ~4-8k distinct values —
# so at ≥10M distinct fingerprints each key holds ≥10³ rows and the
# equi-join output grows quadratically per key.  The two-level key adds
# ~10 bits from the remaining bits, bounding expected occupancy at
# N / 2^23 while preserving EXACT pigeonhole recall; the cost is
# (d+1)² key rows per fingerprint instead of d+1, which is why small
# corpora stay single-level.  The threshold is set from the MEASURED
# crossover under the shipped sort-merge band join
# (SF1_LEDGER.hamming_crossover, round 10 — measured AFTER fixing the
# band join's broadcast misplan, which had been flattering neither
# policy consistently): single-level wins 3.8 vs 28.6 s at 2M and 16.2
# vs 52.4 s at 4M distinct fingerprints; its wall clock grows
# quadratically (4.2x per corpus doubling — the Σc² candidate term in
# its purest form) while two-level grows at ~1.8x per doubling
# (key-replication × sort, near-linear).  The two power laws cross at
# ~12M distinct; 8M is the conservative switch point (earlier switching
# costs up to 7x at 2-4M, later switching risks the quadratic's steep
# side on hot real-world hash distributions, which concentrate worse
# than the uniform synthetic corpus).
HAMMING_WIDE_KEYS_MIN = 8_000_000

#: Round 11 (VERDICT r10 directive 5): the fixed 8M switch point above
#: was calibrated on a UNIFORM synthetic corpus, but real near-dup
#: corpora concentrate band keys worse (balls of similar fingerprints
#: share band values), so their quadratic side arrives at smaller
#: distinct counts.  The distribution-free trigger is the
#: candidate-pair VOLUME itself: single-level join work is
#: ~2e-9 s/candidate-pair and two-level work ~1.4e-5 s/fingerprint
#: (both fitted from SF1_LEDGER.hamming_scaled/_crossover), so the
#: policies break even near pairs/N ≈ 7000; 4000 is the conservative
#: budget — EXACTLY the pairs/N the shipped 8M uniform point implies
#: (Σc(c−1)/2 ≈ 3.2e10 at 8M uniform ÷ 8M = 4000), so uniform corpora
#: switch where they always did and skewed ones switch earlier.
HAMMING_PAIRS_PER_ROW_SWITCH = 4_000

#: Distinct count below which the occupancy probe is skipped: the probe
#: is one tiny aggregation job (~0.2 s) but a dedup over a few thousand
#: fingerprints should not pay it — and below ~20k rows even a
#: fully-concentrated corpus stays within a ~1e9-pair worst case the
#: single-level join absorbs in seconds.
HAMMING_PROBE_MIN_DISTINCT = 20_000

#: Row budget for the occupancy probe's Bernoulli sample: fraction =
#: clamp(HAMMING_PROBE_SAMPLE_ROWS / N, 1%, 100%) — full scan below
#: 500k distinct (exact answer, still cheap), ~1% at 50M+.
HAMMING_PROBE_SAMPLE_ROWS = 500_000


def hamming_band_occupancy_probe(
    hashed: DataFrame,
    hash_col: str = "phash",
    max_hamming: int = 4,
    n_rows: int | None = None,
    sample_rows: int = HAMMING_PROBE_SAMPLE_ROWS,
    seed: int = 11,
) -> dict:
    """Estimate the single-level band join's candidate-pair volume from
    a row sample — the cheap skew witness that decides the band-key
    level (see :data:`HAMMING_PAIRS_PER_ROW_SWITCH`).

    Under Bernoulli row-sampling at rate ``p``, a key with true
    occupancy ``c`` contributes ``E[ĉ(ĉ−1)] = p²·c(c−1)``, so
    ``Σ ĉ(ĉ−1) / (2p²)`` is an UNBIASED estimator of the true
    candidate-pair count ``Σ c(c−1)/2`` — no occupancy-shape
    assumption.  Returns ``est_candidate_pairs`` plus the sampled p99
    rows/key and key count for observability (ledgered by
    tools/hamming_scaling.py).
    """
    n = n_rows if n_rows is not None else hashed.count()
    frac = min(1.0, max(0.01, sample_rows / max(n, 1)))
    s = hashed if frac >= 1.0 else hashed.sample(fraction=frac, seed=seed)
    bcols = hamming_band_key_cols(hash_col, max_hamming, None)
    row = (
        s.select(F.explode(F.array(*bcols)).alias("__band"))
        .groupBy("__band")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - F.lit(1))).alias("perm2"),
            F.expr("percentile_approx(c, 0.99)").alias("p99"),
            F.count(F.lit(1)).alias("keys"),
        )
        .collect()[0]
    )
    return {
        "n_rows": int(n),
        "sample_frac": round(frac, 4),
        "est_candidate_pairs": int((row["perm2"] or 0) / (2 * frac * frac)),
        "p99_rows_per_key_sampled": int(row["p99"] or 0),
        "sampled_keys": int(row["keys"] or 0),
    }


def choose_hamming_sub_bands(
    reps: DataFrame,
    hash_col: str,
    max_hamming: int,
    n_rows: int | None = None,
) -> int | None:
    """Band-key level policy for :func:`perceptual_dedup_flags`:
    two-level (``max_hamming + 1`` sub-bands) when the corpus is huge
    (``HAMMING_WIDE_KEYS_MIN`` — uniform hashes already quadratic
    there, no probe needed) OR when the sampled occupancy probe
    estimates more than :data:`HAMMING_PAIRS_PER_ROW_SWITCH` candidate
    pairs per fingerprint (skewed corpora cross the break-even long
    before 8M distinct).  ``None`` (single-level) otherwise.

    The decision is logged once at INFO on the ``paradump_spark``
    logger, with the level, ``n_rows``, the thresholds and (when the
    probe ran) ``est_candidate_pairs`` as a dict in ``record.args``."""
    n = n_rows if n_rows is not None else reps.count()
    est = None
    if n >= HAMMING_WIDE_KEYS_MIN:
        sub = max_hamming + 1
    elif n < HAMMING_PROBE_MIN_DISTINCT:
        sub = None
    else:
        est = hamming_band_occupancy_probe(
            reps, hash_col, max_hamming, n_rows=n
        )["est_candidate_pairs"]
        sub = max_hamming + 1 if est >= HAMMING_PAIRS_PER_ROW_SWITCH * n else None
    log.info(
        "hamming band keys %(level)s: n_rows=%(n_rows)s, "
        "est_candidate_pairs=%(est_candidate_pairs)s",
        {
            "level": "single" if sub is None else "two-level",
            "sub_bands": sub, "n_rows": n, "est_candidate_pairs": est,
            "wide_keys_min": HAMMING_WIDE_KEYS_MIN,
            "probe_min_distinct": HAMMING_PROBE_MIN_DISTINCT,
            "pairs_per_row_switch": HAMMING_PAIRS_PER_ROW_SWITCH,
        },
    )
    return sub


def hamming_band_key_cols(
    hash_col: str, max_hamming: int, sub_bands: int | None = None
) -> list:
    """The band-key struct columns :func:`hamming_band_pairs` joins on
    — factored out so scaling tools can measure key occupancy with the
    operator's own arithmetic.  Single-level keys are (band_idx,
    band_bits); two-level keys (``sub_bands``) add (sub_idx,
    sub_block_bits) drawn from the remaining bits — see
    :func:`hamming_band_pairs` for the recall proof."""
    bands = max_hamming + 1
    width = 64 // bands
    bcols = []
    for i in range(bands):
        w = width if i < bands - 1 else 64 - width * (bands - 1)
        seg = F.shiftrightunsigned(F.col(hash_col), i * width).bitwiseAND(
            F.lit((1 << w) - 1)
        )
        if not sub_bands:
            bcols.append(
                F.struct(F.lit(i).alias("i"), seg.alias("v")).alias(f"__b{i}")
            )
            continue
        # remaining bits (everything except band i), packed contiguously:
        # low bits stay in place, high bits shift down over the band.
        # Result has 64 - w ≤ 52 bits, so the long arithmetic never
        # touches the sign bit.
        low = F.col(hash_col).bitwiseAND(F.lit((1 << (i * width)) - 1))
        high = F.shiftrightunsigned(F.col(hash_col), i * width + w)
        rem = low.bitwiseOR(F.shiftleft(high, i * width))
        rw = 64 - w
        sw = rw // sub_bands
        for j in range(sub_bands):
            sww = sw if j < sub_bands - 1 else rw - sw * (sub_bands - 1)
            sseg = F.shiftrightunsigned(rem, j * sw).bitwiseAND(
                F.lit((1 << sww) - 1)
            )
            bcols.append(
                F.struct(
                    F.lit(i).alias("i"),
                    F.lit(j).alias("j"),
                    seg.alias("v"),
                    sseg.alias("s"),
                ).alias(f"__b{i}_{j}")
            )
    return bcols


def hamming_band_pairs(
    hashed: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 4,
    sub_bands: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) whose 64-bit hashes differ in at most
    ``max_hamming`` bits — EXACT, via Hamming-band LSH: the hash splits
    into ``max_hamming + 1`` contiguous bands, and by pigeonhole two
    hashes within the budget agree on at least one whole band, so one
    band-keyed equi-join generates every candidate (full recall, no
    cartesian); ``bit_count(xor)`` verifies exactly.  Shuffle is
    (bands x N) rows keyed by (band_idx, band_bits); a ball of
    identical hashes concentrates one band key the same way a hot
    minhash band does — dedup identical hashes first
    (:func:`image_dedup_flags` does) so this join only ever sees
    DISTINCT fingerprints.

    ``sub_bands`` (round 10, VERDICT r09 directive 3): a SECOND
    pigeonhole level that occupancy-bounds the band keys for huge
    distinct-fingerprint corpora.  With ``d = max_hamming`` errors and
    one band exact (first pigeonhole), the ≤ d mismatches all lie in
    the remaining ``64 - w`` bits; splitting those into ``sub_bands ≥
    d + 1`` contiguous sub-blocks, at least one sub-block is ALSO exact
    (second pigeonhole) — so keying on (band_idx, sub_idx, band_bits,
    sub_block_bits) still generates every true pair (full recall,
    table-permutation scheme in the spirit of Manku et al., WWW'07,
    "Detecting near-duplicates for web crawling").  Key width grows
    from ~13 to ~23 bits (8M values per table), capping expected
    per-key occupancy at any realistic corpus; replication grows from
    ``d+1`` to ``(d+1) × sub_bands`` rows per fingerprint.  ``None``
    keeps the single-level key (right below
    :data:`HAMMING_WIDE_KEYS_MIN` distinct fingerprints);
    :func:`perceptual_dedup_flags` auto-switches on the measured
    distinct count.

    The final ``.distinct()`` is load-bearing at scale even though the
    CC consumer absorbs duplicate edges natively: a near-identical pair
    agrees on up to every band key (measured 30× duplication on the
    video corpus), so skipping the dedup inflates the CC edge frame —
    tripping the bounded driver-CC cap ~bands× early and multiplying
    the first star round's shuffle — for the price of one saved
    exchange.  Measured and rejected in round 12."""
    bcols = hamming_band_key_cols(hash_col, max_hamming, sub_bands)
    banded = hashed.select(
        F.col(id_col), F.col(hash_col), F.explode(F.array(*bcols)).alias("__band")
    )
    a = banded.select(
        F.col("__band"), F.col(id_col).alias("id_a"), F.col(hash_col).alias("__ha")
    )
    b = banded.select(
        F.col("__band"), F.col(id_col).alias("id_b"), F.col(hash_col).alias("__hb")
    )
    # merge (sort-merge) hint: the banded frame usually sits downstream
    # of a localCheckpoint (perceptual_dedup_flags pins the hash stage),
    # so Catalyst's size estimate is unreliable and it picks a
    # BroadcastHashJoin of the WHOLE banded corpus — measured shipping
    # multi-GB tables at 1M distinct fingerprints and hard-failing
    # Spark's 8 GiB broadcast cap at 4M (round-10 crossover leg).  The
    # documented plan is ONE band-keyed shuffle on each side.  SMJ, not
    # shuffle_hash: the hash variant cannot spill its build side and
    # OOMed at 4M two-level keys (~3M build rows per task); sort-merge
    # spills both sides — the only join that survives any corpus size.
    return (
        a.join(b.hint("merge"), "__band")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _family_flags(
    sig: DataFrame,
    key: str,
    flag_name: str,
    edges_fn,
    valid=None,
) -> DataFrame:
    """The keyed-family core every media dedup pipeline shares.  Input
    ``(doc_id, <key>, decode_error)``; output every input row as
    ``(doc_id, <key>, <flag_name>, decode_error)``, the flag true iff a
    lower-id row in the same near-dup family exists — that lowest id is
    the kept representative.  Rows with a non-NULL ``decode_error`` (or
    failing ``valid``) are never flagged.

    Exact stage: ONE shuffle groups IDENTICAL keys to their min id, so a
    ball of identical signatures never reaches the edge generator.
    ``edges_fn(reps)`` turns the distinct ``(<key>, rep_id)`` frame into
    ``(id_a, id_b)`` near-dup edges between reps; large-star/small-star
    connected components close them transitively, and a left join +
    ``coalesce`` maps every row to its family keeper.  No vertices are
    passed: a rep with no edge coalesces to itself exactly as a
    self-labeled vertex would, so under the driver-CC cap the labels
    are a local, broadcast frame (no vertex union/distinct exchange).

    Pins: ``sig`` is consumed three times (exact stage, flags join, rep
    mapping) and ``reps`` by every edge-generator side and the rep
    mapping, so both are ``localCheckpoint``s — ``sig`` eagerly (the
    Python signature UDF runs once), ``reps`` lazily (a generator that
    needs the rep count materializes it with that same count job;
    otherwise the first edge job does).  These blocks belong to the
    returned frame and are freed with it (ContextCleaner); nothing is
    ``persist``ed, so no call leaves the session's CacheManager
    non-empty.  The pins drop lineage, so a lost executor fails the job
    rather than recomputing; over its driver cap
    :func:`~paradump_spark.operators.dedup.connected_components`
    truncates lineage the same way.
    """
    from paradump_spark.operators.dedup import connected_components

    sig = sig.localCheckpoint(eager=True)
    ok = sig.where(F.col("decode_error").isNull())
    if valid is not None:
        ok = ok.where(valid)
    reps = (
        ok.groupBy(key)
        .agg(F.min("doc_id").alias("rep_id"))
        .localCheckpoint(eager=False)
    )
    comp = connected_components(edges_fn(reps))
    fam = reps.join(
        comp.withColumnRenamed("id", "rep_id"), "rep_id", "left"
    ).select(
        key,
        F.coalesce(F.col("component"), F.col("rep_id")).alias("__keeper"),
    )
    return sig.join(fam, key, "left").select(
        F.col("doc_id"),
        F.col(key),
        (
            F.col("__keeper").isNotNull()
            & (F.col("doc_id") != F.col("__keeper"))
        ).alias(flag_name),
        F.col("decode_error"),
    )


def perceptual_dedup_flags(
    hashed: DataFrame,
    max_hamming: int = 4,
    flag_name: str = "is_dup",
    hash_col: str = "phash",
) -> DataFrame:
    """Shared Hamming-near-dup pipeline over any 64-bit fingerprint
    frame ``(doc_id, <hash_col>, decode_error)`` — the media-agnostic
    half of :func:`image_dedup_flags` / :func:`audio_dedup_flags`.
    Every input row + ``<flag_name>``: true iff a lower-id row in the
    same near-dup family (transitive closure of Hamming ≤
    ``max_hamming``) exists — that lowest id is the kept
    representative.  Undecodable rows (non-NULL ``decode_error``) are
    never flagged.

    Edges (:func:`_family_flags` core): a Hamming-band equi-join over
    the DISTINCT fingerprints, two-level keys when
    :func:`choose_hamming_sub_bands` says so (see
    :func:`hamming_band_pairs`).  No cartesian, no per-pair Python.
    """

    def edges(reps):
        # its count of the distinct fingerprints is also the job that
        # materializes the lazily pinned reps
        sub = choose_hamming_sub_bands(reps, hash_col, max_hamming)
        return hamming_band_pairs(
            reps.select(F.col("rep_id").alias("doc_id"), hash_col),
            "doc_id", hash_col, max_hamming, sub_bands=sub,
        ).select("id_a", "id_b")

    return _family_flags(hashed, hash_col, flag_name, edges)


def signature_set_dedup_flags(
    sig_df: DataFrame,
    flag_name: str = "is_dup",
    min_matches: int = 4,
    max_df: int = 256,
) -> DataFrame:
    """Set-matched near-dup pipeline over SUB-fingerprint arrays — the
    time-offset-robust half of the media dedup family (round 10,
    VERDICT r09 directive 4).  Input ``(doc_id, sig array<long>,
    decode_error)`` where ``sig`` is the sorted DISTINCT set of a
    clip's sub-fingerprints (overlapping-window audio hashes, per-frame
    video dHashes).  Two clips are near-dups when they SHARE at least
    ``min(min_matches, |smaller set|)`` sub-fingerprint values —
    position-free, so a trimmed or time-offset copy (whose surviving
    sub-fingerprints are identical values at different positions) still
    matches; families close transitively, lowest id kept.  The
    published precedent is Haitsma & Kalker's sub-fingerprint lookup
    (ISMIR 2002): any surviving exact 32-bit block is a match
    candidate.

    Edges (:func:`_family_flags` core, non-empty sets only): a
    per-value equi-join over DISTINCT sets with a document-frequency
    cap (``max_df``): a sub-fingerprint shared by more than ``max_df``
    distinct sets is dropped from the join — such values are
    non-discriminative (near-silence, black frames) AND are exactly the
    hot keys that would make the join output quadratic; the cap bounds
    per-key join output at ``max_df²`` — → shared-count aggregation →
    threshold.  No cartesian, no per-pair Python."""

    def edges(reps):
        elems = reps.select(
            F.col("rep_id"),
            F.size("sig").alias("__n"),
            F.explode("sig").alias("__v"),
        )
        # df-cap: the hot-value list is tiny by construction (≤ one row
        # per value above the cap) — broadcast anti-join
        hot = (
            elems.groupBy("__v")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_df)
            .select("__v")
        )
        elems = elems.join(F.broadcast(hot), "__v", "left_anti")
        a = elems.select(
            "__v", F.col("rep_id").alias("id_a"), F.col("__n").alias("__na")
        )
        b = elems.select(
            "__v", F.col("rep_id").alias("id_b"), F.col("__n").alias("__nb")
        )
        shared = (
            a.join(b, "__v")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "__na", "__nb")
            .agg(F.count(F.lit(1)).alias("__shared"))
        )
        # cap the threshold by the smaller set so short clips can merge
        # (the video_dedup_flags short-signature precedent, ADVICE r09)
        eff_min = F.least(
            F.col("__na"), F.col("__nb"), F.lit(min_matches)
        )
        return shared.where(F.col("__shared") >= eff_min).select(
            "id_a", "id_b"
        )

    return _family_flags(
        sig_df, "sig", flag_name, edges, valid=F.size("sig") > 0
    )


def image_dedup_flags(
    binary_df: DataFrame,
    id_col: str = "doc_id",
    algo: str = "dhash",
    max_hamming: int = 4,
) -> DataFrame:
    """Every input row + ``is_image_dup``: true iff a lower-id image in
    the same near-dup family (transitive closure of Hamming ≤
    ``max_hamming`` on the perceptual hash) exists — that lowest id is
    the kept representative.  Undecodable rows are never flagged (they
    carry ``decode_error`` instead).  Pipeline shape documented at
    :func:`perceptual_dedup_flags`.
    """
    h = image_perceptual_hash(binary_df, id_col, algo)
    return perceptual_dedup_flags(h, max_hamming, "is_image_dup")


def synthetic_image_corpus(
    df: DataFrame, id_col: str = "doc_id", groups: int = 25
) -> DataFrame:
    """Deterministic synthetic image corpus over any id column — the
    dependency-free test/demo feed for the perceptual-hash dedup.
    Each id renders a PPM whose content is a pseudo-random
    piecewise-constant pattern on dHash's 8x9 sampling grid, keyed by
    ``id % groups`` — so a group is a near-dup family whose members
    differ only in ways dHash is built to absorb: a per-id uniform
    brightness shift, every 41st id a 3x-DOWNSCALED render (the
    resize-invariance case), every 29th id one perturbed grid cell
    (≤ 2 flipped hash bits — the Hamming-band near-dup case), and
    every 37th id undecodable junk (the quarantine case).  Two
    different groups get independent pseudo-random 64-bit patterns
    (~32 expected differing bits), far outside ``max_hamming``."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def render(i: int) -> bytes:
            if i % 37 == 13:
                return b"JUNK-not-an-image-" + str(i).encode()
            g = i % groups
            r = np.arange(8, dtype=np.uint64)[:, None]
            c = np.arange(9, dtype=np.uint64)[None, :]
            # murmur-style per-cell mix — an affine pattern would shift
            # every cell uniformly across groups and alias their hashes
            x = (
                (np.uint64(g) * np.uint64(73856093))
                ^ (r * np.uint64(19349663))
                ^ (c * np.uint64(83492791))
            )
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
            x = x ^ (x >> np.uint64(33))
            v = (x % np.uint64(97)).astype(np.int64)
            if i % 29 == 3:  # one perturbed cell: ≤ 2 hash bits flip
                v = v.copy()
                v[3, 4] = (v[3, 4] + 50) % 97
            cells = (v * 2 + 10 + (i // groups) % 3).astype(np.uint8)
            ry, rx = (1, 1) if i % 41 == 7 else (3, 2)  # 8x9 or 24x18
            base = np.repeat(np.repeat(cells, ry, axis=0), rx, axis=1)
            img = np.stack([base, base, base], axis=2)
            return _encode_ppm(np.ascontiguousarray(img))

        for pdf in it:
            ids = [int(x) for x in pdf[id_col]]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [render(i) for i in ids]}
            )

    return df.select(F.col(id_col)).mapInPandas(batches, out_schema)


def sample_frames(
    binary_df: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Frame sampling plumbing: each media row fans out to ``n_frames``
    rows of (frame_idx, timestamp, frame bytes) — the 1→N Arrow-batch
    shape a real video decoder fills in.  The decode itself is stubbed
    with a deterministic fake (md5-keyed bytes, evenly spaced timestamps
    over ``media_meta.duration_ms``) so tests pin schema, cardinality,
    and determinism without codecs."""
    if n_frames <= 0:
        raise ValueError(f"n_frames must be positive, got {n_frames}")
    # keep the caller's id column name AND type (string/long/... ids all work)
    out_schema = T.StructType(
        [
            T.StructField(id_col, binary_df.schema[id_col].dataType),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_ms", T.LongType()),
            T.StructField("frame_payload", T.BinaryType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, idxs, tss, frames = [], [], [], []
            for doc_id, payload, dur in zip(
                pdf[id_col], pdf["payload"], pdf["duration_ms"]
            ):
                total = int(dur) if dur and dur > 0 else n_frames
                for k in range(n_frames):
                    ids.append(doc_id)
                    idxs.append(k)
                    tss.append((k * total) // n_frames)
                    # deterministic fake "decoded frame": keyed digest bytes
                    frames.append(
                        hashlib.md5(bytes(payload) + k.to_bytes(4, "big")).digest()
                    )
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_ms": pd.Series(tss, dtype="int64"),
                    "frame_payload": frames,
                }
            )

    src = binary_df.select(
        F.col(id_col),
        F.col("payload"),
        F.col("media_meta.duration_ms").alias("duration_ms"),
    )
    return src.mapInPandas(batches, out_schema)


def resize_stub(
    binary_df: DataFrame, width: int, height: int, id_col: str = "doc_id"
) -> DataFrame:
    """Resize plumbing: payload → payload' with updated metadata dims.
    The pixel work is a stub (deterministic digest bytes sized to the
    target) — swap the inner function for PIL in production; the Spark
    side (schema preservation, Arrow batching, metadata rewrite) is real."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        fake_len = max(16, (width * height) // 64)  # stand-in byte budget
        for pdf in it:
            resized = [
                (hashlib.md5(bytes(b)).digest() * (fake_len // 16 + 1))[:fake_len]
                for b in pdf["payload"]
            ]
            metas = [
                {
                    "media_type": m["media_type"],
                    "codec": m["codec"],
                    "width": width,
                    "height": height,
                    "duration_ms": m["duration_ms"],
                }
                for m in pdf["media_meta"]
            ]
            yield pd.DataFrame(
                {id_col: pdf[id_col].astype("int64"), "payload": resized, "media_meta": metas}
            )

    return binary_df.mapInPandas(batches, out_schema)


def read_media_dir(
    spark,
    path: str,
    media_type: str = "image",
    glob: str | None = None,
) -> DataFrame:
    """Real multimodal ingest: ``binaryFile`` source over a directory →
    the same (doc_id, payload, media_meta) shape :func:`extract_features`
    / :func:`sample_frames` consume.

    ``binaryFile`` streams each file's bytes as one row (path, length,
    modificationTime, content) — distributed, no driver involvement;
    ``doc_id`` is the path's 60-bit md5 (stable across re-ingests).
    Dimension/duration metadata stays NULL until a real decoder fills it.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    return raw.select(
        F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10)
        .cast("long")
        .alias("doc_id"),
        F.col("path"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(None).cast("string").alias("codec"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("media_meta"),
    )


# ---------------------------------------------------------------------------
# Real audio decode: WAV/RIFF PCM parses dependency-free (the audio
# twin of the PPM/BMP image path); compressed codecs raise the honest
# NotImplementedError and flow into decode_error.


def _soundfile_decode(data: bytes):
    """Optional-dependency path: libsndfile via ``soundfile`` (FLAC,
    OGG/Vorbis, AIFF, …).  Returns (float64 (frames, channels) in
    [-1, 1], rate) or None when the package is absent."""
    try:
        import soundfile as sf  # optional dependency
    except ImportError:
        return None
    import io

    x, rate = sf.read(io.BytesIO(data), dtype="float64", always_2d=True)
    return x, int(rate)


def _av_decode_audio(data: bytes):
    """Optional-dependency path: libav via PyAV (MP3, AAC/MP4, OGG/Opus,
    …).  Returns (float64 (frames, channels), rate) or None when the
    package is absent."""
    try:
        import av  # optional dependency
    except ImportError:
        return None
    import io

    import numpy as np

    chunks, rate, nch = [], None, None
    with av.open(io.BytesIO(data)) as container:
        stream = next(s for s in container.streams if s.type == "audio")
        rate = int(stream.codec_context.sample_rate)
        nch = int(stream.codec_context.channels)
        for frame in container.decode(stream):
            arr = frame.to_ndarray()
            if arr.dtype.kind == "i":
                arr = arr.astype(np.float64) / float(
                    np.iinfo(arr.dtype).max + 1
                )
            elif arr.dtype.kind == "u":
                arr = (arr.astype(np.float64) - 128.0) / 128.0
            else:
                arr = arr.astype(np.float64)
            if arr.ndim == 1:
                arr = arr[None, :]
            chunks.append(arr)
    if not chunks:
        raise ValueError("container holds no decodable audio frames")
    x = np.concatenate(chunks, axis=1)
    if x.shape[0] == 1 and nch > 1:  # packed/interleaved sample format
        x = x.reshape(-1, nch).T
    return x.T, rate


def decode_audio(payload: bytes):
    """Decode audio to ``(samples, sample_rate)`` — samples a float64
    (n_frames, n_channels) array scaled to [-1, 1].

    WAV (RIFF, PCM 8/16/32-bit int or 32/64-bit float) parses
    dependency-free; other containers route through the GUARDED
    optional decoders — ``soundfile`` (FLAC/OGG/AIFF) then PyAV
    (MP3/AAC/MP4/Opus) — the PIL precedent from :func:`decode_image`.
    With neither installed, non-WAV raises ``NotImplementedError`` and
    flows into the callers' ``decode_error`` quarantine."""
    import numpy as np

    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        # per-decoder availability tracked separately (ADVICE r06): a
        # container one INSTALLED decoder rejects might still decode
        # with the UNINSTALLED one (e.g. soundfile rejects MP3, PyAV
        # absent) — that is a missing-dependency situation, not bad
        # data, and must quarantine with the install hint.
        rejected: list[tuple[str, Exception]] = []
        absent: list[str] = []
        for name, dec in (
            ("soundfile", _soundfile_decode),
            ("PyAV", _av_decode_audio),
        ):
            try:
                got = dec(data)
            except Exception as e:  # decoder installed, container bad for it
                rejected.append((name, e))
                continue
            if got is None:  # package absent
                absent.append(name)
                continue
            return got
        if absent:
            detail = (
                "; ".join(f"{n} rejected it ({e})" for n, e in rejected)
                or "no audio decoder installed"
            )
            raise NotImplementedError(
                f"decoding this audio format needs {' or '.join(absent)} "
                f"installed ({detail}); install soundfile or PyAV — "
                "WAV/PCM decodes natively"
            )
        raise ValueError(
            f"undecodable audio container: {rejected[-1][1]}"
        )
    pos, fmt, raw = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format == 1:  # integer PCM
        if bits == 8:  # unsigned, offset-binary
            x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 32:
            x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
        else:
            raise NotImplementedError(f"{bits}-bit integer PCM not supported")
    elif audio_format == 3:  # IEEE float
        x = np.frombuffer(raw, dtype="<f4" if bits == 32 else "<f8").astype(
            np.float64
        )
    else:
        raise NotImplementedError(
            f"WAV audio_format={audio_format} (compressed) not supported "
            "without audio libraries"
        )
    return x.reshape(-1, n_channels), sample_rate


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def audio_features(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decoded-audio features: sample rate, channel count,
    duration, RMS level, absolute peak — the speech-corpus curation
    signals (silence/clipping gates key on rms/peak).  Same quarantine
    contract as :func:`image_features`: undecodable rows keep their id
    with the error text in ``decode_error``."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = {k.name: [] for k in AUDIO_FEATURE_SCHEMA.fields}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                out["doc_id"].append(int(doc_id))
                try:
                    x, sr = decode_audio(payload)
                    out["sample_rate"].append(sr)
                    out["n_channels"].append(x.shape[1])
                    out["duration_ms"].append(
                        int(x.shape[0] * 1000 // sr) if sr else 0
                    )
                    out["rms"].append(
                        float(np.sqrt(np.mean(np.square(x)))) if x.size else 0.0
                    )
                    out["peak"].append(
                        float(np.max(np.abs(x))) if x.size else 0.0
                    )
                    out["decode_error"].append(None)
                except Exception as e:
                    for k in ("sample_rate", "n_channels", "duration_ms",
                              "rms", "peak"):
                        out[k].append(None)
                    out["decode_error"].append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(out)

    return binary_df.select(F.col(id_col), F.col("payload")).mapInPandas(
        batches, AUDIO_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Audio perceptual hashing + near-dup dedup — the audio member of the
# media-dedup family (image_dedup_flags is the image member).  The
# fingerprint is an energy-difference hash: the signal splits into 65
# equal-duration segments, and bit i compares the RMS energy of segment
# i+1 against segment i — the 1-D analogue of dHash's gradient bits.
# By construction it is invariant to uniform gain changes (monotone
# scaling preserves every RMS comparison), resampling (segments are
# fractions of total duration, and RMS is rate-independent), bit-depth
# re-encodes (quantization noise ≪ inter-segment contrast), and channel
# layout (downmix first).  Reference has no media ops; public-method
# precedent: Haitsma & Kalker, "A Highly Robust Audio Fingerprinting
# System" (ISMIR 2002) — band-energy difference bits; this is the
# dependency-free time-domain variant (no FFT needed for the
# gain/resample/requantize invariances the dedup targets).


def audio_fingerprint_bytes(payload: bytes) -> int:
    """64-bit energy-difference fingerprint of one audio payload
    (per-row kernel; see module comment above for the invariances).
    Raises on undecodable/too-short payloads — callers quarantine."""
    import numpy as np

    x, _rate = decode_audio(payload)
    mono = x.mean(axis=1) if x.ndim == 2 else x
    n = mono.shape[0]
    if n < 65:
        raise ValueError(f"audio too short to fingerprint: {n} samples")
    bounds = (np.arange(66, dtype=np.int64) * n) // 65
    sq = np.concatenate(([0.0], np.cumsum(np.square(mono))))
    seg_e = (sq[bounds[1:]] - sq[bounds[:-1]]) / np.maximum(
        bounds[1:] - bounds[:-1], 1
    )
    bits = seg_e[1:] > seg_e[:-1]
    h = int(np.packbits(bits).view(">u8")[0])
    return h - (1 << 64) if h >= 1 << 63 else h  # two's-complement long


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def audio_perceptual_hash(
    binary_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, phash, decode_error) — Arrow-batched audio fingerprinting
    over the payload column; map-only, corpus-linear, same quarantine
    contract as :func:`image_perceptual_hash`."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, hashes, errs = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                ids.append(int(doc_id))
                try:
                    hashes.append(audio_fingerprint_bytes(bytes(payload)))
                    errs.append(None)
                except Exception as e:  # bad bytes are data, not bugs
                    hashes.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {"doc_id": ids, "phash": pd.array(hashes, dtype="Int64"),
                 "decode_error": errs}
            )

    return binary_df.select(F.col(id_col), F.col("payload")).mapInPandas(
        batches, AHASH_SCHEMA
    )


def audio_dedup_flags(
    binary_df: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 4,
) -> DataFrame:
    """Every input row + ``is_audio_dup``: true iff a lower-id clip in
    the same near-dup family (transitive Hamming ≤ ``max_hamming`` on
    the energy-difference fingerprint) exists.  Gain-scaled, resampled
    and requantized re-encodes of the same clip land in one family;
    undecodable rows quarantine unflagged.  Pipeline shape documented
    at :func:`perceptual_dedup_flags` — one exact-hash shuffle, a
    Hamming-band equi-join over distinct fingerprints, then CC."""
    h = audio_perceptual_hash(binary_df, id_col)
    return perceptual_dedup_flags(h, max_hamming, "is_audio_dup")


# --- time-offset-robust audio matching (round 10, VERDICT r09
# directive 4).  The 65-segment fingerprint above divides the WHOLE
# clip into equal fractions, so a 0.5 s trim shifts every segment
# boundary and the hash diverges — yet trims and offsets are the
# commonest real re-encode transforms.  The robust path is the
# Haitsma-Kalker shape (ISMIR 2002): OVERLAPPING fixed-duration
# windows, each emitting a 32-bit energy-difference sub-fingerprint,
# matched as a SET (any surviving exact sub-fingerprint block is a
# match candidate; position is irrelevant).  A trim by a multiple of
# the segment duration leaves every overlap window bit-identical;
# arbitrary sub-segment offsets degrade gracefully (boundary windows
# flip bits; interior bits survive in proportion to envelope
# smoothness — H-K §3: the hop must be small against the envelope
# correlation time).


SUBFP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
        T.StructField("decode_error", T.StringType()),
    ]
)


def audio_subfingerprints_bytes(
    payload: bytes, seg_ms: int = 20, frame_bits: int = 32
) -> list:
    """Sorted distinct 32-bit sub-fingerprints of one clip: RMS energy
    per FIXED ``seg_ms`` segment (absolute time, NOT a fraction of the
    clip — that is what makes trims alignable), difference bit per
    adjacent segment pair, one sub-fingerprint per sliding
    ``frame_bits``-bit window at 1-segment hop.  Gain / resample /
    requantize invariant for the same reasons as
    :func:`audio_fingerprint_bytes`; additionally, a trim or offset by
    k·seg_ms preserves every fully-overlapping window VERBATIM."""
    import numpy as np

    x, rate = decode_audio(payload)
    mono = x.mean(axis=1) if x.ndim == 2 else x
    spseg = max(1, round(rate * seg_ms / 1000))
    nseg = mono.shape[0] // spseg
    if nseg < frame_bits + 1:
        raise ValueError(
            f"audio too short for robust sub-fingerprints: {nseg} "
            f"segments < {frame_bits + 1}"
        )
    n = nseg * spseg
    sq = np.concatenate(([0.0], np.cumsum(np.square(mono[:n]))))
    bounds = np.arange(nseg + 1, dtype=np.int64) * spseg
    seg_e = sq[bounds[1:]] - sq[bounds[:-1]]  # equal lengths: RMS ∝ sum
    bits = (seg_e[1:] > seg_e[:-1]).astype(np.uint64)
    # sliding frame_bits-bit windows via one rolling shift-or pass
    acc = np.uint64(0)
    mask = np.uint64((1 << frame_bits) - 1)
    out = []
    for i, bit in enumerate(bits):
        acc = ((acc << np.uint64(1)) | bit) & mask
        if i >= frame_bits - 1:
            out.append(int(acc))
    return sorted(set(out))


def audio_robust_signatures(
    binary_df: DataFrame,
    id_col: str = "doc_id",
    seg_ms: int = 20,
    frame_bits: int = 32,
) -> DataFrame:
    """(id, sig, decode_error) — Arrow-batched overlapping-window
    sub-fingerprint sets; map-only, corpus-linear, same quarantine
    contract as :func:`audio_perceptual_hash`."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, sigs, errs = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                ids.append(int(doc_id))
                try:
                    sigs.append(
                        audio_subfingerprints_bytes(
                            bytes(payload), seg_ms, frame_bits
                        )
                    )
                    errs.append(None)
                except Exception as e:  # bad bytes are data, not bugs
                    sigs.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {"doc_id": ids, "sig": sigs, "decode_error": errs}
            )

    return binary_df.select(F.col(id_col), F.col("payload")).mapInPandas(
        batches, SUBFP_SCHEMA
    )


def audio_robust_dedup_flags(
    binary_df: DataFrame,
    id_col: str = "doc_id",
    min_matches: int = 4,
    seg_ms: int = 20,
    max_df: int = 256,
) -> DataFrame:
    """Every input row + ``is_audio_dup``: TRIM/OFFSET-robust audio
    near-dup dedup — gain-scaled, resampled, requantized AND
    trimmed/time-shifted re-encodes of one clip land in one family
    (≥ ``min_matches`` shared sub-fingerprints, transitive closure,
    min-id keeper).  Pipeline shape documented at
    :func:`signature_set_dedup_flags`."""
    sig = audio_robust_signatures(binary_df, id_col, seg_ms)
    return signature_set_dedup_flags(sig, "is_audio_dup", min_matches, max_df)


def _encode_wav(samples, rate: int, bits: int = 16) -> bytes:
    """Minimal RIFF/WAVE PCM encoder (mono float64 [-1,1] input) — the
    synthesis half of :func:`decode_audio`'s dependency-free parser."""
    import numpy as np
    import struct

    x = np.clip(samples, -1.0, 1.0)
    if bits == 16:
        raw = (x * 32767.0).astype("<i2").tobytes()
    elif bits == 8:
        raw = (np.round(x * 127.0) + 128).astype(np.uint8).tobytes()
    else:
        raise ValueError(f"unsupported synthetic bit depth {bits}")
    block = bits // 8  # mono
    fmt = struct.pack(
        "<HHIIHH", 1, 1, rate, rate * block, block, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synthetic_audio_corpus(
    df: DataFrame, id_col: str = "doc_id", groups: int = 25
) -> DataFrame:
    """Deterministic synthetic WAV corpus over any id column — the
    dependency-free test/demo feed for the audio near-dup dedup.  A
    group (``id % groups``) is a near-dup family: one pseudo-random
    65-segment energy profile (Nyquist square wave per segment, so each
    segment's RMS is exactly its amplitude), rendered per id with the
    variations the fingerprint is built to absorb — every 31st id at
    half gain, every 41st id RESAMPLED to half the rate (same
    duration), every 43rd id re-encoded at 8-bit depth, every 29th id
    with one perturbed segment (≤ 2 flipped hash bits — the
    Hamming-band near-dup case), and every 37th id undecodable junk
    (the quarantine case).  Adjacent segment levels are forced distinct
    so no energy-comparison bit sits on a quantization knife-edge."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def levels(g: int) -> "np.ndarray":
            s = np.arange(65, dtype=np.uint64)
            x = (np.uint64(g) * np.uint64(73856093)) ^ (
                s * np.uint64(19349663)
            )
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
            x = x ^ (x >> np.uint64(33))
            lv = (x % np.uint64(31)).astype(np.int64)
            for i in range(1, 65):  # no adjacent ties → stable bits
                if lv[i] == lv[i - 1]:
                    lv[i] = (lv[i] + 1) % 31
            return lv

        def render(i: int) -> bytes:
            if i % 37 == 13:
                return b"RIFFjunk-not-audio-" + str(i).encode()
            amp = 0.08 + 0.88 * levels(i % groups) / 30.0
            if i % 29 == 3:  # one perturbed segment: ≤ 2 hash bits flip
                amp = amp.copy()
                amp[31] = 0.08 + 0.88 * ((levels(i % groups)[31] + 15) % 31) / 30.0
            if i % 31 == 5:
                amp = amp * 0.5  # uniform gain change
            rate = 8000 if i % 41 == 7 else 16000
            per_seg = rate // 100  # 0.65 s clip at either rate
            wave = np.repeat(amp, per_seg)
            wave[1::2] *= -1.0  # Nyquist square wave: RMS == amplitude
            bits = 8 if i % 43 == 11 else 16
            return _encode_wav(wave, rate, bits)

        for pdf in it:
            ids = [int(x) for x in pdf[id_col]]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [render(i) for i in ids]}
            )

    return df.select(F.col(id_col)).mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# Real frame sampling for a codec-free motion container: a "PPM stream"
# is concatenated binary P6 frames (the uncompressed-video analogue of
# the PPM/BMP image and WAV audio choices — real parsing, no codec
# dependency).  Real video containers (mp4/webm) still need libav and
# flow into decode_error, same quarantine contract.


def ppm_frame_offsets(payload: bytes) -> list:
    """(start, end) byte offsets of every P6 frame in a concatenated
    stream — header-only walk (each step reads ~15 header bytes then
    jumps ``w*h*3``), NO pixel copies.  Samplers slice just the frames
    they need instead of materializing all of them (round 10, VERDICT
    r09 directive 5: the per-frame slice copies were the dominant cost
    of ``video_signature`` on long streams)."""
    data = bytes(payload)
    spans, i = [], 0
    while i < len(data):
        if data[i : i + 2] != b"P6":
            raise ValueError(f"not a P6 frame at offset {i}")
        j, fields = i + 2, []
        while len(fields) < 3:
            while data[j : j + 1].isspace():
                j += 1
            if data[j : j + 1] == b"#":
                while j < len(data) and data[j] != 0x0A:
                    j += 1
                continue
            k = j
            while k < len(data) and not data[k : k + 1].isspace():
                k += 1
            fields.append(data[j:k])
            j = k
        w, h, _maxval = (int(f) for f in fields)
        j += 1  # single whitespace after maxval
        end = j + w * h * 3
        spans.append((i, end))
        i = end
    return spans


def split_ppm_stream(payload: bytes) -> list:
    """Split a concatenated-P6 stream into per-frame byte slices
    (header parse gives each frame's exact pixel length)."""
    data = bytes(payload)
    return [data[s:e] for s, e in ppm_frame_offsets(data)]


def _av_sample_video_frames(data: bytes, n_frames: int):
    """Optional-dependency path: real container (MP4/WebM/MKV/…) frame
    sampling via PyAV.  Returns ``[(stream_pos, ppm_bytes), …]`` —
    every sampled frame re-encoded as binary P6 PPM, the repo's
    codec-free interchange format, so downstream `decode_image` /
    `image_features` consume container frames and PPM-stream frames
    identically.  Returns None when PyAV is absent.

    Decodes the whole stream once then picks evenly spaced frames —
    exact and simple; keyframe ``seek()`` per sample is the production
    refinement for hour-long inputs (trades exactness of the sample
    positions for one GOP decode per frame)."""
    try:
        import av  # optional dependency
    except ImportError:
        return None
    import io

    frames = []
    with av.open(io.BytesIO(data)) as container:
        stream = next(s for s in container.streams if s.type == "video")
        for frame in container.decode(stream):
            frames.append(frame.to_ndarray(format="rgb24"))
    if not frames:
        raise ValueError("container holds no decodable video frames")
    total = len(frames)
    take = min(n_frames, total)
    out = []
    for k in range(take):
        pos = (k * total) // take
        out.append((pos, _encode_ppm(frames[pos])))
    return out


def sample_frames_real(
    binary_df: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL frame sampling: concatenated-P6 PPM streams parse
    dependency-free; real video containers (MP4/WebM/MKV/…) decode
    through the GUARDED PyAV path (:func:`_av_sample_video_frames`) —
    the PIL precedent.  Either way the output frames are standalone
    decodable P6 PPM payloads with their index within the stream.
    Streams with fewer frames than requested yield what they have;
    undecodable payloads (including containers when PyAV is absent)
    quarantine via ``decode_error``.  `sample_frames` remains the
    deterministic-fake twin.
    """
    if n_frames <= 0:
        raise ValueError(f"n_frames must be positive, got {n_frames}")
    out_schema = T.StructType(
        [
            T.StructField(id_col, binary_df.schema[id_col].dataType),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("stream_pos", T.IntegerType()),
            T.StructField("frame_payload", T.BinaryType()),
            T.StructField("decode_error", T.StringType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, idxs, poss, payloads, errs = [], [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                try:
                    data = bytes(payload)
                    if data[:2] == b"P6":
                        frames = split_ppm_stream(data)
                        total = len(frames)
                        take = min(n_frames, total)
                        picked = [
                            ((k * total) // take, frames[(k * total) // take])
                            for k in range(take)
                        ]
                    else:
                        picked = _av_sample_video_frames(data, n_frames)
                        if picked is None:
                            raise NotImplementedError(
                                "decoding this video container requires "
                                "PyAV (not installed); P6 PPM streams "
                                "parse natively"
                            )
                    for k, (pos, fp) in enumerate(picked):
                        ids.append(doc_id)
                        idxs.append(k)
                        poss.append(pos)
                        payloads.append(fp)
                        errs.append(None)
                except Exception as e:
                    ids.append(doc_id)
                    idxs.append(None)
                    poss.append(None)
                    payloads.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids),
                    "frame_idx": pd.Series(idxs, dtype="Int32"),
                    "stream_pos": pd.Series(poss, dtype="Int32"),
                    "frame_payload": payloads,
                    "decode_error": errs,
                }
            )

    return binary_df.select(F.col(id_col), F.col("payload")).mapInPandas(
        batches, out_schema
    )


# ---------------------------------------------------------------------------
# Video near-dup dedup — the motion member of the media-dedup family.
# A video's fingerprint is the SEQUENCE of per-frame dHashes at n
# evenly-spaced sample positions; two videos are near-dups when at
# least ``min_matching`` aligned sample slots land within the per-frame
# Hamming budget.  Candidate generation is slot-aligned Hamming-band
# LSH (pigeonhole per slot: a matching slot pair agrees on one whole
# band of that slot's hash), verification is a JVM-side zip_with over
# the two signatures — no cartesian, no per-pair Python.


VIDEO_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
        T.StructField("decode_error", T.StringType()),
    ]
)


def video_signature(
    binary_df: DataFrame, id_col: str = "doc_id", n_frames: int = 8
) -> DataFrame:
    """(id, sig, decode_error) — per-video array of 64-bit frame
    dHashes at ``n_frames`` evenly-spaced sample positions.  P6 PPM
    streams parse dependency-free; real containers route through the
    guarded PyAV path; undecodable rows quarantine with a NULL sig.
    Map-only, one pass over the payload bytes per video."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        def sig_of(data: bytes) -> list:
            import numpy as np

            if data[:2] == b"P6":
                # header-only offset walk, then slice ONLY the sampled
                # frames (VERDICT r09 directive 5: slicing every frame
                # was the dominant per-row cost on long streams)
                spans = ppm_frame_offsets(data)
                total = len(spans)
                take = min(n_frames, total)
                picked = [
                    data[slice(*spans[(k * total) // take])]
                    for k in range(take)
                ]
            else:
                got = _av_sample_video_frames(data, n_frames)
                if got is None:
                    raise NotImplementedError(
                        "decoding this video container requires PyAV "
                        "(not installed); P6 PPM streams parse natively"
                    )
                picked = [fp for _pos, fp in got]
            grays = [
                decode_image(fp).astype(np.float64).mean(axis=2)
                for fp in picked
            ]
            if grays and len({g.shape for g in grays}) == 1:
                return _dhash_batch(grays)  # one vectorized pass
            return [perceptual_hash_bytes(fp, "dhash") for fp in picked]

        for pdf in it:
            ids, sigs, errs = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                ids.append(int(doc_id))
                try:
                    sigs.append(sig_of(bytes(payload)))
                    errs.append(None)
                except Exception as e:  # bad bytes are data, not bugs
                    sigs.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {"doc_id": ids, "sig": sigs, "decode_error": errs}
            )

    return binary_df.select(F.col(id_col), F.col("payload")).mapInPandas(
        batches, VIDEO_SIG_SCHEMA
    )


def video_dedup_flags(
    binary_df: DataFrame,
    id_col: str = "doc_id",
    n_frames: int = 8,
    max_hamming: int = 4,
    min_matching: int | None = None,
) -> DataFrame:
    """Every input row + ``is_video_dup``: true iff a lower-id video in
    the same near-dup family exists, where two videos are near-dups
    when ≥ ``min_matching`` (default ¾ of ``n_frames``) aligned sample
    slots have frame dHashes within Hamming ≤ ``max_hamming``; families
    close transitively (connected components), lowest id is the kept
    representative.  Undecodable rows are never flagged.

    Edges (:func:`_family_flags` core): a slot-aligned Hamming-band
    equi-join over the DISTINCT signatures (n_frames × bands shuffle
    rows each), verified slot by slot with zip_with in the JVM.
    """
    if min_matching is None:
        min_matching = max(1, (3 * n_frames) // 4)
    # slot-aligned banding: (slot, band_idx, band_bits) keys; any pair
    # with ≥1 slot inside the Hamming budget shares ≥1 such key
    bands = max_hamming + 1
    width = 64 // bands
    slot_hash = F.col("__s.h")
    bcols = []
    for i in range(bands):
        w = width if i < bands - 1 else 64 - width * (bands - 1)
        seg = F.shiftrightunsigned(slot_hash, i * width).bitwiseAND(
            F.lit((1 << w) - 1)
        )
        bcols.append(
            F.struct(
                F.col("__s.slot").alias("slot"),
                F.lit(i).alias("i"),
                seg.alias("v"),
            ).alias(f"__b{i}")
        )
    matched = F.size(
        F.filter(
            F.zip_with(
                F.col("__sa"),
                F.col("__sb"),
                lambda x, y: F.bit_count(x.bitwiseXOR(y)) <= F.lit(max_hamming),
            ),
            lambda ok_: ok_,
        )
    )
    # A video shorter than n_frames sample positions emits a SHORTER
    # signature (take = min(n_frames, total)); zip_with NULL-pads the
    # tail, so `matched` can never exceed the shorter length.  Cap the
    # effective threshold by the shorter signature or two near-identical
    # short clips could never satisfy a fixed ¾-of-n_frames predicate
    # (ADVICE r09) — for equal-length signatures this is min_matching
    # unchanged.
    eff_min = F.least(
        F.size(F.col("__sa")), F.size(F.col("__sb")), F.lit(min_matching)
    )

    def edges(reps):
        banded = reps.select(
            "rep_id",
            "sig",
            F.explode(
                F.transform(
                    F.col("sig"),
                    lambda h, s: F.struct(s.alias("slot"), h.alias("h")),
                )
            ).alias("__s"),
        ).select("rep_id", "sig", F.explode(F.array(*bcols)).alias("__band"))
        a = banded.select(
            F.col("__band"),
            F.col("rep_id").alias("id_a"),
            F.col("sig").alias("__sa"),
        )
        b = banded.select(
            F.col("__band"),
            F.col("rep_id").alias("id_b"),
            F.col("sig").alias("__sb"),
        )
        # Verify BEFORE the distinct, and distinct on the bare id pair —
        # mirroring hamming_band_pairs: deduplicating candidates first
        # shuffled both full sig arrays per candidate (~16x the bytes of
        # an id pair), which dominated the sf5 leg on clique-heavy
        # corpora (3-point ledger r11: exp 1.77).  `matched` is a
        # deterministic function of the joined row, so the final pair
        # set is the same.  The merge hint is the hamming_band_pairs
        # reasoning verbatim: banded sits downstream of a pin, so
        # Catalyst's size estimate must not pick a whole-corpus
        # broadcast; SMJ spills both sides at any corpus size.
        return (
            a.join(b.hint("merge"), "__band")
            .where(F.col("id_a") < F.col("id_b"))
            .where(matched >= eff_min)
            .select("id_a", "id_b")
            .distinct()
        )

    return _family_flags(
        video_signature(binary_df, id_col, n_frames), "sig", "is_video_dup",
        edges,
    )


# --- time-offset-robust video matching (round 10, VERDICT r09
# directive 4).  video_signature samples n slots at fractions of TOTAL
# length, so a trim or a prepended intro shifts every slot and the
# slot-aligned verification diverges.  The robust path drops slot
# alignment entirely: hash frames at a fixed STRIDE and match the
# resulting dHash SETS — a trimmed/offset copy's surviving frames are
# identical values at different positions, which a set match ignores
# (the shot-signature set-matching design used by content-based copy
# detection systems; position-free analogue of the H-K sub-fingerprint
# lookup).


def video_frame_hash_signatures(
    binary_df: DataFrame,
    id_col: str = "doc_id",
    stride: int = 1,
) -> DataFrame:
    """(id, sig, decode_error) — sorted DISTINCT per-frame dHashes at
    every ``stride``-th frame.  Unlike :func:`video_signature` the
    sample grid is absolute (frame index), not relative (fraction of
    total), so trims/offsets do not move it.  Map-only; the offset
    walk + batched dHash keep the per-row cost linear in sampled
    frames, not stream length."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def sig_of(data: bytes) -> list:
            if data[:2] == b"P6":
                spans = ppm_frame_offsets(data)[::stride]
                picked = [data[s:e] for s, e in spans]
            else:
                # n_frames >= total takes every decoded frame
                got = _av_sample_video_frames(data, 1 << 30)
                if got is None:
                    raise NotImplementedError(
                        "decoding this video container requires PyAV "
                        "(not installed); P6 PPM streams parse natively"
                    )
                picked = [fp for _pos, fp in got][::stride]
            if not picked:
                raise ValueError("no frames in stream")
            grays = [
                decode_image(fp).astype(np.float64).mean(axis=2)
                for fp in picked
            ]
            if len({g.shape for g in grays}) == 1:
                hs = _dhash_batch(grays)
            else:
                hs = [perceptual_hash_bytes(fp, "dhash") for fp in picked]
            return sorted(set(hs))

        for pdf in it:
            ids, sigs, errs = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                ids.append(int(doc_id))
                try:
                    sigs.append(sig_of(bytes(payload)))
                    errs.append(None)
                except Exception as e:  # bad bytes are data, not bugs
                    sigs.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {"doc_id": ids, "sig": sigs, "decode_error": errs}
            )

    return binary_df.select(F.col(id_col), F.col("payload")).mapInPandas(
        batches, SUBFP_SCHEMA
    )


def video_robust_dedup_flags(
    binary_df: DataFrame,
    id_col: str = "doc_id",
    min_matches: int = 4,
    stride: int = 1,
    max_df: int = 256,
) -> DataFrame:
    """Every input row + ``is_video_dup``: TRIM/OFFSET-robust video
    near-dup dedup — a cut-down copy, or one with a prepended intro,
    still shares its surviving frame hashes and lands in the family
    (≥ ``min(min_matches, |smaller set|)`` shared dHashes, transitive
    closure, min-id keeper).  Brightness/rescale invariance comes from
    dHash itself.  Pipeline shape documented at
    :func:`signature_set_dedup_flags`."""
    sig = video_frame_hash_signatures(binary_df, id_col, stride)
    return signature_set_dedup_flags(sig, "is_video_dup", min_matches, max_df)


def synthetic_audio_corpus_robust(
    df: DataFrame, id_col: str = "doc_id", groups: int = 25
) -> DataFrame:
    """Deterministic synthetic WAV corpus for the TRIM/OFFSET-robust
    audio dedup (:func:`audio_robust_dedup_flags`): 2.0 s clips (100
    pseudo-random 20 ms Nyquist-square segments per ``id % groups``
    family), rendered per id with the transforms the robust path must
    absorb — every 31st id half gain, every 41st id resampled, every
    43rd id 8-bit, every 23rd id TRIMMED by 0.5 s (the transform the
    whole-clip 65-segment fingerprint provably misses), every 19th id
    with a 0.5 s FOREIGN INTRO prepended, every 37th id junk."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def levels(g: int, n: int = 100) -> "np.ndarray":
            s = np.arange(n, dtype=np.uint64)
            x = (np.uint64(g) * np.uint64(73856093)) ^ (
                s * np.uint64(19349663)
            )
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
            x = x ^ (x >> np.uint64(33))
            lv = (x % np.uint64(31)).astype(np.int64)
            for i in range(1, n):
                if lv[i] == lv[i - 1]:
                    lv[i] = (lv[i] + 1) % 31
            return lv

        def render(i: int) -> bytes:
            if i % 37 == 13:
                return b"RIFFjunk-not-audio-" + str(i).encode()
            amp = 0.08 + 0.88 * levels(i % groups) / 30.0
            if i % 23 == 2:
                amp = amp[25:]  # -0.5 s head trim
            elif i % 19 == 6:
                intro = 0.08 + 0.88 * levels(i % groups + 7681)[:25] / 30.0
                amp = np.concatenate([intro, amp])  # +0.5 s foreign intro
            if i % 31 == 5:
                amp = amp * 0.5
            rate = 8000 if i % 41 == 7 else 16000
            wave = np.repeat(amp, rate // 50)  # 20 ms segments
            wave[1::2] *= -1.0
            bits = 8 if i % 43 == 11 else 16
            return _encode_wav(wave, rate, bits)

        for pdf in it:
            ids = [int(x) for x in pdf[id_col]]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [render(i) for i in ids]}
            )

    return df.select(F.col(id_col)).mapInPandas(batches, out_schema)


def synthetic_video_corpus_robust(
    df: DataFrame, id_col: str = "doc_id", groups: int = 25,
    n_frames: int = 16,
) -> DataFrame:
    """Deterministic synthetic P6-stream corpus for the TRIM/OFFSET-
    robust video dedup (:func:`video_robust_dedup_flags`): ``n_frames``
    pseudo-random frames per ``id % groups`` family, rendered per id
    with — per-id uniform brightness shift, every 41st id downscaled,
    every 23rd id CUT DOWN (first quarter of frames dropped; shifts
    every fraction-aligned sample slot), every 19th id with 3 FOREIGN
    INTRO frames prepended, every 37th id junk."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def cells_of(key: int, bright: int) -> "np.ndarray":
            r = np.arange(8, dtype=np.uint64)[:, None]
            c = np.arange(9, dtype=np.uint64)[None, :]
            x = (
                (np.uint64(key) * np.uint64(73856093))
                ^ (r * np.uint64(19349663))
                ^ (c * np.uint64(83492791))
            )
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
            x = x ^ (x >> np.uint64(33))
            v = (x % np.uint64(97)).astype(np.int64)
            return (v * 2 + 10 + bright).astype(np.uint8)

        def frame(key: int, bright: int, ry: int, rx: int) -> bytes:
            cells = cells_of(key, bright)
            base = np.repeat(np.repeat(cells, ry, axis=0), rx, axis=1)
            img = np.stack([base, base, base], axis=2)
            return _encode_ppm(np.ascontiguousarray(img))

        def render(i: int) -> bytes:
            if i % 37 == 13:
                return b"P6junk-not-a-stream-" + str(i).encode()
            g = i % groups
            bright = (i // groups) % 3
            ry, rx = (1, 1) if i % 41 == 7 else (3, 2)
            keys = [g * n_frames + s for s in range(n_frames)]
            if i % 23 == 2:
                keys = keys[n_frames // 4:]  # cut-down copy
            elif i % 19 == 6:
                keys = [9_000_101 + i * 4 + j for j in range(3)] + keys
            return b"".join(frame(k, bright, ry, rx) for k in keys)

        for pdf in it:
            ids = [int(x) for x in pdf[id_col]]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [render(i) for i in ids]}
            )

    return df.select(F.col(id_col)).mapInPandas(batches, out_schema)


def synthetic_video_corpus(
    df: DataFrame, id_col: str = "doc_id", groups: int = 25,
    n_frames: int = 8,
) -> DataFrame:
    """Deterministic synthetic P6-stream corpus over any id column —
    the dependency-free test/demo feed for the video near-dup dedup.
    A group (``id % groups``) is a near-dup family: ``n_frames``
    per-slot pseudo-random patterns on dHash's 8x9 grid, rendered per
    id with the variations the signature absorbs — per-id uniform
    brightness shift (identical signatures), every 41st id a
    3x-DOWNSCALED render, every 29th id TWO slots replaced with a
    different pattern (within the ¾ slot-match default), and every
    37th id undecodable junk."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def cells_of(key: int, bright: int) -> "np.ndarray":
            r = np.arange(8, dtype=np.uint64)[:, None]
            c = np.arange(9, dtype=np.uint64)[None, :]
            x = (
                (np.uint64(key) * np.uint64(73856093))
                ^ (r * np.uint64(19349663))
                ^ (c * np.uint64(83492791))
            )
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
            x = x ^ (x >> np.uint64(33))
            v = (x % np.uint64(97)).astype(np.int64)
            return (v * 2 + 10 + bright).astype(np.uint8)

        def render(i: int) -> bytes:
            if i % 37 == 13:
                return b"P6junk-not-a-stream-" + str(i).encode()
            g = i % groups
            bright = (i // groups) % 3
            ry, rx = (1, 1) if i % 41 == 7 else (3, 2)
            frames = []
            for slot in range(n_frames):
                key = g * n_frames + slot
                if i % 29 == 3 and slot in (2, 5):
                    # two replaced slots — an "edited" near-dup copy
                    key = 1_000_003 + i * n_frames + slot
                cells = cells_of(key, bright)
                base = np.repeat(np.repeat(cells, ry, axis=0), rx, axis=1)
                img = np.stack([base, base, base], axis=2)
                frames.append(_encode_ppm(np.ascontiguousarray(img)))
            return b"".join(frames)

        for pdf in it:
            ids = [int(x) for x in pdf[id_col]]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [render(i) for i in ids]}
            )

    return df.select(F.col(id_col)).mapInPandas(batches, out_schema)
