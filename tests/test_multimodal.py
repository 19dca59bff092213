"""Multimodal ops: exact fake-codec values vs numpy, Arrow batch shape,
row-exploding frame sampling, binary-source packing, codec gating."""

from __future__ import annotations

import numpy as np
import pytest

from data_ingestion_system_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_real,
    fake_decode,
    frame_sample,
    media_features,
    pack_media,
    resize_blocks,
)


def _media_df(spark, blobs):
    rows = [
        (i, ("image", "audio", "video")[i % 3], content,
         (None, None, None, None, None))
        for i, content in enumerate(blobs)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_features_exact_values(spark):
    blobs = [bytes(range(64)) * 8, b"\xff" * 100, b""]
    got = {r.media_id: r for r in media_features(_media_df(spark, blobs)).collect()}

    for i, blob in enumerate(blobs):
        expect = fake_decode(np.frombuffer(blob, dtype=np.uint8))
        assert got[i].byte_len == len(blob)
        assert np.allclose(got[i].features, expect), f"media {i}"
    assert got[1].features == pytest.approx([1.0] * 16)  # all-0xff blob
    assert got[2].features == pytest.approx([0.0] * 16)  # empty blob


def test_features_multi_batch(spark):
    """Arrow batching must not change results: force tiny batches."""
    blobs = [bytes([i % 256]) * (i + 1) for i in range(50)]
    df = _media_df(spark, blobs).repartition(3)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = {r.media_id: r.features for r in media_features(df).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(got) == 50
    for i, blob in enumerate(blobs):
        expect = fake_decode(np.frombuffer(blob, dtype=np.uint8))
        assert got[i] == pytest.approx(list(expect)), f"media {i}"


def test_frame_sample_offsets_and_energy(spark):
    # 1000 bytes -> 4 frames of 256 (last partial); every_n=2 -> frames 0, 2
    blob = bytes([10] * 512 + [20] * 488)
    out = frame_sample(_media_df(spark, [blob]), every_n=2).collect()
    by_frame = {r.frame_no: r for r in sorted(out, key=lambda r: r.frame_no)}
    assert list(by_frame) == [0, 2]
    assert by_frame[0].offset == 0
    assert by_frame[0].energy == pytest.approx(10.0)
    assert by_frame[2].offset == 512
    assert by_frame[2].energy == pytest.approx(20.0)


def test_frame_sample_explodes_rows(spark):
    # 3 blobs of different sizes -> different frame counts per input row
    blobs = [b"a" * 256, b"b" * 1025, b""]
    out = frame_sample(_media_df(spark, blobs), every_n=1).collect()
    counts = {}
    for r in out:
        counts[r.media_id] = counts.get(r.media_id, 0) + 1
    assert counts == {0: 1, 1: 5, 2: 1}  # ceil(1025/256)=5; empty -> 1 zero-frame


def test_resize_grid(spark):
    blob = bytes(range(160))  # 16 cells x 10 bytes each
    grid = resize_blocks(_media_df(spark, [blob]), out_w=4, out_h=4).first().grid
    flat = [v for row in grid for v in row]
    expect = fake_decode(np.frombuffer(blob, dtype=np.uint8), 16)
    assert flat == pytest.approx(list(expect))
    assert len(grid) == 4 and all(len(row) == 4 for row in grid)


def test_pack_media_kinds(spark, tmp_path):
    (tmp_path / "x.png").write_bytes(b"imgdata")
    (tmp_path / "y.wav").write_bytes(b"auddata")
    (tmp_path / "z.mp4").write_bytes(b"viddata")
    (tmp_path / "w.dat").write_bytes(b"other")
    binary = spark.read.format("binaryFile").load(str(tmp_path))
    media = pack_media(binary).collect()
    kinds = {r.meta.format: r.kind for r in media}
    assert kinds == {"png": "image", "wav": "audio", "mp4": "video", "dat": "binary"}
    assert all(r.media_id >= 0 for r in media)
    assert {bytes(r.content) for r in media} == {b"imgdata", b"auddata", b"viddata", b"other"}


def test_near_dup_finds_planted_duplicates(spark):
    from data_ingestion_system_spark.operators.multimodal import (
        media_features,
        near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    blobs = [rng.integers(0, 256, 4096, dtype=np.uint8).tobytes()
             for _ in range(30)]
    blobs.append(blobs[0])          # 30: exact dup of 0 (same kind slot 0%3==30%3)
    near = bytearray(blobs[3])      # 33: near dup of 3 (same kind: 3%3==33%3)
    near[0] ^= 0xFF                 # flip one byte of 4096
    blobs += [b"pad1", b"pad2"]     # 31, 32 keep kind alignment
    blobs.append(bytes(near))       # 33
    feats = media_features(_media_df(spark, blobs))
    pairs = {(r.id_a, r.id_b): r.cosine
             for r in near_dup_pairs(feats, threshold=0.999).collect()}
    assert pairs.get((0, 30)) == pytest.approx(1.0)   # byte-identical
    assert (3, 33) in pairs                           # one flipped byte
    # random blobs don't collide at 0.999 profile correlation
    assert all({a, b} <= {0, 30, 3, 33} for a, b in pairs)


def test_decode_real_is_gated():
    with pytest.raises(NotImplementedError):
        decode_real(b"\x89PNG", "video")


def test_video_demux_stats_mixed_batch(spark):
    """Container stats over a mixed batch: raw-DIB decodes to an exact
    mean pixel, MJPEG demuxes with NULL mean (bitstream delegated),
    corrupt containers quarantine into demux_error."""
    import numpy as np

    from data_ingestion_system_spark.operators.codecs import encode_avi
    from data_ingestion_system_spark.operators.multimodal import (
        video_demux_stats,
    )

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (4, 16, 3), dtype=np.uint8)
    payload = img[::-1, :, ::-1].reshape(4, 48).tobytes()  # stride == w*3
    raw = encode_avi([payload, payload], 16, 4, fps=25)
    mj = encode_avi([b"\xff\xd8data\xff\xd9"], 8, 8, fps=5, fourcc=b"MJPG")
    rows = [(1, bytearray(raw)), (2, bytearray(mj)),
            (3, bytearray(b"not a riff at all"))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r for r in video_demux_stats(df).collect()}

    r1 = got[1]
    assert (r1["fourcc"], r1["width"], r1["height"]) == ("DIB", 16, 4)
    assert r1["n_frames"] == 2 and r1["us_per_frame"] == 40_000
    assert r1["payload_bytes"] == 2 * 192
    assert r1["mean_pixel"] == pytest.approx(float(img.mean()))
    assert r1["demux_error"] is None

    r2 = got[2]
    assert r2["fourcc"] == "MJPG" and r2["n_frames"] == 1
    assert r2["mean_pixel"] is None and r2["demux_error"] is None

    r3 = got[3]
    assert r3["demux_error"] is not None and r3["fourcc"] is None


def test_near_dup_clusters_transitive_and_linear_output(spark):
    """Cluster-output near-dup: a transitive chain (A~B exact, B~C one
    flipped byte) collapses into ONE cluster keyed by the min id, pads
    and non-dups are absent, and output rows = clustered items (not
    C(c,2) pairs)."""
    from data_ingestion_system_spark.operators.dedup import (
        connected_components,
    )
    from data_ingestion_system_spark.operators.multimodal import (
        media_features,
        near_dup_pairs,
    )

    rng = np.random.default_rng(11)
    blobs = [rng.integers(0, 256, 4096, dtype=np.uint8).tobytes()
             for _ in range(30)]
    blobs.append(blobs[0])                 # 30: exact dup of 0
    near = bytearray(blobs[0])
    near[0] ^= 0xFF                        # one byte off blob 0
    blobs += [b"pad1", b"pad2"]            # 31, 32 keep kind alignment
    blobs.append(bytes(near))              # 33: near dup of 0 AND 30
    feats = media_features(_media_df(spark, blobs))
    pairs = near_dup_pairs(feats, threshold=0.999).select("id_a", "id_b")
    got = {(r.node, r.cluster_id)
           for r in connected_components(pairs).collect()}
    assert got == {(0, 0), (30, 0), (33, 0)}


def test_near_dup_pair_budget_switches_to_representative_pairs(spark):
    """Over-budget corpora switch (loudly) to cluster-representative
    output: one verified pair per member against its component min-id —
    O(members) rows instead of C(c, 2) — and every emitted pair is a
    true >= threshold near-dup.  Under a generous budget the output is
    the unchanged exact pair closure."""
    import warnings as W

    from data_ingestion_system_spark.operators.multimodal import (
        media_features,
        near_dup_pairs,
    )

    rng = np.random.default_rng(23)
    blobs = [rng.integers(0, 256, 4096, dtype=np.uint8).tobytes()
             for _ in range(30)]
    # a 4-clique of near-identical blobs in one kind slot (ids ≡ 0 mod 3)
    for off in (30, 33, 36):
        near = bytearray(blobs[0])
        near[off % 256] ^= 1               # sub-threshold perturbation
        while len(blobs) % 3 != 0:
            blobs.append(b"pad" + bytes([len(blobs)]))
        blobs.append(bytes(near))
    feats = media_features(_media_df(spark, blobs))

    exact = {(r.id_a, r.id_b)
             for r in near_dup_pairs(feats, threshold=0.999).collect()}
    clique = {0, 30, 33, 36}
    assert {(a, b) for a, b in exact if {a, b} <= clique} == {
        (a, b) for a in clique for b in clique if a < b}  # full C(4,2)

    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        rep = near_dup_pairs(feats, threshold=0.999, pair_budget=1).collect()
    assert any("pair_budget" in str(w.message) for w in caught)
    rep_pairs = {(r.id_a, r.id_b) for r in rep}
    # representative (min id 0) anchors every clique member: 3 rows,
    # not 6 — and nothing outside the planted clique appears
    assert {(a, b) for a, b in rep_pairs if {a, b} <= clique} == {
        (0, 30), (0, 33), (0, 36)}
    assert all(a == 0 or {a, b} & clique == set() for a, b in rep_pairs)
    assert all(r.cosine >= 0.999 for r in rep)

    # a roomy budget keeps the exact closure byte-for-byte
    under = {(r.id_a, r.id_b) for r in near_dup_pairs(
        feats, threshold=0.999, pair_budget=10_000_000).collect()}
    assert under == exact


def test_audio_stats_decode_and_quarantine(spark):
    """audio_stats: a real PCM WAV decodes to exact integer stats and
    JVM-side-rounded floats; a corrupt payload quarantines into
    decode_error instead of failing the batch."""
    import io
    import wave

    from data_ingestion_system_spark.operators.multimodal import audio_stats

    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(8000)
        f.writeframes(np.array([100, -200, 300, -400],
                               dtype="<i2").tobytes())
    rows = {r.media_id: r for r in audio_stats(spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, bytearray(b"not a wav"))],
        "media_id long, content binary")).collect()}
    ok = rows[1]
    assert (ok.n_channels, ok.sample_rate, ok.n_samples) == (1, 8000, 4)
    assert ok.sum_abs == 1000 and ok.mean_abs == 250.0
    assert ok.duration_ms == 0.5 and ok.decode_error is None
    bad = rows[2]
    assert bad.decode_error and bad.n_samples is None


def test_near_dup_clusters_survive_the_pair_budget(spark):
    """The gated path must not break CLUSTERING: components over the
    verified bucket-star pairs keep a true near-dup clique together
    (every member verifies against its bucket-minimum anchor), while
    unrelated blobs stay out — the property multimodal_near_dup_clusters
    relies on when its internal pair generator crosses the budget."""
    from data_ingestion_system_spark.operators.dedup import (
        connected_components,
    )
    from data_ingestion_system_spark.operators.multimodal import (
        media_features,
        near_dup_pairs,
    )

    rng = np.random.default_rng(31)
    blobs = [rng.integers(0, 256, 4096, dtype=np.uint8).tobytes()
             for _ in range(30)]
    for off in (30, 33, 36):                   # 4-clique with id 0
        near = bytearray(blobs[0])
        near[off % 256] ^= 1
        while len(blobs) % 3 != 0:
            blobs.append(b"pad" + bytes([len(blobs)]))
        blobs.append(bytes(near))
    feats = media_features(_media_df(spark, blobs))
    pairs = near_dup_pairs(feats, threshold=0.999,
                           pair_budget=1).select("id_a", "id_b")
    got = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert {n for n, c in got.items() if c == 0} == {0, 30, 33, 36}
    # the tiny pad blobs legitimately near-dup each other (mostly-empty
    # block profiles); what matters is no RANDOM blob joins any cluster
    assert all(n >= 30 or n == 0 for n in got)


def test_scene_cuts_planted_deltas(spark, tmp_path):
    """Planted frame structure through the real mux->demux->decode
    chain: identical consecutive frames delta 0 (no cut), a moderate
    letter change stays under the threshold, and a zero-padded tail
    frame crosses it — deltas are exact integers."""
    import shutil

    from data_ingestion_system_spark.operators.queries_multimodal import (
        multimodal_scene_cuts,
    )

    docs = spark.createDataFrame(
        [
            (1, "a" * 96, "en", "s", 96),     # 2 identical frames: delta 0
            (2, "a" * 48 + "z" * 48, "en", "s", 96),  # 48*25 = 1200 < 2000
            (3, "a" * 30, "en", "s", 30),     # single frame: no delta rows
            (4, "a" * 60, "en", "s", 60),     # tail: 12 a's + 36 NULs
        ],
        "doc_id long, text string, lang string, source string, n_chars long")
    sf = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    docs.write.parquet(f"{sf}/documents.parquet")

    rows = {(r.media_id, r.frame_idx): (r.sum_abs_delta, r.is_cut)
            for r in multimodal_scene_cuts(spark, sf).collect()}
    assert rows == {
        (1, 1): (0, False),
        (2, 1): (48 * (ord("z") - ord("a")), False),
        (4, 1): (36 * ord("a"), True),   # 3492 > 2000
    }
    shutil.rmtree(sf, ignore_errors=True)


# -------------------------------------------- one quarantine rule


def _valid_payload(kind: str) -> bytes:
    """A small well-formed blob of each kind: a PNG, a 16-bit WAV and a
    three-frame raw-DIB AVI."""
    import io
    import wave

    from data_ingestion_system_spark.operators import codecs

    rng = np.random.RandomState(5)
    if kind == "image":
        return codecs.encode_png(
            rng.randint(0, 256, (6, 8), dtype=np.uint8), filter_type=4)
    if kind == "audio":
        buf = io.BytesIO()
        with wave.open(buf, "wb") as f:
            f.setnchannels(1)
            f.setsampwidth(2)
            f.setframerate(8000)
            f.writeframes(rng.randint(-3000, 3000, 64).astype("<i2")
                          .tobytes())
        return buf.getvalue()
    return codecs.encode_avi(
        [rng.randint(0, 256, 192, dtype=np.uint8).tobytes()
         for _ in range(3)], 16, 4, fps=25)


_CORRUPT = b"\x00not a media container"


@pytest.mark.parametrize("op, kind, error_col, decode", [
    ("media_features_decoded", "image", "decode_error",
     lambda b: decode_real(b, "image")),
    ("video_demux_stats", "video", "demux_error", "demux_avi"),
    ("audio_stats", "audio", "decode_error", "decode_wav"),
    ("video_scene_deltas", "video", "demux_error", "demux_avi"),
])
def test_corrupt_blob_quarantines_into_one_null_row(spark, op, kind,
                                                    error_col, decode):
    """Every quarantining media op follows the one rule: a corrupt blob
    beside a valid one in the same batch becomes exactly one row with its
    media_id, ``"<ExceptionType>: <message>"`` in the error column and
    every other column NULL, and the valid row comes out as it does
    alone."""
    from data_ingestion_system_spark.operators import codecs
    from data_ingestion_system_spark.operators import multimodal as MM

    if isinstance(decode, str):
        decode = getattr(codecs, decode)
    with pytest.raises(Exception) as raised:
        decode(_CORRUPT)
    expect = f"{type(raised.value).__name__}: {raised.value}"

    def run(rows):
        df = spark.createDataFrame(
            rows, "media_id long, kind string, content binary").coalesce(1)
        return [r.asDict() for r in getattr(MM, op)(df).collect()]

    valid = (1, kind, bytearray(_valid_payload(kind)))
    got = run([valid, (2, kind, bytearray(_CORRUPT))])
    bad = [r for r in got if r["media_id"] == 2]
    assert len(bad) == 1
    assert bad[0][error_col] == expect
    assert all(v is None for c, v in bad[0].items()
               if c not in ("media_id", error_col))
    good = [r for r in got if r["media_id"] == 1]
    assert good and all(r[error_col] is None for r in good)
    assert good == run([valid])


def test_scene_deltas_skip_compressed_streams(spark):
    """A compressed-fourcc stream demuxes but has no native pixel decode,
    so video_scene_deltas yields no rows for it: neither deltas nor a
    quarantine row."""
    from data_ingestion_system_spark.operators.codecs import encode_avi
    from data_ingestion_system_spark.operators.multimodal import (
        video_scene_deltas,
    )

    mj = encode_avi([b"\xff\xd8data\xff\xd9"] * 3, 8, 8, fps=5,
                    fourcc=b"MJPG")
    df = spark.createDataFrame([(1, bytearray(mj))],
                               "media_id long, content binary")
    assert video_scene_deltas(df).collect() == []


def test_map_rows_empty_output_partial_failure_and_loud_failure(spark):
    """A kernel that yields nothing still gives well-formed (empty)
    batches; a kernel that fails after yielding leaves only its
    quarantine row; without an error column a kernel exception fails
    the job."""
    from pyspark.sql import functions as F

    from data_ingestion_system_spark.operators.multimodal import _map_rows

    df = spark.range(4).select(F.col("id").alias("media_id"))

    def nothing(row):
        return iter(())

    out = _map_rows(df, "media_id long, note string", nothing)
    assert out.columns == ["media_id", "note"] and out.collect() == []

    def late(row):
        yield {"media_id": row.media_id, "note": "partial"}
        raise ValueError("late")

    got = _map_rows(df, "media_id long, note string, err string", late,
                    error_col="err").collect()
    assert sorted(got) == [(i, None, "ValueError: late") for i in range(4)]

    def boom(row):
        raise ValueError(f"boom {row.media_id}")

    with pytest.raises(Exception, match="ValueError: boom"):
        _map_rows(df, "media_id long", boom).collect()
