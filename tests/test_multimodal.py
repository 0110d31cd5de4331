"""Multimodal/binary-column plumbing tests: SGRF sample-matrix decode
(S1 analog) end-to-end through binaryFile → mapInPandas → channel
stats, plus image-feature and audio-frame-sample kernels."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkgraft.functions.expr import OLE_EPOCH_UNIX
from sparkgraft.operators.multimodal import (
    audio_frame_sample,
    encode_fake_audio,
    encode_fake_image,
    encode_sample_matrix,
    decode_sample_files,
    image_features,
)
from sparkgraft.operators.stats import channel_stats
from sparkgraft.sources.readers import list_files


def _ole(unix_s: float) -> float:
    return (unix_s - OLE_EPOCH_UNIX) / 86400.0


def test_sgrf_decode_to_channel_stats(spark, tmp_path):
    t0 = 1_700_000_000.0
    mat = np.array(
        [
            [_ole(t0 + 0.00), 1.0, 10.0],
            [_ole(t0 + 0.01), 2.0, 20.0],
            [_ole(t0 + 0.02), 3.0, 30.0],
        ]
    )
    dat = tmp_path / "Logger1_2023-11-14_22-13-20.dat"
    dat.write_bytes(encode_sample_matrix(["T-T1", "BS_X"], 100.0, mat))
    # S8 file ledger: metadata-only listing agrees with the filesystem.
    (ledger,) = list_files(spark, str(tmp_path)).collect()
    assert (ledger["name"], ledger["size"]) == (dat.name, os.stat(dat).st_size)
    binf = spark.read.format("binaryFile").load(str(tmp_path))
    samples = decode_sample_files(binf)
    rows = samples.orderBy("channel", "ts").collect()
    # Dash-to-underscore channel rename (F5) applied during decode.
    assert {r["channel"] for r in rows} == {"T_T1", "BS_X"}
    assert rows[0]["file"] == "Logger1_2023-11-14_22-13-20.dat"
    # OLE round-trip at ms granularity.
    assert abs(rows[3]["ts"].timestamp() - t0) < 0.001
    stats = {
        r["channel"]: (r["mean"], r["min"], r["max"])
        for r in channel_stats(samples, ["channel"], "value").collect()
    }
    assert stats["T_T1"] == (2.0, 1.0, 3.0)
    assert stats["BS_X"] == (20.0, 10.0, 30.0)


def test_image_features_kernel(spark):
    img1 = encode_fake_image(2, 2, bytes([0, 100, 100, 200]))
    img2 = encode_fake_image(1, 3, bytes([10, 20, 30]))
    df = spark.createDataFrame(
        [(1, bytearray(img1)), (2, bytearray(img2))], "media_id long, data binary"
    )
    feats = {r["media_id"]: r for r in image_features(df).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (2, 2)
    assert feats[1]["mean_intensity"] == 100.0
    assert feats[2]["n_pixels"] == 3
    assert feats[2]["mean_intensity"] == 20.0


def test_audio_frame_sample_kernel(spark):
    blob = encode_fake_audio([float(i) for i in range(10)])
    df = spark.createDataFrame([(7, bytearray(blob))], "media_id long, data binary")
    frames = audio_frame_sample(df, every_n=3).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in frames] == [0, 3, 6, 9]
    assert [r["amplitude"] for r in frames] == [0.0, 3.0, 6.0, 9.0]


def test_real_codec_is_stubbed(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n..."))], "media_id long, data binary"
    )
    with pytest.raises(Exception) as ei:
        image_features(df).collect()
    assert "NotImplementedError" in str(ei.value) or "real image decode" in str(
        ei.value
    )


def test_sgrf_python_datasource_matches_mapinpandas(spark, tmp_path):
    from sparkgraft.sources.sgrf_source import register_sgrf_source

    t0 = 1_700_000_000.0
    for i, base in enumerate((0.0, 100.0)):
        mat = np.array(
            [
                [_ole(t0 + i + 0.00), base + 1.0, base + 10.0],
                [_ole(t0 + i + 0.01), base + 2.0, base + 20.0],
            ]
        )
        (tmp_path / f"logger_{i}.sgrf").write_bytes(
            encode_sample_matrix(["T-T1", "BS_X"], 100.0, mat)
        )
    register_sgrf_source(spark)
    via_source = spark.read.format("sgrf").load(str(tmp_path))
    # One input partition per file — the parallel-decode contract.
    assert via_source.rdd.getNumPartitions() == 2
    binf = spark.read.format("binaryFile").load(str(tmp_path / "*.sgrf"))
    via_kernel = decode_sample_files(binf)
    key = ["file", "channel", "ts"]
    a = [tuple(r) for r in via_source.orderBy(*key).collect()]
    b = [tuple(r) for r in via_kernel.orderBy(*key).collect()]
    assert a == b and len(a) == 8


def test_sgrf_datasource_rejects_foreign_blob(spark, tmp_path):
    from sparkgraft.sources.sgrf_source import register_sgrf_source

    (tmp_path / "real.sgrf").write_bytes(b"UDBF" + b"\x00" * 64)
    register_sgrf_source(spark)
    with pytest.raises(Exception, match="vendor|NotImplemented"):
        spark.read.format("sgrf").load(str(tmp_path)).collect()


def test_sgrf_stream_reader_incremental_batches(spark, tmp_path):
    from sparkgraft.sources.sgrf_source import register_sgrf_source

    t0 = 1_700_000_000.0
    land = tmp_path / "land"
    land.mkdir()

    def write_file(i):
        mat = np.array([[_ole(t0 + i), float(i), 10.0 * i]])
        (land / f"f_{i:03d}.sgrf").write_bytes(
            encode_sample_matrix(["c1", "c2"], 100.0, mat)
        )

    write_file(0)
    write_file(1)
    register_sgrf_source(spark)

    def drain():
        got = []
        q = (
            spark.readStream.format("sgrf")
            .load(str(land))
            .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    first = drain()
    assert sorted({r["file"] for r in first}) == ["f_000.sgrf", "f_001.sgrf"]
    assert len(first) == 4  # 2 files x 2 channels x 1 row

    # A third file arrives; the checkpointed offset admits ONLY it.
    write_file(2)
    second = drain()
    assert {r["file"] for r in second} == {"f_002.sgrf"}
    assert len(second) == 2


def test_sgrf_stream_offsets_survive_archiving(spark, tmp_path):
    from sparkgraft.sources.sgrf_source import register_sgrf_source

    t0 = 1_700_000_000.0
    land = tmp_path / "land"
    land.mkdir()

    def write_file(i):
        mat = np.array([[_ole(t0 + i), float(i), 10.0 * i]])
        (land / f"f_{i:03d}.sgrf").write_bytes(
            encode_sample_matrix(["c1", "c2"], 100.0, mat)
        )

    write_file(0)
    write_file(1)
    register_sgrf_source(spark)

    def drain():
        got = []
        q = (
            spark.readStream.format("sgrf")
            .load(str(land))
            .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    assert len(drain()) == 4
    # T4 archive: processed files leave the landing dir.  A name-based
    # offset keeps working; an index-based one would re-admit f_002.
    (land / "f_000.sgrf").unlink()
    (land / "f_001.sgrf").unlink()
    write_file(2)
    second = drain()
    assert {r["file"] for r in second} == {"f_002.sgrf"}


def test_image_resize_composes_with_features(spark):
    from sparkgraft.operators.multimodal import image_features, image_resize

    # 4x4 gradient -> 2x2 nearest-neighbor picks rows/cols 0 and 2.
    px = bytes(range(16))
    df = spark.createDataFrame(
        [(1, encode_fake_image(4, 4, px))], "media_id long, data binary"
    )
    small = image_resize(df, 2, 2)
    r = small.collect()[0]
    assert (r["width"], r["height"]) == (2, 2)
    import struct as _s

    blob = bytes(r["data"])
    assert blob[:4] == b"FIMG" and _s.unpack_from("<II", blob, 4) == (2, 2)
    assert list(blob[12:]) == [0, 2, 8, 10]
    feats = image_features(small.select("media_id", "data")).collect()[0]
    assert feats["n_pixels"] == 4 and feats["mean_intensity"] == 5.0


def test_video_frame_sample_every_other_frame(spark):
    from sparkgraft.operators.multimodal import (
        encode_fake_video,
        image_features,
        video_frame_sample,
    )

    frames = [bytes([v] * 4) for v in (10, 20, 30, 40, 50)]
    df = spark.createDataFrame(
        [(7, encode_fake_video(2, 2, frames))], "media_id long, data binary"
    )
    out = video_frame_sample(df, every_n=2).orderBy("frame_idx")
    rows = out.collect()
    assert [r["frame_idx"] for r in rows] == [0, 2, 4]
    assert [r["mean_intensity"] for r in rows] == [10.0, 30.0, 50.0]
    # Sampled frames are valid FIMG images -> compose with features.
    feats = image_features(
        out.select("media_id", F.col("frame").alias("data"))
    ).collect()
    assert all(f["n_pixels"] == 4 for f in feats)


def test_video_foreign_container_raises(spark):
    from sparkgraft.operators.multimodal import video_frame_sample

    df = spark.createDataFrame(
        [(1, b"MP4\x00" + b"\x00" * 32)], "media_id long, data binary"
    )
    with pytest.raises(Exception, match="ffmpeg|OpenCV|NotImplemented"):
        video_frame_sample(df, 2).collect()


def test_sgrf_stream_offset_never_regresses(tmp_path):
    """ADVICE r3: a momentarily-empty landing dir (everything archived,
    nothing new yet) must not regress the offset below the committed
    boundary — a reappearing old file would be re-admitted."""
    from sparkgraft.sources.sgrf_source import SgrfStreamReader

    land = tmp_path / "land"
    land.mkdir()
    for name in ("f_000.sgrf", "f_001.sgrf"):
        (land / name).write_bytes(b"SGRF")

    r = SgrfStreamReader({"path": str(land)})
    assert r.latestOffset() == {"last": "f_001.sgrf"}
    # Archive everything: the listing is empty but the offset holds.
    (land / "f_000.sgrf").unlink()
    (land / "f_001.sgrf").unlink()
    assert r.latestOffset() == {"last": "f_001.sgrf"}
    # An OLD file reappears (restored from archive): still no offset
    # regression, and a planned batch over the held boundary admits
    # nothing below it.
    (land / "f_000.sgrf").write_bytes(b"SGRF")
    assert r.latestOffset() == {"last": "f_001.sgrf"}
    assert r.partitions({"last": "f_001.sgrf"}, {"last": "f_001.sgrf"}) == []

    # Fresh reader (restart): the checkpointed start seeds the
    # high-water mark via partitions()/commit(), so later listings
    # can't pull the offset backwards either.
    r2 = SgrfStreamReader({"path": str(land)})
    assert r2.partitions({"last": "f_001.sgrf"}, {"last": "f_001.sgrf"}) == []
    assert r2.latestOffset() == {"last": "f_001.sgrf"}
    r3 = SgrfStreamReader({"path": str(land)})
    r3.commit({"last": "f_001.sgrf"})
    assert r3.latestOffset() == {"last": "f_001.sgrf"}


def test_phash_invariant_to_resize_and_brightness(spark):
    import numpy as np

    from sparkgraft.operators.multimodal import encode_fake_image, image_phash

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(64, 64)).astype(np.uint8)
    # Smooth it so downsampling preserves structure.
    base = (base.astype(float) + np.roll(base, 1, 0) + np.roll(base, 1, 1)) / 3
    base = base.astype(np.uint8)
    half = base[::2, ::2]  # 2x downsample of the same scene
    bright = np.clip(base.astype(int) + 30, 0, 255).astype(np.uint8)
    other = rng.randint(0, 256, size=(64, 64)).astype(np.uint8)
    df = spark.createDataFrame(
        [
            (1, encode_fake_image(64, 64, base.tobytes())),
            (2, encode_fake_image(32, 32, half.tobytes())),
            (3, encode_fake_image(64, 64, bright.tobytes())),
            (4, encode_fake_image(64, 64, other.tobytes())),
        ],
        "media_id long, data binary",
    )
    h = {r["media_id"]: r["phash"] for r in image_phash(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(h[1], h[2]) <= 6          # resized copy: near
    assert ham(h[1], h[3]) <= 6          # brightness shift: near
    assert ham(h[1], h[4]) >= 20         # unrelated: far


def test_phash_neardup_matches_brute_force(spark):
    import numpy as np

    from sparkgraft.operators.multimodal import (
        encode_fake_image,
        image_phash,
        phash_neardup,
    )

    rng = np.random.RandomState(11)
    rows = []
    for i in range(30):
        px = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
        rows.append((i, encode_fake_image(16, 16, px.tobytes())))
        if i % 5 == 0:  # planted near-dup: one pixel nudged
            px2 = px.copy()
            px2[3, 3] = min(255, int(px2[3, 3]) + 2)
            rows.append((1000 + i, encode_fake_image(16, 16, px2.tobytes())))
    df = spark.createDataFrame(rows, "media_id long, data binary")
    hashes = image_phash(df)
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in phash_neardup(hashes, max_hamming=3, n_bands=4).collect()
    )
    hs = {r["media_id"]: r["phash"] for r in hashes.collect()}
    brute = sorted(
        (a, b, bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1"))
        for a in hs
        for b in hs
        if a < b
        and bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1") <= 3
    )
    assert got == brute
    planted = {(i, 1000 + i) for i in range(0, 30, 5)}
    assert planted <= {(a, b) for a, b, _ in got}


def test_audio_fingerprint_matches_shifted_copy(spark):
    """A track containing another's content matches at one consistent
    offset; unrelated tracks don't reach the match floor."""
    import numpy as np

    from sparkgraft.operators.multimodal import (
        audio_fingerprint,
        audio_match,
        encode_fake_audio,
    )

    rng = np.random.RandomState(21)
    # Tonal content (sums of sines) so spectra have real peaks.
    t = np.arange(128 * 128) / 8000.0

    def tone(freqs):
        return sum(np.sin(2 * np.pi * f * t) for f in freqs)

    s1 = tone([440, 880, 1320]) + 0.01 * rng.randn(len(t))
    pad = 0.01 * rng.randn(128 * 8)  # 8 hops of noise prefix
    s2 = np.concatenate([pad, s1])   # shifted copy
    s3 = tone([523, 659, 987]) + 0.01 * rng.randn(len(t))  # unrelated

    df = spark.createDataFrame(
        [
            (1, encode_fake_audio([float(x) for x in s1])),
            (2, encode_fake_audio([float(x) for x in s2])),
            (3, encode_fake_audio([float(x) for x in s3])),
        ],
        "media_id long, data binary",
    )
    fps = audio_fingerprint(df)
    got = {
        (r["id_a"], r["id_b"]): (r["offset"], r["n_matched"])
        for r in audio_match(fps, min_matches=20).collect()
    }
    assert (1, 2) in got
    off, n = got[(1, 2)]
    assert off == -8 and n >= 50  # s2 = 8-hop-delayed s1
    assert (1, 3) not in got and (2, 3) not in got


def test_audio_fingerprint_deterministic(spark):
    import numpy as np

    from sparkgraft.operators.multimodal import (
        audio_fingerprint,
        encode_fake_audio,
    )

    t = np.arange(128 * 40) / 8000.0
    s = np.sin(2 * np.pi * 700 * t) + np.sin(2 * np.pi * 1100 * t)
    df = spark.createDataFrame(
        [(7, encode_fake_audio([float(x) for x in s]))],
        "media_id long, data binary",
    )
    a = sorted(tuple(r) for r in audio_fingerprint(df).collect())
    b = sorted(tuple(r) for r in audio_fingerprint(df.repartition(4)).collect())
    assert a == b and a


def test_video_fingerprint_offset_vote_detects_shifted_clip(spark):
    """A clip containing another's frames matches at the exact frame
    offset through the SAME vote machinery the audio path uses."""
    import numpy as np

    from sparkgraft.operators.multimodal import (
        encode_fake_video,
        offset_vote_match,
        video_fingerprint,
    )

    rng = np.random.RandomState(5)

    def frame(seed):
        base = np.random.RandomState(seed).randint(0, 256, (16, 16))
        sm = (base + np.roll(base, 1, 0) + np.roll(base, 1, 1)) / 3
        return sm.astype(np.uint8).tobytes()

    clip_a = [frame(100 + i) for i in range(12)]
    pad = [frame(900 + i) for i in range(4)]
    clip_b = pad + clip_a          # contains A, shifted by 4 frames
    clip_c = [frame(500 + i) for i in range(12)]  # unrelated

    df = spark.createDataFrame(
        [
            (1, encode_fake_video(16, 16, clip_a)),
            (2, encode_fake_video(16, 16, clip_b)),
            (3, encode_fake_video(16, 16, clip_c)),
        ],
        "media_id long, data binary",
    )
    fps = video_fingerprint(df)
    # fingerprint table carries real frame indices
    rows = fps.filter(F.col("media_id") == 2).agg(
        F.min("frame"), F.max("frame")
    ).first()
    assert (rows[0], rows[1]) == (0, 15)

    got = {
        (r["id_a"], r["id_b"]): (r["offset"], r["n_matched"])
        for r in offset_vote_match(fps, min_matches=10).collect()
    }
    assert got.get((1, 2), (None, 0))[0] == -4
    assert got[(1, 2)][1] >= 12  # every shared frame votes at -4
    assert (1, 3) not in got and (2, 3) not in got


def test_audio_fingerprint_loud_track_normalizes(spark):
    """Round-9 review: |sample| beyond the integer-DFT headroom scales
    down by an exact power of two instead of failing the batch, and a
    loud copy still matches its unit-amplitude original (amplitude
    robustness)."""
    import math

    import numpy as np

    from sparkgraft.operators.multimodal import (
        audio_fingerprint,
        audio_match,
        encode_fake_audio,
    )

    t = np.arange(128 * 64) / 8000.0
    s = np.array([math.sin((2.0 * math.pi * 700.0) * x)
                  + math.sin((2.0 * math.pi * 1900.0) * x) for x in t])
    df = spark.createDataFrame(
        [
            (1, encode_fake_audio(s)),
            (2, encode_fake_audio(s * 3000.0)),  # int16-ish loudness
        ],
        "media_id long, data binary",
    )
    fps = audio_fingerprint(df)
    assert fps.filter("media_id = 2").count() > 0
    got = {
        (r["id_a"], r["id_b"]): r["offset"]
        for r in audio_match(fps, min_matches=20).collect()
    }
    assert got.get((1, 2)) == 0
