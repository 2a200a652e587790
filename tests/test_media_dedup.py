"""Audio + video near-dup dedup (round 9): energy-difference audio
fingerprints over the dependency-free WAV decoder, per-frame dHash
video signatures over P6 streams, both grouped via Hamming-band LSH
with a min-id keeper (the image_dedup_flags precedent)."""

import collections

import numpy as np
import pytest
from pyspark.sql import functions as F

from paradump_spark.operators import multimodal as MM


# ---------------------------------------------------------------------------
# audio


def _wav(levels, gain=1.0, rate=16000, bits=16, perturb=None):
    amp = 0.08 + 0.88 * np.asarray(levels, dtype=np.float64) / 30.0
    if perturb is not None:
        amp = amp.copy()
        amp[perturb] = 0.08 + 0.88 * ((levels[perturb] + 15) % 31) / 30.0
    amp = amp * gain
    wave = np.repeat(amp, rate // 100)
    wave[1::2] *= -1.0
    return MM._encode_wav(wave, rate, bits)


def _levels(g):
    s = np.arange(65, dtype=np.uint64)
    x = (np.uint64(g) * np.uint64(73856093)) ^ (s * np.uint64(19349663))
    x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    x = x ^ (x >> np.uint64(33))
    lv = (x % np.uint64(31)).astype(np.int64)
    for i in range(1, 65):
        if lv[i] == lv[i - 1]:
            lv[i] = (lv[i] + 1) % 31
    return lv


def test_audio_fingerprint_invariances():
    lv = _levels(3)
    h0 = MM.audio_fingerprint_bytes(_wav(lv))
    # uniform gain: every RMS comparison is preserved — identical hash
    assert MM.audio_fingerprint_bytes(_wav(lv, gain=0.5)) == h0
    # resampling at the same duration: segment RMS is rate-independent
    assert MM.audio_fingerprint_bytes(_wav(lv, rate=8000)) == h0
    # requantization to 8-bit: noise ≪ inter-segment contrast
    assert MM.audio_fingerprint_bytes(_wav(lv, bits=8)) == h0
    # one perturbed segment flips at most its two comparison bits
    hp = MM.audio_fingerprint_bytes(_wav(lv, perturb=31))
    d = bin((h0 ^ hp) & ((1 << 64) - 1)).count("1")
    assert d <= 2
    # different profiles land far apart
    hg = MM.audio_fingerprint_bytes(_wav(_levels(4)))
    assert bin((h0 ^ hg) & ((1 << 64) - 1)).count("1") > 4
    # undecodable / too-short payloads raise (quarantined by operators)
    with pytest.raises(Exception):
        MM.audio_fingerprint_bytes(b"RIFFjunk-not-audio")
    with pytest.raises(ValueError, match="too short"):
        MM.audio_fingerprint_bytes(MM._encode_wav(np.zeros(10), 16000))


def test_audio_dedup_flags_planted(spark):
    """Planted synthetic WAV corpus: per near-dup family exactly the
    lowest id is kept — including the half-gain, resampled, 8-bit and
    one-segment-perturbed re-encodes — junk quarantined unflagged."""
    ids = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    corpus = MM.synthetic_audio_corpus(ids, "doc_id", groups=25)
    flags = MM.audio_dedup_flags(corpus, "doc_id", max_hamming=4)
    rows = {r.doc_id: r for r in flags.collect()}
    assert len(rows) == 200

    junk = [i for i in range(200) if i % 37 == 13]
    assert junk and all(
        not rows[i].is_audio_dup
        and rows[i].decode_error
        and rows[i].phash is None
        for i in junk
    )
    fam = collections.defaultdict(list)
    for i in range(200):
        if i % 37 == 13:
            continue
        fam[i % 25].append(i)
    for g, members in fam.items():
        keepers = [i for i in members if not rows[i].is_audio_dup]
        assert keepers == [min(members)], f"group {g}"
    # the variant renders specifically (non-min ids, decodable)
    special = [
        i for i in range(25, 200)
        if (i % 41 == 7 or i % 29 == 3 or i % 31 == 5 or i % 43 == 11)
        and i % 37 != 13
    ]
    assert special and all(rows[i].is_audio_dup for i in special)
    plan = flags._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# video


def test_video_signature_and_planted_dedup(spark):
    """Planted synthetic P6-stream corpus: per family the lowest id is
    the only keeper — brightness-shifted and downscaled copies have
    IDENTICAL signatures (exact stage), two-slot edits pass the ¾
    slot-match default (band join) — junk quarantined unflagged."""
    ids = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    corpus = MM.synthetic_video_corpus(ids, "doc_id", groups=25)
    flags = MM.video_dedup_flags(corpus, "doc_id", n_frames=8, max_hamming=4)
    rows = {r.doc_id: r for r in flags.collect()}
    assert len(rows) == 200

    junk = [i for i in range(200) if i % 37 == 13]
    assert junk and all(
        not rows[i].is_video_dup
        and rows[i].decode_error
        and rows[i].sig is None
        for i in junk
    )
    ok = [i for i in range(200) if i % 37 != 13]
    assert all(len(rows[i].sig) == 8 for i in ok)
    fam = collections.defaultdict(list)
    for i in ok:
        fam[i % 25].append(i)
    for g, members in fam.items():
        keepers = [i for i in members if not rows[i].is_video_dup]
        assert keepers == [min(members)], f"group {g}"
    # edited (two replaced slots) and downscaled copies specifically
    special = [
        i for i in range(25, 200)
        if (i % 29 == 3 or i % 41 == 7) and i % 37 != 13
    ]
    assert special and all(rows[i].is_video_dup for i in special)
    plan = flags._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_video_dedup_slot_threshold(spark):
    """min_matching is a real knob: with the default ¾ threshold an
    edit of half the slots does NOT merge; lowering it does."""
    base = [(0, g, False) for g in range(4)]

    def stream(doc_id, edit_slots):
        frames = []
        for slot in range(8):
            key = 7 * 8 + slot
            if slot in edit_slots:
                key = 900_001 + doc_id * 8 + slot
            r = np.arange(8, dtype=np.uint64)[:, None]
            c = np.arange(9, dtype=np.uint64)[None, :]
            x = (
                (np.uint64(key) * np.uint64(73856093))
                ^ (r * np.uint64(19349663))
                ^ (c * np.uint64(83492791))
            )
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
            x = x ^ (x >> np.uint64(33))
            cells = ((x % np.uint64(97)).astype(np.int64) * 2 + 10).astype(
                np.uint8
            )
            b = np.repeat(np.repeat(cells, 3, axis=0), 2, axis=1)
            frames.append(
                MM._encode_ppm(
                    np.ascontiguousarray(np.stack([b, b, b], axis=2))
                )
            )
        return b"".join(frames)

    rows = [(0, stream(0, ())), (1, stream(1, (0, 2, 4, 6)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    strict = {
        r.doc_id: r.is_video_dup
        for r in MM.video_dedup_flags(df, "doc_id", n_frames=8).collect()
    }
    assert strict == {0: False, 1: False}  # 4/8 matches < default 6
    loose = {
        r.doc_id: r.is_video_dup
        for r in MM.video_dedup_flags(
            df, "doc_id", n_frames=8, min_matching=4
        ).collect()
    }
    assert loose == {0: False, 1: True}


def test_video_dedup_short_clips_merge(spark):
    """A clip shorter than n_frames emits a SHORTER signature; the
    match threshold must cap at the shorter length (ADVICE r09) — two
    near-identical 4-frame clips must merge under n_frames=8 even
    though the fixed ¾ threshold (6) exceeds their slot count."""

    def frame(key, bump=None):
        r = np.arange(8, dtype=np.uint64)[:, None]
        c = np.arange(9, dtype=np.uint64)[None, :]
        x = (
            (np.uint64(key) * np.uint64(73856093))
            ^ (r * np.uint64(19349663))
            ^ (c * np.uint64(83492791))
        )
        x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
        x = x ^ (x >> np.uint64(33))
        cells = ((x % np.uint64(97)).astype(np.int64) * 2 + 10).astype(
            np.uint8
        )
        if bump is not None:
            rr, cc, nv = bump
            cells[rr, cc] = nv
        b = np.repeat(np.repeat(cells, 3, axis=0), 2, axis=1)
        return MM._encode_ppm(
            np.ascontiguousarray(np.stack([b, b, b], axis=2))
        )

    # doc 1 = doc 0 with ONE grid cell pinned to 0 in frame 2 (key 2):
    # 1 dHash bit flips (verified by the ham precondition below),
    # inside max_hamming=4
    base = b"".join(frame(k) for k in range(4))
    near = b"".join(
        frame(k, bump=(0, 0, 0) if k == 2 else None) for k in range(4)
    )
    assert base != near
    df = spark.createDataFrame(
        [(0, base), (1, near)], "doc_id long, payload binary"
    )
    sigs = {r.doc_id: r.sig for r in MM.video_signature(df).collect()}
    assert len(sigs[0]) == 4 and sigs[0] != sigs[1]  # short + near, not exact
    ham = bin(sigs[0][2] ^ sigs[1][2]).count("1")
    assert 1 <= ham <= 4, ham  # precondition: inside the slot budget
    flags = {
        r.doc_id: r.is_video_dup
        for r in MM.video_dedup_flags(df, "doc_id", n_frames=8).collect()
    }
    assert flags == {0: False, 1: True}


# ---------------------------------------------------------------------------
# time-offset-robust matching (round 10, VERDICT r09 directive 4)


def _wav_long(levels, gain=1.0, rate=16000, bits=16, trim_segs=0, intro=None):
    """2.0 s clip: one 20 ms Nyquist-square segment per level; trim
    drops leading segments, intro prepends foreign segments — the two
    transforms the slot/fraction-aligned fingerprints cannot absorb."""
    amp = 0.08 + 0.88 * np.asarray(levels, dtype=np.float64) / 30.0
    if trim_segs:
        amp = amp[trim_segs:]
    if intro is not None:
        iamp = 0.08 + 0.88 * np.asarray(intro, dtype=np.float64) / 30.0
        amp = np.concatenate([iamp, amp])
    amp = amp * gain
    per_seg = rate // 50  # 20 ms segments
    wave = np.repeat(amp, per_seg)
    wave[1::2] *= -1.0
    return MM._encode_wav(wave, rate, bits)


def _levels_n(g, n=100):
    s = np.arange(n, dtype=np.uint64)
    x = (np.uint64(g) * np.uint64(73856093)) ^ (s * np.uint64(19349663))
    x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    x = x ^ (x >> np.uint64(33))
    lv = (x % np.uint64(31)).astype(np.int64)
    for i in range(1, n):
        if lv[i] == lv[i - 1]:
            lv[i] = (lv[i] + 1) % 31
    return lv


def test_audio_subfingerprints_trim_is_subset():
    """A trim by a multiple of seg_ms preserves every fully-overlapping
    window VERBATIM: the trimmed clip's sub-fingerprints are a subset
    of the original's — the property the set match rides on."""
    lv = _levels_n(5)
    full = set(MM.audio_subfingerprints_bytes(_wav_long(lv)))
    trimmed = set(
        MM.audio_subfingerprints_bytes(_wav_long(lv, trim_segs=25))
    )
    assert trimmed and trimmed <= full
    # gain + resample leave the set unchanged entirely
    assert set(MM.audio_subfingerprints_bytes(_wav_long(lv, gain=0.5))) == full
    assert set(MM.audio_subfingerprints_bytes(_wav_long(lv, rate=8000))) == full


def test_audio_robust_dedup_trim_offset(spark):
    """Trimmed (-0.5 s) and offset (+0.5 s foreign intro) re-encodes —
    the transforms the 65-segment whole-clip fingerprint provably does
    NOT absorb — land in the base clip's family; unrelated groups stay
    apart; junk quarantines."""
    rows = []
    for g in range(4):
        lv = _levels_n(g)
        other = _levels_n(g + 50)[:25]
        rows.append((10 * g + 0, _wav_long(lv)))
        rows.append((10 * g + 1, _wav_long(lv, gain=0.5)))
        rows.append((10 * g + 2, _wav_long(lv, trim_segs=25)))   # -0.5 s
        rows.append((10 * g + 3, _wav_long(lv, intro=other)))    # +0.5 s
        rows.append((10 * g + 4, _wav_long(lv, rate=8000)))
    rows.append((99, b"RIFFjunk-not-audio"))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in MM.audio_robust_dedup_flags(df).collect()}
    assert len(out) == 21
    assert not out[99].is_audio_dup and out[99].decode_error
    for g in range(4):
        fam = [10 * g + j for j in range(5)]
        keepers = [i for i in fam if not out[i].is_audio_dup]
        assert keepers == [min(fam)], f"group {g}"
    # the slot-aligned fingerprint provably misses the trimmed copy
    lv = _levels_n(0)
    h_full = MM.audio_fingerprint_bytes(_wav_long(lv))
    h_trim = MM.audio_fingerprint_bytes(_wav_long(lv, trim_segs=25))
    d = bin((h_full ^ h_trim) & ((1 << 64) - 1)).count("1")
    assert d > 4  # outside any reasonable Hamming budget


def _vframe(key, shift=0):
    r = np.arange(8, dtype=np.uint64)[:, None]
    c = np.arange(9, dtype=np.uint64)[None, :]
    x = (
        (np.uint64(key) * np.uint64(73856093))
        ^ (r * np.uint64(19349663))
        ^ (c * np.uint64(83492791))
    )
    x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    x = x ^ (x >> np.uint64(33))
    cells = ((x % np.uint64(97)).astype(np.int64) * 2 + 10 + shift).astype(
        np.uint8
    )
    b = np.repeat(np.repeat(cells, 3, axis=0), 2, axis=1)
    return MM._encode_ppm(np.ascontiguousarray(np.stack([b, b, b], axis=2)))


def test_video_robust_dedup_trim_offset(spark):
    """Cut-down and intro-prepended copies — which shift every sample
    slot of the fraction-aligned video_signature — land in the base
    video's family under the set match; a brightness-shifted copy
    matches through dHash invariance; unrelated groups stay apart."""
    rows = []
    for g in range(3):
        keys = [g * 64 + j for j in range(16)]
        full = b"".join(_vframe(k) for k in keys)
        trimmed = b"".join(_vframe(k) for k in keys[4:])          # cut head
        intro = b"".join(
            [_vframe(900 + g * 8 + j) for j in range(3)]
            + [_vframe(k) for k in keys]
        )                                                          # offset
        bright = b"".join(_vframe(k, shift=11) for k in keys)      # +11 gray
        rows += [
            (10 * g + 0, full),
            (10 * g + 1, trimmed),
            (10 * g + 2, intro),
            (10 * g + 3, bright),
        ]
    rows.append((99, b"notavideo"))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in MM.video_robust_dedup_flags(df).collect()}
    assert len(out) == 13
    assert not out[99].is_video_dup and out[99].decode_error
    for g in range(3):
        fam = [10 * g + j for j in range(4)]
        keepers = [i for i in fam if not out[i].is_video_dup]
        assert keepers == [min(fam)], f"group {g}"
    # the slot-aligned pipeline provably misses the trimmed copy at the
    # default ¾ threshold: slots land on different frames
    pair = spark.createDataFrame(
        [(0, rows[0][1]), (1, rows[1][1])], "doc_id long, payload binary"
    )
    aligned = {
        r.doc_id: r.is_video_dup
        for r in MM.video_dedup_flags(pair, "doc_id", n_frames=8).collect()
    }
    assert aligned == {0: False, 1: False}
    plan = (
        MM.video_robust_dedup_flags(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_audio_robust_corpus_planted(spark):
    """The declared robust-audio corpus: per family exactly the lowest
    id is kept — including the TRIMMED and FOREIGN-INTRO re-encodes the
    whole-clip fingerprint provably misses — junk quarantined."""
    ids = spark.range(0, 150).withColumnRenamed("id", "doc_id")
    corpus = MM.synthetic_audio_corpus_robust(ids, "doc_id", groups=25)
    rows = {
        r.doc_id: r
        for r in MM.audio_robust_dedup_flags(corpus, "doc_id").collect()
    }
    assert len(rows) == 150
    junk = [i for i in range(150) if i % 37 == 13]
    assert junk and all(
        not rows[i].is_audio_dup and rows[i].decode_error for i in junk
    )
    fam = collections.defaultdict(list)
    for i in range(150):
        if i % 37 != 13:
            fam[i % 25].append(i)
    for g, members in fam.items():
        keepers = [i for i in members if not rows[i].is_audio_dup]
        assert keepers == [min(members)], f"group {g}"
    trimmed = [i for i in range(25, 150) if i % 23 == 2 and i % 37 != 13]
    offset = [i for i in range(25, 150) if i % 19 == 6 and i % 37 != 13]
    assert trimmed and offset
    assert all(rows[i].is_audio_dup for i in trimmed + offset)


def test_video_robust_corpus_planted(spark):
    """The declared robust-video corpus: per family exactly the lowest
    id is kept — including the CUT-DOWN and INTRO-PREPENDED copies that
    shift every fraction-aligned sample slot — junk quarantined."""
    ids = spark.range(0, 150).withColumnRenamed("id", "doc_id")
    corpus = MM.synthetic_video_corpus_robust(ids, "doc_id", groups=25)
    rows = {
        r.doc_id: r
        for r in MM.video_robust_dedup_flags(corpus, "doc_id").collect()
    }
    assert len(rows) == 150
    junk = [i for i in range(150) if i % 37 == 13]
    assert junk and all(
        not rows[i].is_video_dup and rows[i].decode_error for i in junk
    )
    fam = collections.defaultdict(list)
    for i in range(150):
        if i % 37 != 13:
            fam[i % 25].append(i)
    for g, members in fam.items():
        keepers = [i for i in members if not rows[i].is_video_dup]
        assert keepers == [min(members)], f"group {g}"
    cut = [i for i in range(25, 150) if i % 23 == 2 and i % 37 != 13]
    intro = [i for i in range(25, 150) if i % 19 == 6 and i % 37 != 13]
    assert cut and intro
    assert all(rows[i].is_video_dup for i in cut + intro)


def test_media_dedup_leaves_session_cache_empty(spark):
    """Every media dedup pipeline pins its frames with localCheckpoints
    that belong to the returned frame: a counted result leaves the
    session's CacheManager empty (a ``persist`` that is never released
    would stay in it for the rest of the session)."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    ids = spark.range(40).selectExpr("id as doc_id")
    runs = {
        "image": lambda: MM.image_dedup_flags(
            MM.synthetic_image_corpus(ids, "doc_id", groups=8), "doc_id"
        ),
        "audio": lambda: MM.audio_dedup_flags(
            MM.synthetic_audio_corpus(ids, "doc_id", groups=8), "doc_id"
        ),
        "video": lambda: MM.video_dedup_flags(
            MM.synthetic_video_corpus(ids, "doc_id", groups=8), "doc_id"
        ),
        "audio_robust": lambda: MM.audio_robust_dedup_flags(
            MM.synthetic_audio_corpus_robust(ids, "doc_id", groups=8),
            "doc_id",
        ),
        "video_robust": lambda: MM.video_robust_dedup_flags(
            MM.synthetic_video_corpus_robust(ids, "doc_id", groups=8),
            "doc_id",
        ),
    }
    for name, run in runs.items():
        assert run().count() == 40, name
        assert cache.isEmpty(), name


# ---------------------------------------------------------------------------
# bytes-bounded media reads (round 11: the sf5 WAV corpus OOMed a 16 g
# heap through the default 4096-row vectorized reader batches)


def test_bounded_media_reader_equality_and_restore(spark, tmp_path):
    ids = spark.range(200).select(F.col("id").alias("doc_id"))
    path = str(tmp_path / "aud")
    MM.synthetic_audio_corpus_robust(ids, "doc_id", groups=5).write.mode(
        "overwrite"
    ).parquet(path)

    assert MM.media_row_bytes(path) > 1000  # WAV payloads, not scalars

    keys = (
        "spark.sql.parquet.columnarReaderBatchSize",
        "spark.sql.files.maxPartitionBytes",
    )
    before = {k: spark.conf.get(k) for k in keys}
    plain = MM.audio_robust_dedup_flags(
        spark.read.parquet(path), "doc_id"
    ).orderBy("doc_id").collect()
    bound = MM.bounded_media_reader(spark, path, target_batch_bytes=1 << 20)
    with bound:
        # the bound is in force for actions inside the block
        assert (
            int(spark.conf.get("spark.sql.parquet.columnarReaderBatchSize"))
            <= 4096
        )
        got = MM.audio_robust_dedup_flags(
            spark.read.parquet(path), "doc_id"
        ).orderBy("doc_id").collect()
    # identical results, confs restored on exit
    assert [r.asDict() for r in got] == [r.asDict() for r in plain]
    assert {k: spark.conf.get(k) for k in keys} == before
