"""Perceptual-hash image near-dup dedup (VERDICT r08 directive 4):
aHash/dHash over the dependency-free decoders + Hamming-band LSH
grouping with a min-id keeper."""

import collections

import numpy as np
import pytest
from pyspark.sql import functions as F

from paradump_spark.operators import multimodal as MM


def _pattern(g, perturb=False):
    r = np.arange(8, dtype=np.uint64)[:, None]
    c = np.arange(9, dtype=np.uint64)[None, :]
    x = (
        (np.uint64(g) * np.uint64(73856093))
        ^ (r * np.uint64(19349663))
        ^ (c * np.uint64(83492791))
    )
    x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    x = x ^ (x >> np.uint64(33))
    v = (x % np.uint64(97)).astype(np.int64)
    if perturb:
        v = v.copy()
        v[3, 4] = (v[3, 4] + 50) % 97
    return v


def _ppm(cells, ry=3, rx=2, shift=0):
    base = np.repeat(
        np.repeat((cells * 2 + 10 + shift).astype(np.uint8), ry, axis=0),
        rx, axis=1,
    )
    return MM._encode_ppm(
        np.ascontiguousarray(np.stack([base, base, base], axis=2))
    )


def test_perceptual_hash_invariances():
    v = _pattern(3)
    h0 = MM.perceptual_hash_bytes(_ppm(v), "dhash")
    # uniform brightness shift: dHash compares adjacent diffs — identical
    assert MM.perceptual_hash_bytes(_ppm(v, shift=2), "dhash") == h0
    # aHash thresholds at the global mean — also shift-invariant
    a0 = MM.perceptual_hash_bytes(_ppm(v), "ahash")
    assert MM.perceptual_hash_bytes(_ppm(v, shift=2), "ahash") == a0
    # 3x/2x downscale: block means on the 8x9 grid are exact — identical
    assert MM.perceptual_hash_bytes(_ppm(v, ry=1, rx=1), "dhash") == h0
    # one perturbed grid cell flips at most its two adjacent-diff bits
    hp = MM.perceptual_hash_bytes(_ppm(_pattern(3, perturb=True)), "dhash")
    d = bin((h0 ^ hp) & ((1 << 64) - 1)).count("1")
    assert 1 <= d <= 2
    # different groups land far apart (independent pseudo-random bits)
    hg = MM.perceptual_hash_bytes(_ppm(_pattern(4)), "dhash")
    assert bin((h0 ^ hg) & ((1 << 64) - 1)).count("1") > 4
    # undecodable bytes raise (quarantined by the Spark operators)
    with pytest.raises(Exception):
        MM.perceptual_hash_bytes(b"JUNK-not-an-image", "dhash")
    with pytest.raises(ValueError, match="algo"):
        MM.perceptual_hash_bytes(_ppm(v), "md5")


def test_hamming_band_pairs_exact_and_no_cartesian(spark):
    """Banding must find EVERY pair within the budget (pigeonhole: d+1
    bands, ≤ d differing bits leave one band intact) and nothing beyond
    it — checked against brute force over crafted bit patterns — and
    the plan must be an equi-join, never a cartesian product."""
    base = 0x0123456789ABCDEF
    rows = [(0, base)]
    flip = [1, 9, 17, 33, 47, 55, 63]
    h = base
    for i, bit in enumerate(flip, start=1):  # id i differs from 0 by i bits
        h ^= 1 << bit
        rows.append((i, h - (1 << 64) if h >= 1 << 63 else h))
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in MM.hamming_band_pairs(df, max_hamming=4).collect()
    }
    want = {}
    for i, (ia, ha) in enumerate(rows):
        for ib, hb in rows[i + 1:]:
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= 4:
                want[(ia, ib)] = d
    assert got == want and want  # full recall, exact distances
    plan = (
        MM.hamming_band_pairs(df, max_hamming=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_image_dedup_flags_planted(spark):
    """The planted synthetic corpus: per near-dup family exactly the
    lowest id is kept — including the 3x-downscaled and the
    one-cell-perturbed re-renders — and undecodable junk is quarantined
    unflagged."""
    ids = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    corpus = MM.synthetic_image_corpus(ids, "doc_id", groups=25)
    flags = MM.image_dedup_flags(corpus, "doc_id", algo="dhash", max_hamming=4)
    rows = {r.doc_id: r for r in flags.collect()}
    assert len(rows) == 200

    junk = [i for i in range(200) if i % 37 == 13]
    assert all(
        not rows[i].is_image_dup
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
        keepers = [i for i in members if not rows[i].is_image_dup]
        assert keepers == [min(members)], f"group {g}"
    # resized + perturbed members specifically (non-min ids, decodable)
    special = [
        i for i in range(25, 200)
        if (i % 41 == 7 or i % 29 == 3) and i % 37 != 13
    ]
    assert special and all(rows[i].is_image_dup for i in special)
    # determinism
    again = {r.doc_id: r for r in flags.collect()}
    assert {i: r.phash for i, r in rows.items()} == {
        i: r.phash for i, r in again.items()
    }
    # no cartesian anywhere in the whole composed plan
    plan = flags._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_image_dedup_ahash_exact_copies(spark):
    """aHash variant: exact/brightness-shifted full-size copies group to
    one keeper (the grid-aligned invariances); the perturbed/resized
    cases are dHash territory (aHash's global-mean threshold shifts)."""
    ids = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    corpus = MM.synthetic_image_corpus(ids, "doc_id", groups=25)
    flags = MM.image_dedup_flags(corpus, "doc_id", algo="ahash", max_hamming=4)
    rows = {r.doc_id: r for r in flags.collect()}
    fam = collections.defaultdict(list)
    for i in range(200):
        if i % 37 == 13 or i % 29 == 3 or i % 41 == 7:
            continue  # junk / perturbed / resized out of scope here
        fam[i % 25].append(i)
    for g, members in fam.items():
        flagged = [i for i in members if rows[i].is_image_dup]
        assert set(flagged) >= set(members) - {min(members)}, f"group {g}"


def test_hamming_band_pairs_two_level_exact(spark):
    """The occupancy-bounded two-level keys (sub_bands, round 10) must
    return EXACTLY the single-level result — the second pigeonhole
    (≤ d errors over d+1 sub-blocks of the remaining bits leave one
    sub-block intact) preserves full recall, verified against brute
    force over a random corpus with planted near pairs at every
    distance 0..d+2."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(120):
        rows.append((i, rng.getrandbits(64)))
    # planted near-dups off the first 10 bases at distances 1..6
    nid = 1000
    for b in range(10):
        h = rows[b][1]
        for d in range(1, 7):
            bits = rng.sample(range(64), d)
            hh = h
            for bit in bits:
                hh ^= 1 << bit
            rows.append((nid, hh))
            nid += 1

    def signed(h):
        return h - (1 << 64) if h >= 1 << 63 else h

    df = spark.createDataFrame(
        [(i, signed(h)) for i, h in rows], "doc_id long, phash long"
    )
    want = {}
    for i, (ia, ha) in enumerate(rows):
        for ib, hb in rows[i + 1:]:
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= 4:
                key = (ia, ib) if ia < ib else (ib, ia)
                want[key] = d
    single = {
        (r.id_a, r.id_b): r.hamming
        for r in MM.hamming_band_pairs(df, max_hamming=4).collect()
    }
    two = {
        (r.id_a, r.id_b): r.hamming
        for r in MM.hamming_band_pairs(
            df, max_hamming=4, sub_bands=5
        ).collect()
    }
    assert want and single == want and two == want
    # wider sub-band splits keep exactness too (s >= d+1 suffices)
    seven = {
        (r.id_a, r.id_b): r.hamming
        for r in MM.hamming_band_pairs(
            df, max_hamming=4, sub_bands=7
        ).collect()
    }
    assert seven == want


def test_perceptual_dedup_flags_auto_wide_keys(spark, monkeypatch):
    """perceptual_dedup_flags switches to two-level band keys once the
    distinct-fingerprint count crosses HAMMING_WIDE_KEYS_MIN — and the
    result is identical either way (the switch is a pure plan change)."""
    import random

    rng = random.Random(11)

    def signed(h):
        return h - (1 << 64) if h >= 1 << 63 else h

    rows = []
    for i in range(80):
        h = rng.getrandbits(64)
        rows.append((2 * i, signed(h), None))
        rows.append((2 * i + 1, signed(h ^ (1 << (i % 64))), None))
    df = spark.createDataFrame(rows, "doc_id long, phash long, decode_error string")
    base = {
        (r.doc_id, r.is_dup)
        for r in MM.perceptual_dedup_flags(df, max_hamming=4).collect()
    }
    monkeypatch.setattr(MM, "HAMMING_WIDE_KEYS_MIN", 1)
    wide = {
        (r.doc_id, r.is_dup)
        for r in MM.perceptual_dedup_flags(df, max_hamming=4).collect()
    }
    assert base == wide
    assert sum(1 for _, d in base if d) == 80  # each pair keeps its min id


def _signed64(h):
    return h - (1 << 64) if h >= 1 << 63 else h


def test_hamming_occupancy_probe_unbiased_and_exact(spark):
    """Full-fraction probe reproduces the exact candidate-pair count;
    a sampled probe lands within 2x on a uniform corpus (the unbiased
    Σ ĉ(ĉ−1)/2p² estimator, VERDICT r10 directive 5)."""
    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("phash")
    ).localCheckpoint(eager=True)
    exact = MM.hamming_band_occupancy_probe(
        df, "phash", 4, sample_rows=10**9  # frac -> 1.0: exact
    )
    assert exact["sample_frac"] == 1.0
    # independent exact computation through the operator's own keys
    bcols = MM.hamming_band_key_cols("phash", 4, None)
    truth = (
        df.select(F.explode(F.array(*bcols)).alias("__band"))
        .groupBy("__band").count()
        .agg(F.sum(F.expr("count * (count - 1) / 2").cast("long")))
        .collect()[0][0]
    )
    assert exact["est_candidate_pairs"] == int(truth)
    sampled = MM.hamming_band_occupancy_probe(
        df, "phash", 4, sample_rows=5_000
    )
    assert sampled["sample_frac"] == 0.25
    assert 0 < sampled["est_candidate_pairs"] < 4 * max(int(truth), 1) + 100


def test_choose_sub_bands_fires_on_skew_not_uniform(spark, monkeypatch):
    """The sampled probe switches a SKEWED corpus (near-dup ball
    concentrating band keys) to two-level keys below the uniform 8M
    point, while a uniform corpus of the same size stays single-level
    — and the flags are identical either way (plan change only)."""
    import random

    rng = random.Random(7)
    monkeypatch.setattr(MM, "HAMMING_PROBE_MIN_DISTINCT", 100)
    monkeypatch.setattr(MM, "HAMMING_PAIRS_PER_ROW_SWITCH", 50)

    n = 2_000
    uniform = spark.range(n).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("phash")
    ).localCheckpoint(eager=True)
    assert MM.choose_hamming_sub_bands(uniform, "phash", 4) is None

    # near-dup ball: every fingerprint within Hamming 2 of one base in
    # the LOW band -> the other four band values are shared by ALL rows
    base = rng.getrandbits(64) & ~0xFFF
    rows = []
    seen = set()
    i = 0
    while len(rows) < n:
        h = base ^ (rng.getrandbits(12) & rng.getrandbits(12))
        if h in seen:
            continue
        seen.add(h)
        rows.append((i, _signed64(h), None))
        i += 1
    ball = spark.createDataFrame(
        rows, "doc_id long, phash long, decode_error string"
    ).localCheckpoint(eager=True)
    assert MM.choose_hamming_sub_bands(ball, "phash", 4) == 5

    auto = {
        (r.doc_id, r.is_dup)
        for r in MM.perceptual_dedup_flags(ball, max_hamming=4).collect()
    }
    monkeypatch.setattr(MM, "HAMMING_PROBE_MIN_DISTINCT", 10**9)  # force single
    single = {
        (r.doc_id, r.is_dup)
        for r in MM.perceptual_dedup_flags(ball, max_hamming=4).collect()
    }
    assert auto == single


def test_choose_sub_bands_logs_decision(spark, monkeypatch, caplog):
    """One INFO record per band-key decision names the level, the row
    count, the thresholds it compared against and, when the occupancy
    probe ran, its estimate — on both sides of each switch."""
    import logging

    df = spark.range(64).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("phash")
    )

    def decide():
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="paradump_spark"):
            sub = MM.choose_hamming_sub_bands(df, "phash", 4)
        (rec,) = [
            r for r in caplog.records
            if r.name == "paradump_spark" and r.msg.startswith("hamming")
        ]
        a = rec.args
        assert a["sub_bands"] == sub
        assert a["n_rows"] == 64
        assert a["wide_keys_min"] == MM.HAMMING_WIDE_KEYS_MIN
        assert a["probe_min_distinct"] == MM.HAMMING_PROBE_MIN_DISTINCT
        assert a["pairs_per_row_switch"] == MM.HAMMING_PAIRS_PER_ROW_SWITCH
        return a

    # below the probe floor: single-level, no probe
    a = decide()
    assert (a["level"], a["est_candidate_pairs"]) == ("single", None)
    # at the wide-keys size: two-level, no probe
    monkeypatch.setattr(MM, "HAMMING_WIDE_KEYS_MIN", 64)
    a = decide()
    assert (a["level"], a["est_candidate_pairs"]) == ("two-level", None)
    # the probe runs and decides on both sides of its switch
    monkeypatch.setattr(MM, "HAMMING_WIDE_KEYS_MIN", 10**9)
    monkeypatch.setattr(MM, "HAMMING_PROBE_MIN_DISTINCT", 1)
    monkeypatch.setattr(MM, "HAMMING_PAIRS_PER_ROW_SWITCH", 10**9)
    a = decide()
    assert a["level"] == "single"
    assert isinstance(a["est_candidate_pairs"], int)
    monkeypatch.setattr(MM, "HAMMING_PAIRS_PER_ROW_SWITCH", 0)
    a = decide()
    assert a["level"] == "two-level" and a["sub_bands"] == 5
    assert isinstance(a["est_candidate_pairs"], int)
