"""Dedup + similarity operator tests on the driver testdata."""

from pyspark.sql import functions as F

from paradump_spark.operators import dedup as DD
from paradump_spark.operators import multimodal as MM
from paradump_spark.operators import similarity as SIM
from paradump_spark.operators import text_analysis as TA


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_dedup_exact_recovers_originals(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    doubled = docs.unionAll(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    kept = DD.dedup_exact(doubled, ["text"], "doc_id")
    assert kept.count() == docs.count()
    assert kept.where(F.col("doc_id") >= 100000).count() == 0


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text").where(F.col("doc_id") < 100)
    planted = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    base = docs.unionAll(planted)
    cand = DD.minhash_lsh_candidates(base, "doc_id", "text")
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    planted_ids = [r["doc_id"] for r in planted.collect()]
    # high-similarity planted pairs should mostly collide in some band
    hits = sum(1 for p in planted_ids if (p - 100000, p) in pairs)
    assert hits >= len(planted_ids) * 0.8


def test_jaccard_of_identical_is_one(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text").where(F.col("doc_id") < 20)
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    base = docs.unionAll(dup)
    cand = spark.createDataFrame(
        [(i, i + 100000) for i in range(20)], "id_a bigint, id_b bigint"
    )
    jac = DD.ngram_jaccard_pairs(base, "doc_id", "text", cand)
    assert jac.where(F.col("jaccard") != 1.0).count() == 0


def test_dedup_minhash_drops_planted(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text").where(F.col("doc_id") < 50)
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    base = docs.unionAll(dup)
    kept = DD.dedup_minhash(base, "doc_id", "text", threshold=0.99)
    # exact duplicates always collide in every band -> all planted dropped
    assert kept.count() == docs.count()


def test_simhash_identical_docs_equal_hash(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text").where(F.col("doc_id") < 30)
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    buckets = DD.simhash_duplicate_buckets(docs.unionAll(dup), "doc_id", "text")
    assert buckets.count() == 30
    assert buckets.where(F.col("n") != 2).count() == 0


def test_embedding_near_dup_finds_planted(spark, sf_dir):
    emb = _emb(spark, sf_dir).select("vec_id", "embedding").where(F.col("vec_id") < 50)
    dup = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    pairs = DD.embedding_near_dup_pairs(
        emb.unionAll(dup), "vec_id", "embedding", threshold=0.999
    )
    assert pairs.count() == 50


def test_brute_force_topk_self_is_rank1(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = SIM.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 3), "vec_id", "embedding", k=3
    )
    r1 = {r["query_id"]: r["neighbor_id"] for r in out.where("rank = 1").collect()}
    assert r1 == {0: 0, 1: 1, 2: 2}


def test_ivf_topk_self_is_rank1(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = SIM.ivf_topk(
        emb, emb.where(F.col("vec_id") < 3), "vec_id", "embedding",
        k=3, num_cells=8, nprobe=8,  # nprobe=all cells -> exact
    )
    r1 = {r["query_id"]: r["neighbor_id"] for r in out.where("rank = 1").collect()}
    assert r1 == {0: 0, 1: 1, 2: 2}


def test_ivf_matches_brute_force_when_probing_all_cells(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 3)
    bf = SIM.brute_force_topk(emb, q, "vec_id", "embedding", k=5).collect()
    ivf = SIM.ivf_topk(
        emb, q, "vec_id", "embedding", k=5, num_cells=4, nprobe=4
    ).collect()
    assert sorted(map(tuple, bf)) == sorted(map(tuple, ivf))


def test_quality_filter_bounds(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    kept = TA.quality_filter(docs, "text", min_tokens=5)
    assert 0 < kept.count() <= docs.count()


def test_multimodal_features_match_expected(spark, sf_dir):
    import hashlib

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 5)
    binary = MM.attach_binary_payload(docs, "doc_id", "text")
    feats = {r["doc_id"]: r for r in MM.extract_features(binary).collect()}
    for row in docs.select("doc_id", "text").collect():
        exp = hashlib.md5(row["text"].encode()).hexdigest()
        assert feats[row["doc_id"]]["content_md5"] == exp
        assert feats[row["doc_id"]]["n_bytes"] == len(row["text"].encode())


def test_multimodal_decode_stub_raises():
    import pytest

    with pytest.raises(NotImplementedError):
        MM.decode_stub(b"\x89PNG")


def test_frame_sampling_shape_and_determinism(spark, sf_dir):
    from paradump_spark.operators import multimodal as MM

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    media = MM.attach_binary_payload(docs, "doc_id", "text", media_type="video")
    frames = MM.sample_frames(media, n_frames=4)
    rows = frames.collect()
    assert len(rows) == 50 * 4  # 1 -> N fan-out
    assert frames.columns == ["doc_id", "frame_idx", "frame_ms", "frame_payload"]
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_doc.values())
    # deterministic payloads across runs
    again = {(r["doc_id"], r["frame_idx"]): bytes(r["frame_payload"]) for r in rows}
    rerun = {
        (r["doc_id"], r["frame_idx"]): bytes(r["frame_payload"])
        for r in MM.sample_frames(media, n_frames=4).collect()
    }
    assert again == rerun

    import pytest

    with pytest.raises(ValueError):
        MM.sample_frames(media, n_frames=0)


def test_resize_stub_rewrites_dims_and_preserves_schema(spark, sf_dir):
    from paradump_spark.operators import multimodal as MM

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = MM.attach_binary_payload(docs, "doc_id", "text", media_type="image")
    out = MM.resize_stub(media, width=64, height=64)
    assert out.schema["media_meta"].dataType == MM.MEDIA_META
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["media_meta"]["width"] == 64 and r["media_meta"]["height"] == 64
        assert r["media_meta"]["media_type"] == "image"  # rest of meta kept
        assert len(bytes(r["payload"])) == max(16, (64 * 64) // 64)


def test_frame_sampling_keeps_custom_id_name_and_type(spark, sf_dir):
    """Regression: id column name/type must pass through sample_frames."""
    from paradump_spark.operators import multimodal as MM

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(5)
        .select(F.concat(F.lit("d-"), F.col("doc_id")).alias("file_id"), "text")
    )
    media = MM.attach_binary_payload(docs, "file_id", "text", media_type="video")
    frames = MM.sample_frames(media, n_frames=2, id_col="file_id")
    assert frames.columns[0] == "file_id"
    rows = frames.collect()
    assert len(rows) == 10 and all(r["file_id"].startswith("d-") for r in rows)


def test_incremental_dedup_matches_full_run(spark, sf_dir, tmp_path):
    """Index half the corpus, probe with the other half: cross-half
    candidate pairs must equal the full-run LSH candidates restricted to
    cross-half pairs; fresh docs carry no cross-match; the store grows by
    exactly the fresh docs' bands; re-probing the same shard twice must
    NOT self-match from the first probe's append."""
    from paradump_spark.operators.dedup import (
        incremental_dedup,
        minhash_lsh_candidates,
        write_signature_store,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    store = str(tmp_path / "sigstore")
    write_signature_store(old, store, "doc_id", "text")

    fresh, matches = incremental_dedup(
        spark, store, new, "doc_id", "text", append_fresh=True
    )
    got = {(r["new_id"], r["existing_id"]) for r in matches.collect()}

    full = minhash_lsh_candidates(docs, "doc_id", "text")
    cross, intra = set(), set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        if a % 2 != b % 2:  # one in each half: history match
            new_id, old_id = (a, b) if a % 2 == 1 else (b, a)
            cross.add((new_id, old_id))
        elif a % 2 == 1:  # both in the shard: intra match, earlier id wins
            intra.add((b, a))
    assert got == cross | intra and len(cross) > 0

    fresh_ids = {r["doc_id"] for r in fresh.select("doc_id").collect()}
    assert fresh_ids == {r[0] for r in new.select("doc_id").collect()} - {
        n for n, _ in (cross | intra)
    }
    # snapshot pinning: matches/fresh re-evaluated AFTER the append (the
    # collects above ran post-append) did not self-match — implied by the
    # equality checks; and the store now contains old + fresh bands only
    stored = spark.read.parquet(store)
    n_old = old.count()
    assert stored.select("doc_id").distinct().count() == n_old + len(fresh_ids)


def test_minhash_xxhash64_fast_path_finds_exact_dups(spark, sf_dir):
    """The xxhash64 base-hash mode must find every exact-duplicate pair
    (identical shingles => identical signatures regardless of hash fn)."""
    from paradump_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    doubled = docs.unionAll(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            doubled, "doc_id", "text", hash_fn="xxhash64"
        ).collect()
    }
    ids = [r[0] for r in docs.select("doc_id").collect()]
    missing = [(i, i + 100000) for i in ids if (i, i + 100000) not in cands]
    assert not missing, missing[:5]

    import pytest

    with pytest.raises(ValueError):
        minhash_lsh_candidates(doubled, "doc_id", "text", hash_fn="sha1")


def test_read_media_dir_binary_file_source(spark, tmp_path):
    from paradump_spark.operators import multimodal as MM

    d = tmp_path / "media"
    d.mkdir()
    (d / "a.img").write_bytes(b"\x89fakepng" * 10)
    (d / "b.img").write_bytes(b"\x00\x01\x02")
    (d / "skip.txt").write_text("not media")

    media = MM.read_media_dir(spark, str(d), media_type="image", glob="*.img")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in media.collect()}
    assert set(rows) == {"a.img", "b.img"}
    assert bytes(rows["b.img"]["payload"]) == b"\x00\x01\x02"
    assert rows["a.img"]["media_meta"]["media_type"] == "image"
    # plumbing composes with the feature extractor downstream
    feats = MM.extract_features(media).collect()
    assert {f["n_bytes"] for f in feats} == {80, 3}


def test_incremental_dedup_catches_intra_shard_dups_and_param_mismatch(
    spark, sf_dir, tmp_path
):
    from paradump_spark.operators.dedup import incremental_dedup, write_signature_store

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    old = docs.where(F.col("doc_id") < 100)
    store = str(tmp_path / "store2")
    write_signature_store(old, store, "doc_id", "text")

    # shard: two copies of one brand-new text + one genuinely new text
    shard = spark.createDataFrame(
        [
            (9001, "zq xv qp zq xv qp zq xv"),
            (9002, "zq xv qp zq xv qp zq xv"),  # intra-shard dup of 9001
            (9003, "completely different words entirely here now ok"),
        ],
        "doc_id long, text string",
    )
    fresh, matches = incremental_dedup(
        spark, store, shard, "doc_id", "text", append_fresh=True
    )
    fresh_ids = {r["doc_id"] for r in fresh.collect()}
    got = {(r["new_id"], r["existing_id"]) for r in matches.collect()}
    assert (9002, 9001) in got  # earlier id wins
    assert 9001 in fresh_ids and 9002 not in fresh_ids
    # only ONE copy of the dup cluster entered the store
    stored = {r[0] for r in spark.read.parquet(store).select("doc_id").distinct().collect()}
    assert 9001 in stored and 9002 not in stored

    import pytest

    with pytest.raises(ValueError):
        incremental_dedup(spark, store, shard, "doc_id", "text", bands=6)


def test_connected_components_log_rounds_on_chain(spark):
    """Pathological 256-node chain: large-star/small-star must converge in
    O(log n) alternating rounds (label propagation would need ~255)."""
    from paradump_spark.operators.dedup import connected_components

    n = 256
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a bigint, id_b bigint"
    )
    rounds = []
    # driver_edge_cap=0 forces the distributed star rounds — the
    # logarithmic bound is a property of THAT path (small graphs
    # normally take the round-11 driver union-find escape)
    comp = connected_components(
        chain, max_iter=30, _rounds_out=rounds, driver_edge_cap=0
    )
    rows = {r["id"]: r["component"] for r in comp.collect()}
    assert len(rows) == n
    assert set(rows.values()) == {1}  # one component, min label 1
    assert rounds and rounds[0] <= 2 * 8 + 3  # ~2·log2(256) + slack


def test_connected_components_multi_component_and_isolated(spark):
    from paradump_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21), (30, 30)], "id_a bigint, id_b bigint"
    )
    verts = spark.createDataFrame([(99,), (3,)], "id bigint")
    comp = connected_components(edges, vertices=verts)
    rows = {r["id"]: r["component"] for r in comp.collect()}
    assert rows == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 30: 30, 99: 99}


def test_exact_jaccard_pairs_matches_bruteforce(spark, sf_dir):
    """exact_jaccard_pairs (shingle-blocked, distributed) == python
    all-pairs brute force — the ground truth the bench LSH-quality
    ledger relies on."""
    import itertools

    from paradump_spark.operators.dedup import exact_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in exact_jaccard_pairs(docs, "doc_id", "text", 0.5).collect()
    }

    def shingles(text):
        toks = text.split()
        k = max(len(toks) - 2, 1)
        return {" ".join(toks[i:i + 3]) for i in range(k)}

    sets = {r.doc_id: shingles(r.text) for r in docs.collect()}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if not inter:
            continue
        j = inter / len(sets[a] | sets[b])
        if j >= 0.5:
            want[(a, b)] = round(j, 9)
    assert got == want
    assert len(want) > 0  # the testdata's injected dups make this non-empty


def test_exact_jaccard_pairs_rejects_bad_threshold(spark, sf_dir):
    import pytest as _pytest

    from paradump_spark.operators.dedup import exact_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with _pytest.raises(ValueError):
        exact_jaccard_pairs(docs, "doc_id", "text", 0.0)


def test_ngram_containment_detects_subset_doc(spark):
    """A short doc quoted verbatim inside a much longer one: Jaccard is
    tiny but containment of the short side ≈ 1.0 (Broder's
    resemblance-vs-containment distinction)."""
    from paradump_spark.operators.dedup import ngram_containment_pairs

    quote = " ".join(f"q{i}" for i in range(10))
    long_doc = quote + " " + " ".join(f"f{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = ngram_containment_pairs(df, "doc_id", "text", cand, 3).collect()[0]
    assert r["containment_a"] == 1.0  # every shingle of the quote is in B
    assert r["containment_b"] < 0.1
    assert r["jaccard"] < 0.1
    # symmetric direction
    cand2 = spark.createDataFrame([(2, 1)], "id_a long, id_b long")
    r2 = ngram_containment_pairs(df, "doc_id", "text", cand2, 3).collect()[0]
    assert r2["containment_b"] == 1.0


def test_tune_lsh_properties():
    """Parameter search: (a) budget respected; (b) beats every feasible
    alternative on an independently-computed objective; (c) threshold
    monotonicity — higher thresholds need more rows per band; (d) the
    S-curve midpoint sits near the threshold for the chosen config."""
    from paradump_spark.operators.dedup import (
        lsh_candidate_probability,
        tune_lsh,
    )

    def objective(t, b, r, wfp=0.5, wfn=0.5, steps=2000):
        # independent quadrature (different step count / accumulation)
        fp = sum(
            lsh_candidate_probability(t * (i + 0.5) / steps, b, r)
            for i in range(steps)
        ) * (t / steps)
        fn = sum(
            1 - lsh_candidate_probability(t + (1 - t) * (i + 0.5) / steps, b, r)
            for i in range(steps)
        ) * ((1 - t) / steps)
        return wfp * fp + wfn * fn

    for t, n in [(0.5, 128), (0.8, 128), (0.9, 64), (0.8, 48)]:
        b, r = tune_lsh(t, n)
        assert b * r <= n and b >= 1 and r >= 1
        best = objective(t, b, r)
        for rr in range(1, n + 1):
            bb = n // rr
            if bb < 1:
                break
            assert best <= objective(t, bb, rr) + 1e-9, (t, n, bb, rr)
    # (c) monotonicity in threshold
    rows_at = [tune_lsh(t, 128)[1] for t in (0.3, 0.6, 0.9)]
    assert rows_at == sorted(rows_at)
    # (d) inflection ~ (1/b)^(1/r) should land near the threshold
    b, r = tune_lsh(0.8, 128)
    assert abs((1 / b) ** (1 / r) - 0.8) < 0.15
    # weights steer the trade: recall-heavy tuning lowers rows per band
    b_fn, r_fn = tune_lsh(0.8, 128, fp_weight=0.05, fn_weight=0.95)
    b_fp, r_fp = tune_lsh(0.8, 128, fp_weight=0.95, fn_weight=0.05)
    assert r_fn <= r_fp


def test_tune_lsh_validation():
    import pytest as _pytest

    from paradump_spark.operators.dedup import tune_lsh

    with _pytest.raises(ValueError):
        tune_lsh(0.0, 128)
    with _pytest.raises(ValueError):
        tune_lsh(0.5, 0)


# ------------------------------------------------------------------ kNN join

def test_knn_join_full_probe_equals_brute(spark, sf_dir):
    """VERDICT r07 directive 7: at nprobe == num_cells every cell is
    probed, so the corpus×corpus kNN-join must equal brute force row
    for row (same scoring + tie-break machinery)."""
    emb = _emb(spark, sf_dir)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in SIM.knn_join(
            emb, emb, "vec_id", "embedding", k=3, num_cells=8, nprobe=8
        ).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in SIM.brute_force_topk(
            emb, emb, "vec_id", "embedding", k=3
        ).collect()
    )
    assert got == want


def test_knn_join_self_graph_excludes_self(spark, sf_dir):
    emb = _emb(spark, sf_dir).limit(200)
    g = SIM.knn_join(
        emb, emb, "vec_id", "embedding", k=2, num_cells=4, nprobe=4,
        exclude_self=True,
    )
    rows = g.collect()
    assert all(r.query_id != r.neighbor_id for r in rows)
    # every query appears with exactly k neighbors at full probe
    from collections import Counter
    c = Counter(r.query_id for r in rows)
    assert set(c.values()) == {2}


def test_knn_join_plan_no_cartesian_and_one_cell_shuffle(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    g = SIM.knn_join(emb, emb, "vec_id", "embedding", k=3, num_cells=8, nprobe=2)
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_recall_rises_with_nprobe(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    exact = SIM.brute_force_topk(emb, emb, "vec_id", "embedding", k=5)
    r_lo = SIM.knn_join(emb, emb, "vec_id", "embedding", k=5, num_cells=8, nprobe=1)
    r_hi = SIM.knn_join(emb, emb, "vec_id", "embedding", k=5, num_cells=8, nprobe=6)
    lo = SIM.ann_recall(r_lo, exact).collect()[0]["mean_recall"]
    hi = SIM.ann_recall(r_hi, exact).collect()[0]["mean_recall"]
    assert lo <= hi
    assert hi > 0.8


def test_probe_cells_equals_brute_force_on_centroids(spark, sf_dir):
    """probe_cells' cell set is brute_force_topk (the JVM reference)
    with the centroids as the corpus, the rows as queries and
    k = nprobe — same (cosine desc, cell_id asc) order."""
    emb = _emb(spark, sf_dir).limit(100)
    cents = SIM.ivf_centroids(emb, "vec_id", "embedding", 40)
    got = sorted(
        (r.vec_id, r.cell_id)
        for r in SIM.probe_cells(emb, cents, "embedding", 3).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id)
        for r in SIM.brute_force_topk(
            cents.select("cell_id", F.col("centroid").alias("embedding")),
            emb, "cell_id", "embedding", query_id_col="vec_id", k=3,
        ).collect()
    )
    assert len(got) == 300
    assert got == want


def test_knn_join_flat_collects_centroids_once(spark, sf_dir):
    """The flat path's centroid frame (an orderBy().limit() job over the
    right corpus) is collected ONCE and feeds both the right-side assign
    and the left-side probe."""
    from unittest.mock import patch

    emb = _emb(spark, sf_dir).limit(100)
    calls = []
    orig = type(emb).collect

    def counting(self):
        calls.append(1)
        return orig(self)

    with patch.object(type(emb), "collect", counting):
        out = SIM.knn_join(
            emb, emb, "vec_id", "embedding", k=2, num_cells=4, nprobe=2,
            coarse_cells=0,
        )
    assert len(calls) == 1
    assert out.count() == 200


def test_knn_join_two_level_collects_coarse_once(spark, sf_dir):
    """The two-level path collects its coarse centroid frame ONCE, in
    two_level_cells, and probes the queries with the same rows: two
    collects per call (the coarse rows and the coarse cell counts)."""
    from unittest.mock import patch

    emb = _emb(spark, sf_dir).limit(100)
    calls = []
    orig = type(emb).collect

    def counting(self):
        calls.append(1)
        return orig(self)

    with patch.object(type(emb), "collect", counting):
        out = SIM.knn_join(
            emb, emb, "vec_id", "embedding", k=2, num_cells=8, nprobe=2,
            coarse_cells=3,
        )
    assert len(calls) == 2
    assert out.count() == 200


def _with_bad_vectors(emb):
    """``emb`` (vec_id, embedding) plus a NULL and a ragged vector."""
    bad = emb.sparkSession.createDataFrame(
        [(10**6, None), (10**6 + 1, [1.0, 2.0])], emb.schema
    )
    return emb.unionByName(bad)


def _knn_rows(left, right, **kw):
    return sorted(
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in SIM.knn_join(
            left, right, "vec_id", "embedding", k=3, **kw
        ).collect()
    )


def test_top_p_map_null_and_ragged_vectors_become_data(spark, sf_dir, tmp_path):
    """The map-side kernel scores only vectors as wide as the
    centroids: a NULL or ragged vector gets a NULL cell_id from
    ivf_assign, no rows from probe_cells and no rows from (flat)
    knn_join — as a query or as a neighbor — and never fails the job.
    A NULL or ragged query gets no rows from ivf_topk, ivf_query_index
    and ivf_pq_query_index either."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, None),
            (4, [1.0, 0.0]), (5, [0.0, 0.2, 1.0]),
        ],
        "id long, v array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "cell_id int, centroid array<float>",
    )
    got = {r.id: r.cell_id for r in SIM.ivf_assign(corpus, cents, "id", "v").collect()}
    assert got == {1: 0, 2: 1, 3: None, 4: None, 5: 2}
    probed = sorted(
        (r.id, r.cell_id) for r in SIM.probe_cells(corpus, cents, "v", 2).collect()
    )
    assert probed == [(1, 0), (1, 1), (2, 0), (2, 1), (5, 1), (5, 2)]

    emb = _emb(spark, sf_dir).select("vec_id", "embedding").limit(60)
    mixed = _with_bad_vectors(emb)
    exact = dict(num_cells=4, nprobe=4, coarse_cells=0)
    assert _knn_rows(mixed, mixed, **exact) == _knn_rows(emb, emb, **exact)

    from paradump_spark.operators import pq as PQ

    def rows(search):
        return [sorted(tuple(r) for r in search(q).collect()) for q in (mixed, emb)]

    for nprobe in (1, 2):
        got, want = rows(lambda q: SIM.ivf_topk(
            emb, q, "vec_id", "embedding", k=3, num_cells=4, nprobe=nprobe
        ))
        assert got == want and want
    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    SIM.ivf_build_index(emb, ivf, "vec_id", "embedding", num_cells=4)
    got, want = rows(lambda q: SIM.ivf_query_index(
        spark, ivf, q, "vec_id", "embedding", k=3, nprobe=2
    ))
    assert got == want and want
    PQ.ivf_pq_build_index(
        emb, ivfpq, "vec_id", "embedding", num_cells=4, m=4, ksub=8,
        refine_iters=0, residual=True,
    )
    got, want = rows(lambda q: PQ.ivf_pq_query_index(
        spark, ivfpq, q, "vec_id", "embedding", k=3, nprobe=2, rescore=10
    ))
    assert got == want and want


def test_top_p_cogroup_null_and_ragged_vectors_become_data(spark, sf_dir):
    """The cogrouped kernel leaves out vectors that are NULL or not of
    the cell's common width, on both sides: such a row gets no row from
    the fine assign, and the two-level knn_join over a corpus with bad
    vectors equals the one without them."""
    from paradump_spark.operators.semdedup import _fine_assign

    ca = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0, 0.0]), (2, 0, None), (3, 0, [1.0, 0.0]),
            (5, 0, [0.9, 0.1, 0.0]), (4, 1, [0.0, 1.0, 0.0]),
        ],
        "id long, cell_id int, v array<float>",
    )
    fine = spark.createDataFrame(
        [
            (0, 10, [1.0, 0.0, 0.0]), (0, 11, None), (0, 12, [0.0, 1.0]),
            (1, 20, [0.0, 1.0, 0.0]),
        ],
        "cell_id int, cluster_id long, centroid array<float>",
    )
    got = {r.id: r.cluster_id for r in _fine_assign(ca, fine, "v").collect()}
    assert got == {1: 10, 5: 10, 4: 20}

    emb = _emb(spark, sf_dir).select("vec_id", "embedding").limit(60)
    mixed = _with_bad_vectors(emb)
    exact = dict(num_cells=4, nprobe=4, coarse_cells=2, coarse_probe=2)
    assert _knn_rows(mixed, mixed, **exact) == _knn_rows(emb, emb, **exact)


def test_knn_join_logs_geometry_decision(spark, sf_dir, monkeypatch, caplog):
    """One INFO record per knn_join names the path and where each input
    came from, on both sides of KNN_TWO_LEVEL_CELLS."""
    import logging

    emb = _emb(spark, sf_dir).limit(64)

    def record(**kw):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="paradump_spark"):
            SIM.knn_join(emb, emb, "vec_id", "embedding", k=2, **kw)
        (rec,) = [
            r for r in caplog.records
            if r.name == "paradump_spark" and r.msg.startswith("knn_join")
        ]
        return rec.args

    # below the switch: 64 rows / 128 per cell -> 4 cells, flat
    a = record(right_count=64)
    assert a["path"] == "flat"
    assert (a["right_count"], a["right_count_from"]) == (64, "passed")
    assert (a["num_cells"], a["num_cells_from"]) == (4, "derived")
    assert (a["coarse_cells"], a["coarse_cells_from"]) == (0, "derived")
    assert (a["nprobe"], a["nprobe_from"]) == (4, "passed")
    assert (a["coarse_probe"], a["coarse_probe_from"]) == (4, "derived")

    # at the switch: 64 rows / 8 per cell = 8 cells >= 8 -> two-level
    monkeypatch.setattr(SIM, "KNN_CELL_OCCUPANCY", 8)
    monkeypatch.setattr(SIM, "KNN_TWO_LEVEL_CELLS", 8)
    b = record(nprobe=None, coarse_probe=2)
    assert b["path"] == "two-level"
    assert (b["right_count"], b["right_count_from"]) == (64, "count()")
    assert (b["num_cells"], b["num_cells_from"]) == (8, "derived")
    assert (b["coarse_cells"], b["coarse_cells_from"]) == (8, "derived")
    assert b["nprobe_from"] == "derived"
    assert (b["coarse_probe"], b["coarse_probe_from"]) == (2, "passed")

    # every geometry input passed: no count is needed
    c = record(num_cells=4, coarse_cells=2, coarse_probe=2)
    assert c["path"] == "two-level"
    assert (c["right_count"], c["right_count_from"]) == (None, "not needed")
    assert {c[f"{n}_from"] for n in
            ("num_cells", "coarse_cells", "nprobe", "coarse_probe")} == {"passed"}


def test_knn_graph_clusters_balls_and_chain(spark):
    """knn_graph_clusters: transitive near-dup families merge across
    k-means cell boundaries (the case SemDeDup blocking cannot express)
    while distant groups stay separate."""
    import math

    def pad(v):
        return v + [0.0] * (8 - len(v))

    rows = []
    # ball A around e0, ball B around e1 (ids far apart); per-row unique
    # jitter so the kNN graph chains through the ball (exact-tie piles
    # would partition a small-k graph by identical value)
    for i in range(20):
        rows.append((i, pad([1.0, 0.001 * i, 0.0])))
        rows.append((500 + i, pad([0.001 * i, 1.0, 0.0])))
    # a CHAIN on an arc in dims 2-3: consecutive cos(0.2)≈0.98 > 0.95,
    # endpoints cos(3.8) < 0 — one component only via transitivity
    for j in range(20):
        rows.append(
            (900 + j, pad([0.0, 0.0, math.cos(0.2 * j), math.sin(0.2 * j)]))
        )
    emb = spark.createDataFrame(rows, "vid long, v array<float>")
    out = SIM.knn_graph_clusters(
        emb, "vid", "v", threshold=0.95, k=4, num_cells=8, nprobe=8
    )
    comp = {r.vid: r.component for r in out.collect()}
    assert len(comp) == 60
    assert {comp[i] for i in range(20)} == {0}
    assert {comp[500 + i] for i in range(20)} == {500}
    assert {comp[900 + j] for j in range(20)} == {900}
    # three distinct families
    assert len(set(comp.values())) == 3


def test_knn_join_two_level_full_probe_equals_flat_exact(spark, sf_dir):
    """Two-level probing (coarse_cells set) at coarse_probe ==
    coarse_cells and nprobe == num_cells probes EVERY fine cell, so it
    must equal the flat exact path (itself brute-force-equal) row for
    row — same scoring, same tie-break."""
    emb = _emb(spark, sf_dir)
    flat = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in SIM.knn_join(
            emb, emb, "vec_id", "embedding", k=3, num_cells=8, nprobe=8
        ).collect()
    )
    tl = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.cosine)
        for r in SIM.knn_join(
            emb, emb, "vec_id", "embedding", k=3, num_cells=8,
            nprobe=8, coarse_cells=3, coarse_probe=3,
        ).collect()
    )
    assert tl == flat


def test_knn_join_two_level_recall_and_plan(spark, sf_dir):
    """Approximate two-level budgets: recall rises with coarse_probe;
    plan stays cartesian-free; every query still gets ≤ k ranked rows
    with rank contiguous from 1."""
    emb = _emb(spark, sf_dir)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.brute_force_topk(
            emb, emb, "vec_id", "embedding", k=3
        ).collect()
    }

    def recall(cp):
        got = {
            (r.query_id, r.neighbor_id)
            for r in SIM.knn_join(
                emb, emb, "vec_id", "embedding", k=3, num_cells=8,
                nprobe=3, coarse_cells=3, coarse_probe=cp,
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r3 = recall(1), recall(3)
    assert r3 >= r1
    assert r3 > 0.5
    g = SIM.knn_join(
        emb, emb, "vec_id", "embedding", k=3, num_cells=8, nprobe=3,
        coarse_cells=3, coarse_probe=2,
    )
    plan = g._jdf.queryExecution().executedPlan().toString()
    # the coarse probe is the map-side top-p kernel: no join at all
    assert "CartesianProduct" not in plan
    from collections import defaultdict
    ranks = defaultdict(list)
    for r in g.collect():
        ranks[r.query_id].append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())


def test_knn_graph_clusters_two_level_passthrough(spark):
    """knn_graph_clusters(coarse_cells=...) routes through the
    hierarchical probe and still finds the planted ball components at
    full budgets."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for b in range(3):  # three 6-row balls, far apart
        center = rng.normal(size=16)
        center /= np.linalg.norm(center)
        for i in range(6):
            v = center + rng.normal(scale=0.01, size=16)
            rows.append((b * 6 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.knn_graph_clusters(
        emb, "vec_id", "embedding", threshold=0.95, k=4,
        num_cells=4, nprobe=4, coarse_cells=2, coarse_probe=2,
    )
    comp = {r.vec_id: r.component for r in out.collect()}
    for b in range(3):
        members = {comp[b * 6 + i] for i in range(6)}
        assert members == {b * 6}, (b, members)


def test_knn_join_two_level_empty_corpus(spark):
    """Empty right side: the two-level builder yields no fine table and
    the join falls back to the flat path, returning zero rows."""
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = SIM.knn_join(
        q, emb, "vec_id", "embedding", k=3, num_cells=4, nprobe=4,
        coarse_cells=2,
    )
    assert out.count() == 0


def test_knn_join_default_derives_constant_occupancy(spark, sf_dir, monkeypatch):
    """num_cells=None (the DEFAULT, VERDICT r09 directive 1) derives
    constant-occupancy cells from right_count and auto-switches to the
    two-level assign beyond KNN_TWO_LEVEL_CELLS — the default invocation
    must be the scale-safe configuration, not the ledgered exp-2.17
    fixed-cell trap.  Thresholds are shrunk so the sf0.001 corpus (500
    vectors) exercises BOTH branches; the derived call must equal the
    same geometry passed explicitly (same seed -> same centroids)."""
    emb = _emb(spark, sf_dir)
    n = emb.count()
    q = emb.where(F.col("vec_id") < 30)

    # flat branch at real thresholds: n/128 cells, below the switch
    import math
    cells = max(4, math.ceil(n / SIM.KNN_CELL_OCCUPANCY))
    assert cells < SIM.KNN_TWO_LEVEL_CELLS
    got = SIM.knn_join(q, emb, "vec_id", "embedding", k=3,
                       exclude_self=True, right_count=n).collect()
    want = SIM.knn_join(q, emb, "vec_id", "embedding", k=3, num_cells=cells,
                        exclude_self=True).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # two-level branch: shrink occupancy/threshold so derivation crosses
    # the auto-switch on this corpus
    monkeypatch.setattr(SIM, "KNN_CELL_OCCUPANCY", 16)
    monkeypatch.setattr(SIM, "KNN_TWO_LEVEL_CELLS", 8)
    cells2 = max(4, math.ceil(n / 16))
    coarse = max(8, round(cells2 ** 0.5))
    assert cells2 >= 8
    got2 = SIM.knn_join(q, emb, "vec_id", "embedding", k=3,
                        exclude_self=True, right_count=n).collect()
    want2 = SIM.knn_join(q, emb, "vec_id", "embedding", k=3,
                         num_cells=cells2, coarse_cells=coarse,
                         exclude_self=True).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, want2))

    # coarse_cells=0 forces the FLAT path at the derived cell count
    got3 = SIM.knn_join(q, emb, "vec_id", "embedding", k=3, coarse_cells=0,
                        exclude_self=True, right_count=n).collect()
    want3 = SIM.knn_join(q, emb, "vec_id", "embedding", k=3,
                         num_cells=cells2, exclude_self=True).collect()
    assert sorted(map(tuple, got3)) == sorted(map(tuple, want3))


def test_knn_graph_clusters_default_cells(spark, sf_dir):
    """knn_graph_clusters inherits the scale-safe default: a default
    invocation (no num_cells) runs and labels every input row."""
    emb = _emb(spark, sf_dir).limit(150)
    out = SIM.knn_graph_clusters(
        emb, "vec_id", "embedding", threshold=0.9, k=3, nprobe=2
    )
    assert out.count() == 150
    assert "component" in out.columns
