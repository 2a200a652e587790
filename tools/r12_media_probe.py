"""Media-pipeline probe: per-query wall time, Spark job count, shuffle
bytes and session cache state for the five bench media dedup steps,
reproduced with the bench's session/corpus shape (scratch parquet, 1 MB
splits, bounded reader).  Run it on a change and on its parent: the job
counts come from tools/jobstats.py (AppStatusStore), and
``cache_empty`` is the session CacheManager's ``isEmpty()`` after each
step's runs (an operator that leaves cached blocks behind reads false).

Usage: python tools/r12_media_probe.py [runs] [queries...]
Environment: SPARK_GRAFT_CPUS (local[N] and shuffle partitions, default
32), SPARK_GRAFT_SF_DIR (documents.parquet source, default sf0.1).
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from paradump_spark.session import build_session  # noqa: E402
from tools.jobstats import job_group  # noqa: E402

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    only = set(sys.argv[2:])
    spark = build_session(
        app_name="r12_media_probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(1024 * 1024)},
    )
    from paradump_spark.operators import multimodal as MMOD

    cache = spark._jsparkSession.sharedState().cacheManager()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.count()  # session warmup
    media_ids = docs.select("doc_id").repartition(int(CPUS))
    media_dir = tempfile.mkdtemp(prefix="probe_media_")

    def corpus(name, gen):
        path = os.path.join(media_dir, name)
        gen(media_ids, "doc_id", groups=40).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path), MMOD.bounded_media_reader(spark, path)

    steps = {}
    img, imgb = corpus("img", MMOD.synthetic_image_corpus)
    steps["image_dedup"] = (imgb, lambda: MMOD.image_dedup_flags(
        img, "doc_id", algo="dhash", max_hamming=4).count())
    aud, audb = corpus("aud", MMOD.synthetic_audio_corpus)
    steps["audio_dedup"] = (audb, lambda: MMOD.audio_dedup_flags(
        aud, "doc_id", max_hamming=4).count())
    vid, vidb = corpus("vid", MMOD.synthetic_video_corpus)
    steps["video_dedup"] = (vidb, lambda: MMOD.video_dedup_flags(
        vid, "doc_id", n_frames=8).count())
    aur, aurb = corpus("aur", MMOD.synthetic_audio_corpus_robust)
    steps["audio_dedup_robust"] = (aurb, lambda: MMOD.audio_robust_dedup_flags(
        aur, "doc_id").count())
    vir, virb = corpus("vir", MMOD.synthetic_video_corpus_robust)
    steps["video_dedup_robust"] = (virb, lambda: MMOD.video_robust_dedup_flags(
        vir, "doc_id").count())

    out = {}
    try:
        for name, (bound, fn) in steps.items():
            if only and name not in only:
                continue
            walls, stats = [], None
            for i in range(runs):
                with bound:
                    t0 = time.time()
                    with job_group(spark, f"{name}_{i}") as jg:
                        fn()
                    walls.append(round(time.time() - t0, 3))
                stats = jg.stats
            out[name] = {
                "wall_median": sorted(walls)[len(walls) // 2],
                "walls": walls,
                "jobs": stats["jobs"],
                "shuffle_read": stats["shuffle_read"],
                "shuffle_write": stats["shuffle_write"],
                "cache_empty": bool(cache.isEmpty()),
            }
            print(json.dumps({name: out[name]}))
    finally:
        shutil.rmtree(media_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
