"""CLI entry points mirroring the reference binaries' flag surface.

``python -m paradump_spark.cli dump --directory D --output O --mode sql …``
replaces ``paradump -dumpmode sql …`` (flags: src/paradump/paradump.go:
3477-3525); ``… sync --src S --dst D …`` replaces ``parasync``
(src/parasync/parasync.go:3370-3408).  Flag validation fails with
exit ≠ 0 like the reference's CLI-contract tests
(/root/reference/test/run_test.sh:132-265).
"""

from __future__ import annotations

import argparse
import sys

from paradump_spark.dump import DUMP_MODES, DumpOptions, dump_tables
from paradump_spark.sync import classify_tables, sync_report

TEXT_COMPRESSIONS = ("gzip", "bzip2", "lz4", "deflate", "zstd", "none")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="paradump-spark")
    sub = p.add_subparsers(dest="command", required=True)

    d = sub.add_parser("dump", help="parallel table dump (ref: paradump)")
    d.add_argument("--directory", required=True, help="source catalog directory")
    d.add_argument("--output", help="output directory (required unless --mode nul)")
    d.add_argument("--mode", default="sql", help=f"one of {DUMP_MODES}")
    d.add_argument("--table", action="append", default=[], help="explicit table (repeatable)")
    d.add_argument("--exclude", action="append", default=[], help="substring exclusion (repeatable)")
    d.add_argument("--insertsize", type=int, default=500)
    d.add_argument("--compression", default=None)
    d.add_argument("--compression-level", type=int, default=1,
                   help="zstd level (ref -dumpcompresslevel: 1, 3, 6, 11)")
    d.add_argument("--dialect", default="mysql", choices=("mysql", "postgres", "mssql"))
    d.add_argument("--manifest", action="store_true",
                   help="write _manifest.json (per-table row count + "
                        "order-insensitive checksum) next to the dump")

    vd = sub.add_parser(
        "verify-dump",
        help="recompute a dump manifest's checksums against a (restored) "
             "catalog; exit 1 on any mismatch",
    )
    vd.add_argument("--directory", required=True,
                    help="catalog holding the restored tables")
    vd.add_argument("--manifest", required=True, help="path to _manifest.json")

    s = sub.add_parser("sync", help="table diff + stats (ref: parasync)")
    s.add_argument("--src", required=True)
    s.add_argument("--dst", required=True)
    s.add_argument("--table", action="append", default=[])
    s.add_argument("--exclude", action="append", default=[])
    s.add_argument("--statsfile", default=None)
    s.add_argument("--incremental-chunks", type=int, default=None,
                   help="two-phase mode: checksum N PK chunks, row-diff only changed ones")

    # ------- live-DB verbs (ref run_test_sync.sh's CLI-driven dump →
    # copy → sync cycle): connections come from a `module:callable`
    # zero-arg DBAPI factory so any driver (psycopg, a psql shim, …)
    # plugs in without the CLI knowing DSN syntax -------
    dbd = sub.add_parser(
        "db-dump",
        help="single-transaction live-DB table export to parquet "
             "(ref: paradump single-tx snapshot over a live connection)",
    )
    dbd.add_argument("--reader", required=True,
                     help="module:callable returning a DBAPI connection")
    dbd.add_argument("--db-table", required=True)
    dbd.add_argument("--columns", required=True, help="comma-separated")
    dbd.add_argument("--output", required=True, help="parquet output path")
    dbd.add_argument("--begin-sql", default=None,
                     help="transaction opener (e.g. 'BEGIN ISOLATION "
                          "LEVEL REPEATABLE READ')")
    dbd.add_argument("--batch-rows", type=int, default=50_000)

    dbc = sub.add_parser(
        "db-copy",
        help="K5: bulk-load a dumped parquet table into a live "
             "destination table (batched parameterized INSERTs)",
    )
    dbc.add_argument("--writer", required=True,
                     help="module:callable returning a DBAPI connection")
    dbc.add_argument("--source-parquet", required=True)
    dbc.add_argument("--table", required=True)
    dbc.add_argument("--columns", required=True, help="comma-separated")
    dbc.add_argument("--dialect", default="postgres",
                     choices=("mysql", "postgres", "mssql"))
    dbc.add_argument("--batch-size", type=int, default=500)
    dbc.add_argument("--placeholder", default="?")
    dbc.add_argument("--quote", default='"')

    dbs = sub.add_parser(
        "db-sync",
        help="parasync over a live destination: snapshot the live table, "
             "classify I/U/D vs the source parquet, optionally apply (K6)",
    )
    dbs.add_argument("--reader", required=True,
                     help="module:callable returning a DBAPI connection")
    dbs.add_argument("--writer", default=None,
                     help="module:callable DBAPI factory (required with --apply)")
    dbs.add_argument("--table", required=True, help="live destination table")
    dbs.add_argument("--source-parquet", required=True)
    dbs.add_argument("--columns", required=True, help="comma-separated")
    dbs.add_argument("--pk", required=True, help="comma-separated key columns")
    dbs.add_argument("--begin-sql", default=None)
    dbs.add_argument("--batch-rows", type=int, default=50_000)
    dbs.add_argument("--apply", action="store_true",
                     help="apply the classified DML to the destination")
    dbs.add_argument("--placeholder", default="?")
    dbs.add_argument("--quote", default='"')
    dbs.add_argument("--scratch", default=None,
                     help="directory for the live-side snapshot parquet "
                          "(default: a temp dir)")

    pr = sub.add_parser("profile", help="one-pass per-column table profile")
    pr.add_argument("--directory", required=True, help="source catalog directory")
    pr.add_argument("--table", action="append", default=[], help="explicit table (repeatable)")
    pr.add_argument("--approx", action="store_true",
                    help="approx_count_distinct instead of exact (the 100 TB default)")

    dc = sub.add_parser(
        "decontam", help="drop documents overlapping a benchmark set"
    )
    dc.add_argument("--directory", required=True, help="corpus catalog directory")
    dc.add_argument("--table", default="documents")
    dc.add_argument("--bench-directory", required=True, help="benchmark catalog directory")
    dc.add_argument("--bench-table", default="documents")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--output", required=True, help="parquet output for the clean corpus")
    dc.add_argument("--ngram", type=int, default=3)
    dc.add_argument("--max-hits", type=int, default=0,
                    help="max shared shingles tolerated before a doc is dropped")
    dc.add_argument("--no-broadcast-bench", action="store_true",
                    help="shuffle-join the benchmark shingles instead of "
                         "broadcasting (for benchmarks too big to broadcast)")
    dc.add_argument("--bloom-bits", type=int, default=0,
                    help="power-of-two Bloom bitmap size: prefilter corpus "
                         "shingles map-side before the exact verify join "
                         "(EXACT result; for benchmarks too big to "
                         "broadcast as a set). 0 = off; size ~10x the "
                         "distinct benchmark shingle count")

    sc = sub.add_parser(
        "scrub",
        help="quality-filter (Gopher rules) + PII-redact a corpus in one "
             "map-only pass",
    )
    sc.add_argument("--directory", required=True, help="corpus catalog directory")
    sc.add_argument("--table", default="documents")
    sc.add_argument("--id-col", default="doc_id")
    sc.add_argument("--text-col", default="text")
    sc.add_argument("--output", required=True, help="parquet output for the scrubbed corpus")
    sc.add_argument("--no-redact", action="store_true", help="filter only, keep text verbatim")
    sc.add_argument("--no-filter", action="store_true", help="redact only, keep every document")
    sc.add_argument("--min-words", type=int, default=50)
    sc.add_argument("--max-words", type=int, default=100_000)
    sc.add_argument("--min-stopword-hits", type=int, default=2,
                    help="distinct Gopher stopwords required (lower for "
                         "non-English or synthetic corpora)")
    sc.add_argument("--normalize", action="store_true",
                    help="normalize text FIRST (strip control/zero-width "
                         "chars, collapse whitespace) so filters and "
                         "redaction key on the canonical form")

    dd = sub.add_parser(
        "dedup", help="corpus deduplication (exact, MinHash-LSH clusters, "
                      "or duplicated-span removal)"
    )
    dd.add_argument("--directory", required=True, help="corpus catalog directory")
    dd.add_argument("--table", default="documents")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--output", required=True, help="parquet output")
    dd.add_argument("--method", default="exact",
                    choices=("exact", "minhash", "spans", "semantic", "lines"))
    dd.add_argument("--max-docs", type=int, default=1,
                    help="lines mode: drop lines appearing in more than "
                         "this many distinct documents")
    dd.add_argument("--ngram", type=int, default=3,
                    help="shingle width for minhash")
    dd.add_argument("--threshold", type=float, default=0.8,
                    help="Jaccard threshold for minhash clustering / "
                         "cosine threshold for semantic (use ~0.95)")
    dd.add_argument("--span-tokens", type=int, default=20,
                    help="window width for spans mode")
    dd.add_argument("--vec-col", default="embedding",
                    help="embedding column for --method semantic")
    dd.add_argument("--num-clusters", type=int, default=0,
                    help="k-means blocking clusters for --method semantic; "
                         "0 (default) auto-scales k = ceil(N/64) with "
                         "two-level assignment above k=64")
    dd.add_argument("--auto-bands", action="store_true",
                    help="minhash mode: tune the LSH banding to the "
                         "threshold (S-curve fit) instead of the fixed "
                         "default — fewer junk candidate pairs, same "
                         "exact-verified result")

    md = sub.add_parser(
        "media-dedup",
        help="perceptual near-dup dedup over a binary media parquet "
             "(image / audio / video payloads); --robust switches "
             "audio/video to trim/offset-robust sub-fingerprint set "
             "matching",
    )
    md.add_argument("--input", required=True,
                    help="parquet of (id, payload) rows — payload is the "
                         "binary media column")
    md.add_argument("--modality", required=True,
                    choices=("image", "audio", "video"))
    md.add_argument("--robust", action="store_true",
                    help="trim/offset-robust set matching (audio and "
                         "video only): overlapping-window audio "
                         "sub-fingerprints / absolute-index frame-hash "
                         "sets instead of whole-clip fingerprints")
    md.add_argument("--id-col", default="doc_id")
    md.add_argument("--payload-col", default="payload")
    md.add_argument("--output", required=True, help="parquet output")
    md.add_argument("--keep-flags", action="store_true",
                    help="write EVERY row with its is_<modality>_dup "
                         "flag (and quarantine decode_error) instead of "
                         "only the kept corpus rows")
    md.add_argument("--max-hamming", type=int, default=4,
                    help="near-dup Hamming budget on the perceptual "
                         "hash (non-robust modes)")
    md.add_argument("--n-frames", type=int, default=8,
                    help="video sample slots (non-robust video)")
    md.add_argument("--min-matches", type=int, default=4,
                    help="robust modes: shared sub-fingerprints required "
                         "to pair two clips (capped by the smaller set)")

    kn = sub.add_parser(
        "knn",
        help="corpus×corpus k-nearest-neighbors through shared IVF "
             "cells (self kNN graph by default); --components writes "
             "thresholded-graph connected components instead of edges",
    )
    kn.add_argument("--directory", required=True)
    kn.add_argument("--table", default="embeddings")
    kn.add_argument("--right-table", default=None,
                    help="defaults to --table (self kNN graph; "
                         "self-matches excluded)")
    kn.add_argument("--id-col", default="vec_id")
    kn.add_argument("--vec-col", default="embedding")
    kn.add_argument("--k", type=int, default=10)
    kn.add_argument("--num-cells", type=int, default=0,
                    help="IVF cell count; 0 = auto: constant-occupancy "
                         "cells (~128 rows/cell) derived from the "
                         "corpus size, two-level beyond 512 cells — "
                         "the scale-safe default (a fixed cell count "
                         "makes candidate work N^2/cells)")
    kn.add_argument("--nprobe", type=int, default=0,
                    help="probed cells per query; 0 = auto from corpus "
                         "size; = num-cells for the exact result")
    kn.add_argument("--threshold", type=float, default=None,
                    help="cosine edge threshold (required for --components)")
    kn.add_argument("--components", action="store_true",
                    help="emit (row, component) via connected components "
                         "over the thresholded kNN graph")
    kn.add_argument("--coarse-cells", type=int, default=0,
                    help="enable TWO-LEVEL (hierarchical) cells with "
                         "this many coarse cells (0 = flat assign). "
                         "The production configuration beyond ~1e5 "
                         "cells, where the flat assign term "
                         "N x cells x d dominates; typically "
                         "round(sqrt(num-cells))")
    kn.add_argument("--coarse-probe", type=int, default=0,
                    help="coarse cells probed per query on the "
                         "two-level path (= coarse-cells for exact; "
                         "0 = auto: max(4, sqrt(nprobe)) so the coarse "
                         "breadth tracks the search budget)")
    kn.add_argument("--output", required=True, help="parquet output")

    rp = sub.add_parser(
        "report",
        help="corpus datasheet: volumes, token percentiles, quality "
             "keep-rate, PII totals, dup rate, per-column breakdowns "
             "— one JSON data card",
    )
    rp.add_argument("--directory", required=True, help="corpus catalog directory")
    rp.add_argument("--table", default="documents")
    rp.add_argument("--id-col", default="doc_id")
    rp.add_argument("--text-col", default="text")
    rp.add_argument("--by", action="append", default=[],
                    help="breakdown column (repeatable, e.g. --by source "
                         "--by lang)")
    rp.add_argument("--output", default=None,
                    help="write the JSON here (default: stdout)")
    rp.add_argument("--no-dup-rate", action="store_true",
                    help="skip the exact-duplicate-rate shuffle")

    ch = sub.add_parser(
        "chunk",
        help="split documents into fixed-window token chunks "
             "(training-sequence prep; overlapping windows via --stride)",
    )
    ch.add_argument("--directory", required=True, help="corpus catalog directory")
    ch.add_argument("--table", default="documents")
    ch.add_argument("--id-col", default="doc_id")
    ch.add_argument("--text-col", default="text")
    ch.add_argument("--output", required=True, help="parquet output")
    ch.add_argument("--window", type=int, default=2048,
                    help="tokens per chunk")
    ch.add_argument("--stride", type=int, default=None,
                    help="start-to-start distance; < window overlaps, "
                         "default = window (no overlap)")

    pp = sub.add_parser(
        "pipeline",
        help="end-to-end corpus prep: scrub -> dedup -> decontam, one "
             "staged parquet output per step",
    )
    pp.add_argument("--directory", required=True, help="corpus catalog directory")
    pp.add_argument("--table", default="documents")
    pp.add_argument("--id-col", default="doc_id")
    pp.add_argument("--text-col", default="text")
    pp.add_argument("--output-root", required=True,
                    help="root directory for the staged outputs")
    pp.add_argument("--skip-scrub", action="store_true")
    pp.add_argument("--dedup-method", default="exact",
                    choices=("exact", "minhash", "spans", "none"))
    pp.add_argument("--bench-directory", default=None,
                    help="benchmark catalog: enables the decontam stage")
    pp.add_argument("--bench-table", default="documents")
    pp.add_argument("--min-words", type=int, default=50)
    pp.add_argument("--min-stopword-hits", type=int, default=2)
    pp.add_argument("--ngram", type=int, default=3)
    pp.add_argument("--threshold", type=float, default=0.8)
    pp.add_argument("--span-tokens", type=int, default=20)
    pp.add_argument("--max-hits", type=int, default=0)
    pp.add_argument("--chunk-window", type=int, default=None,
                    help="add a sequence-chunking stage (tokens per chunk)")
    pp.add_argument("--chunk-stride", type=int, default=None,
                    help="chunk stride (default = window)")
    pp.add_argument("--pack-tokens", type=int, default=None,
                    help="add an FFD packing stage with this token budget")

    cl = sub.add_parser(
        "classify",
        help="hashed-feature linear classifier: train on a labeled "
             "sample and/or score every document",
    )
    cl.add_argument("--directory", required=True, help="corpus catalog directory")
    cl.add_argument("--table", default="documents")
    cl.add_argument("--id-col", default="doc_id")
    cl.add_argument("--text-col", default="text")
    cl.add_argument("--label-col", default=None,
                    help="0/1 label column to train on (omit to score "
                         "with pre-trained --weights)")
    cl.add_argument("--weights", default=None,
                    help="weights parquet: read when scoring without "
                         "--label-col, written after training with it")
    cl.add_argument("--output", required=True,
                    help="parquet output: corpus columns + score")
    cl.add_argument("--n-buckets", type=int, default=1 << 18)
    cl.add_argument("--train-cap", type=int, default=50_000)
    cl.add_argument("--epochs", type=int, default=100)
    cl.add_argument("--lr", type=float, default=10.0)
    cl.add_argument("--keep-threshold", type=float, default=None,
                    help="drop rows scoring below this (quality filter)")

    op = sub.add_parser(
        "optimize",
        help="lake maintenance: small-file compaction, optionally Z-order "
             "re-clustering",
    )
    op.add_argument("--path", required=True, help="parquet directory to optimize")
    op.add_argument("--target-mb", type=int, default=512)
    op.add_argument("--sort-col", default=None,
                    help="re-sort within files for min/max locality")
    op.add_argument("--partition-by", action="append", default=[],
                    help="existing partition column (repeatable) — preserves layout")
    op.add_argument("--zorder-by", action="append", default=[],
                    help="Z-order cluster column (repeatable, >=2 to interleave); "
                         "mutually exclusive with --sort-col/--partition-by")
    op.add_argument("--curve", default="morton", choices=("morton", "hilbert"),
                    help="space-filling curve for --zorder-by (hilbert is 2-D only)")

    es = sub.add_parser(
        "export-shards",
        help="deterministic training-shard export: one file per "
             "md5-bucket shard plus a checksummed manifest",
    )
    es.add_argument("--directory", required=True, help="source catalog directory")
    es.add_argument("--table", default="documents")
    es.add_argument("--id-col", default="doc_id")
    es.add_argument("--output", required=True, help="shard output directory")
    es.add_argument("--n-shards", type=int, default=16)
    es.add_argument("--format", default="parquet", choices=("parquet", "jsonl"))
    es.add_argument("--sort-col", default=None,
                    help="in-shard sort for byte-reproducible files")
    es.add_argument("--seed", default="", help="shard-assignment salt")

    vs = sub.add_parser(
        "verify-shards",
        help="recompute per-shard checksums against the _shards.json manifest",
    )
    vs.add_argument("--path", required=True, help="shard directory to verify")

    lm = sub.add_parser(
        "score-lm",
        help="bigram-LM perplexity scoring (bits/token per document); "
             "optionally train on a separate trusted corpus",
    )
    lm.add_argument("--directory", required=True, help="corpus catalog directory")
    lm.add_argument("--table", default="documents")
    lm.add_argument("--id-col", default="doc_id")
    lm.add_argument("--text-col", default="text")
    lm.add_argument("--output", required=True, help="scores parquet output")
    lm.add_argument("--train-directory", default=None,
                    help="trusted-corpus catalog for training (default: "
                         "self-perplexity on the scored corpus)")
    lm.add_argument("--train-table", default="documents")
    lm.add_argument("--lam", type=float, default=0.8,
                    help="interpolation weight on the bigram term")
    lm.add_argument("--max-bits", type=float, default=None,
                    help="also write <output>_kept: docs at or below this "
                         "bits/token threshold")
    lm.add_argument("--save-model", default=None,
                    help="persist the trained model (model/backoff/floor "
                         "parquet) under this directory")
    lm.add_argument("--model", default=None,
                    help="score with a previously saved model instead of "
                         "training")

    tk = sub.add_parser(
        "tokenize",
        help="learn a BPE merge table from the corpus word counts and "
             "write per-document subword token counts",
    )
    tk.add_argument("--directory", required=True, help="corpus catalog directory")
    tk.add_argument("--table", default="documents")
    tk.add_argument("--id-col", default="doc_id")
    tk.add_argument("--text-col", default="text")
    tk.add_argument("--output", required=True,
                    help="parquet output: (id, n_bpe_tokens)")
    tk.add_argument("--num-merges", type=int, default=200)
    tk.add_argument("--train-cap", type=int, default=50_000,
                    help="most-frequent-words bound for driver-side training")
    tk.add_argument("--merges", default=None,
                    help="merge-table json: load when it exists, else "
                         "train and save here (reproducible re-runs)")
    tk.add_argument("--emit-tokens", action="store_true",
                    help="also include the bpe_tokens array column")

    dr = sub.add_parser(
        "drift",
        help="PSI distribution drift of a new snapshot vs a blessed "
             "baseline catalog",
    )
    dr.add_argument("--directory", required=True, help="baseline catalog directory")
    dr.add_argument("--new-directory", required=True, help="new snapshot catalog")
    dr.add_argument("--table", default="documents")
    dr.add_argument("--column", action="append", required=True,
                    help="numeric column to monitor, as col:lo:hi "
                         "(repeatable; bounds from the blessed profile)")
    dr.add_argument("--bins", type=int, default=10)
    dr.add_argument("--threshold", type=float, default=0.25,
                    help="exit 1 when any column's PSI exceeds this")

    ib = sub.add_parser(
        "index-build",
        help="materialize an ANN index over an embedding column "
             "(IVF cell-partitioned; --pq adds product-quantized codes)",
    )
    ib.add_argument("--directory", required=True, help="corpus catalog directory")
    ib.add_argument("--table", default="embeddings")
    ib.add_argument("--id-col", default="vec_id")
    ib.add_argument("--vec-col", default="embedding")
    ib.add_argument("--output", required=True, help="index directory")
    ib.add_argument("--num-cells", type=int, default=16)
    ib.add_argument("--refine-iters", type=int, default=2)
    ib.add_argument("--pq", action="store_true",
                    help="store PQ codes (IVF-PQ) instead of raw-only IVF")
    ib.add_argument("--m", type=int, default=8, help="PQ subspaces")
    ib.add_argument("--ksub", type=int, default=256, help="PQ codewords/subspace")
    ib.add_argument("--residual", action="store_true",
                    help="PQ codes quantize the cell residual (faiss IVFPQ)")

    ia = sub.add_parser(
        "index-append",
        help="add new vectors to an existing index without rebuilding "
             "(frozen centroids/codebooks; IVF vs IVF-PQ auto-detected)",
    )
    ia.add_argument("--directory", required=True, help="catalog of NEW vectors")
    ia.add_argument("--table", default="embeddings")
    ia.add_argument("--id-col", default="vec_id")
    ia.add_argument("--vec-col", default="embedding")
    ia.add_argument("--index", required=True, help="existing index directory")

    irb = sub.add_parser(
        "index-rebuild",
        help="rebalance an index by splitting overfull cells in place "
             "(only hot cells are rewritten; run offline like compaction)",
    )
    irb.add_argument("--index", required=True, help="index directory")
    irb.add_argument("--id-col", default="vec_id")
    irb.add_argument("--vec-col", default="embedding")
    irb.add_argument("--max-share", type=float, default=0.25,
                     help="split any cell holding more than this fraction")
    irb.add_argument("--split-factor", type=int, default=2)
    irb.add_argument("--refine-iters", type=int, default=1)

    ist = sub.add_parser(
        "index-stats",
        help="per-cell fill report of a materialized index (hot-cell "
             "imbalance = the rebuild trigger after many appends)",
    )
    ist.add_argument("--index", required=True, help="index directory")
    ist.add_argument("--top-k", type=int, default=64)

    iq = sub.add_parser(
        "index-query",
        help="top-k cosine search against a materialized index "
             "(partition-pruned probes)",
    )
    iq.add_argument("--index", required=True, help="index directory")
    iq.add_argument("--directory", required=True, help="query catalog directory")
    iq.add_argument("--table", default="embeddings")
    iq.add_argument("--id-col", default="vec_id")
    iq.add_argument("--vec-col", default="embedding")
    iq.add_argument("--output", required=True, help="parquet output for results")
    iq.add_argument("--k", type=int, default=10)
    iq.add_argument("--nprobe", type=int, default=None,
                    help="cells probed per query; default auto-scales "
                         "from the index's row/cell counts")
    iq.add_argument("--rescore", type=int, default=None,
                    help="IVF-PQ only: exact-rescore candidate count; "
                         "default auto-scales (max(10k, N/20))")
    iq.add_argument("--limit-queries", type=int, default=None,
                    help="probe only the first N query rows")
    return p


def _load_conn_factory(spec: str):
    """Resolve ``module:callable`` to a zero-arg DBAPI connection
    factory.  The factory's defining module is registered for by-value
    pickling so executor-side closures (copy_table / apply_diff run on
    executors) work even when that module isn't importable there —
    e.g. a test-local psql shim or a deploy-specific DSN wrapper."""
    import importlib

    if ":" not in spec:
        raise SystemExit(f"--reader/--writer must be module:callable, got {spec!r}")
    mod_name, attr = spec.split(":", 1)
    mod = importlib.import_module(mod_name)
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(mod)
    except Exception:
        pass  # importable-everywhere modules need no registration
    fn = getattr(mod, attr, None)
    if not callable(fn):
        raise SystemExit(f"{spec!r} does not name a callable")
    return fn


def validate(args: argparse.Namespace) -> None:
    if args.command == "dump":
        if args.mode not in DUMP_MODES:
            raise SystemExit(f"invalid --mode {args.mode!r}; expected one of {DUMP_MODES}")
        if args.mode != "nul" and not args.output:
            raise SystemExit("--output is required unless --mode nul")
        if args.insertsize <= 0:
            raise SystemExit("--insertsize must be positive")
        if args.compression and args.compression not in TEXT_COMPRESSIONS:
            raise SystemExit(
                f"invalid --compression {args.compression!r}; expected one of {TEXT_COMPRESSIONS}"
            )
        if len(args.table) != len(set(args.table)):
            raise SystemExit("duplicate --table")  # ref test 13
    if args.command == "profile":
        if len(args.table) != len(set(args.table)):
            raise SystemExit("duplicate --table")
    if args.command == "decontam":
        if args.ngram < 1:
            raise SystemExit("--ngram must be >= 1")
        if args.max_hits < 0:
            raise SystemExit("--max-hits must be >= 0")
        if args.bloom_bits < 0 or (
            args.bloom_bits and args.bloom_bits & (args.bloom_bits - 1)
        ):
            raise SystemExit("--bloom-bits must be 0 or a power of two")
        if args.bloom_bits and args.no_broadcast_bench:
            raise SystemExit(
                "--bloom-bits and --no-broadcast-bench are mutually "
                "exclusive: the Bloom path broadcasts a fixed-size bitmap "
                "(never the shingle set), so the no-broadcast knob does "
                "not apply to it"
            )
    if args.command == "media-dedup":
        if args.robust and args.modality == "image":
            raise SystemExit(
                "--robust applies to audio and video only (images have "
                "no time axis to trim; the perceptual hash already "
                "absorbs brightness/rescale re-encodes)"
            )
        if args.max_hamming < 0 or args.n_frames < 1 or args.min_matches < 1:
            raise SystemExit(
                "--max-hamming must be >= 0, --n-frames and "
                "--min-matches >= 1"
            )
    if args.command == "chunk":
        if args.window < 1:
            raise SystemExit("--window must be >= 1")
        if args.stride is not None and not 1 <= args.stride <= args.window:
            raise SystemExit("--stride must be in [1, --window]")
    if args.command == "index-build":
        if args.num_cells < 1:
            raise SystemExit("--num-cells must be >= 1")
        if args.pq and (args.m < 1 or args.ksub < 2):
            raise SystemExit("--m must be >= 1 and --ksub >= 2")
        if args.residual and not args.pq:
            raise SystemExit("--residual requires --pq")
    if args.command == "index-query":
        if args.k < 1:
            raise SystemExit("--k must be >= 1")
        if args.nprobe is not None and args.nprobe < 1:
            raise SystemExit("--nprobe must be >= 1 (omit for auto-scaled)")
        if args.rescore is not None and args.rescore < 1:
            raise SystemExit("--rescore must be >= 1 (omit for auto-scaled)")
    if args.command == "pipeline":
        if args.chunk_window is not None and args.chunk_window < 1:
            raise SystemExit("--chunk-window must be >= 1")
        if args.chunk_stride is not None and (
            args.chunk_window is None
            or not 1 <= args.chunk_stride <= args.chunk_window
        ):
            raise SystemExit(
                "--chunk-stride needs --chunk-window and must be in [1, window]"
            )
        if args.pack_tokens is not None and args.pack_tokens < 1:
            raise SystemExit("--pack-tokens must be >= 1")
    if args.command == "scrub":
        if args.no_redact and args.no_filter:
            raise SystemExit("--no-redact with --no-filter leaves nothing to do")
        if args.min_words < 0 or args.max_words < args.min_words:
            raise SystemExit("--min-words/--max-words out of order")
    if args.command == "dedup":
        if args.ngram < 1:
            raise SystemExit("--ngram must be >= 1")
        if not (0.0 < args.threshold <= 1.0):
            raise SystemExit("--threshold must be in (0, 1]")
        if args.span_tokens < 2:
            raise SystemExit("--span-tokens must be >= 2")
        if args.num_clusters < 0:
            raise SystemExit("--num-clusters must be >= 1 (or 0 for auto)")
    if args.command == "classify":
        if not args.label_col and not args.weights:
            raise SystemExit("need --label-col (train) or --weights (score)")
        if args.n_buckets < 2:
            raise SystemExit("--n-buckets must be >= 2")
        if args.train_cap < 1 or args.epochs < 1 or args.lr <= 0:
            raise SystemExit("--train-cap/--epochs/--lr must be positive")
    if args.command == "optimize":
        if args.zorder_by and (args.sort_col or args.partition_by):
            raise SystemExit(
                "--zorder-by is a full re-cluster; it cannot combine with "
                "--sort-col/--partition-by"
            )
        if args.target_mb <= 0:
            raise SystemExit("--target-mb must be positive")
        if len(args.zorder_by) == 1:
            raise SystemExit(
                "--zorder-by needs >= 2 columns (one column is plain "
                "sorting: use --sort-col)"
            )
    if args.command == "export-shards":
        if args.n_shards < 1:
            raise SystemExit("--n-shards must be >= 1")
    if args.command == "tokenize":
        if args.num_merges < 1 or args.train_cap < 1:
            raise SystemExit("--num-merges/--train-cap must be positive")
    if args.command == "drift":
        if args.bins < 2:
            raise SystemExit("--bins must be >= 2")
        for spec in args.column:
            parts = spec.split(":")
            if len(parts) != 3:
                raise SystemExit(f"--column must be col:lo:hi, got {spec!r}")
            try:
                lo, hi = float(parts[1]), float(parts[2])
            except ValueError:
                raise SystemExit(f"non-numeric bounds in {spec!r}")
            if hi <= lo:
                raise SystemExit(f"hi must exceed lo in {spec!r}")
    if args.command == "score-lm":
        if not (0.0 < args.lam < 1.0):
            raise SystemExit("--lam must be in (0, 1)")
    if args.command == "sync":
        # NB: src == dst is legal — the reference's no-op sync test relies
        # on diffing identical endpoints reporting zero DML
        if len(args.table) != len(set(args.table)):
            raise SystemExit("duplicate --table")
        if args.incremental_chunks is not None and args.incremental_chunks < 2:
            raise SystemExit("--incremental-chunks must be >= 2")


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    validate(args)
    # Spark session only after validation so bad flags fail fast
    from paradump_spark.catalog import ParquetCatalog
    from paradump_spark.session import build_session

    spark = build_session(app_name=f"paradump_spark_{args.command}")
    if args.command == "dump":
        cat = ParquetCatalog(spark, args.directory)
        opts = DumpOptions(
            mode=args.mode,
            insertsize=args.insertsize,
            dialect=args.dialect,
            compression=args.compression,
            compression_level=args.compression_level,
            excludes=args.exclude,
        )
        results = dump_tables(cat, args.output or "", args.table or None, opts)
        for r in results:
            print(f"dumped {r.table} mode={r.mode} path={r.path}")
        if args.manifest and args.mode != "nul":
            from paradump_spark.dump import write_manifest

            mp = write_manifest(cat, args.output, results)
            print(f"manifest {mp}")
        return 0
    if args.command == "knn":
        from pyspark.sql import functions as F

        from paradump_spark.operators.similarity import (
            knn_graph_clusters,
            knn_join,
        )

        cat = ParquetCatalog(spark, args.directory)
        left = cat.load(args.table)
        nprobe = args.nprobe or None
        if args.components:
            if args.threshold is None:
                raise SystemExit("--components requires --threshold")
            out = knn_graph_clusters(
                left, args.id_col, args.vec_col, args.threshold,
                k=args.k, num_cells=args.num_cells or None, nprobe=nprobe,
                coarse_cells=args.coarse_cells or None,
                coarse_probe=args.coarse_probe or None,
            )
            out.write.mode("overwrite").parquet(args.output)
            # stats come from the WRITTEN parquet — re-counting `out`
            # would recompute the whole kNN+CC pipeline (ADVICE r08)
            written = spark.read.parquet(args.output)
            n_comp = written.select("component").distinct().count()
            print(
                f"knn components={n_comp} rows={written.count()} "
                f"path={args.output}"
            )
            return 0
        right = cat.load(args.right_table) if args.right_table else left
        out = knn_join(
            left, right, args.id_col, args.vec_col, k=args.k,
            num_cells=args.num_cells or None, nprobe=nprobe,
            exclude_self=args.right_table is None,
            coarse_cells=args.coarse_cells or None,
            coarse_probe=args.coarse_probe or None,
        )
        if args.threshold is not None:
            out = out.where(F.col("cosine") > args.threshold)
        out.write.mode("overwrite").parquet(args.output)
        n_edges = spark.read.parquet(args.output).count()
        print(f"knn edges={n_edges} path={args.output}")
        return 0
    if args.command == "db-dump":
        from paradump_spark.sources.jdbc import single_tx_export

        n = single_tx_export(
            _load_conn_factory(args.reader), args.db_table, args.output,
            columns=args.columns.split(","), begin_sql=args.begin_sql,
            batch_rows=args.batch_rows,
        )
        print(f"db-dump {args.db_table} rows={n} path={args.output}")
        return 0
    if args.command == "db-copy":
        from paradump_spark.sinks.dml import copy_table

        df = spark.read.parquet(args.source_parquet)
        cols = args.columns.split(",")
        copy_table(
            df, _load_conn_factory(args.writer), args.table, columns=cols,
            batch_size=args.batch_size, dialect=args.dialect,
            placeholder=args.placeholder, quote=args.quote,
        )
        print(f"db-copy {args.table} rows={df.count()}")
        return 0
    if args.command == "db-sync":
        import tempfile

        from paradump_spark.operators.diff import _disk_pin, diff_classified, dml_counts
        from paradump_spark.sinks.dml import DmlTemplates, apply_diff
        from paradump_spark.sources.jdbc import single_tx_export

        if args.apply and not args.writer:
            raise SystemExit("--apply requires --writer")
        cols = args.columns.split(",")
        pk = args.pk.split(",")
        scratch = args.scratch or tempfile.mkdtemp(prefix="dbsync_")
        snap = f"{scratch}/{args.table}.snapshot.parquet"
        single_tx_export(
            _load_conn_factory(args.reader), args.table, snap,
            columns=cols, begin_sql=args.begin_sql,
            batch_rows=args.batch_rows,
        )
        src = spark.read.parquet(args.source_parquet)
        # pinned: the count below runs the join once, --apply reads its output
        drift = _disk_pin(
            diff_classified(src, spark.read.parquet(snap), pk, keep_noops=False)
        )
        by_kind = dml_counts(drift)
        total = sum(by_kind.values())
        for kind, n in by_kind.items():
            print(f"db-sync {args.table} {kind}={n}")
        if total == 0:
            print(f"db-sync {args.table} converged")
            return 0
        if args.apply:
            tmpl = DmlTemplates(
                args.table, cols, pk,
                placeholder=args.placeholder, quote=args.quote,
            )
            apply_diff(drift, _load_conn_factory(args.writer), tmpl)
            print(f"db-sync {args.table} applied {total} changes")
        return 0
    if args.command == "verify-dump":
        import os

        from paradump_spark.dump import verify_dump

        class _RestoredCatalog:
            """Accept both layouts: a source catalog (<table>.parquet) and
            a dump/restore directory (<table>/ written by dump_tables)."""

            def load(self, table):
                p = os.path.join(args.directory, f"{table}.parquet")
                if not os.path.exists(p):
                    p = os.path.join(args.directory, table)
                return spark.read.parquet(p)

        checks = verify_dump(_RestoredCatalog(), args.manifest)
        for table, ok in sorted(checks.items()):
            print(f"verify {table}: {'OK' if ok else 'MISMATCH'}")
        return 0 if all(checks.values()) else 1
    if args.command == "profile":
        from paradump_spark.operators.profile import profile_table

        cat = ParquetCatalog(spark, args.directory)
        for t in args.table or cat.list_tables():
            for r in profile_table(
                cat.load(t), exact_distinct=not args.approx
            ).collect():
                print(
                    f"{t}.{r['column_name']} nulls={r['n_nulls']} "
                    f"distinct={r['n_distinct']} min={r['min_text']} max={r['max_text']}"
                )
        return 0
    if args.command == "decontam":
        from pyspark.sql import functions as F

        from paradump_spark.operators.decontam import (
            contamination_bloom,
            flagged_ids,
        )

        corpus = ParquetCatalog(spark, args.directory).load(args.table)
        bench = ParquetCatalog(spark, args.bench_directory).load(args.bench_table)
        # ONE shingle-join pass: persist the (tiny) flagged-id frame, then
        # the report count, the anti-join filter, and the write all derive
        # from it — the corpus text is shingled exactly once.
        if args.bloom_bits:
            flagged = (
                contamination_bloom(
                    corpus, bench, args.id_col, args.text_col,
                    args.ngram, n_bits=args.bloom_bits,
                )
                .where(F.col("n_hits") > args.max_hits)
                .select(args.id_col)
                .persist()
            )
        else:
            flagged = flagged_ids(
                corpus, bench, args.id_col, args.text_col, args.ngram,
                args.max_hits, broadcast_bench=not args.no_broadcast_bench,
            ).persist()
        try:
            n_flagged = flagged.count()  # materializes the persisted frame
            clean = corpus.join(F.broadcast(flagged), args.id_col, "left_anti")
            clean.write.mode("overwrite").parquet(args.output)
            # counts are parquet-footer reads (count(*) pushdown), not scans
            n_in = corpus.count()
            n_out = spark.read.parquet(args.output).count()
        finally:
            flagged.unpersist()
        print(
            f"decontam {args.table}: kept {n_out} of {n_in} "
            f"(flagged {n_flagged}, max_hits={args.max_hits})"
        )
        return 0
    if args.command == "optimize":
        import math
        import os
        import shutil

        from paradump_spark.catalog import _path_size
        from paradump_spark.plans.zorder import compact_parquet, zorder_write

        if args.zorder_by:
            # Z-order rewrite: cluster + compact in one pass, same
            # rename-swap publication as compact_parquet's local-FS mode
            df = spark.read.parquet(args.path)
            n_files = max(
                1, math.ceil(_path_size(args.path) / (args.target_mb << 20))
            )
            tmp = args.path.rstrip("/") + "__zordering"
            old = args.path.rstrip("/") + "__old"
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
            zorder_write(
                df, tmp, args.zorder_by, num_files=n_files, curve=args.curve
            )
            os.rename(args.path, old)
            os.rename(tmp, args.path)
            shutil.rmtree(old, ignore_errors=True)
            print(
                f"optimize {args.path}: {args.curve}-clustered on "
                f"{','.join(args.zorder_by)} into {n_files} files"
            )
        else:
            n = compact_parquet(
                spark, args.path, target_mb=args.target_mb,
                sort_col=args.sort_col,
                partition_by=args.partition_by or None,
            )
            print(f"optimize {args.path}: compacted to {n} files")
        return 0
    if args.command == "export-shards":
        from paradump_spark.sinks.shards import write_shards

        src = ParquetCatalog(spark, args.directory).load(args.table)
        manifest = write_shards(
            src, args.output, args.id_col, args.n_shards,
            seed=args.seed, fmt=args.format, sort_col=args.sort_col,
        )
        import json as _json

        with open(manifest) as fh:
            m = _json.load(fh)
        total = sum(s["n_rows"] for s in m["shards"].values())
        print(
            f"export-shards {args.table}: {total} rows into "
            f"{len(m['shards'])} shards at {args.output} "
            f"(format={args.format})"
        )
        return 0
    if args.command == "verify-shards":
        from paradump_spark.sinks.shards import verify_shards

        res = verify_shards(spark, args.path)
        bad = sorted(s for s, ok in res.items() if not ok)
        for s in sorted(res, key=int):
            print(f"shard {s}: {'OK' if res[s] else 'MISMATCH'}")
        if bad:
            print(f"verify-shards: {len(bad)} of {len(res)} shards FAILED")
            return 1
        print(f"verify-shards: all {len(res)} shards faithful")
        return 0
    if args.command == "score-lm":
        from pyspark.sql import functions as F

        from paradump_spark.operators.lm import lm_score, train_bigram_lm

        import os as _os

        corpus = ParquetCatalog(spark, args.directory).load(args.table)
        if args.model:
            model = spark.read.parquet(_os.path.join(args.model, "model"))
            backoff = spark.read.parquet(_os.path.join(args.model, "backoff"))
            floor = spark.read.parquet(_os.path.join(args.model, "floor"))
        else:
            train_src = (
                ParquetCatalog(spark, args.train_directory).load(
                    args.train_table
                )
                if args.train_directory
                else corpus
            )
            model, backoff, floor = train_bigram_lm(
                train_src, args.text_col, lam=args.lam
            )
        if args.save_model:
            model.write.mode("overwrite").parquet(
                _os.path.join(args.save_model, "model")
            )
            backoff.write.mode("overwrite").parquet(
                _os.path.join(args.save_model, "backoff")
            )
            floor.write.mode("overwrite").parquet(
                _os.path.join(args.save_model, "floor")
            )
            model = spark.read.parquet(_os.path.join(args.save_model, "model"))
            backoff = spark.read.parquet(
                _os.path.join(args.save_model, "backoff")
            )
            floor = spark.read.parquet(_os.path.join(args.save_model, "floor"))
        scores = lm_score(
            corpus, model, backoff, floor, args.id_col, args.text_col
        )
        scores.write.mode("overwrite").parquet(args.output)
        back = spark.read.parquet(args.output)
        q = back.agg(
            F.expr(
                "percentile_approx(bits_per_token, array(0.5, 0.9, 0.99))"
            ).alias("q")
        ).collect()[0]["q"]
        print(
            f"score-lm {args.table}: {back.count()} docs scored; "
            f"bits/token p50={q[0]:.3f} p90={q[1]:.3f} p99={q[2]:.3f}"
        )
        if args.max_bits is not None:
            kept = corpus.join(
                back.where(F.col("bits_per_token") <= args.max_bits)
                .select(args.id_col),
                args.id_col,
            )
            kept.write.mode("overwrite").parquet(args.output + "_kept")
            print(
                f"score-lm filter: kept {kept.count()} docs at "
                f"<= {args.max_bits} bits/token"
            )
        return 0
    if args.command == "tokenize":
        import json as _json
        import os

        from pyspark.sql import functions as F

        from paradump_spark.operators.bpe import (
            bpe_encode,
            bpe_token_count,
            train_bpe,
            word_counts,
        )

        corpus = ParquetCatalog(spark, args.directory).load(args.table)
        merges = None
        if args.merges and os.path.exists(args.merges):
            with open(args.merges) as fh:
                merges = [tuple(m) for m in _json.load(fh)]
        if merges is None:
            merges = train_bpe(
                word_counts(corpus, args.text_col),
                num_merges=args.num_merges,
                train_cap=args.train_cap,
            )
            if args.merges:
                with open(args.merges, "w") as fh:
                    _json.dump([list(m) for m in merges], fh)
        out = bpe_token_count(corpus, merges, args.text_col)
        cols = [args.id_col, "n_bpe_tokens"]
        if args.emit_tokens:
            out = bpe_encode(out, merges, args.text_col)
            cols.append("bpe_tokens")
        out.select(*cols).write.mode("overwrite").parquet(args.output)
        back = spark.read.parquet(args.output)
        total = back.agg(F.sum("n_bpe_tokens")).collect()[0][0]
        print(
            f"tokenize {args.table}: {len(merges)} merges, "
            f"{back.count()} docs, {total} bpe tokens -> {args.output}"
        )
        return 0
    if args.command == "drift":
        from paradump_spark.operators.drift import psi_report

        from pyspark.sql import functions as F

        base = ParquetCatalog(spark, args.directory).load(args.table)
        new = ParquetCatalog(spark, args.new_directory).load(args.table)
        worst = 0.0
        for spec in args.column:
            col, lo, hi = spec.split(":")
            psi = (
                psi_report(base, new, col, float(lo), float(hi), args.bins)
                .agg(F.round(F.sum("psi_term"), 6).alias("psi"))
                .collect()[0]["psi"]
            )
            band = (
                "stable" if psi < 0.1
                else "drifting" if psi <= 0.25
                else "BROKEN"
            )
            print(f"drift {args.table}.{col}: psi={psi:.6f} ({band})")
            worst = max(worst, psi)
        if worst > args.threshold:
            print(f"drift: worst psi {worst:.6f} exceeds {args.threshold}")
            return 1
        return 0
    if args.command == "pipeline":
        import os

        from pyspark.sql import functions as F

        from paradump_spark.operators import dedup as DD
        from paradump_spark.operators.decontam import flagged_ids
        from paradump_spark.operators.pii import redact
        from paradump_spark.operators.quality_rules import (
            GopherThresholds,
            gopher_keep,
        )

        cur = ParquetCatalog(spark, args.directory).load(args.table)
        n_prev = cur.count()
        print(f"pipeline {args.table}: {n_prev} input docs")
        stage_no = 0

        def _write_stage(df, name):
            nonlocal cur, n_prev, stage_no
            stage_no += 1
            path = os.path.join(args.output_root, f"{stage_no:02d}_{name}")
            df.write.mode("overwrite").parquet(path)
            cur = spark.read.parquet(path)
            n = cur.count()  # parquet-footer read
            print(f"  {name}: kept {n} of {n_prev} (dropped {n_prev - n})")
            n_prev = n

        if not args.skip_scrub:
            th = GopherThresholds(
                min_words=args.min_words,
                min_stopword_hits=args.min_stopword_hits,
            )
            _write_stage(
                cur.where(gopher_keep(args.text_col, th)).withColumn(
                    args.text_col, redact(args.text_col)
                ),
                "scrub",
            )
        if args.dedup_method != "none":
            if args.dedup_method == "exact":
                deduped = DD.dedup_exact(cur, [args.text_col], args.id_col)
            elif args.dedup_method == "minhash":
                deduped = DD.dedup_minhash_cc(
                    cur, args.id_col, args.text_col,
                    threshold=args.threshold, shingle_size=args.ngram,
                )
            else:
                deduped = DD.remove_duplicate_spans(
                    cur, args.id_col, args.text_col, args.span_tokens
                )
            _write_stage(deduped, f"dedup_{args.dedup_method}")
        if args.bench_directory:
            bench = ParquetCatalog(spark, args.bench_directory).load(
                args.bench_table
            )
            flagged = flagged_ids(
                cur, bench, args.id_col, args.text_col, args.ngram,
                args.max_hits,
            )
            _write_stage(
                cur.join(F.broadcast(flagged), args.id_col, "left_anti"),
                "decontam",
            )
        if args.chunk_window:
            from paradump_spark.operators.packing import chunk_documents

            _write_stage(
                chunk_documents(
                    cur, args.id_col, args.text_col,
                    window=args.chunk_window, stride=args.chunk_stride,
                ),
                "chunk",
            )
        if args.pack_tokens:
            from paradump_spark.functions.text import token_count
            from paradump_spark.operators.packing import pack_documents

            if "n_chunk_tokens" in cur.columns:  # after a chunk stage
                # chunk rows need a UNIQUE pack key (doc_id repeats):
                # 'doc_id#chunk_idx' string — collision-free for any
                # doc_id/chunk_idx range (an arithmetic doc_id*2^20 key
                # would silently collide past 2^20 chunks; ADVICE r05)
                counted = cur.withColumn(
                    "chunk_uid",
                    F.concat_ws(
                        "#",
                        F.col(args.id_col).cast("string"),
                        F.col("chunk_idx").cast("string"),
                    ),
                )
                counted, tok_col = counted, "n_chunk_tokens"
                pack_id = "chunk_uid"
            else:
                tok_col = "__n_tokens"
                counted = cur.withColumn(
                    tok_col,
                    token_count(F.col(args.text_col)).cast("long"),
                )
                pack_id = args.id_col
            _write_stage(
                pack_documents(counted, pack_id, tok_col, args.pack_tokens),
                "pack",
            )
        print(f"pipeline done: final stage holds {n_prev} docs")
        return 0
    if args.command == "dedup":
        from paradump_spark.operators import dedup as DD

        corpus = ParquetCatalog(spark, args.directory).load(args.table)
        if args.method == "exact":
            out = DD.dedup_exact(corpus, [args.text_col], args.id_col)
        elif args.method == "minhash":
            out = DD.dedup_minhash_cc(
                corpus, args.id_col, args.text_col,
                threshold=args.threshold, shingle_size=args.ngram,
                bands=None if args.auto_bands else 4,
            )
        elif args.method == "semantic":
            from paradump_spark.operators.semdedup import semantic_dedup

            out = semantic_dedup(
                corpus, args.id_col, args.vec_col,
                threshold=args.threshold,
                num_clusters=args.num_clusters or None,
            )
        elif args.method == "lines":
            out = DD.remove_boilerplate_lines(
                corpus, args.id_col, args.text_col, max_docs=args.max_docs
            )
        else:  # spans
            out = DD.remove_duplicate_spans(
                corpus, args.id_col, args.text_col, args.span_tokens
            )
        out.write.mode("overwrite").parquet(args.output)
        n_in = corpus.count()
        n_out = spark.read.parquet(args.output).count()
        print(
            f"dedup {args.table} method={args.method}: "
            f"kept {n_out} of {n_in} (dropped {n_in - n_out})"
        )
        return 0
    if args.command == "media-dedup":
        from pyspark.sql import functions as F

        from paradump_spark.operators import multimodal as MM

        # bytes-bounded vectorized reads over the payload table for the
        # whole verb: default 4096-row reader batches are ~256 MB/task
        # at 64 KB payloads and OOM a 16 g heap at corpus scale
        MM.bound_media_session(spark, args.input)
        src = spark.read.parquet(args.input)
        # The hash/signature pipelines emit a hardcoded `doc_id` key
        # column, so canonicalize the caller's id/payload columns on
        # the way in and rename back on the way out.  Dropping a
        # pre-existing `payload`/`doc_id` column first avoids the
        # ambiguous-duplicate-column failure when the input carries
        # both the custom column and one literally named like the
        # canonical name (ADVICE r10).
        work = src
        if args.payload_col != "payload":
            if "payload" in work.columns:
                work = work.drop("payload")
            work = work.withColumnRenamed(args.payload_col, "payload")
        if args.id_col != "doc_id":
            if "doc_id" in work.columns:
                work = work.drop("doc_id")
            work = work.withColumnRenamed(args.id_col, "doc_id")
        if args.robust:
            robust_fns = {
                "audio": MM.audio_robust_dedup_flags,
                "video": MM.video_robust_dedup_flags,
            }
            flagged = robust_fns[args.modality](
                work, "doc_id", min_matches=args.min_matches
            )
        elif args.modality == "image":
            flagged = MM.image_dedup_flags(
                work, "doc_id", max_hamming=args.max_hamming
            )
        elif args.modality == "audio":
            flagged = MM.audio_dedup_flags(
                work, "doc_id", max_hamming=args.max_hamming
            )
        else:
            flagged = MM.video_dedup_flags(
                work, "doc_id", n_frames=args.n_frames,
                max_hamming=args.max_hamming,
            )
        flag = f"is_{args.modality}_dup"
        n_in = src.count()
        if args.keep_flags:
            out = flagged
            if args.id_col != "doc_id":
                out = out.withColumnRenamed("doc_id", args.id_col)
            out.write.mode("overwrite").parquet(args.output)
            # count the written parquet, not the lazy frame — re-counting
            # `flagged` would re-run the band join + CC stages beyond the
            # operators' internal checkpoints (ADVICE r10)
            written = spark.read.parquet(args.output)
            n_out = written.count()
            n_dup = written.where(F.col(flag)).count()
        else:
            # kept corpus = original rows minus flagged near-dups (the
            # robust pipelines project to signature rows, so semi-join
            # the keeper ids back to preserve every input column).
            # Pin the tiny (id, flag) projection once so the dedup
            # graph executes exactly once across semi-join + summary.
            flags_small = flagged.select("doc_id", flag).localCheckpoint(
                eager=True
            )
            keep_ids = flags_small.where(~F.col(flag)).select(
                F.col("doc_id").alias("__keep_id")
            )
            out = src.join(
                keep_ids,
                src[args.id_col] == F.col("__keep_id"),
                "left_semi",
            )
            out.write.mode("overwrite").parquet(args.output)
            n_out = spark.read.parquet(args.output).count()
            n_dup = flags_small.where(F.col(flag)).count()
        mode = "robust " if args.robust else ""
        print(
            f"media-dedup {args.modality} ({mode}{'flags' if args.keep_flags else 'kept'}): "
            f"{n_out} of {n_in} rows written, {n_dup} near-dups flagged"
        )
        return 0
    if args.command == "index-build":
        corpus = ParquetCatalog(spark, args.directory).load(args.table)
        if args.pq:
            from paradump_spark.operators.pq import ivf_pq_build_index

            ivf_pq_build_index(
                corpus, args.output, args.id_col, args.vec_col,
                num_cells=args.num_cells, m=args.m, ksub=args.ksub,
                refine_iters=args.refine_iters, residual=args.residual,
            )
        else:
            from paradump_spark.operators.similarity import ivf_build_index

            ivf_build_index(
                corpus, args.output, args.id_col, args.vec_col,
                num_cells=args.num_cells, refine_iters=args.refine_iters,
            )
        n = spark.read.parquet(f"{args.output}/corpus").count()
        kind = "ivfpq" if args.pq else "ivf"
        print(f"index-build {kind}: {n} vectors in {args.num_cells} cells")
        return 0
    if args.command == "index-append":
        import os as _os

        new_vecs = ParquetCatalog(spark, args.directory).load(args.table)
        is_pq = _os.path.isdir(_os.path.join(args.index, "pq_codebooks"))
        if is_pq:
            from paradump_spark.operators.pq import ivf_pq_append_index

            ivf_pq_append_index(
                spark, args.index, new_vecs, args.id_col, args.vec_col
            )
        else:
            from paradump_spark.operators.similarity import ivf_append_index

            ivf_append_index(
                spark, args.index, new_vecs, args.id_col, args.vec_col
            )
        n = spark.read.parquet(f"{args.index}/corpus").count()
        print(f"index-append {'ivfpq' if is_pq else 'ivf'}: index now holds {n} vectors")
        return 0
    if args.command == "index-rebuild":
        from paradump_spark.operators.similarity import ivf_rebuild_index

        if not (0.0 < args.max_share < 1.0):
            print(f"--max-share must be in (0,1), got {args.max_share}")
            return 2
        if args.split_factor < 2:
            print(f"--split-factor must be >= 2, got {args.split_factor}")
            return 2
        rep = ivf_rebuild_index(
            spark, args.index, args.id_col, args.vec_col,
            max_share=args.max_share, split_factor=args.split_factor,
            refine_iters=args.refine_iters,
        )
        for s in rep["split_cells"]:
            print(f"split cell {s['cell_id']} ({s['n']} rows) -> {s['new_ids']}")
        print(
            f"index-rebuild: {len(rep['split_cells'])} cells split; "
            f"max share {rep['max_share_before']:.3f} -> "
            f"{rep['max_share_after']:.3f}; "
            f"{rep['n_cells_before']} -> {rep['n_cells_after']} cells"
        )
        return 0
    if args.command == "index-stats":
        from paradump_spark.operators.similarity import (
            ivf_index_stats,
            suggest_index_params,
        )

        for r in ivf_index_stats(spark, args.index, top_k=args.top_k).collect():
            print(
                f"cell {r['cell_id']}: {r['n_rows']} rows "
                f"share={r['share']} imbalance={r['imbalance']}"
            )
        n = spark.read.parquet(f"{args.index}/corpus").count()
        sug = suggest_index_params(n)
        print(
            f"suggested for {n} vectors: num_cells={sug['num_cells']} "
            f"nprobe={sug['nprobe']} rescore={sug['rescore']} "
            "(size-scaled budget; see SF1_LEDGER.json recall_scaled_sf1)"
        )
        return 0
    if args.command == "index-query":
        import os as _os

        queries = ParquetCatalog(spark, args.directory).load(args.table)
        if args.limit_queries:
            queries = queries.limit(args.limit_queries)
        nprobe, rescore = args.nprobe, args.rescore
        if nprobe is None or rescore is None:
            # derive once here (instead of inside the query call) so the
            # chosen budget is visible in the CLI output
            from paradump_spark.operators.similarity import (
                derive_search_budget,
                index_row_count,
            )

            budget = derive_search_budget(
                index_row_count(spark, args.index),
                spark.read.parquet(f"{args.index}/centroids").count(),
                args.k,
            )
            nprobe = budget["nprobe"] if nprobe is None else nprobe
            rescore = budget["rescore"] if rescore is None else rescore
            print(
                f"index-query: auto budget nprobe={nprobe} rescore={rescore}"
                " (size-scaled; pass --nprobe/--rescore to override)"
            )
        if _os.path.isdir(_os.path.join(args.index, "pq_codebooks")):
            from paradump_spark.operators.pq import ivf_pq_query_index

            res = ivf_pq_query_index(
                spark, args.index, queries, args.id_col, args.vec_col,
                k=args.k, nprobe=nprobe, rescore=rescore,
            )
        else:
            from paradump_spark.operators.similarity import ivf_query_index

            res = ivf_query_index(
                spark, args.index, queries, args.id_col, args.vec_col,
                k=args.k, nprobe=nprobe,
            )
        res.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"index-query: {n} result rows written to {args.output}")
        return 0
    if args.command == "report":
        import json as _json

        from paradump_spark.operators.report import corpus_report

        corpus = ParquetCatalog(spark, args.directory).load(args.table)
        card = corpus_report(
            corpus,
            id_col=args.id_col,
            text_col=args.text_col,
            breakdown_cols=tuple(args.by),
            include_dup_rate=not args.no_dup_rate,
        )
        text = _json.dumps(card, indent=2, sort_keys=True)
        if args.output:
            with open(args.output, "w") as fh:
                fh.write(text + "\n")
            print(f"report written to {args.output}")
        else:
            print(text)
        return 0
    if args.command == "chunk":
        from pyspark.sql import functions as F

        from paradump_spark.operators.packing import chunk_documents

        corpus = ParquetCatalog(spark, args.directory).load(args.table)
        chunks = chunk_documents(
            corpus, args.id_col, args.text_col,
            window=args.window, stride=args.stride,
        )
        chunks.write.mode("overwrite").parquet(args.output)
        stats = spark.read.parquet(args.output).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chunk_tokens").alias("tok"),
        ).collect()[0]
        print(
            f"chunk {args.table} window={args.window} "
            f"stride={args.stride or args.window}: {stats['n']} chunks, "
            f"{stats['tok']} tokens"
        )
        return 0
    if args.command == "classify":
        from pyspark.sql import functions as F

        from paradump_spark.operators.classifier import (
            score_linear,
            train_linear_classifier,
        )

        corpus = ParquetCatalog(spark, args.directory).load(args.table)
        if args.label_col:
            weights, bias = train_linear_classifier(
                corpus, args.id_col, args.text_col, args.label_col,
                n_buckets=args.n_buckets, train_cap=args.train_cap,
                epochs=args.epochs, lr=args.lr,
            )
            if args.weights:
                # bias rides along as the reserved bucket -1
                weights.unionByName(
                    spark.createDataFrame(
                        [(-1, float(bias))], "bucket long, weight double"
                    )
                ).write.mode("overwrite").parquet(args.weights)
        else:
            stored = spark.read.parquet(args.weights)
            bias_row = stored.where(F.col("bucket") == -1).collect()
            bias = bias_row[0]["weight"] if bias_row else 0.0
            weights = stored.where(F.col("bucket") >= 0)
        scored = score_linear(
            corpus, weights, args.id_col, args.text_col,
            n_buckets=args.n_buckets, bias=bias,
        )
        if args.keep_threshold is not None:
            scored = scored.where(F.col("score") >= args.keep_threshold)
        scored.write.mode("overwrite").parquet(args.output)
        n_in = corpus.count()
        n_out = spark.read.parquet(args.output).count()
        print(
            f"classify {args.table}: scored {n_in} docs, wrote {n_out}"
            + (f" (kept score >= {args.keep_threshold})"
               if args.keep_threshold is not None else "")
        )
        return 0
    if args.command == "scrub":
        from pyspark.sql import functions as F

        from paradump_spark.operators.pii import redact
        from paradump_spark.operators.quality_rules import (
            GopherThresholds,
            gopher_keep,
        )

        corpus = ParquetCatalog(spark, args.directory).load(args.table)
        out = corpus
        if args.normalize:
            from paradump_spark.operators.textnorm import normalize_text

            out = normalize_text(out, args.text_col).drop("n_removed_chars")
        if not args.no_filter:
            th = GopherThresholds(
                min_words=args.min_words,
                max_words=args.max_words,
                min_stopword_hits=args.min_stopword_hits,
            )
            out = out.where(gopher_keep(args.text_col, th))
        if not args.no_redact:
            out = out.withColumn(args.text_col, redact(args.text_col))
        # ONE corpus scan: filter + redact fuse into the write job;
        # report counts are parquet-footer reads, not data scans
        out.write.mode("overwrite").parquet(args.output)
        n_in = corpus.count()
        n_out = spark.read.parquet(args.output).count()
        print(
            f"scrub {args.table}: kept {n_out} of {n_in} "
            f"(dropped {n_in - n_out}, redact={not args.no_redact})"
        )
        return 0
    # sync
    from paradump_spark.sync import SyncOptions

    src = ParquetCatalog(spark, args.src)
    dst = ParquetCatalog(spark, args.dst)
    # report only: one read per table, so nothing is pinned
    syncs = classify_tables(
        src,
        dst,
        args.table or None,
        options=SyncOptions(
            excludes=args.exclude, incremental_chunks=args.incremental_chunks
        ),
    )
    report = sync_report(syncs)
    rows = report.collect()
    for r in rows:
        print(f"{r['table']} {r['action']} {r['cnt']}")
    if args.statsfile:
        with open(args.statsfile, "w") as fh:
            for r in rows:
                fh.write(f"{r['table']},{r['phase']},{r['action']},{r['cnt']}\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
