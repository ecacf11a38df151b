#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock of the headline query set (each query
fully materialized via a count-collect to defeat laziness, after a warm-up
of the session and file metadata). Each query is timed twice (micro-batch
stream_* keys: at least three times, with the per-key sample spread
published under "spread") and the minimum reported: single-pass readings
on a shared box swing +-50% from scheduler/GC noise, and min-of-n is the
standard way to read the query's actual cost rather than the machine's
worst mood.

``--cold`` times the other half of the story: a fresh scratch dir forces
every built-on-ingest artifact (shingle/print indexes, LSH band
signatures, IVF/PQ indexes, k-means centroids, PageRank ranks, CC
labels) to rebuild inside the timed first touch — the one-time ingest
cost that the default steady-state numbers amortize away (measured at
sf0.1: dedup_simhash 15.9 s cold vs 0.4 s steady, embed_kmeans 4.7 vs
0.1, sim_search_pq 3.2 vs 0.8).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one representative per operator family (SURVEY.md §6).
HEADLINE = [
    "agg_group",            # TPC-H Q1 shape — scan + partial/final hash agg
    "tpch_q3_shape",        # 3-way join + top-10 (TakeOrderedAndProject)
    "tpch_q5_shape",        # 5-way join, broadcast dims, one shuffle spine
    "agg_group_events",     # filtered time-bucket rollup
    "join_inner_equi",      # fact-dim equi join (AQE-chosen strategy)
    "join_broadcast",       # broadcast dim join + agg
    "join_asof",            # as-of via union + running-last window
    "win_frame",            # running/sliding frames
    "topk_per_group",       # WindowGroupLimit path
    "dedup_exact",          # keyed dedup (shuffle on key)
    "dedup_near_minhash",   # MinHash+LSH near-dup (shingle+band joins)
    "sim_search",           # brute-force cosine top-k
    "sim_search_ivf",       # IVF-routed ANN (centroid lists + re-rank)
    "join_skew_salted",     # explicit salt-explode skew join
    "pipeline_curation",    # fused quality→dedup→split curation plan
    "text_tfidf",           # explode + two aggregations + broadcast join
    "stream_tumbling",      # windowed agg through micro-batch execution
    "trades_envelope_scan", # generator → wire → envelope → ordered limit
    "win_sessionize",       # gap-based sessionization (lag + running sum)
    "agg_percentile",       # exact percentiles (full-sort path)
    "graph_pagerank",       # iterative rank loop (persist + checkpoint)
    "dedup_cluster_cc",     # iterative min-label connected components
    "cdc_scd2_build",       # SCD2 history build (two windows, one shuffle)
    "sim_search_pq",        # PQ/ADC ANN (codebook broadcast + code probe)
    "dq_anomaly_detect",    # grouped moments + broadcast z-score filter
    "stream_watermark",     # watermarked append stream (exact drop/emit)
    # round-3 additions: the round-2 operator families, so future rounds
    # can diff them (judge ask r2#6)
    "agg_funnel",            # ordered step-sequence funnel (one pass)
    "text_decontaminate",    # shingle inverted-index vs broadcast eval set
    "pipeline_training_manifest",  # fused gate→mixture→split→token budget
    "agg_count_min",         # CMS build (one (d,bkt) shuffle) + probes
    "stream_cdc_merge",      # foreachBatch COW MERGE via the txnlog sink
    "agg_quantile_sketch",   # KLL-style approx percentiles + bounds
    "embed_random_projection",  # JL 64→16 projection (scan-speed codegen)
    "sample_mixture",        # broadcast mixture table + keyed LCG sampling
    "win_gaps_islands",      # gaps-and-islands (two windows, one shuffle)
    "join_range_bucketed",   # bucketed interval join (no cross product)
    # round-3 additions: this round's operator families, so future
    # rounds can diff them
    "sim_search_range",      # radius retrieval: broadcast-score + filter
    "embed_kmeans",          # Lloyd's k-means (projection assign, K*dim update)
    "text_repetition",       # Gopher repetition gates (array exprs, no shuffle)
    "text_lm_score",         # unigram-LM bits-per-token (vocab broadcast)
    "text_bpe_pairs",        # BPE pair counts (alphabet-bounded exchange)
    "join_bloom_pruned",     # Bloom runtime filter ahead of exact semi join
    # round-4 additions
    "dedup_minhash_verify",  # hash-verifiable MinHash+LSH twin
    "sample_balanced_class", # distributed exact selection (histogram refine)
    # round-4: one representative per previously-unbenched family
    "subquery_correlated",   # correlated EXISTS/scalar subquery rewrite
    "agg_pivot",             # pivot (grouped transpose)
    "multimodal_chunk_binary",  # binary payload chunking via Generate
    "win_median_rolling",    # exact rolling median (frame as array)
    "fn_regexp",             # regexp family at scan speed
    "scan_dynamic_partition_pruning",  # DPP over partitioned scratch
    "pipeline_curriculum",   # shared-pass exact order statistics
    "source_custom_datasource",  # Python Data Source connector read
    # round-5 addition: the redesigned collapse-first simhash (complete
    # hamming<=3 pairs over distinct-print block buckets)
    "dedup_simhash",
    # round-7 addition: the skew-bounded exact inverted-index pair join
    # (hot shingles chunk-split; posting list from the shared artifact)
    "dedup_ngram_jaccard",
    # round-8 addition: Arrow-batched embedding generation (mapInPandas
    # producer for the sim_search/embed_* consumers)
    "embed_generate",
    # round-9 additions: watermark-flushed outer stream-stream join and
    # the txn-log retention job (3 COW commits + vacuum + 2 time-travel
    # reads — wall-clock is commit/maintenance machinery, not data)
    "stream_stream_join_outer",
    "maintenance_vacuum",
    # round-10 addition: change data feed over the txn log (3 COW
    # commits + 2 time-travel reads + digest full-outer diff)
    "cdc_read_changes",
    # round-11 additions: streaming micro-batches as txnlog versions
    # (the Delta streaming-sink shape) and the CDF-driven incremental
    # rollup consumer (O(feed) maintenance vs full recompute)
    "stream_txnlog_sink",
    "cdc_incremental_rollup",
    # round-12 additions: the end-to-end streaming CDF pipeline (change
    # stream → apply_feed → idempotent commit into a second table, over
    # bucket-pruned task reads), manifest point-lookup skipping (Bloom +
    # null counts — the predicate class min/max can't serve), and MERGE
    # INTO (three-clause lakehouse write: one full-outer join + clause
    # classification + COW commit)
    "stream_cdf_to_table",
    "maintenance_point_skipping",
    "txn_merge_into",
    # round-13 additions: file-granular MERGE over a bucket-manifest
    # table (rewrite O(touched buckets), untouched carried by
    # reference), keyed point-CDF read (Bloom-pruned both sides), and
    # SemDeDup-shape semantic dedup (coarse centroids + adaptive SRP
    # sub-buckets + within-bucket exact cosine)
    "txn_merge_partial",
    "cdc_read_changes_point",
    "dedup_semantic_cluster",
    # round-13: skipping and DV compaction composed with the manifest
    # form (fresh stats per stem, carried entries ride their buckets;
    # compaction rewrites only purged keys' buckets)
    "maintenance_point_skipping_partial",
    "maintenance_dv_compact_partial",
    "maintenance_rebucket",
    "txn_append_blind",      # O(delta) blind append (list-valued entries)
    # round-13 closing set: the blind-append write class under a live
    # streaming sink (one O(batch) stem commit per micro-batch,
    # batch-id exactly-once), its incremental hygiene pass (rewrite
    # only fragmented buckets), and the SQL-addressable change feed
    "stream_append_sink",
    "maintenance_compact_stems",
    "cdc_sql_table_changes",
    "source_cdf_stream_append",  # append steps: new stems as inserts
    "maintenance_snapshot_tag",  # tag-anchored retention + SQL read
    "txn_schema_evolution_manifest",  # metadata-only ADD COLUMNS
    "maintenance_describe_history",   # table-history surface
    "txn_wap_publish",                # write-audit-publish branches
]

# Box-state calibration (round-8 verdict item): min-of-7 of a bare
# catalog-routed region.parquet count — pure session/job fixed cost, no
# data term, version-independent (catalog.table + count have been stable
# since round 1). The emitted box_factor = probe/REF lets cross-round
# comparisons divide out a slow box state (round 7's adjudication had to
# do this in prose: a measured ~1.25x uniform slow state). REF measured
# 2026-08-15 on an idle box at repo HEAD d5ef55b (samples 0.171-0.239,
# min 0.171).
_BOX_PROBE_REF_S = 0.171

# --sf-ladder default key set (r14 verdict item 7): compute-heavy keys
# whose cost follows the DATA (scan/shuffle/join/agg spines), so timing
# them over m-scaled corpora at different $SPARK_GRAFT_CPUS makes core
# scaling observable — at plain sf0.1 nearly every key sits on the
# ~0.2 s per-job scheduling floor and the 8-vs-32-core ratio reads ≈1
# regardless of plan quality. One stream key rides along so micro-batch
# machinery is represented. The plain 78-key line is untouched.
LADDER_KEYS = [
    "agg_group",
    "tpch_q3_shape",
    "tpch_q5_shape",
    "join_inner_equi",
    "dedup_near_minhash",
    "dedup_simhash",
    "text_tfidf",
    "text_bpe_pairs",
    "sample_balanced_class",
    "win_sessionize",
    "stream_cdc_merge",
]


def _box_probe(spark, sf_dir: str) -> float:
    import time as _t

    from kinesis_datastore_app_spark.catalog import table as _table

    samples = []
    for _ in range(7):
        t0 = _t.perf_counter()
        _table(spark, sf_dir, "region").count()
        samples.append(_t.perf_counter() - t0)
    return min(samples)


def main() -> None:
    # Optional watch-item mode: `python bench.py --only k1,k2 [--n 5]`
    # re-benches just those keys with min-of-n, nothing else in the
    # session — the isolated reading that settles whether a per-query
    # regression in the full run was real or scheduler noise (it was
    # noise for agg_group in r3 and stream_tumbling in r4). The driver's
    # no-args invocation is unchanged.
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--n", type=int, default=None)
    ap.add_argument(
        "--ab-ref",
        default=None,
        metavar="GIT_REV",
        help="arbitration mode (round-9 verdict item): after timing the "
        "current tree, check out GIT_REV into a throwaway git worktree "
        "and time the SAME keys there in this same session (sequential, "
        "same box regime, shared steady-state scratch artifacts) — the "
        "emitted JSON carries both columns under 'ab', so round-over-"
        "round regressions stop needing prose adjudication of box-day "
        "state. Use with --only for the keys under dispute; without "
        "--only the full HEADLINE set runs twice (slow).",
    )
    ap.add_argument(
        "--cold",
        action="store_true",
        help="time the COLD path: point SPARK_GRAFT_SCRATCH at a fresh "
        "temp dir so every built-on-ingest artifact (shingle indexes, "
        "simhash prints, LSH band signatures, IVF/PQ indexes, k-means "
        "centroids, PageRank ranks, CC labels) rebuilds inside the "
        "timed run — the honest ingest-cost reading next to the "
        "default steady-state serving numbers",
    )
    ap.add_argument(
        "--sf-ladder",
        default=None,
        metavar="MULTS",
        help="SF-ladder mode (r14): time the LADDER_KEYS (or --only keys) "
        "over m-scaled copies of $SPARK_GRAFT_SF_DIR (tools/scale_probe's "
        "deterministic id-offset scaling; e.g. '1,4' times each key at 1x "
        "and 4x data) and emit ONE JSON line with metric "
        "'headline_sf_ladder_wall_clock'. Run at different "
        "$SPARK_GRAFT_CPUS to observe core scaling off the per-job "
        "scheduling floor. Additive: the plain no-flag bench line is "
        "unchanged.",
    )
    args = ap.parse_args()

    if args.sf_ladder:
        if args.cold or args.ab_ref:
            print("bench: --sf-ladder cannot combine with --cold/--ab-ref",
                  file=sys.stderr)
            sys.exit(2)
        _sf_ladder(args)
        return

    if args.cold and args.ab_ref:
        # --cold repoints SPARK_GRAFT_SCRATCH via os.environ, which the
        # ref child inherits WITHOUT --cold: it would serve steady-state
        # reads over artifacts the parent just built, and ratio_vs_ref
        # would read cold/warm (~40x on artifact-heavy keys) — a
        # meaningless arbitration number (round-9 review). Refuse.
        print("bench: --cold cannot combine with --ab-ref (the ref side "
              "would time warm reads of the cold run's artifacts)",
              file=sys.stderr)
        sys.exit(2)

    if args.cold:
        import atexit
        import shutil

        # self-cleaning allocation: atexit covers a normal exit, but a
        # killed --cold run (SIGKILL skips atexit) would strand its
        # GB-scale artifact set — the shared helper also collects any
        # aged-out stranded siblings on the next invocation
        from kinesis_datastore_app_spark.tmpdirs import scratch_tmpdir

        # long gate: a cold run's artifact builds write DEEPER than the
        # helper's one-level activity probe sees, so only dirs stranded
        # for hours (no live build plausibly runs that long) collect
        cold_scratch = scratch_tmpdir("kdas_cold_bench_", age_s=4 * 3600)
        os.environ["SPARK_GRAFT_SCRATCH"] = cold_scratch
        atexit.register(shutil.rmtree, cold_scratch, ignore_errors=True)

    # imported AFTER the env decision: catalog/session read
    # SPARK_GRAFT_SCRATCH at import time
    from kinesis_datastore_app_spark import registry
    from kinesis_datastore_app_spark.session import get_spark

    spark = get_spark(app_name="kinesis-datastore-app-spark-bench")
    qs = registry.queries()
    missing = [k for k in HEADLINE if k not in qs]
    if missing:
        # hard-fail like --only does (round-8 review): silently benching
        # fewer keys emits a smaller total — a phantom speedup to anyone
        # diffing round-over-round values
        print(f"bench: HEADLINE key(s) not registered: {', '.join(missing)}",
              file=sys.stderr)
        sys.exit(2)
    keys = list(HEADLINE)
    if args.only:
        # exact-key matching: a substring match would silently widen the
        # set (--only sim_search also picking sim_search_ivf/lsh/pq) and
        # a typo would silently bench nothing
        wanted = [s.strip() for s in args.only.split(",") if s.strip()]
        unknown = [w for w in wanted if w not in qs]
        if unknown:
            # ANY unknown key is fatal: proceeding with a subset would
            # emit a JSON "value" summing fewer queries than requested —
            # a phantom speedup to anything diffing totals across runs
            print(f"bench: unknown key(s): {', '.join(unknown)}", file=sys.stderr)
            sys.exit(2)
        keys = wanted
        if not keys:
            print("bench: --only matched no registered keys", file=sys.stderr)
            sys.exit(2)
    # --n applies with or without --only; isolated mode defaults to 5
    n_min = args.n or (5 if args.only else 2)

    # Warm-up: JVM + parquet footer reads, not counted. In --cold mode
    # the warm-up runs one cheap NON-ARTIFACT key (JVM/session spin-up
    # only — never a key being timed), so every timed key's first-touch
    # artifact build lands inside its own sample.
    if args.cold:
        # Warm with a bare REGION count only: region is far below the
        # relayout threshold, so session/JVM spin-up is absorbed without
        # building ANY scratch artifact. The old candidate keys were not
        # artifact-free — 'project' scans lineitem, whose 1-row-group
        # layout triggers the catalog RELAYOUT rebuild, quietly moving
        # the one sf0.1 ingest artifact outside every timed cold sample
        # (round-8 review).
        from kinesis_datastore_app_spark.catalog import table as _table

        _table(spark, SF_DIR, "region").count()
    else:
        for k in keys:
            qs[k](spark, SF_DIR).count()

    # calibration probe AFTER warm-up (JVM hot), BEFORE the timed loop —
    # reads the box's current fixed-cost state, not any query's cost
    probe_s = _box_probe(spark, SF_DIR)

    timings: dict[str, float] = {}
    spread: dict[str, dict] = {}
    for k in keys:

        def once() -> float:
            t0 = time.perf_counter()
            qs[k](spark, SF_DIR).count()
            return time.perf_counter() - t0

        # Micro-batch (stream_*) keys carry ~0.3-0.5 s of trigger/state
        # scheduling that swings run to run, and have produced one false
        # ~1.3x regression scare per round (r4 stream_tumbling, r5
        # stream_cdc_merge — both retired as noise by isolated
        # re-benches). Sample them min-of-3+ up front and publish the
        # spread so the reading is self-adjudicating.
        n_k = max(n_min, 3) if k.startswith("stream_") else n_min
        if args.cold:
            # first touch IS the measurement: artifact build + query
            timings[k] = round(once(), 4)
            continue
        samples = [once() for _ in range(n_k)]
        # noise check: if the n_k readings disagree by >30%, take one
        # extra — the min pins the query's cost, not the machine's
        # worst mood
        if max(samples) > 1.3 * min(samples):
            samples.append(once())
        timings[k] = round(min(samples), 4)
        if k.startswith("stream_"):
            ss = sorted(samples)
            spread[k] = {
                "n": len(ss),
                "min": round(ss[0], 4),
                "med": round(ss[len(ss) // 2], 4),
                "max": round(ss[-1], 4),
            }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_query_set_cold_wall_clock" if args.cold else "headline_query_set_wall_clock",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "box_probe_s": round(probe_s, 4),
        "box_factor": round(probe_s / _BOX_PROBE_REF_S, 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if args.ab_ref:
        # Free the parent's JVM (multi-GB heap + executor threads) so
        # the ref half times under the same memory/page-cache regime the
        # current-tree half had — the parent is done timing here, and a
        # live parent JVM systematically inflates ref timings, which
        # under-reports current-tree regressions (round-10 tooling
        # review: the fairness error this mode exists to eliminate).
        spark.stop()
        result["ab"] = _ab_ref_bench(args.ab_ref, keys, n_min, SF_DIR)
        ab_q = result["ab"].get("queries") or {}
        result["ab"]["ratio_vs_ref"] = {
            k: round(timings[k] / ab_q[k], 3)
            for k in timings
            if ab_q.get(k)
        }
    print(json.dumps(result))


def _sf_ladder(args) -> None:
    """Time the ladder keys over m-scaled corpora (one JSON line).

    Reuses tools/scale_probe's corpus scaler (_probe_dir: m id-offset
    copies, fact keys moved per copy so joins stay within-copy and
    outputs scale linearly; fingerprint-keyed reuse + atomic publish),
    so the scaled data is deterministic and shared with the exponent
    probe. Per (key, m): one untimed first touch (artifact builds land
    outside the sample, matching the plain bench's steady-state
    framing), then min-of-n timed runs."""
    import importlib.util

    root = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "kdas_scale_probe", os.path.join(root, "tools", "scale_probe.py")
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)

    from kinesis_datastore_app_spark import registry
    from kinesis_datastore_app_spark.session import get_spark

    spark = get_spark(app_name="kinesis-datastore-app-spark-bench-ladder")
    qs = registry.queries()
    keys = (
        [s.strip() for s in args.only.split(",") if s.strip()]
        if args.only
        else list(LADDER_KEYS)
    )
    unknown = [k for k in keys if k not in qs]
    if unknown:
        print(f"bench: unknown key(s): {', '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    mults = [int(s) for s in args.sf_ladder.split(",")]
    n_min = args.n or 2
    probe_s = _box_probe(spark, SF_DIR)
    timings: dict[str, dict[str, float]] = {k: {} for k in keys}
    for m in mults:
        d = sp._probe_dir(spark, SF_DIR, m) if m != 1 else SF_DIR
        for k in keys:
            qs[k](spark, d).count()  # untimed: artifact/fixture builds
            samples = []
            for _ in range(n_min):
                t0 = time.perf_counter()
                qs[k](spark, d).count()
                samples.append(time.perf_counter() - t0)
            if max(samples) > 1.3 * min(samples):
                t0 = time.perf_counter()
                qs[k](spark, d).count()
                samples.append(time.perf_counter() - t0)
            timings[k][f"m{m}"] = round(min(samples), 4)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_sf_ladder_wall_clock",
                "value": round(
                    sum(v for per in timings.values() for v in per.values()),
                    4,
                ),
                "unit": "sec",
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                "mults": mults,
                "queries": timings,
                "box_probe_s": round(probe_s, 4),
                "box_factor": round(probe_s / _BOX_PROBE_REF_S, 3),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


def _ab_ref_bench(rev: str, keys: list[str], n: int, sf_dir: str) -> dict:
    """Time ``keys`` at git rev ``rev`` in a throwaway worktree, as a
    subprocess on the same box, minutes after the current-tree readings
    — the pinned-HEAD A/B that rounds 7 and 8 ran by hand to separate
    box-day drift from code regressions. Steady-state scratch artifacts
    are shared (same default SPARK_GRAFT_SCRATCH), so both halves time
    serving cost, not artifact rebuilds. Returns an 'error' field
    instead of raising when the rev predates a key or the worktree
    cannot build — the main reading must still be emitted."""
    import shutil
    import subprocess
    import tempfile

    root = os.path.dirname(os.path.abspath(__file__))
    base = tempfile.mkdtemp(prefix="kdas_ab_")
    wt = os.path.join(base, "wt")
    try:
        add = subprocess.run(
            ["git", "-C", root, "worktree", "add", "--detach", wt, rev],
            capture_output=True,
            text=True,
        )
        if add.returncode != 0:
            return {"ref": rev, "error": add.stderr.strip()[-400:]}
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)

        def run_ref(ks: list[str]):
            return subprocess.run(
                [
                    sys.executable,
                    os.path.join(wt, "bench.py"),
                    "--only",
                    ",".join(ks),
                    "--n",
                    str(n),
                ],
                capture_output=True,
                text=True,
                env=env,
                cwd=wt,
            )

        p = run_ref(keys)
        skipped: list[str] = []
        if p.returncode != 0 and "unknown key(s): " in (p.stderr or ""):
            # The ref rev predates some keys (HEADLINE grows every
            # round, so a full-set A/B against ANY earlier round would
            # otherwise be all-or-nothing — round-9 review). Intersect:
            # drop exactly the keys the ref bench names as unknown and
            # retry once; report them so the missing ratios are loud.
            line = p.stderr.split("unknown key(s): ", 1)[1].splitlines()[0]
            skipped = [k.strip() for k in line.split(",") if k.strip()]
            shared = [k for k in keys if k not in skipped]
            if shared:
                p = run_ref(shared)
        if p.returncode != 0:
            return {"ref": rev, "error": (p.stderr or p.stdout).strip()[-400:]}
        data = json.loads(p.stdout.strip().splitlines()[-1])
        out = {
            "ref": rev,
            "value": data["value"],
            "queries": data["queries"],
            "box_probe_s": data.get("box_probe_s"),
        }
        if skipped:
            out["keys_not_at_ref"] = skipped
        return out
    finally:
        subprocess.run(
            ["git", "-C", root, "worktree", "remove", "--force", wt],
            capture_output=True,
        )
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
