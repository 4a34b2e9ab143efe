#!/usr/bin/env python
"""Per-round benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing method: each query is built lazily, then forced with a count-style
terminal action that materializes every row (``df.foreach(noop)`` would skip
whole-stage results; ``collect`` pulls to the driver like the correctness
harness does, matching how the driver measures).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from glamr_omics_pipelines_spark.session import get_spark  # noqa: E402
from glamr_omics_pipelines_spark.operators import _cache, _ckpt  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

# Headline subset: one per operator family that dominates runtime at scale.
HEADLINE = [
    "pricing_summary",   # scan-heavy multi-agg
    "topk_revenue",      # big join + agg + top-k
    "tpm",               # window-normalized abundance over join chain
    "top1_per_group",    # window row_number over the fact table
    "anvio_stacked",     # 3-layer stacked windows (the reference's richest SQL)
    "subtree_rollup",    # hierarchical closure join
    "lca",               # path-prefix aggregate
    "pivot_wider",       # pivot matrix
    "sessionize",        # gap sessionization over events
    "windowed_counts",   # event-time tumbling windows
    "exact_dedup",       # hash-groupBy dedup over documents
    "minhash_dedup",     # shingle->minhash->LSH->verify
    "simhash_dedup",     # 64-bit simhash banding + verify
    "cosine_topk",       # brute-force ANN baseline
    "lsh_ann",           # hyperplane-bucketed ANN (the scale path)
    "lsh_ann_multi",     # OR-amplified 3-table LSH ANN (recall-tunable)
    "embedding_dups",    # embedding-cosine near-dup pairs
    "coverage_stats",    # coverM-style rank-trimmed coverage aggregate
    "kingdom_priority_lca",  # priority-bucketed LCA
    "multimodal_features",   # Arrow-batched mapInPandas decode stub
    "text_quality",      # text feature extraction
    "token_counts",      # whitespace + BPE-ish token counting
    "lang_id",           # marker-word language ID
    "doc_fingerprint",   # rolling polynomial hash
    "seqkit_stats",      # quantile aggregate
    "ivf_ann",           # IVF quantizer + cell-probe ANN (probe-all exact mode)
    "asof_join",         # union-merge as-of join (single shuffle, no blowup)
    "range_join",        # binned point-in-interval equi join
    "hypertable_rollup", # multi-granularity time rollup in one scan
    "vocab_topk",        # corpus vocabulary: explode + partial-agg + top-k
    "curation_pipeline", # lang gate -> quality gate -> exact dedup -> split
    "quality_window_trim",  # fastp sliding-window trim over Phred arrays
    "text_repetition",   # Gopher repetition gates (row-local HOFs)
    "pii_scrub",         # regex redaction chain, scan-stage
    "doc_lm_score",      # corpus unigram logprob quality gate
    "interval_overlap",  # binned interval-overlap join (first-shared-bin dedup)
    "split_contamination",  # cross-split n-gram decontamination sweep
    "temperature_sample",   # alpha-temperature group rebalance
    "dedup_keep_best",   # cluster survivor selection (argmax-by-quality)
    "quantile_gate",     # per-group exact-quantile adaptive filter
    "normalize_text",    # markup/whitespace canonicalization chain
    "session_windows",   # native session_window merging aggregation
    "kmer_spectrum",     # bounded-output k-mer counting
    "rolling_features",  # trailing RANGE-frame features per user
    "tfidf_topk",        # tf partial agg + broadcast idf + rank window
    "winsorize",         # per-group quantile-band clipping
    "funnel",            # stacked conditional-min funnel windows
    "snapshot_diff",     # hash-compare full-outer snapshot delta
    "corr_stats",        # co-moment partial aggregates
    "pack_sequences",    # hash-sharded prefix-sum packing
    "mad_outliers",      # median/MAD robust outlier flags
    "curation_pipeline_v2",  # normalize->gate->dedup->split->pack, one plan
    "label_centroids",   # posexplode partial-agg embedding centroids
    "profile_table",     # one-scan column profile audit
    "ngram_containment", # asymmetric inclusion detector (shared overlap core)
    "line_dedup",        # C4-style cross-doc line boilerplate removal
    "geo_neighbors",     # grid-binned haversine proximity join
    "span_dedup",        # ExactSubstr duplicated-span removal (w-gram seeds)
    "pmi_collocations",  # consecutive-bigram PMI collocation ranking
    "pagerank",          # 10-iteration Pregel loop, edge partitioning reused
    "data_quality",      # expectations suite: one agg scan/table + FK anti-joins
    "attribution_join",  # event-time-bounded stream-stream join shape
    "embedding_covariance",  # nested-posexplode partial-agg d^2 statistic
    "quantize_embeddings",   # d-row bounds broadcast + row-local rescale
    "interval_subtract", # signed sweep-line A-minus-B with span re-merge
    "incremental_agg",   # snapshot-grain mergeable rollup refresh
    "gaps_islands",      # consecutive-run detection (date - row_number)
    "group_percentiles", # exact percentile ladder, one array aggregate
    "mixture_sample",    # explicit target-mixture downsample, md5 membership
    "cube_report",       # CUBE cross-tab with grouping_id, one scan
    "bitset_semi_join",  # broadcast-bitset scan-stage pruning + exact semi
    "fuzzy_resolve",     # canonical typo resolution, broadcast variants
    "basket_rules",      # association rules on the co-occurrence core
    "quantile_normalize", # per-group rank window + rank-grain means
    "clr_transform",     # compositional normalization, broadcast mean-logs
    "deseq_size_factors", # median-of-ratios depth normalizer
    "rank_sum_test",     # feature-parallel Wilcoxon U + z
    "zorder_key",        # codegen Morton interleave, scan-stage
    "scd2_history",      # SCD2 run compression (one key window + groupBy)
    "event_transitions", # Markov bigram matrix via lead window
    "chunk_documents",   # sliding-window token chunking, row-local HOFs
    "fuzzy_name_pairs",  # deletion-neighborhood blocking + levenshtein verify
    "weighted_sample",   # Efraimidis-Spirakis deterministic weighted top-k
    "interval_merge",    # bedtools-merge islands (running-max window)
    "genome_coverage",   # genomecov sweep-line depth histogram
    "nearest_feature",   # bedtools-closest via union-merge, one shuffle
    "shannon_diversity", # per-sample H' via totals-broadcast partial agg
    "bray_curtis",       # sample-grain pairwise dissimilarity
    "rarefaction",       # one-scan nested hash-subsample richness
    "nx_ladder",         # N50/L50 contiguity ladder, one group exchange
    "resample_fill",     # dense-axis gap fill via sequence()+explode grid
    "interpolate",       # IGNORE-NULLS frames linear repair, one exchange
    "changepoint",       # CUSUM argmax level-shift, one exchange per key
    "triangle_count",    # degree-oriented wedge join, O(E^1.5) bound
    "mash_distance",     # KMV bottom-k sketch pairs, group-grain
    "dbscan",            # density clustering on the pair-gen + CC core
    "trend_fit",         # per-key OLS via co-moment partial aggs
    "inverted_index",    # tokenize-once posting lists, honest cap
    "key_skew",          # unpivot + value-grain top-N skew diagnostic
    "welch_t",           # conditional-sum partial-agg t statistics
    "translate_dna",     # codegen codon-map translation, zero shuffle
    "seasonal_anomaly",  # hour-of-week baseline broadcast + row-local z
    "sensor_pipeline",   # resample + interpolate fused in one plan
    "rolling_corr",      # six co-moments on one RANGE frame
    "cohort_retention",  # dedup'd user-period pairs, min-bucket cohorts
    "cooccur_cosine",    # pair fan-out + broadcast degree normalization
    "k_core",            # fixed-round peel, checkpointed frontier
    "metagenome_qc",     # gates -> stats -> kmer Shannon, one plan
    "expanding_distinct", # first-occurrence flag + cumsum windows
    "doc_bigram_lm",     # bigram count tables joined at position grain
    "event_paths",       # n-1 leads on one window sort, path-grid agg
    "geo_clusters",      # binned geo pairs -> min-label CC
    "ab_test",           # pooled two-proportion z per group, one agg
    "tfidf_doc_pairs",   # DF-pruned inverted-index all-pairs cosine
    "shard_assign",      # HRW placement, row-local codegen argmax
    "feature_hash",      # hashing-trick vectors, vocabulary-free
    "cms_counts",        # deterministic mergeable count-min grid
    "twap",              # interval-weighted mean, one exchange
    "spearman",          # midrank windows + co-moment Pearson
    "debruijn_stats",    # 4^k-bounded assembly-graph degree census
    "minimizers",        # row-local winnowing sketch, zero shuffle
    "debounce",          # lag-gap telemetry dedup, one exchange
    "session_stats",     # sessionize -> bounce/duration summary
    "class_tfidf",       # c-TF-IDF cluster naming, grid-grain aggs
    "kl_divergence",     # per-class drift vs corpus blend
    "nearest_station",   # broadcast-dim argmin spatial attach
    "burstiness",        # inter-arrival co-moments, one exchange
    "gini",              # rank window + co-moment agg per group
    "benford",           # numeric-ladder digit audit, group x 9 agg
    "simpson",           # 1 - sum(p^2), broadcast totals
    "zipf_slope",        # vocab rank + co-moment OLS, metadata-scale
    "oov_rate",          # md5 split + train-vocab equi join
    "orf_count",         # regexp spans over codegen translation
    "base_entropy",      # row-local 4-replace entropy, zero shuffle
    "psi_drift",         # decile-bin PSI drift gate, two scans
    "ks_test",           # tie-exact ECDF max-gap per feature
    "js_divergence",     # pair-grain symmetric distribution distance
    "kl_top_terms",      # drift-driver terms, bounded rank window
    "vocab_growth",      # Heaps-law first-seen curve, one min agg
    "rfm_segments",      # broadcast-threshold RFM quintile scoring
    "ohlc_bars",         # struct-min/max downsampling, no sort windows
    "gtdb_majority_vote",  # taxon-grain majority-vote aggregation
    "storage_reclaim",   # rule-regex inventory scan + sample-grain existence join
    "xlsx_roundtrip",    # S5 write->read xlsx leg + per-lang rollup
    "sqlite_roundtrip",  # S10 write->read sqlite leg + per-lang rollup
    "benchmark_ledger",  # path-parse -> newest-per-key -> sacct backfill
    "checkout_delta",    # ledger status join + literal-timeline as-of versioning
    "versions_ledger",   # S19: latest-wins rule ownership + snapshot churn
    "pq_ann",            # PQ encode (codegen argmin) + broadcast ADC top-k
    "ivfpq_ann",         # IVFADC: cell-pruned equi join + ADC ranking
    "bpe_encode",        # frozen-tokenizer replace-chain, scan-stage
    "semdedup",          # cell-scoped semantic dedup (SemDeDup shape)
    "kmeans_lloyd",      # distributed Lloyd: literal assign + (cell,pos) avg
    "bloom_novelty",     # word-packed bloom bitmap + broadcast probe
    "ann_recall",        # recall@k eval: IVF partial probe vs brute truth
    "hist_quantile",     # mergeable fixed-width histogram quantile sketch
    "leakage_safe_split",  # cluster-grain split over the dup_clusters map
    "quality_classifier",  # hashed-linear sigmoid scoring, pure projection
    "minhash_incremental",  # new-batch bands vs persisted index + verify
    "incremental_curation",  # bloom gate + band probe + verify, one plan
    "mixture_plan",      # domain-grain agg + metadata-scale water-filling
    "bm25_search",       # query-term-pruned tf shuffle + broadcast idf
    "url_dedup",         # scan-stage URL canonicalization + one key agg
    "domain_blocklist",  # literal suffix-match verdict, zero shuffle
    "line_quality",      # row-local HOF line rules, zero shuffle
    "rp_project",        # JL projection, literal matrix, zero shuffle
    "web_curation",      # blocklist -> url dedup -> line quality, 1 plan
    "phash_dedup",       # P5 decode + DCT phash + banded hamming join
    "compaction_plan",   # exclusive-cumsum file binning, metadata scale
    "afp_dedup",         # WAV decode + spectrogram phash + hamming join
    "wordpiece_encode",  # greedy fold, literal vocab, zero shuffle
    "video_dedup",       # Y4M decode + frame phash + inverted-index join
    "dataset_card",      # one-pass per-source release summary
    # streaming_* rows are deliberately NOT benched: their wall-clock is
    # availableNow micro-batch scheduling + checkpoint commits (fixed
    # streaming overhead), not data-path throughput.
]

# The r1-r3 headline set (exactly BENCH_r03's 30 queries): kept as a
# first-class cross-round comparable total while the full catalog grows.
STABLE30_SET = {
    "pricing_summary", "topk_revenue", "tpm", "top1_per_group",
    "anvio_stacked", "subtree_rollup", "lca", "pivot_wider", "sessionize",
    "windowed_counts", "exact_dedup", "minhash_dedup", "simhash_dedup",
    "cosine_topk", "lsh_ann", "embedding_dups", "coverage_stats",
    "kingdom_priority_lca", "multimodal_features", "text_quality",
    "token_counts", "lang_id", "doc_fingerprint", "seqkit_stats", "ivf_ann",
    "asof_join", "range_join", "hypertable_rollup", "vocab_topk",
    "curation_pipeline",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("glamr-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # Warm the JVM/codegen once so per-query numbers measure the plan, not
    # session startup.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # Calibration probe: a constant-cost action whose plan never changes
    # round-to-round. If the probe's timing moves between rounds, the shift is
    # environment load (sandbox contention), not a plan regression — it lets
    # the judge separate the two (round-3 saw a uniform ~1.8x env slowdown).
    probe_best = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
        dt = time.perf_counter() - t0
        probe_best = dt if probe_best is None else min(probe_best, dt)

    # MULTITHREADED calibration probe (r10): a fixed 32-task hash+shuffle
    # mini-job whose plan never changes round-to-round. The single-thread
    # probe above cannot see THREAD-SCALING drift (r9: the box ran
    # multithreaded work ~1.5x slower at a similar single-thread probe, and
    # the evidence lived only in ROUND9.md prose). With both probes recorded,
    # cross-round comparisons normalize for either kind of box drift from
    # BENCH_DETAILS.json alone.
    from pyspark.sql import functions as _F
    probe_mt_best = None
    for _ in range(3):
        t0 = time.perf_counter()
        (spark.range(0, 16_000_000, 1, 32)
         .select((_F.col("id") % 997).alias("k"),
                 (_F.xxhash64("id") % 1_000_003).alias("h"))  # bounded: ANSI sum can't overflow
         .groupBy("k").agg(_F.sum("h").alias("s"),
                           _F.count(_F.lit(1)).alias("n"))
         .collect())
        dt = time.perf_counter() - t0
        probe_mt_best = dt if probe_mt_best is None else min(probe_mt_best, dt)

    # three measured runs per query, report the min: steady-state plan cost,
    # not first-run codegen compilation / JIT / page-cache / GC noise.
    # Each query is failure-isolated: one broken query must never erase the
    # whole bench (this exact fragility cost round 2 its BENCH file).
    timings: dict[str, float] = {}
    timings_min5: dict[str, float] = {}
    errors: dict[str, str] = {}
    extra_run_errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            errors[name] = "missing from queries()"
            continue
        # stable30 rows additionally get runs 4-5: measured first-run
        # codegen/JIT inflation is 2-4x steady state, and under transient box
        # load even run 3 can still carry it (r10: lang_id bench'd 2.1 s
        # min-of-3 under load vs 0.84 s steady min-of-5). PROTOCOL
        # COMPATIBILITY: timings[name] (and every *_total built from it)
        # stays min over the FIRST 3 runs — identical to every prior round's
        # protocol, so cross-round comparisons are apples-to-apples; the
        # min-of-5 lands ONLY in the separate stable30_total_min5 /
        # queries_min5 fields (min over more runs is monotonically
        # non-increasing — folding it into the headline number would fake a
        # speedup the code never earned).
        n_runs = 5 if name in STABLE30_SET else 3
        runs: list[float] = []
        try:
            for _ in range(n_runs):
                t0 = time.perf_counter()
                fn(spark, sf_dir).collect()
                runs.append(time.perf_counter() - t0)
                # COLD-RUN PROTOCOL (r12, VERDICT r11 item 2): release the
                # operators' registered persists/checkpoints between RUNS,
                # not just queries. Spark's CacheManager matches canonicalized
                # plans, so without this, run 2-3 of a persist-style operator
                # (dbscan, tfidf_doc_pairs, mash_distance) silently read run
                # 1's cache and the min-of-3 records a warm run — which
                # systematically flatters persist-style changes. Release time
                # is outside the timed region (cleanup, not query work), the
                # same accounting the old per-query release used. This is a
                # MEASUREMENT-BUG FIX: r12 per-query numbers for persist-style
                # queries are expected to read HIGHER than r11's warm numbers
                # at identical code (movement quantified in
                # OPTIMIZATION_r12.md; r11 logs retained).
                # SPARK_GRAFT_BENCH_WARM=1 restores the r1-r11 per-query
                # release for producing a cross-round-comparable number in
                # the round log ONLY — never the default.
                if not os.environ.get("SPARK_GRAFT_BENCH_WARM"):
                    spark.catalog.clearCache()
                    _ckpt.release_checkpoints()
                    _cache.release_caches()
                # Record the protocol timing the moment the first 3 runs are
                # in: a transient failure on (non-protocol) run 4 or 5 must
                # not erase a protocol-valid min-of-3 measurement and silently
                # shrink the cross-round-comparable stable30 denominator.
                if len(runs) == 3:
                    timings[name] = round(min(runs), 3)
            if n_runs > 3:
                timings_min5[name] = round(min(runs), 3)
        except Exception as exc:  # noqa: BLE001 - isolate per query
            if name not in timings:
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            else:
                # Runs 4-5 only (non-protocol): the protocol timing stands
                # and the round stays comparable; log the flake separately so
                # it never inflates n_errors / total_incomparable.
                extra_run_errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            # safety net for the exception path: the per-run release above
            # already ran after every completed run, but a failed run leaves
            # its persists/checkpoints registered — without this, ~50 pinned
            # RDDs accumulate over the run and GC/eviction pressure inflates
            # later queries 2-5x. (localCheckpoint blocks are a SEPARATE
            # resource clearCache() cannot touch — DataFrame.unpersist() is
            # a no-op for them.) Double release is harmless: the registries
            # clear their handles.
            spark.catalog.clearCache()
            _ckpt.release_checkpoints()
            _cache.release_caches()  # drop the (now-unpersisted) handles

    total = round(sum(timings.values()), 3)
    # The r1-r3 30-query headline set: the ONLY total that is comparable
    # across every round (the full catalog grew 30 -> 184, so the full total's
    # denominator moves round-to-round).
    stable30 = STABLE30_SET & set(timings)
    stable30_total = round(sum(timings[n] for n in stable30), 3)
    # the noise-robust companion number (NOT protocol-comparable to r1-r9)
    stable30_total_min5 = round(sum(timings_min5.get(n, timings[n])
                                    for n in stable30), 3)

    # DRIFT-ADJUSTED stable30 (r11): normalize the official total by the
    # multithreaded calibration probe so thread-scaling box drift is divided
    # out.  Rule:  stable30_drift_adj = stable30_total * MT_ANCHOR / probe_mt.
    # MT_ANCHOR derivation (the only committed simultaneous pairing, from
    # ROUND10.md): on the r10 builder box the MT probe read 0.578 s while
    # stable30 read 33.4 s = 2.134x the r1 anchor (15.655 s); if stable30
    # wall scales with the MT probe (both are 32-thread shuffle-bound work),
    # an r1-speed box would probe at 0.578 / 2.134 = 0.271 s.  MT_ANCHOR is
    # therefore pinned at 0.271 and MUST NOT be retuned round-to-round —
    # retuning would let the normalization absorb real regressions.  The
    # official stable30_total stays the gating number; drift_adj is the
    # companion that separates plan regressions (both numbers move) from box
    # drift (official moves, drift_adj stays).
    MT_ANCHOR = 0.271
    stable30_drift_adj = round(stable30_total * MT_ANCHOR / probe_mt_best, 3)

    # Per-query detail goes to a sidecar file + separate stdout lines; the
    # FINAL stdout line must stay tiny (<1KB) — round 4's single ~6KB JSON
    # line overflowed the driver's tail capture and the bench gate was
    # unevaluable (BENCH_r04.json parsed=null).
    details = {
        "queries": timings,          # min over first 3 runs (r1-r9 protocol)
        "queries_min5": timings_min5,  # stable30 rows only: min over all 5
        "errors": errors,
        "extra_run_errors": extra_run_errors,  # non-protocol run 4-5 flakes
        "runs_per_query": 3,           # the protocol runs behind `queries`
        "runs_stable30": 5,            # total runs taken on stable30 rows
        "calibration_probe_sec": round(probe_best, 3),
        "calibration_probe_mt_sec": round(probe_mt_best, 3),
        "stable30_drift_adj": stable30_drift_adj,
        "mt_anchor": MT_ANCHOR,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    details_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BENCH_DETAILS.json")
    with open(details_path, "w") as fh:
        json.dump(details, fh, indent=1, sort_keys=True)
    for name in HEADLINE:  # per-query lines BEFORE the summary line
        if name in timings:
            print(f"QUERY {name} {timings[name]}")
        elif name in errors:
            print(f"ERROR {name} {errors[name]}")

    out = {
        "metric": "headline_query_wall_total",
        "value": total,
        "unit": "sec",
        "runs_per_query": 3,
        "runs_stable30": 5,
        "calibration_probe_sec": round(probe_best, 3),
        "calibration_probe_mt_sec": round(probe_mt_best, 3),
        "stable30_total_min5": stable30_total_min5,
        "stable30_drift_adj": stable30_drift_adj,
        "mt_anchor": MT_ANCHOR,
        # a total over FEWER queries is not comparable across rounds; these
        # make a shrunken denominator impossible to miss
        "n_queries_timed": len(timings),
        "n_queries_expected": len(HEADLINE),
        # cross-round comparable subset (the original 30 headline queries)
        "stable30_total": stable30_total,
        "stable30_n": len(stable30),
        "n_errors": len(errors),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "details_file": "BENCH_DETAILS.json",
    }
    if errors:
        out["total_incomparable"] = True
    # Driver per-query ingest (r12, VERDICT r11 item 8): the driver contract's
    # one-line JSON carries {"queries": {name: sec}} — PERF_r10/r11 had
    # per_query empty because this line never carried the key. But the
    # driver's tail capture is 2000 chars and it parses the line FROM THE
    # TAIL (BENCH_r04: a ~6KB line with all queries inlined was
    # head-truncated and the whole bench gate became unevaluable,
    # parsed=null). So: include as many per-query entries as fit a
    # 1880-byte line — stable30 first (the cross-round-comparable set),
    # then the most expensive rows, i.e. exactly the queries a per-query
    # regression comparison cares about. The FULL per-query map stays in
    # BENCH_DETAILS.json; `queries_elided` makes the truncation explicit.
    prio = sorted(timings, key=lambda n: (n not in STABLE30_SET, -timings[n]))
    included: dict[str, float] = {}
    for n in prio:
        included[n] = timings[n]
        if len(json.dumps({**out, "queries": included,
                           "queries_elided": len(timings)})) > 1880:
            del included[n]
            break
    out["queries"] = included
    out["queries_elided"] = len(timings) - len(included)
    line = json.dumps(out)
    assert len(line) < 1900, \
        f"final bench line must fit the 2000-char tail, got {len(line)}"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
