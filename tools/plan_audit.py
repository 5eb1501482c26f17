"""Print the formatted physical plans of the audited queries (sf0.001),
each with the scale invariant its plan is expected to (and does) exhibit.

    python tools/plan_audit.py > /tmp/PLANS.md

The output is generated, not committed. The machine-checked version of
these invariants is tests/test_plan_audit.py; this tool exists so a
reader can see the plans without the Spark UI.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# query -> the scale property worth reading the plan for
NOTES = {
    "enrich_flagship": (
        "Both classifiers run as ONE optimizer-fenced (asNondeterministic) "
        "ArrowEvalPython node, exactly once per row, after the round-robin "
        "spread when there is one (the Python-boundary bytes floor skips it "
        "at sf0.001); the kernel gates topics itself and the F5 gate Filter sits "
        "directly above the node (reference short-circuit ordering). The "
        "output structs are built in the JVM. Base-column text filter "
        "still reaches the scan; the aggregate is partial+final."
    ),
    "agg_pricing_summary": (
        "Partial HashAggregate before the exchange, final after — map-side "
        "combine bounds the shuffle by group cardinality, not row count. "
        "The gated spread() exchange below the partial agg parallelizes "
        "the decimal arithmetic on the single-row-group test files; at "
        "scale the gate removes it."
    ),
    "join_revenue_by_region": (
        "region/nation/customer dimensions ride BroadcastHashJoin; the "
        "lineitem fact table is never shuffled for them."
    ),
    "scan_filter_pushdown": (
        "PushedFilters reach the parquet reader; ReadSchema carries only "
        "referenced columns (no l_comment) — scan-level pruning."
    ),
    "sort_global_topk_orders": (
        "TakeOrderedAndProject: per-partition top-k heaps merged on the "
        "driver; the full sort never materializes."
    ),
    "window_topk_orders_per_segment": (
        "Single hash exchange on the window partition key; rank filter "
        "applied before any further projection."
    ),
    "dedup_minhash_lsh": (
        "Candidate generation is an equi-join on (band, bucket) after one "
        "shuffle of exploded band rows; the Jaccard verify joins only the "
        "candidate ids back to cached shingle sets. No O(n^2) operator."
    ),
    "sim_cosine_topk": (
        "Brute-force baseline: query side broadcast, corpus scanned once, "
        "per-query top-k via window over the scored pairs."
    ),
    "sim_ann_ivf": (
        "Centroids broadcast; corpus shuffles once on assigned list id; "
        "probes touch nprobe/nlist of the data — the IVF-Flat layout."
    ),
    "sim_ann_lsh": (
        "The exploded multi-table signature relation is pinned "
        "(InMemoryRelation) and feeds BOTH sides of the (table, bucket) "
        "equi-join, so the L x P hyperplane folds run once over the "
        "corpus; candidates rerank with exact cosine only."
    ),
    "text_vocab_topk": (
        "Wordcount with map-side partial aggregation on the token key; "
        "the top-K is TakeOrderedAndProject (per-partition K-row heaps), "
        "never a global sort or unpartitioned window over the full "
        "vocabulary — the vocabulary grows with the corpus."
    ),
    "text_unigram_lm_score": (
        "The corpus LM is a token-keyed aggregate; the grand total is a "
        "1-row broadcast; scoring joins exploded tokens to the LM on the "
        "token key (AQE splits the stopword head) and reduces three "
        "numbers per doc. The model never leaves the cluster."
    ),
    "sim_ann_range_search": (
        "Same pinned multi-table LSH candidate join as sim_ann_lsh, but "
        "the rerank is a plain cosine filter — result size is "
        "data-driven (radius semantics), no window, no K."
    ),
    "tokenizer_bpe_top_merges": (
        "Per-word fan-out bounded by word length; pair key gets map-side "
        "partial counting before one exchange; head selection is "
        "TakeOrderedAndProject like the vocab census."
    ),
    "curation_quality_by_cluster": (
        "Assignment is a broadcast crossJoin against K literal trained "
        "centroids; the modality join ships only (id, cluster) x (id, "
        "score) — neither text nor vectors cross the shuffle; final "
        "groupBy reduces K rows with the decimal-mean discipline."
    ),
    "dedup_components": (
        "Iterative min-label propagation: per round one shuffle on the "
        "neighbor join key, lineage truncated by eager localCheckpoint "
        "(plan shows the post-fixpoint join of stable label tables)."
    ),
    "quality_filter_pipeline": (
        "Single scan, one whole-stage-codegen span of pure expressions; "
        "no shuffle until the final presentation sort."
    ),
    "decontaminate_ngram_overlap": (
        "Eval-set grams collapse to ONE collect_set row that broadcasts "
        "(BroadcastNestedLoopJoin over a single row is the degenerate — "
        "and correct — cross join); the corpus side is one scan with the "
        "doc_id bound pushed to parquet and membership tested per-row via "
        "array_intersect. Zero shuffles of corpus grams."
    ),
    "pack_sequences": (
        "Cumulative token sums run inside a window PARTITIONED by shard "
        "(never a global, single-partition window); the following "
        "groupBy(shard, seq) reuses the shard hash partitioning, so AQE "
        "plans partial+final aggregation without a second exchange."
    ),
    "sim_ann_ivf_pq": (
        "The composed billion-vector layout: probe selection and ADC "
        "scoring join on (cent_id) with the probe side broadcast; the "
        "corpus contributes only its 4-bit code arrays — the float "
        "embeddings never reach the scoring join."
    ),
    "dedup_substring_spans": (
        "Span ids are whole-stage-codegen JVM expressions (rolling "
        "polynomial hash over per-token hashes); one shuffle of "
        "(span_id, doc_id) with partial_count map-side — the document "
        "text never leaves the scan stage."
    ),
    "dedup_semantic_clusters": (
        "SemDeDup layout: K trained centroids broadcast for assignment "
        "(BroadcastNestedLoopJoin over a 16-row build side), then the "
        "pairwise stage is an equi-join on cluster id — the cluster is "
        "the blocking key, so the quadratic term is bounded by cluster "
        "size and no all-pairs join exists anywhere in the plan."
    ),
    "embed_random_projection": (
        "Map-only: the 16x64 Rademacher matrix is plan literals, the "
        "projection is one WholeStageCodegen project over the scan — "
        "no shuffle, no broadcast, no Python. The shape a 100 TB "
        "pre-ANN reduction pass must have."
    ),
    "corpus_source_similarity": (
        "Sketch merge: per-doc K=32 signatures reduce by component-wise "
        "min in a partial+final aggregate (shuffle carries 32 longs per "
        "source), then the pairwise stage joins S sketch rows, not "
        "documents. The exact-Jaccard twin (unnest + equi-join on "
        "shingle id) is the verification path and the only part that "
        "shuffles per-shingle rows."
    ),
    "curation_quality_quartiles": (
        "Quartile boundaries are a 1-row aggregate broadcast back over "
        "the scored scan (BroadcastNestedLoopJoin with a single-row "
        "build side), then one partial+final group-by on the 4-value "
        "bin key. Exact percentile here; percentile_approx swaps in at "
        "scale with an identical plan shape."
    ),
    "events_outliers_mad": (
        "Two grouped percentile passes (median, MAD) with the tiny "
        "per-type results broadcast back between them — the fact table "
        "shuffles on event_type only and is never self-joined."
    ),
    "dedup_normalized_exact": (
        "Both the group key and the variant count are md5 digests "
        "computed BEFORE the exchange: the shuffle carries 32-byte "
        "hashes, never document text; countDistinct is the standard "
        "two-phase partial distinct."
    ),
    "embed_gram_matrix": (
        "Distributed PCA prep: each partition computes its local E^T E "
        "in vectorized NumPy (one ArrowEvalPython/mapInPandas stage), "
        "the exchange carries d^2 = 4096 int64 partials per partition "
        "— never a vector. Quantized int64 accumulation makes the "
        "result partitioning-independent, hence oracle-checkable."
    ),
    "join_shipping_priority": (
        "TPC-H Q3: all three filters reach the scans (PushedFilters), "
        "the filtered BUILDING customers broadcast, lineitem x orders "
        "is the single real shuffle, and the top-10 is "
        "TakeOrderedAndProject — no global sort."
    ),
    "sample_temperature_by_source": (
        "One exact int token-count aggregate over the corpus; all "
        "weight math (sqrt temperature, ordered-fold normalizer) runs "
        "on the |sources|-row intermediate with the 1-row denominator "
        "broadcast back. The scan is the only full-corpus cost."
    ),
    "events_rate_ewma": (
        "Streaming-style recurrence in batch: partial+final count on "
        "(type, hour), then a per-type ordered fold over the hour-"
        "sorted array — no UDF, no global sort; the fold input is the "
        "tiny hourly grid, bounded per key."
    ),
    "dedup_incremental_batch": (
        "Anti-join of the batch's digests against the store's digest "
        "set, then a per-digest keep-first window — both shuffles carry "
        "32-byte md5 keys, never text; the historical corpus contributes "
        "only its digest column."
    ),
    "curation_dsir_weights": (
        "Hashed-bigram explode, ONE B=1024-row distribution aggregate "
        "broadcast back over the pinned bigram table, then a per-doc "
        "sum of quantized-int log-ratio terms. The corpus scans once; "
        "both distributions stay broadcast-sized at any corpus."
    ),
    "tokenizer_bpe_train": (
        "BPE rounds run on the word-frequency table, not the corpus: "
        "after the one corpus-wide vocab count, each round is a "
        "vocab-sized pair explode + partial-agg + TakeOrdered(1); the "
        "driver collects a single winning pair per round and the merge "
        "applies executor-side as an array fold. Integer-only — exact "
        "by construction."
    ),
    "train_quality_logreg": (
        "Distributed full-batch GD: per round, one pass over the cached "
        "feature projection with map-side partial aggregation of 4 "
        "quantized-int gradient sums; only the gradient vector reaches "
        "the driver. The final plan is the weight literals joined to a "
        "1-row accuracy aggregate."
    ),
    "sim_ann_ivf_pq_refine": (
        "Refine stage: WindowGroupLimit keeps ADC top-C per query, then "
        "the exact-cosine re-rank joins raw vectors by id for the C "
        "survivors only — float reads drop from |probed lists| to C per "
        "query. Training memoized; probes broadcast."
    ),
    "text_js_divergence_by_source": (
        "One corpus scan -> (source, token) partial counts; the "
        "missing-token tail is folded in analytically via corpus-mass "
        "coverage, so no |sources| x |vocab| cross product exists. "
        "ln() terms quantize to int64 before the exchange — the "
        "per-source sum is exact and partitioning-independent."
    ),
    "pack_sequences_first_fit": (
        "The custom-operator escape hatch done right: ONE hash exchange "
        "on the shard key (carrying shard/doc_id/tok, never text) feeds "
        "FlatMapGroupsInPandas — each shard's inherently-sequential FFD "
        "loop runs in a single Arrow batch; shards pack independently, "
        "so parallelism = #shards (~100k at 100 TB)."
    ),
    "sim_ann_nprobe_sweep": (
        "One index build serves four sweep points: candidates carry "
        "their probe rank, so nprobe=p is a filter over the pinned "
        "candidate table. Both corpus-touching joins broadcast the "
        "10-query panel (BroadcastHashJoin); the bookkeeping joins "
        "after candidate generation touch only bounded pair tables."
    ),
    "events_session_paths": (
        "Sessionize windows (user_id) and the per-session ordered "
        "collect (user_id, session_id) share ONE exchange — "
        "hash(user_id) satisfies the grouped distribution. The path "
        "head is TakeOrderedAndProject, never a global sort."
    ),
    "events_heavy_hitters": (
        "Count aggregation is the only real shuffle; the per-shard "
        "row_number window bounds the final gather to shards x 10 "
        "candidates and the head is TakeOrderedAndProject — the full "
        "ranked sort of 1e10 keys never happens."
    ),
    "dedup_minhash_threshold_sweep": (
        "The 7-threshold fan-out explodes over the PINNED candidate "
        "pair table (InMemoryTableScan) — the MinHash pipeline and the "
        "corpus scan run once regardless of sweep width."
    ),
    "embed_pca_power_iteration": (
        "Gram-free power iteration: each round is one scan of the "
        "cached centered corpus into a 64-column quantized-int64 "
        "aggregate (partial map-side combine), so the driver carries 64 "
        "ints per round. The returned plan is map-only scoring against "
        "64 broadcast literals."
    ),
    "sample_coreset_kcenter": (
        "K passes, each a map-only distance update against ONE new "
        "broadcast center plus a 1-row TakeOrdered argmax; the running "
        "min folds incrementally so round r adds one dot product per "
        "row, not r."
    ),
    "dedup_span_removal_plan": (
        "Span ids are computed beside the text and only (gram, doc_id) "
        "then (doc_id, pos) ever shuffle; the interval union is one "
        "lag() window per doc (equal-length spans only overlap their "
        "predecessor)."
    ),
    "curation_mixture_waterfill": (
        "One corpus scan to the per-source token table; every window in "
        "the closed-form waterline computation runs over that bounded "
        "table, and the two boundary aggregates broadcast back as "
        "1-row nested-loop joins."
    ),
    "dedup_cascade_report": (
        "Stages 1-2 are digest-only groupBys; stage 3 reuses the banded "
        "MinHash pair join with survivors filtered via semi-joins on "
        "ids. The report itself is three 1-row aggregates cross-joined "
        "— constant data regardless of corpus size."
    ),
    "text_bm25_topk": (
        "Query-term filter prunes the exploded postings BEFORE the "
        "(doc, term) shuffle; document frequencies and the corpus "
        "length stats are broadcast (BHJ + 1-row BNLJ); the head is "
        "TakeOrderedAndProject, never a global sort."
    ),
    "decontaminate_bloom_filter": (
        "The Bloom bit-set and the exact eval-gram set are broadcast "
        "build sides (at deploy scale the bit-set is literally M bits); "
        "corpus grams flow map-side into one per-doc aggregation — no "
        "corpus-side shuffle before the count."
    ),
    "sketch_cms_heavy_hitters": (
        "The D x W counter table is a constant-size aggregate broadcast "
        "into the estimate join; the keyed count is partial+final; the "
        "exact top-10 is a bounded window over the per-key aggregate."
    ),
    "join_market_share": (
        "nation/region/supplier broadcast; the two legitimate big-big "
        "SortMergeJoins are lineitem-orders and orders-customer "
        "(customer scales WITH the fact — broadcasting it would be the "
        "100 TB mistake). Revenue is int64-quantized before the "
        "partial aggregation."
    ),
    "compact_latest_per_key": (
        "row_number and the per-key version count share ONE hash "
        "exchange on the key — the single-shuffle CDC/upsert "
        "compaction plan (no join back to a max-ts subquery)."
    ),
    "embed_centroid_drift": (
        "64 quantized component sums grouped by label — map-side "
        "partials, no Generate/explode row blowup; the global centroid "
        "is a window over the |labels| result rows."
    ),
    "media_phash_near_dup": (
        "Signatures extracted map-side via mapInPandas (payloads never "
        "shuffle); the 15-bit chunk equi-join is the banding that keeps "
        "candidates linear; verification is XOR popcount on int64s. The "
        "planted-twin union (r7) is a map-side UNION before extraction — "
        "no extra shuffle."
    ),
    "dedup_edit_distance_verify": (
        "Candidates come from the banded MinHash join (never all-pairs); "
        "256-char text prefixes join the candidate list BY DOC ID, so "
        "document text flows only for actual candidates; the Levenshtein "
        "DP is bounded by the prefix cap."
    ),
    "graph_knn_bfs_recursive": (
        "Spark 4 recursive CTE: UnionLoop with the depth literal bounding "
        "iterations; each frontier expansion is an equi-join on the edge "
        "key, partial-aggregated per level — no unbounded driver loop."
    ),
    "sim_matryoshka_recall": (
        "One corpus scan feeds every prefix width; the base top-k is a "
        "bounded broadcast to the prefix passes (single pair pass, fixed "
        "after the r6 join-key repair)."
    ),
    "curation_annealing_mixture": (
        "One groupBy(source) with map-side partials; corpus totals are a "
        "window over the ~|sources|-row aggregate; allocations are "
        "DECIMAL(38,0) integer div — exact at any corpus size."
    ),
    "curation_epoch_decay_schedule": (
        "Same shape as the annealing mixture: per-source aggregate, "
        "window totals, DECIMAL(38,0) budget products, plus a pinned "
        "decay-power literal table evaluated per aggregate row."
    ),
    "events_longest_streak": (
        "Gaps-and-islands on ONE user-partitioned window ordering (lag + "
        "running island id share the sort); the global answer is a "
        "bounded aggregate over per-user maxima."
    ),
    "events_cohort_ltv": (
        "Cohort week from a per-user min-ts aggregate joined back on "
        "user_id; the LTV matrix is one groupBy(cohort, week_offset) with "
        "map-side partials and a cumulative window per cohort row."
    ),
    "join_disjunctive_brackets": (
        "TPC-H Q19: the OR-of-ANDs predicate stays a single equi-join on "
        "p_partkey with the disjunction as join residual — one shuffle, "
        "no union-of-three-joins blowup, part side broadcast."
    ),
    "curation_contamination_by_benchmark": (
        "Eval n-grams broadcast to the corpus gram stream (corpus side "
        "never shuffles for the probe); per-benchmark rates are bounded "
        "aggregates."
    ),
    "text_keyphrases_rake": (
        "Phrase extraction is map-side (split on stopwords at the row); "
        "word scores are one vocabulary-keyed aggregate joined back to "
        "the phrase stream on its natural key; head is TakeOrdered."
    ),
    "media_audio_windows": (
        "1-to-N window fan-out inside mapInPandas — payload bytes stay in "
        "the Python worker; only (id, int) window rows shuffle."
    ),
    "media_resize_thumbnail": (
        "Pure map-only plan (mapInPandas); no exchange anywhere — the "
        "resample is embarrassingly parallel at any scale."
    ),
    "events_bot_regularity_flags": (
        "One lag window and one aggregate sharing the user partitioning; "
        "the cv-squared product is integer arithmetic widened before "
        "multiplication (r6 overflow fix visible as casts in the plan)."
    ),
    "corpus_novelty_decay": (
        "First-occurrence via min-per-token aggregate (map-side partials "
        "over the token stream), decile bucketing by integer div — no "
        "global sort; per-decile rates are bounded aggregates."
    ),
    "dedup_winnowing_overlap": (
        "Winnowing shrinks the shingle stream ~2/(W+1) map-side (one "
        "doc-partitioned window); the pair join runs on fingerprint "
        "hashes only, doc-frequency-capped (<= WIN_HH_DOCS) before the "
        "self-join — candidate generation stays linear under boilerplate."
    ),
    "dedup_sorted_neighborhood": (
        "Blocked SNM: one shuffle on the 2-char block key, a PARALLEL "
        "per-block rank window (never a global single-partition sort), "
        "rank-distance self-join emitting <= W-1 pairs per row, and a "
        "per-pair array_intersect verify (no token-frequency blowup)."
    ),
    "text_kneser_ney_bigram": (
        "Three vocabulary-keyed aggregates with map-side partials; the "
        "doc bigram stream joins them on natural keys (AQE handles "
        "stopword-head skew); the single-row type count is an explicit "
        "broadcast; per-doc reduce carries one exact int64."
    ),
    "sim_mmr_diverse_topk": (
        "Stage 1 broadcasts one literal query vector and never shuffles "
        "the corpus; the prune is TakeOrdered(24); pairwise sims exist "
        "only among the 24 survivors (a broadcast nested-loop over the "
        "bounded pool — Catalyst folds the constant join key); the "
        "greedy is one cogrouped applyInPandas over O(CAND^2) integers "
        "— driver-free."
    ),
    "sample_neyman_allocation": (
        "One groupBy(source) with map-side partials; variance numerators "
        "are DECIMAL(38,0) exact; totals are a window over the "
        "~|sources|-row aggregate; the realized draw is one per-source "
        "rank window — no global ordering anywhere."
    ),
    "media_aspect_bucket_batches": (
        "Metadata via mapInPandas (payloads never shuffle); bucket snap "
        "is a 5-way literal explode + per-doc min window; batch ids from "
        "one bucket-partitioned rank window; the report is a bounded "
        "per-bucket aggregate."
    ),
    "events_cusum_drift": (
        "The sequential CUSUM recurrence via its exact closed form "
        "(prefix minus running min) — two stacked ordered windows plus "
        "unbounded totals, ALL on one (event_type) partitioning after a "
        "map-side-partial daily pre-aggregate; no join, no driver loop."
    ),
    "text_mtld_diversity": (
        "Pure map-only plan: one MapInPandas over (doc_id, text) Arrow "
        "batches — the per-doc sequential automaton never crosses a "
        "shuffle; the only exchange is the final presentation sort."
    ),
    "dedup_idf_weighted_jaccard": (
        "Banded MinHash candidates (bounded) joined to (token, int64 "
        "idf) streams BY DOC ID; df is one vocabulary-keyed aggregate "
        "with map-side partials; the single-row doc count broadcasts; "
        "text never crosses a hash exchange."
    ),
    "events_kleinberg_burst": (
        "One hash shuffle on user_id into applyInPandas decode groups — "
        "thousands of users decode in parallel, each Viterbi bounded by "
        "its own event count; no join, no iterative construct in the "
        "plan; costs are int64-quantized so the decoded path is "
        "engine-exact."
    ),
    "sim_rrf_fusion": (
        "Each ranker keeps its audited shape (term-pruned BM25 postings "
        "+ TakeOrdered; broadcast query vector + TakeOrdered); the RRF "
        "combiner is a full outer join of two 20-row pools — zero "
        "corpus-scale work added by fusion."
    ),
    "tokenizer_unigram_viterbi": (
        "Vocabulary training = two vocabulary-keyed aggregates with "
        "map-side partials (word counts, then bounded 4xL substring "
        "counts); piece total broadcasts as one row; both top-K prunes "
        "are TakeOrdered; the Viterbi decode runs on the bounded word "
        "panel in ONE cogrouped applyInPandas against the broadcast "
        "vocabulary — counting distributed, decoding local, the "
        "tokenizer-trainer shape."
    ),
    "text_flesch_readability": (
        "Map-only: tokenize, two regexp extractions, one in-array fold, "
        "all int64 — NO hash exchange anywhere in the plan (asserted); "
        "the only exchanges are the gated spread and the presentation "
        "sort. Per-doc arithmetic never co-locates anything."
    ),
    "dedup_substring_apply": (
        "Gram/dup candidate generation shuffles (gram, doc_id) and "
        "(doc_id, pos) ints; token STRINGS cross exactly one hash "
        "exchange — the per-doc reassembly groupBy, the same volume as "
        "the documents themselves and inherent to materializing cleaned "
        "text; raw document text never enters any hash exchange "
        "(asserted). Ordered rebuild is array_sort over (pos, tok) "
        "structs inside the aggregate, never a window over text."
    ),
    "sim_crossmodal_recall": (
        "Corpus scans once (buckets + norm per row), the bounded "
        "6-query panel explodes against it, and ranking is the "
        "two-phase top-K: per-(query_id, input-partition) rank over "
        "Q x P parallel keys, then a global rank over the surviving "
        "Q x P x K rows — ranking never collapses to |Q| partitions. "
        "Hash exchanges carry (int, int) score rows only; the widened "
        "embedding vectors are shed before any shuffle (asserted)."
    ),
    "media_scene_cuts": (
        "Binary payloads die inside the mapInPandas frame sampler "
        "(asserted: no hash exchange carries payload bytes); the lag "
        "window, cut sessionization, and both shot aggregates all ride "
        "ONE hash(doc_id) partitioning. Frame count is a constant, so "
        "per-doc state is bounded at any corpus size."
    ),
    "tokenizer_wordpiece_apply": (
        "Vocabulary training = two corpus-wide aggregates with map-side "
        "partials; per-class top-K is a rank window over the bounded "
        "(piece, class) table, never a corpus sort; word panel is "
        "TakeOrdered; the greedy longest-match decode is ONE cogrouped "
        "applyInPandas against the broadcast vocabulary — counting "
        "distributed, decoding local, same trainer shape as the unigram "
        "tokenizer but with the split initial/continuation vocabulary."
    ),
    "graph_nn_descent": (
        "Iterative-lineage discipline made visible: every NN-Descent "
        "round ends in an eager localCheckpoint, so the final plan is "
        "per-round aggregates over checkpointed RDDs unioned together — "
        "no join/window lineage accumulates across rounds and the "
        "driver holds only the loop index. Inside each round: one "
        "equi-self-join on edge ids (corpus x K rows, never corpus x "
        "corpus), two id-keyed scoring joins, one per-node rank window."
    ),
    "graph_greedy_search": (
        "The ANN query half over the NN-Descent graph: per-hop "
        "visited/frontier state is checkpoint-truncated (Scan "
        "ExistingRDD — no hop lineage in the final plan), the Q-row "
        "query panel attaches via broadcast, vectors ride only the "
        "id-keyed scoring join, and the exact baseline scans the "
        "corpus once with the two-phase ((query_id, pid) then global) "
        "top-K rank. Hash exchanges carry id/int rows only (asserted)."
    ),
    "graph_beam_sweep": (
        "One graph build, one entry scoring, and ONE exact brute-force "
        "reference (all checkpointed, reused as ExistingRDDs) serve "
        "every sweep point; only the query-panel-bounded hop loops "
        "re-run per beam width. Same vector-shedding contract as "
        "graph_greedy_search (asserted)."
    ),
    "graph_knn_insert": (
        "HNSW-style insertion: the base graph builds once on the base "
        "slice (checkpointed rounds), the held-out insert batch is the "
        "broadcast query panel, per-hop state is checkpoint-truncated, "
        "and the exact reference scans the base once with two-phase "
        "ranking — at real scale the insert batch shards into panels "
        "and the eval-only exact reference is skipped."
    ),
    "media_shot_curation": (
        "ONE documents scan: the text-quality token count is computed "
        "in the same projection that derives the payload and rides the "
        "frame sampler as an int64 (no join back to text — asserted "
        "single FileScan, no Join in the plan); payloads die inside "
        "the mapInPandas sampler; one hash(doc_id) exchange serves the "
        "lag window, shot sessionization, and the per-shot aggregate."
    ),
}


def main() -> int:
    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plans of the headline queries (sf0.001)\n",
        "Printed by `python tools/plan_audit.py`; invariants are asserted",
        "in `tests/test_plan_audit.py`. Plans shown pre-execution with AQE",
        "enabled (AdaptiveSparkPlan re-optimizes per stage at runtime —",
        "coalescing shuffle partitions and splitting skewed ones).\n",
    ]
    for name, note in NOTES.items():
        df = registry.REGISTRY[name].fn(spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n{note}\n\n```\n{buf.getvalue().strip()}\n```\n")

    print("\n".join(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
