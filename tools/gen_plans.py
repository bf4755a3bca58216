"""Generate PLANS.md: annotated physical-plan audits of the headline queries.

For each audited query: counts of shuffles / broadcasts / join strategies
pulled from ``explain("formatted")`` at sf0.1, plus the
hand-written scale rationale from ANNOTATIONS. Run after changing any
headline query's plan shape:

    python tools/gen_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark import (  # noqa: E402
    get_spark,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (  # noqa: E402
    SPARK_QUERIES,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# query -> why this plan is the one you'd want at 100 TB
# Queries whose per-round work runs EAGERLY at plan-build time (driver
# loops of collect/localCheckpoint); their PLANS.md stats describe only the
# final returned frame, so a "shuffles: 0" must not be read as the query's
# scale shape — the emit loop appends an explicit caveat for these.
DRIVER_LOOP = {
    "bpe_merges", "bpe_encode", "pq_topk", "pq_topk_trained",
    "embedding_pca_power", "kcore_decompose",
}

ANNOTATIONS = {
    "gold_fact_lineitem": (
        "Star fact build, join order chosen so each of the fact's two hash "
        "partitionings is paid once and reused: the orderkey chain "
        "(orders, per-order aggregate CTE, dim_orders) then the custkey "
        "chain (customer, dim_customers). Small dims ship as "
        "BroadcastExchange by explicit hint (stats mispriced the ~1k-row "
        "supplier dim into a full-fact SMJ exchange); order-cardinality "
        "dim_orders/dim_customers are hinted SHUFFLE_HASH (round-10: same "
        "exchanges as the old MERGE hint, no sorts; one row per join key "
        "on the build side, so per-partition builds stay bounded) — "
        "broadcasting them is unbounded at "
        "100 TB. COUNT(DISTINCT) derives from size(collect_set) in the "
        "same pass, avoiding the Expand rewrite's second aggregation."
    ),
    "dedup_minhash_lsh": (
        "Banded LSH near-dup. Exactly-once band emission keys the shuffle "
        "on (band, bucket) with narrow (id_a, id_b) candidate rows — token "
        "arrays never cross the wire; the verify join is broadcast-hinted "
        "on the deduped candidate side."
    ),
    "dedup_components": (
        "Large-star/small-star connected components: O(log^2 n) rounds, "
        "each one hash shuffle on the edge key; localCheckpoint truncates "
        "lineage so round k does not replay rounds 1..k-1. Diameter-"
        "independent — the property that matters for web-scale dup graphs."
    ),
    "decontaminate": (
        "Benchmark n-gram probe. Grams dedupe per-doc map-side before the "
        "explode; the benchmark gram set is globally distinct and broadcast "
        "(BroadcastHashJoin), so the only full shuffle is the per-doc "
        "overlap count."
    ),
    "source_rebalance": (
        "Per-source cap via rank<=k: WindowGroupLimit runs partial top-k "
        "inside each input partition BEFORE the exchange, so the shuffle "
        "carries O(k x sources x partitions) rows regardless of corpus size."
    ),
    "repetition_quality": (
        "Zero-shuffle quality pass: staged projections build the split and "
        "bigram arrays once each (higher-order lambdas sit outside codegen "
        "CSE, so expression reuse matters); the only exchange is the "
        "single-file input spread."
    ),
    "ann_topk_np": (
        "Arrow-vectorized brute-force cosine: the fold-exact mapInPandas "
        "kernel scores each corpus batch against the query batch in its "
        "closure and keeps ~k candidates per query per batch, O(k x queries "
        "x batches) merge — the partial-topk-then-merge shape that scales "
        "linearly with corpus partitions."
    ),
    "streaming_window_agg": (
        "Watermarked tumbling windows on an availableNow stream: state "
        "bounded by the watermark, partial aggregation before the state "
        "store shuffle."
    ),
    "pack_shards": (
        "Two-phase distributed prefix scan: one range shuffle, per-partition "
        "partials collected as O(partitions) rows, broadcast offsets added "
        "in an Arrow mapInPandas pass — a SQL running window here would "
        "funnel the corpus through one task."
    ),
    "asof_join": (
        "Union + last_value window as-of join: one shuffle on the join key "
        "serves both the interleave and the window — no range explosion, "
        "no per-row probe."
    ),
    "range_join": (
        "Interval join via bucket decomposition: intervals replicate to "
        "covered buckets, points hash to one bucket — converts the theta "
        "join into an equi-shuffle with per-bucket verification."
    ),
    "tpch_q1": (
        "Full-fact pricing summary: scan-side date filter pushed to "
        "parquet, map-side partial HashAggregate, one exchange on the "
        "2x2-value group key. Averages derive from the exact decimal sums "
        "already aggregated — no second pass."
    ),
    "tpch_q3": (
        "Shipping-priority top-k: segment-filtered customer side "
        "broadcasts; lineitem-orders shuffles once on the order key, which "
        "is also the group key — one exchange serves join and aggregate; "
        "TakeOrderedAndProject keeps per-partition O(k) state instead of a "
        "global sort."
    ),
    "tpch_q5": (
        "6-table regional volume star: region/nation explicit broadcasts, "
        "filtered supplier/customer sides AQE-broadcast; the only big "
        "shuffle is lineitem-orders. The c_nationkey=s_nationkey residual "
        "rides the supplier hash join."
    ),
    "segment_dedup": (
        "Aligned-segment dedup + rewrite: tokenize/segment via higher-order "
        "functions (zero shuffle), ONE hash shuffle on the segment value "
        "for the canonical rank, one re-aggregation shuffle on doc_id for "
        "the rewrite. Segment groups are tiny at any scale — no skew "
        "beyond stop-phrase segments."
    ),
    "semantic_prune": (
        "SemDeDup: within-cluster cosine pairs (broadcast build side at "
        "bounded cluster count; cluster-key shuffle when k >> cores), "
        "components over dup edges only, size-gated union-find fast path "
        "for driver-bounded edge sets."
    ),
    "mix_temperature": (
        "Temperature resample: one tiny shuffle for per-source counts; the "
        "keep decision is a broadcast join + integer comparison — "
        "division-free, float-free, zero additional exchanges."
    ),
    "cdc_apply": (
        "foreachBatch CDC MERGE: per microbatch one window shuffle keyed by "
        "entity for latest-change-wins, then a keyed MERGE against the "
        "current snapshot — the same execution DLT's apply_changes bottoms "
        "out in, on versioned parquet snapshots."
    ),
    "streaming_incremental_mv": (
        "Enzyme-analog MV fold: per microbatch a partial aggregate over the "
        "batch plus a state merge shuffling O(groups) rows — refresh cost "
        "is O(batch), never O(history)."
    ),
    "fuzzy_join": (
        "Blocked fuzzy match: distinct-value vocabularies joined on the "
        "block key (one narrow shuffle), JVM levenshtein verification per "
        "block — never an all-pairs comparison."
    ),
    "recursive_chain": (
        "Spark 4 recursive CTE with K=8-step edges (path doubling folded "
        "into the edge build: lead(key, 8) rides the same window pass, the "
        "seed covers rn<=8, each position decomposes uniquely as s + m*8). "
        "Edges materialized ONCE (localCheckpoint) before the recursion — "
        "a CTE reference would re-run the window at every round; rounds = "
        "ceil(depth/8) instead of depth, each one frontier-edges hash join."
    ),
    "lateral_topk": (
        "Correlated LATERAL with ORDER BY+LIMIT: Catalyst decorrelates to "
        "a window/rank plan — verified no nested-loop join; per-order "
        "top-1 without a per-row probe."
    ),
    "bpe_pairs": (
        "BPE pair statistics: corpus collapses to the word-frequency "
        "vocabulary in the first shuffle; bigram fan-out runs over "
        "DISTINCT words; final agg is O(alphabet²) keys + TakeOrdered."
    ),
    "variant_extract": (
        "VARIANT path extraction: parse_json once per row, typed "
        "variant_get per path — no repeated JSON re-parsing; grouped agg "
        "on the derived bucket is one exchange."
    ),
    "geo_cell_join": (
        "Spatial proximity join as an equi-shuffle: 1-degree grid cells, "
        "3x3 neighbor replication on the small side, integer "
        "squared-distance verify — candidates bounded by local density, "
        "never all-pairs."
    ),
    "window_dedup_agg": (
        "Skew-safe rank-1 dedup: MIN over an ordering struct is a hash "
        "aggregate with map-side partial combine — a hot key reduces to "
        "one row per input partition before the exchange."
    ),
    "pagerank_trade": (
        "Integer PageRank, 5 power iterations over the MESSAGE vector "
        "(rank is re-derived by expression, so the rank vector never "
        "materializes mid-loop). Checkpoint scans carry no stats, so the "
        "per-round joins carry explicit broadcast hints gated on the "
        "driver-known node count (under 2M nodes: map-only rounds, one "
        "linear query, no per-round job barrier; over: SMJ + per-round "
        "checkpoint — a 100 TB message vector must never broadcast). "
        "Pregel message-combine shape; hub probe: 100x hub in-degree "
        "moves wall-time 6.9s -> 7.5s."
    ),
    "triangle_count": (
        "Degree-oriented triangle counting: two hash joins (wedge build "
        "on the orientation-source vertex, closing-edge probe on the "
        "normalized pair). Degree orientation bounds per-vertex wedge "
        "fanout by O(sqrt m) — the hub probe shows id orientation "
        "crossing 1.6s -> 99s for a 10x hub while this plan stays ~3s "
        "through 100x."
    ),
    "list_ranking": (
        "Wyllie pointer jumping: ceil(log2 depth) rounds, each ONE hash "
        "self-join on the node id over a localCheckpoint-ed frame — round "
        "count independent of chain shape, the degenerate-depth fallback "
        "for the K-step recursive CTE. The jump table broadcasts under "
        "the node-count gate (stats-less checkpoint scans would otherwise "
        "SMJ both sides every round); over the gate the SMJ path stands."
    ),
    "copurchase_lift": (
        "A-priori 2-itemset pass: per-order pair expansion bounded by "
        "basket size, support filter BEFORE the metric joins, 1-row "
        "global order count broadcast; all metrics integer ppm with the "
        "lift numerator floored stepwise to stay in int64 at any scale."
    ),
    "oov_rate": (
        "Corpus pass is one explode + one aggregate; the top-1000 vocab "
        "is TakeOrderedAndProject (bounded k, no global sort) and "
        "broadcasts into the membership probe — plan-guarded in "
        "tests/test_plans.py."
    ),
    "source_overlap": (
        "Source-level Jaccard matrix: distinct (source, token) relation "
        "feeds both the sizes aggregate and a token-keyed self-join whose "
        "output is bounded by S(S-1)/2 pairs per token regardless of "
        "token frequency — set intersection without materializing any "
        "per-source token set."
    ),
    "corpus_gold_survivors": (
        "Corpus-pipeline gold MV (engine-resolved LIVE graph): the silver "
        "text-analysis projection is pure codegen over one corpus scan, "
        "and the survivor dedup is ONE hash exchange on fingerprint shared "
        "by both window functions (best-quality rank + group count) — no "
        "join back to the input, plan-guarded in tests/test_corpus.py."
    ),
    "corpus_gold_mix": (
        "Gold→gold MV: reads the survivors MV through the registry. "
        "Column pruning drops the survivors' COUNT window (only the rank "
        "survives), restoring the WindowGroupLimit top-1 pushdown; the "
        "global token-share window runs over the aggregated "
        "(source × language) cells, never corpus rows."
    ),
    "sessionize_batch_split": (
        "Skew-safe sessionize twin: event volume crosses ONE exchange, "
        "hash(user, 6h-bucket), which spreads a hyperactive key across "
        "time-range tasks; both downstream groupBys run exchange-free on "
        "the superset keys of partitionings Spark already has, and the "
        "boundary stitch windows over SESSION summaries, not events "
        "(0.97x flat on the 50%-hot probe vs the window form's 1.39x)."
    ),
    "bpe_merges": (
        "K-round BPE training: corpus collapses to the distinct-word "
        "vocabulary in one map-side-combined shuffle; every round after "
        "is a vocab-bounded pair aggregate, a ONE-row TakeOrdered to the "
        "driver (the inherently sequential merge choice), and a narrow "
        "literal-replace map, localCheckpointed so round k never replays "
        "rounds 1..k-1."
    ),
    "bpe_encode": (
        "BPE train→encode loop: training is bpe_merges' K vocab-bounded "
        "rounds; the encode pass bakes the learned merge table into ONE "
        "projection of K chained literal replaces over word occurrences "
        "(driver-held literals — nothing joins or broadcasts), then one "
        "map-side-combined groupBy(doc_id). O(corpus) with K linear "
        "string scans per word — the cost a production tokenizer pays."
    ),
    "budget_select": (
        "Token-budget curation: the greedy order's running total is the "
        "two-phase distributed prefix scan (range-partitioned partials, "
        "O(partitions) driver rows, broadcast offsets) — not a one-task "
        "global window; the budget scalar broadcast-cross-joins."
    ),
    "bm25_rank": (
        "Okapi BM25 top-50: ONE corpus tokenization total — the per-doc "
        "(dl, tf-vector) row is localCheckpointed and stats/df/scoring all "
        "derive from it (un-checkpointed, the three branches each re-scan "
        "the corpus); the terms explode carries only (term, tf) structs, "
        "token arrays never duplicate or shuffle; df and N/avgdl "
        "broadcast; final ranking is TakeOrderedAndProject."
    ),
    "pq_topk": (
        "Product-quantization ADC top-k: corpus encode is a zero-shuffle "
        "projection against a constant-folded literal codebook (8 one-byte "
        "codes replace 256 bytes of floats — the memory-bounded index "
        "tier); per-query LUTs are built once on the broadcast side and a "
        "pair costs 8 array lookups; per-subspace terms floor to micro "
        "ints before the order-independent BIGINT sum; top-k is a "
        "WindowGroupLimit rank."
    ),
    "pq_topk_trained": (
        "Lloyd-trained PQ: vectors quantize ONCE to integer micro-units "
        "(localCheckpointed), then each of 2 k-means rounds is one "
        "zero-shuffle literal-codebook assignment pass plus one "
        "map-side-combined 128-group aggregate collected to the driver "
        "(O(codebook), never O(corpus)); truncating integer division "
        "makes the training trajectory engine-exact. Final scoring is "
        "the same integer-ADC/broadcast-LUT/WindowGroupLimit plan as "
        "pq_topk."
    ),
    "pii_scan": (
        "Compliance scan: PII injection + three regex families + redaction "
        "all in ONE codegen projection (no Python row path), rolled up by "
        "a map-side-combined groupBy over O(sources) keys. The regexes "
        "avoid lookarounds/backrefs so Java regex and RE2 agree."
    ),
    "containment_dedup": (
        "Directional near-containment via the winnow fingerprint inverted "
        "index: stop-fingerprints (df > 256) drop BEFORE the self-join "
        "(the inverted-index twin of the LSH bucket cap), the join is an "
        "equi-shuffle on a bigint fingerprint — never all-pairs — and the "
        "shared-count aggregate map-side combines on (id_a, id_b). "
        "Containment is exact integer ppm over the pruned sets."
    ),
    "ivfpq_topk": (
        "IVF-PQ composed: the zero-shuffle literal-centroid assignment "
        "(round-10: a sorted-struct-array projection — no BNLJ, no window "
        "exchange) routes each vector "
        "to one of 16 cells; candidates come from an equi-join on "
        "centroid_id against the bounded broadcast query side (a query "
        "touches ~1/16 of the corpus); scoring is the PQ/ADC literal-"
        "codebook path — 8 array lookups per pair, micro-integer "
        "order-independent sums, WindowGroupLimit top-k."
    ),
    "ivf_nprobe_topk": (
        "IVF with the nprobe=4 recall knob: the zero-shuffle ranked "
        "assignment (round-10: literal centroids, sorted-struct-array "
        "projection — no BNLJ, no window exchange) serves both "
        "sides — corpus keeps rank 1, queries keep ranks 1-4 — so the "
        "candidate join stays an equi-join on centroid_id with ~4x the "
        "single-probe candidates and zero pair duplication (each corpus "
        "vector lives in exactly one cell). nprobe=n_centroids is "
        "bitwise brute force (unit-pinned)."
    ),
    "ivfpq_nprobe_topk": (
        "IVF-PQ with nprobe=4: the ranked coarse assignment fans each "
        "query to its 4 nearest cells (bounded broadcast side grows 4x, "
        "corpus encode unchanged); candidates equi-join on centroid_id "
        "and score through the same literal-codebook integer ADC. "
        "nprobe=n_centroids collapses to plain pq_topk (unit-pinned)."
    ),
    "audio_decode": (
        "Real audio modality: every doc synthesizes a genuine RIFF/WAVE "
        "16-bit PCM payload and the vendored pure-stdlib chunk walker "
        "parses it back (sample_rate, channels, n_samples, exact int64 "
        "energy) — two mapInPandas stages over Arrow batches, per-batch "
        "numpy, no shuffle at all (ArrowEvalPython-free plan: mapInPandas "
        "is the designed Python boundary for binary payloads). Oracle "
        "recomputes everything closed-form from doc_id."
    ),
    "audio_window_energy": (
        "Windowed PCM feature extraction: per payload one numpy reduceat "
        "yields every 128-frame window's exact energy — fan-out "
        "O(n_samples/window) rows per doc inside the same Arrow batch, "
        "no shuffle, partial tail windows keep their true counts "
        "(oracle-pinned boundary arithmetic)."
    ),
    "media_decode": (
        "Unified mixed-modality decode: doc_id %% 4 lands BMP / PNG / "
        "WAV / Y4M containers in ONE binary column; the kernel routes "
        "each payload by magic bytes across all four vendored parsers "
        "into a wide nullable schema. One mapInPandas pass, zero "
        "shuffle; the oracle CASEs every modality's closed form on the "
        "same parity, value-pinning the router itself."
    ),
    "video_decode": (
        "Real video modality: every doc synthesizes a genuine Y4M "
        "(YUV4MPEG2) stream — ASCII parameter line + FRAME-delimited raw "
        "C420 planes — and the vendored pure-stdlib parser re-derives "
        "dims, frame rate, frame count, and the exact total luma sum. "
        "Two mapInPandas stages over Arrow batches, per-frame numpy "
        "sums, zero shuffle; oracle rebuilds the variable-length header "
        "string and replays the luma formula closed-form."
    ),
    "video_frame_sample": (
        "True frame sampling: every 2nd frame's exact luma sum + "
        "truncating integer mean extracted from the raw planes — one "
        "numpy pass per sampled frame inside the Arrow batch, fan-out "
        "O(n_frames/stride) rows per payload, zero shuffle; corrupt "
        "payloads emit zero rows."
    ),
    "substring_dedup_hashed": (
        "The production twin of substring_dedup: rolling 8-token windows "
        "xxhash64 to BIGINT BEFORE the explode and shuffle, so every "
        "exchange and the count join key on 8-byte hashes instead of "
        "~60-byte gram strings (~8x fewer exchange bytes — the dominant "
        "linear cost of the string form). Identical plan shape: one "
        "tokenize pass, map-side-combined count per distinct hash, "
        "equi-join back, per-doc aggregate; zero Python. Output equals "
        "the string form bitwise absent 64-bit collisions (unit-pinned), "
        "which licenses reusing its DuckDB oracle."
    ),
    "ivfpq_residual_topk": (
        "Residual IVF-PQ at nprobe=4: corpus vectors PQ-code their "
        "residual v - centroid(cell) in exact integer micro-units; the "
        "codebook (residuals of the 16 vectors AFTER the centroid seeds "
        "— disjoint, so entries are nonzero) ships as one literal and "
        "corpus encode stays a zero-shuffle projection. The query LUT is "
        "PER PROBED CELL — residual coding's defining cost — built on "
        "the bounded broadcast query side; candidates equi-join on "
        "centroid_id, ADC is order-independent BIGINT, top-k is a "
        "WindowGroupLimit rank. No cartesian anywhere."
    ),
    "ann_recall_eval": (
        "In-engine ANN quality evaluation, widened round-9 to the full "
        "index matrix (IVF-flat / vector-coded IVF-PQ / residual IVF-PQ "
        "x nprobe 1,2,4): the exact brute-force top-3 pair set computes "
        "once (bounded query batch, localCheckpointed and reused by the "
        "total and the hit join); each tier runs ONE index build via the "
        "operators' nprobes sweep (scoring at max nprobe, per-tier "
        "WindowGroupLimit re-rank of the once-scored, checkpointed "
        "candidates — bitwise the single-nprobe calls, unit-pinned); "
        "hits resolve via a left join on (query_id, nbr_id) and ONE "
        "map-side-combined aggregate. Recall in exact integer ppm."
    ),
    "mmr_select": (
        "Maximal marginal relevance: 5 fixed driver rounds, each ONE "
        "map-side-combined argmax aggregate (max over (score, -id) "
        "structs) across the corpus with the <=4 selected vectors as "
        "constant-folded literals — no pairwise corpus join, no window; "
        "O(1) driver rows per round (the bpe_merges driver-loop caveat)."
    ),
    "substring_dedup": (
        "Exact-substring (Lee et al.) duplication profile: rolling "
        "8-token windows explode JVM-side (sequence/slice/array_join), "
        "window counts map-side combine, one equi-join back on the "
        "window string, one per-doc aggregate. At production scale the "
        "window string hashes to int64 before the exchange; the oracle "
        "form keeps strings so DuckDB replays them."
    ),
    "substring_trim": (
        "Dup-span removal (the Lee et al. output): reuses the window-"
        "count shape, then ONLY duplicated windows explode to their 8 "
        "covered positions (output bounded by the dup share), a per-doc "
        "collect_set drives a JVM filter-by-index rebuild of the token "
        "array — no Python, original token order preserved."
    ),
    "label_propagation": (
        "Fixed-round deterministic LPA community detection: per round ONE "
        "equi-join of the checkpointed edge list against the broadcast "
        "O(V) label vector (shuffle path above BROADCAST_NODE_LIMIT), "
        "then ONE map-side-combined hash aggregate per round — "
        "mode(label, deterministic=true), whose min-tie-break IS the "
        "round's argmax-with-min-label rule (round 11: replaces the "
        "two-aggregate count+argmax chain, halving the round's exchanges; "
        "an aggregate rather than a window so a celebrity node's messages "
        "combine map-side instead of funneling one task). "
        "The small path runs all rounds as one linear query (no per-round "
        "checkpoint barrier); min-label tie-breaking keeps the fixpoint "
        "bitwise-reproducible."
    ),
    "collocation_pmi": (
        "PMI collocation mining: ONE tokenization collapses the corpus "
        "to a localCheckpoint-ed bigram count table (map-side-combined "
        "explode+agg); both marginals re-aggregate those vocab-bounded "
        "blocks — the left marginal reuses the groupBy(w1) partitioning "
        "— and join back (AQE broadcasts them when vocab fits; no "
        "unconditional hint since a 100 TB vocabulary outgrows one); "
        "the grand total attaches as a 1-row broadcast scalar and the "
        "top-100 is TakeOrderedAndProject, never a global sort."
    ),
    "hard_negatives": (
        "Contrastive hard-negative mining on the fold-exact vectorized "
        "kernel: the bounded anchor batch rides the kernel's closure into "
        "ONE MapInPandas numpy scorer over the corpus scan, whose per-batch "
        "candidate cut keeps ~k pairs per anchor — no pair blow-up ever "
        "shuffles, the same-class exclusion is a "
        "vectorized mask inside the kernel, and the per-dimension "
        "accumulation replays the zip_with left fold's IEEE sequence "
        "bit-for-bit (unit-pinned); rounding and the per-anchor top-3 "
        "WindowGroupLimit stay in Spark."
    ),
    "embedding_outliers": (
        "Centroid-distance outlier filter: ONE explode feeds a map-side-"
        "combined (label, dim) aggregate (exchange carries O(partitions × "
        "labels × dims), never corpus rows); per-label centroid ARRAYS "
        "broadcast back onto the checkpointed quantized vectors and the "
        "distance is a single zip_with int64 fold per vector — no second "
        "explode; the per-label top-20 is WindowGroupLimit-bounded. "
        "Integer milli-units make every score bitwise-reproducible."
    ),
    "community_modularity": (
        "Detect→score composition: the LPA labeling localCheckpoints "
        "once; the scoring pass (round 11) joins BOTH endpoint labels "
        "onto the edge list in one scan and aggregates degree_sum = "
        "count(*) and intra_deg = count(same-label) together — one "
        "edge-list pass and one exchange where two separate "
        "degree/intra aggregations ran before, each map-side-combining "
        "to O(communities) rows; 2m is a driver-known count off the "
        "checkpointed half. Nested integer-ppm modularity keeps "
        "div/floor-div engine-agreement and every intermediate under "
        "2^63."
    ),
    "ohlc_bars": (
        "Telemetry downsampling to OHLC bars: ONE map-side-combined hash "
        "aggregate over the event stream — open/close are min/max over "
        "(ts, event_id, value) structs (deterministic tie-break, partial "
        "aggregation absorbs hot buckets; never a FIRST()/window sort), "
        "volume sums in DECIMAL before the double cast; output is "
        "bounded by types × hours."
    ),
    "corpus_survivors_agg": (
        "Skew-immune twin of the survivors MV: ONE max_by aggregate "
        "ordered by (quality, -doc_id) — partial aggregation collapses a "
        "hot fingerprint to one (best, count) pair per input partition "
        "before the exchange (measured ~10x vs the window under a "
        "50%-hot fingerprint, SCALING.md). SortAggregate (struct ordering "
        "key has no mutable buffer), but the per-partition sort is "
        "embarrassingly parallel, unlike the window's one-task hot group."
    ),
    "lm_perplexity_pruned": (
        "Frequency-floor LM scoring: the bigram LM table shrinks to "
        "counts ≥ 3 BEFORE the scoring join (smoothing denominators keep "
        "full counts, so surviving probabilities are unchanged); the "
        "occurrence-side join and the per-doc aggregate then touch only "
        "the frequent head of the bigram distribution."
    ),
    "decile_lift": (
        "Fact collapses to one row per customer FIRST (hash agg with "
        "map-side combine); the NTILE window and the share computations "
        "run over the customer dimension partitioned by segment — never "
        "over fact rows; the segment dim broadcasts into the spend table."
    ),
    "user_paths": (
        "Per-user journey paths: rank within user is the fact's natural "
        "partitioning (one exchange), the head-8 filter is "
        "WindowGroupLimit-eligible, path assembly is array_sort over "
        "per-user structs (no second sort pass), and the final top-25 is "
        "TakeOrderedAndProject."
    ),
    "kcore_decompose": (
        "Bounded k-core peeling (per-round eager jobs): each round is one map-side-"
        "combined degree aggregate over the checkpointed trade edges plus "
        "two LEFT-SEMI survivor joins (the O(V) survivor set broadcasts "
        "under BROADCAST_NODE_LIMIT; a 100 TB node vector shuffles "
        "instead). The per-round peeled frames union lazily — already-"
        "computed subtrees, no extra pass. Flat across a 100x hub-degree "
        "sweep (SCALING.md round-9 hostiles)."
    ),
    "preference_pairs": (
        "RLHF pair mining as ONE aggregate: chosen/rejected are struct "
        "argmax/argmin per (lang, source) — map-side combined, window-"
        "free, so a mega-stratum combines in parallel instead of "
        "funneling through one window task (0.7x on the 90%-one-stratum "
        "hostile). Exactly two exchanges: the loader's small-file spread "
        "+ the stratum aggregate."
    ),
    "bloom_prune_join": (
        "Runtime-filter semi-join: the build side aggregates to <=m "
        "distinct md5 bit positions (bounded collect, never O(rows)), "
        "packed into an int64-word array literal whose two bit tests run "
        "inside whole-stage codegen at the probe scan — zero probe-side "
        "shuffle before the 3-group telemetry aggregate; the exact-truth "
        "check is a broadcast hash join on the selective build."
    ),
    "keyword_textrank": (
        "TextRank: O(tokens) adjacency explode with map-side weight "
        "combine builds a vocabulary-bounded word graph (Heaps' law — "
        "flat 1.0x at 10x corpus); 3 weighted integer-pagerank rounds "
        "run the pagerank_integer small-path broadcast plan over string "
        "nodes; the global top-25 is TakeOrderedAndProject (per-"
        "partition heap), never a range-partitioned vocabulary sort."
    ),
    "embedding_pca_power": (
        "Integer power iteration: per round one scan of the checkpointed "
        "milli-quantized vectors — a JVM zip_with fold against the "
        "current direction as an array literal, then ONE 64-column map-"
        "side-combined aggregate collapsing to a single collected row "
        "(the O(1)-rows-per-round BPE/MMR discipline). Normalization is "
        "driver-side _tdiv, HUGEINT-replayed in the oracle."
    ),
    "video_scene_cuts": (
        "Shot-boundary SAD: two chained mapInPandas stages over the "
        "document scan (attach + per-pair numpy kernel), zero exchanges; "
        "fan-out O(n_frames-1) rows per payload, per-pixel work never "
        "touches Python scalars."
    ),
    "jaccard_prefix_join": (
        "Exact set-similarity self-join (SSJoin/AllPairs): the "
        "tokenize/shingle/int64-hash/fingerprint projection materializes "
        "ONCE (eager localCheckpoint — upstream of everything shown "
        "here), exact-dup sets collapse to one representative, then a "
        "rare-first prefix equi-join on the int64 shingle key generates "
        "provably complete candidates (hot shingles are excluded from "
        "prefixes by construction), array_intersect verification, and "
        "output-sized member re-expansion joins. Every exchange is "
        "keyed (fingerprint / shingle / set id); no global sort, no "
        "cartesian anywhere."
    ),
    "cms_topk": (
        "Count-min sketch: build is ONE map-side-combined aggregate to "
        "<= depth*width cells (bounded state, never O(distinct keys)); "
        "the exact top-25 probe side hashes map-side and joins the "
        "BROADCAST cell table, min-over-rows per key. The only "
        "non-sketch exchanges are the exact-count aggregate the output "
        "value-pins the estimates against."
    ),
}


def audit(plan: str) -> dict:
    shuffles = re.findall(r"Arguments: (\w+)\(", plan)
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "roundrobin": sum(1 for s in shuffles if s == "RoundRobinPartitioning"),
        "broadcasts": len(re.findall(r"\(\d+\) BroadcastExchange", plan)),
        "bhj": len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
        "window_group_limit": plan.count("WindowGroupLimit"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]+\]", plan)),
    }


def main() -> None:
    spark = get_spark("plans")
    print("# PLANS — physical-plan audit of the headline queries")
    print()
    print(
        f"Generated by `tools/gen_plans.py` from `explain(\"formatted\")` "
        f"at `{SF_DIR}`. Counts are physical operators in the final "
        "adaptive plan's static form; 'spread' exchanges are the "
        "round-robin input split for single-row-group test files "
        "(no-ops on production-split inputs)."
    )
    print()
    for name, note in ANNOTATIONS.items():
        fn = SPARK_QUERIES[name]
        df = fn(spark, SF_DIR)
        try:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # streaming plans can't always pre-explain
            print(f"## {name}\n\n{note}\n\n(plan unavailable: {exc})\n")
            continue
        a = audit(plan)
        if a["exchanges"] == 0 and "LocalTableScan" in plan:
            print(f"## {name}")
            print()
            print(
                "(availableNow stream already executed to its memory sink — "
                "the inspectable plan is the result scan; state/shuffle "
                "shape is asserted by the streaming unit tests)"
            )
            print()
            print(note)
            print()
            continue
        print(f"## {name}")
        print()
        print(
            f"shuffles: {a['exchanges']} ({a['roundrobin']} spread) · "
            f"broadcasts: {a['broadcasts']} · BHJ: {a['bhj']} · "
            f"SMJ: {a['smj']} · pushed-filter scans: {a['pushed']}"
            + (
                f" · WindowGroupLimit: {a['window_group_limit']}"
                if a["window_group_limit"]
                else ""
            )
        )
        print()
        if name in DRIVER_LOOP:
            print(
                "NOTE: plan stats above cover the RETURNED frame only — "
                "this query's per-round work (collect/localCheckpoint "
                "driver loop) executes eagerly at build time, so its real "
                "exchange activity is not visible in the final plan."
            )
            print()
        print(note)
        print()


if __name__ == "__main__":
    main()
