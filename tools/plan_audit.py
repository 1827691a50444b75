"""Physical-plan audit: sweep every registry query and flag scale
anti-patterns before they cost anything at 100 TB.

Flags:
- CartesianProduct            — unkeyed pair blowup
- BroadcastNestedLoopJoin     — non-equi join fallback (OK only when one
                                side is a scalar/1-row aggregate)
- SinglePartition window/sort — serializes all data through one task
                                (global Window.orderBy with no partitionBy).
                                The final exchange of a GLOBAL AGGREGATE
                                also prints "Exchange SinglePartition" but
                                moves one partial row per partition — that
                                case is benign and NOT flagged (detector
                                requires a Sort/Window consumer).
- ForcedBroadcastUnbounded    — an explicit broadcast hint (which AQE
                                CANNOT demote) whose subtree scans an
                                SF-scaling base table (part/supplier/
                                customer/orders/lineitem/events/
                                documents/embeddings) with no bounding
                                node (GlobalLimit or global aggregate)
                                on the path hint->scan. Such a hint is
                                free at sf0.1 and an executor OOM at
                                100 TB; those sides must use the
                                size-gated ``hints.maybe_broadcast``.
                                The audit runs with
                                SPARK_GRAFT_ASSUME_HUGE=1, under which
                                maybe_broadcast never hints — so every
                                hint still visible in the ANALYZED
                                logical plan is a static F.broadcast.

- RawDecimalOutput            — a registry query emitting a top-level
                                DECIMAL column; the driver's value
                                hasher normalizes Spark vs DuckDB
                                decimals differently (round-6
                                join_size_estimate lesson), so outputs
                                must be double/long/bool/string even
                                when the arithmetic is decimal-carried.

Whitelist entries document WHY a hit is intentional; anything else is
an audit failure. So is a STALE entry: one whose pattern the audited
query no longer hits (or, in a full sweep, one naming no registered
query), since it would let that pattern come back unnoticed.
Usage: python tools/plan_audit.py [sf_dir] [query ...]
A named query that is not registered fails the run (exit 2) before
any Spark session starts.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# query -> (pattern, reason) pairs that are deliberate
WHITELIST: dict[str, dict[str, str]] = {
    "q22_idle_customers": {
        "BroadcastNestedLoopJoin": "scalar avg subquery: 1-row broadcast",
    },
    "q11_important_parts": {
        "BroadcastNestedLoopJoin": "global-total subquery: 1-row broadcast",
    },
    "dq_profile": {
        "BroadcastNestedLoopJoin": "1-row profile x 1-row orphan count",
    },
    "equidepth_histogram": {
        "BroadcastNestedLoopJoin": "decile-threshold vector: 1-row broadcast",
    },
    "key_continuity_audit": {
        "BroadcastNestedLoopJoin": "three 1-row summary aggregates cross-"
        "joined into the single output row",
    },
    "theil_sen_trend": {
        "BroadcastNestedLoopJoin": "pairwise-slope x<x' join + 1-row median "
        "broadcast: both bounded by the ~2500-day calendar, not row volume "
        "(Theil-Sen is O(days^2) by definition)",
    },
    "benford_first_digit": {
        "BroadcastNestedLoopJoin": "digit spine x 1-row total: 1-row broadcast",
    },
    "pmi_collocations": {
        "BroadcastNestedLoopJoin": "global bigram total N: 1-row broadcast",
    },
    "interp_asof_rates": {
        "BroadcastNestedLoopJoin": "rate-curve synthesis: 84-month x "
        "4-currency range() cross join — calendar-bounded literals, not data",
    },
    "monthly_revenue_gapfill": {
        "BroadcastNestedLoopJoin": "date-spine bounds: 1-row broadcast",
        "ForcedBroadcastUnbounded": "actuals keyed by (nation, month): 25 x |months| rows — grows with "
        "calendar span, not volume; the spine side of the left join cannot "
        "broadcast anyway",
    },
    "mixture_interleave_schedule": {
        "BroadcastNestedLoopJoin": "water-filling scalar totals + the "
        "schedule's 1-row b_alloc total — all 1-row broadcasts onto the "
        "bounded domain list; candidates are <= SCHED_SLOTS x |languages| "
        "rows so the global stride rank window is metadata-sized",
    },
    "mixture_sample_manifest": {
        "BroadcastNestedLoopJoin": "the interleave schedule's own scalar "
        "totals (see mixture_interleave_schedule) upstream of the "
        "manifest joins; the doc-resolution joins themselves are keyed "
        "(lang, doc_rank) hash joins onto the WindowGroupLimit-bounded "
        "per-domain top-SCHED_SLOTS",
    },
    "corpus_mix_weights": {
        "BroadcastNestedLoopJoin": "corpus-total + mix-denominator scalars (1-row broadcasts onto a "
        "|languages|-row aggregate)",
        "ForcedBroadcastUnbounded": "per-language weight table + literal-key 1-row totals — "
        "language-cardinality bounded",
    },
    "lm_perplexity_filter": {
        "BroadcastNestedLoopJoin": "LM totals (T, V) and corpus-mean-NLL scalars — 1-row broadcasts; "
        "model tables join on their keys",
        "ForcedBroadcastUnbounded": "LM totals (T, V) and corpus-mean NLL are literal-key groupings -> "
        "exactly 1 row each; the n-gram model tables join on their keys, "
        "never broadcast",
    },
    "bm25_search": {
        "BroadcastNestedLoopJoin": "(n_docs, avgdl) corpus scalar — 1-row broadcast onto the (query, "
        "doc) aggregate",
        "ForcedBroadcastUnbounded": "query side and per-query-term df are bounded by N_QUERIES docs' "
        "vocabularies (df is semi-joined to query terms BEFORE the hint); "
        "(n_docs, avgdl) is a literal-key 1-row scalar",
    },
    "token_budget_allocation": {
        "BroadcastNestedLoopJoin": "remainder-rank self-join and totals joins over the #languages-row "
        "aggregate — bounded by language cardinality, never corpus size",
        "ForcedBroadcastUnbounded": "per-language allocations + literal-key 1-row totals — "
        "language-cardinality bounded",
    },
    "theta_set_algebra": {
        "BroadcastNestedLoopJoin": "1-row exact-counts x 1-row sketch-estimates scalar crossJoin",
    },
    "kll_quantile_merge": {
        "BroadcastNestedLoopJoin": "1-row merged-sketch probes broadcast onto the rank count and "
        "the 1-row total — scalar joins",
    },
    "triangle_count_parts": {
        "BroadcastNestedLoopJoin": "three 1-row census scalars (edge/node/wedge/triangle counts) "
        "crossJoined into the single output row; all data joins are "
        "equi (order-key pair explosion, degree joins, wedge closure)",
    },
    "classifier_calibration": {
        "BroadcastNestedLoopJoin": "prefix-sum and max-min lattice inequality self-joins on the "
        "LITERAL 20-row reliability-bin spine, plus 1-row total/ECE "
        "scalar crossJoins",
        "ForcedBroadcastUnbounded": "broadcast sides are the 20-row bin table (groupBy of "
        "floor(p*20) — bounded by the LITERAL bin count) and 1-row "
        "scalars",
    },
    "psi_order_value_drift": {
        "BroadcastNestedLoopJoin": "1-row decile-threshold vector, 1-row totals, and 1-row PSI "
        "scalar crossJoins onto the bin-bounded table",
    },
    "gini_customer_revenue": {
        "BroadcastNestedLoopJoin": "block-offset inequality self-join on the $1000-block spine of "
        "the lifetime-cents value domain — value-domain bounded, "
        "explicitly broadcast",
        "ForcedBroadcastUnbounded": "the broadcast side is the per-block subtotal spine (groupBy "
        "blk of cents / 1e5 — ks_test_price class)",
    },
    "abc_classification_parts": {
        "BroadcastNestedLoopJoin": "same value-domain block-offset join + the 1-row revenue-total "
        "crossJoin",
        "ForcedBroadcastUnbounded": "broadcast sides are the block subtotal spine and the 1-row "
        "total aggregate",
    },
    "max_concurrent_orders": {
        "BroadcastNestedLoopJoin": "sweep-line running-sum and next-boundary inequality self-joins "
        "on the boundary-day spine — calendar-bounded, explicitly "
        "broadcast; plus 1-row peak/mean scalar crossJoins",
        "ForcedBroadcastUnbounded": "broadcast sides are the boundary-delta day spine (groupBy day, "
        "calendar-bounded) and 1-row scalars",
    },
    "changepoint_daily_revenue": {
        "BroadcastNestedLoopJoin": "prefix-sum inequality self-join on the zero-filled day spine "
        "(calendar-bounded, broadcast) + 1-row totals/argmin scalars",
        "ForcedBroadcastUnbounded": "broadcast sides are the calendar day spine (isotonic class) and "
        "two 1-row aggregates",
    },
    "logrank_segments": {
        "BroadcastNestedLoopJoin": "hypergeometric life-table inequality self-join on the pooled "
        "event-time spine — calendar-bounded, explicitly broadcast; "
        "plus the 1-row horizon broadcast",
        "ForcedBroadcastUnbounded": "broadcast sides are the distinct event-time spine (groupBy t, "
        "calendar-bounded ~2 500 rows, kaplan_meier_repeat class) and "
        "the 1-row horizon",
    },
    "conformal_interval_orders": {
        "BroadcastNestedLoopJoin": "1-row beta vector, 1-row n_cal, and 1-row conformal-quantile "
        "scalars broadcast onto the scored splits — scalar crossJoins",
        "ForcedBroadcastUnbounded": "broadcast sides are all 1-row: the train-split OLS fit (global "
        "aggregate the detector sees through only for unsplit scans), "
        "the calibration count, and the min-rank quantile aggregate",
    },
    "spatial_point_in_polygon": {
        "BroadcastNestedLoopJoin": "ray-casting crossing test: points x LITERAL 12-row edge table "
        "(broadcast) — bounded x12 fan-out by construction; plus the "
        "1-row totals crossJoin",
    },
    "cohort_retention": {
        "ForcedBroadcastUnbounded": "the broadcast side is the per-cohort-month size table (groupBy "
        "of month-truncated first-order dates) — calendar-bounded "
        "(~84 rows at any corpus size)",
    },
    "rfm_segments": {
        "BroadcastNestedLoopJoin": "1-row horizon and 1-row quintile-threshold vector broadcast "
        "onto the customer table — scalar crossJoins",
    },
    "poisson_bootstrap_ci": {
        "BroadcastNestedLoopJoin": "order-statistic rank self-join on the B = 100-row replicate "
        "means table (B² = 10k pairs, bounded by the LITERAL replicate "
        "count) + the 1-row CI crossJoin",
        "ForcedBroadcastUnbounded": "broadcast sides are the replicate means (groupBy b of a "
        "LITERAL 0..99 explode — exactly B rows at any corpus size) "
        "and the 1-row CI aggregate",
    },
    "isotonic_daily_revenue": {
        "BroadcastNestedLoopJoin": "prefix-sum and interval-pair inequality self-joins on the "
        "zero-filled day spine — calendar-bounded (~2 400 rows at ANY "
        "corpus size), explicitly broadcast",
        "ForcedBroadcastUnbounded": "both broadcast sides are the calendar day spine / its prefix-"
        "sum table (groupBy day of orders then join to the bounded "
        "sequence(min,max) spine) — bounded by the calendar span, "
        "same class as kaplan_meier_repeat",
    },
    "mann_whitney_orders": {
        "BroadcastNestedLoopJoin": "exclusive block-offset inequality self-join on the coarse "
        "$1000-block spine (shared _blocked_cums helper) — "
        "value-domain-bounded ~600 rows, explicitly broadcast",
        "ForcedBroadcastUnbounded": "the broadcast side is the $1000-block subtotal spine (groupBy "
        "blk of integer cents / 1e5): bounded by the PRICE DOMAIN, "
        "independent of row volume (same class as ks_test_price)",
    },
    "chi2_independence_docs": {
        "BroadcastNestedLoopJoin": "full-grid construction: |langs|-row x |sources|-row x 1-row "
        "total crossJoins — vocab-bounded contingency axes",
        "ForcedBroadcastUnbounded": "the broadcast sides are the per-source column totals "
        "(|sources|-bounded groupBy) and the 1-row grand total — "
        "vocab-sized at any corpus scale",
    },
    "dsir_domain_weights": {
        "BroadcastNestedLoopJoin": "1-row corpus-totals scalar broadcast onto the bucket table",
        "ForcedBroadcastUnbounded": "the broadcast side is the hashed-feature log-ratio table, "
        "bounded by the LITERAL hash modulus B = 4096 at any corpus "
        "size (groupBy b of token-hash % B — grouped-aggregate "
        "blindness, same class as corpus_mix_weights)",
    },
    "kaplan_meier_repeat": {
        "BroadcastNestedLoopJoin": "life-table inequality self-joins on the distinct event-time "
        "spine — calendar-bounded (~2 500 rows at ANY corpus size) and "
        "explicitly broadcast; plus the 1-row horizon broadcast",
        "ForcedBroadcastUnbounded": "the broadcast side is the distinct event-time spine (groupBy t "
        "of day gaps): bounded by the calendar span (~2 500 rows at any "
        "corpus size), same class as monthly_revenue_gapfill",
    },
    "ks_test_price": {
        "BroadcastNestedLoopJoin": "exclusive block-offset inequality self-join on the coarse "
        "$1000-block spine — value-domain-bounded (~600 rows at any "
        "scale), explicitly broadcast; plus the 1-row totals broadcast",
        "ForcedBroadcastUnbounded": "the broadcast side is the $1000-block subtotal spine (groupBy "
        "blk of integer cents / 1e5): bounded by the PRICE DOMAIN "
        "(~600 rows), independent of row volume",
    },
    "warc_roundtrip_audit": {
        "BroadcastNestedLoopJoin": "1-row blob-level totals x 1-row payload-match totals "
        "crossJoin for the single audit row — scalar join",
    },
    "packing_stats": {
        "BroadcastNestedLoopJoin": "1-row input-token totals x 1-row sequence totals "
        "crossJoin for the single conservation-audit row — scalar join "
        "(the warc_roundtrip_audit shape)",
    },
    "packing_fill_compare": {
        "BroadcastNestedLoopJoin": "1-row next-fit x 1-row first-fit x 1-row "
        "first-fit-decreasing totals chained crossJoins for the single "
        "comparison row — scalar joins (the packing_stats shape)",
    },
    "corpus_funnel_stats": {
        "BroadcastNestedLoopJoin": "1-row host-cap count x 1-row packing totals scalar "
        "crossJoin for the single funnel-audit row (the other stage "
        "counts are observed metrics) — metadata-sized by construction "
        "(the packing_stats shape)",
    },
    "domain_mixture_temperature": {
        "BroadcastNestedLoopJoin": "two 1-row totals crossJoins onto the bounded domain "
        "list (one row per language) — scalar joins",
        "SinglePartition": "largest-remainder rank window over the bounded domain "
        "list — one row per language regardless of corpus size",
    },
    "domain_mixture_capped": {
        "BroadcastNestedLoopJoin": "per-water-filling-round 1-row surplus/weight totals "
        "crossJoined onto the bounded domain list — scalar joins "
        "(the mixture shape, unrolled WF_ROUNDS times)",
    },
    "hll_vocab_rollup": {
        "BroadcastNestedLoopJoin": "1-row global-exact x 1-row union-estimate crossJoin for the ALL "
        "row — scalar join",
    },
    "cosine_topk": {
        "BroadcastNestedLoopJoin": "query side is a bounded broadcast (N_QUERIES rows) against the "
        "corpus — by design",
        "ForcedBroadcastUnbounded": "query side is the fixed N_QUERIES (vec_id < 50) sample — "
        "documented recall baseline",
    },
    "hard_negative_pairs": {
        "BroadcastNestedLoopJoin": "anchor side is the bounded N_QUERIES broadcast against the "
        "corpus (the cosine_topk shape with a label-inequality "
        "condition); anchors are a training batch by construction — "
        "corpus x corpus mining goes through the LSH/MIH bucketed "
        "candidate generators instead",
        "ForcedBroadcastUnbounded": "anchor side is the fixed N_QUERIES (vec_id < 50) sample",
    },
    "contrastive_triplets": {
        "BroadcastNestedLoopJoin": "same bounded N_QUERIES anchor broadcast, scored once and "
        "consumed by both the positive and negative window picks",
        "ForcedBroadcastUnbounded": "anchor side is the fixed N_QUERIES (vec_id < 50) sample",
    },
    "binary_hamming_topk": {
        "BroadcastNestedLoopJoin": "query side is a bounded broadcast (N_QUERIES one-word "
        "array<bigint> signatures) against the corpus signatures — the cosine_topk "
        "shape, but each probe is one XOR+POPCNT on a 32x-compressed "
        "signature instead of a 64-dim float fold",
        "ForcedBroadcastUnbounded": "query side is the fixed N_QUERIES (vec_id < 50) sample of "
        "one-word array<bigint> signatures — bounded by the query set, not the corpus",
    },
    "binary_hamming_recall_at10": {
        "BroadcastNestedLoopJoin": "the exact-baseline side is cosine_topk over the bounded "
        "N_QUERIES audit sample; the Hamming side is the bounded "
        "signature broadcast above",
        "ForcedBroadcastUnbounded": "N_QUERIES samples on both sides",
    },
    "binary_multiword_topk": {
        "BroadcastNestedLoopJoin": "binary_hamming_topk's bounded-query shape over multi-word "
        "signatures: N_QUERIES array<bigint> sigs broadcast against "
        "the corpus sigs; each probe is MW_WORDS XOR+POPCNTs",
        "ForcedBroadcastUnbounded": "query side is the fixed N_QUERIES (vec_id < 50) sample of "
        "3-word signatures — bounded by the query set, not the corpus",
    },
    "binary_asymmetric_topk": {
        "BroadcastNestedLoopJoin": "binary_hamming_topk's bounded-query shape: N_QUERIES "
        "quantized query vectors broadcast against the 8-byte corpus "
        "signatures; each probe is a 64-term integer fold",
        "ForcedBroadcastUnbounded": "query side is the fixed N_QUERIES (vec_id < 50) sample of "
        "quantized query components — bounded by the query set, not "
        "the corpus",
    },
    "binary_asymmetric_recall_at10": {
        "BroadcastNestedLoopJoin": "the exact-baseline side is cosine_topk over the bounded "
        "N_QUERIES audit sample; the asymmetric side is the bounded "
        "quantized-query broadcast above",
        "ForcedBroadcastUnbounded": "N_QUERIES samples on both sides",
    },
    "binary_multiword_mih_recall_at10": {
        "BroadcastNestedLoopJoin": "the exact-baseline side is the brute multi-word top-k over "
        "the bounded N_QUERIES sample (the BNLJ above); the MIH side "
        "is a pure (band,key) equi-join",
        "ForcedBroadcastUnbounded": "N_QUERIES signature sample on the brute side",
    },
    "binary_multiword_mih_multiprobe_recall_at10": {
        "BroadcastNestedLoopJoin": "same brute multi-word exact baseline as "
        "binary_multiword_mih_recall_at10 (bounded N_QUERIES sample); the "
        "multiprobe MIH side is a pure (band,key) equi-join with the 9x "
        "probe expansion on the bounded query side only",
        "ForcedBroadcastUnbounded": "N_QUERIES signature sample on the brute side",
    },
    "binary_mih_recall_at10": {
        "BroadcastNestedLoopJoin": "the exact-baseline side is cosine_topk over the bounded "
        "N_QUERIES audit sample; the MIH side itself is a (band, "
        "8-bit key) equi-join — its standalone plan audits clean",
        "ForcedBroadcastUnbounded": "N_QUERIES exact-baseline sample",
    },
    "binary_mih_multiprobe_recall_at10": {
        "BroadcastNestedLoopJoin": "the exact-baseline side is cosine_topk over the bounded "
        "N_QUERIES audit sample; the multiprobe MIH side is still a "
        "(band, key) equi-join (probes explode the bounded query "
        "side only) — its standalone plan audits clean",
        "ForcedBroadcastUnbounded": "N_QUERIES exact-baseline sample",
    },
    "hybrid_search_rrf": {
        "BroadcastNestedLoopJoin": "the two bounded retrieval shapes it fuses: BM25's (n_docs, "
        "avgdl) 1-row scalar + query-term broadcasts, and the dense "
        "side's N_QUERIES-row query broadcast (the cosine_topk shape); "
        "the fusion itself is a |queries|*k-row equi full-outer join",
        "ForcedBroadcastUnbounded": "query sides are the fixed 5-doc query sample (BM25 qterms / "
        "dense vec_id < 5) plus BM25's query-term-semi-joined df — all "
        "bounded by the query set, not the corpus",
    },
    "lsh_candidate_quality": {
        "BroadcastNestedLoopJoin": "three 1-row census scalars (candidate/true/hit counts) "
        "crossJoined into the single audit row; candidate and truth "
        "generation are banded/inverted-index equi-joins",
    },
    "matryoshka_topk": {
        "BroadcastNestedLoopJoin": "bounded N_QUERIES query-sample broadcast against the corpus — "
        "the cosine_topk shape over truncated vectors",
        "ForcedBroadcastUnbounded": "fixed N_QUERIES (vec_id < 50) sample",
    },
    "matryoshka_recall_at10": {
        "BroadcastNestedLoopJoin": "both sides are the bounded N_QUERIES exact audits "
        "(full-dim and truncated)",
        "ForcedBroadcastUnbounded": "N_QUERIES samples on both sides",
    },
    "ann_lsh_recall_at10": {
        "BroadcastNestedLoopJoin": "the exact-baseline side is cosine_topk over the bounded N_QUERIES "
        "audit sample (recall auditing is always sampled); the ANN side "
        "stays a banded equi-join",
        "ForcedBroadcastUnbounded": "N_QUERIES exact-baseline sample",
    },
    "ann_lsh_multiprobe_recall_at10": {
        "BroadcastNestedLoopJoin": "same bounded cosine_topk exact baseline as ann_lsh_recall_at10; "
        "the multiprobe side is still a banded equi-join",
        "ForcedBroadcastUnbounded": "N_QUERIES exact-baseline sample",
    },
    "ivf_recall_at10": {
        "BroadcastNestedLoopJoin": "same bounded cosine_topk exact baseline as ann_lsh_recall_at10; "
        "the IVF side is a cell equi-join",
        "ForcedBroadcastUnbounded": "centroid index + N_QUERIES exact-baseline sample",
    },
    "ivf_topk": {
        "BroadcastNestedLoopJoin": "bounded query-side broadcast",
        "ForcedBroadcastUnbounded": "k-row label-centroid index",
    },
    "ivfpq_topk": {
        "BroadcastNestedLoopJoin": "k-row centroid / m*k-row codebook broadcasts (cell assignment + PQ "
        "training) — bounded tables by construction",
        "ForcedBroadcastUnbounded": "k-row coarse centroids + m*k-row codebooks — fixed size at any "
        "corpus scale",
    },
    "kmeans_convergence": {
        "BroadcastNestedLoopJoin": "k-row centroid broadcast per assignment/inertia round + 1-row "
        "count x 1-row sum crossJoin for the certificate row",
    },
    "pq_topk_sampled": {
        "ForcedBroadcastUnbounded": "m*k-row codebooks (trained on the "
        "fixed-size PQ_TRAIN_TARGET sample) — fixed size at any scale",
    },
    "pq_sampled_recall_at10": {
        "BroadcastNestedLoopJoin": "N_QUERIES exact-baseline sample "
        "(recall audits are always sampled)",
        "ForcedBroadcastUnbounded": "codebooks + the N_QUERIES "
        "exact-baseline sample",
    },
    "pq_recall_at10": {
        "BroadcastNestedLoopJoin": "the exact-L2 reference side is the bounded N_QUERIES broadcast "
        "sample (recall auditing is always sampled); the PQ side scores "
        "codes via equi-joins",
        "ForcedBroadcastUnbounded": "codebooks + the N_QUERIES (vec_id < 50) exact-baseline sample — "
        "recall audits are always sampled",
    },
    "ivfpq_recall_at10": {
        "BroadcastNestedLoopJoin": "same bounded cosine_topk exact baseline as ann_lsh_recall_at10; "
        "the IVF-PQ side is cell + code equi-joins",
        "ForcedBroadcastUnbounded": "centroids/codebooks + the N_QUERIES exact-baseline sample",
    },
    "regex_functions": {
        "BroadcastNestedLoopJoin": "1-row min_by argmin broadcast side",
    },
    "market_basket_pairs": {
        "BroadcastNestedLoopJoin": "1-row distinct-order-count scalar "
        "broadcast onto the pair-support table for the lift division",
    },
    "join_size_estimate": {
        "BroadcastNestedLoopJoin": "1-row degree-totals x 1-row "
        "histogram-head totals crossJoin (both scalar aggregates)",
    },
    "split_token_drift": {
        "BroadcastNestedLoopJoin": "1-row (split totals, vocab) scalar "
        "broadcast onto the vocab-sized term-count table",
    },
    "zorder_layout": {
        "BroadcastNestedLoopJoin": "1-row domain-stats (min/max custkey"
        "/date) scalar broadcast onto the orders scan",
    },
    "zorder_pruning_gain": {
        "BroadcastNestedLoopJoin": "1-row domain-stats scalar + the "
        "N_PROBES-row probe table (both bounded broadcasts) onto the "
        "<=64-row zone-map tables",
    },
    "count_min_sketch": {
        "BroadcastNestedLoopJoin": "1-row corpus-token-total scalar "
        "broadcast onto the 20-row point-query audit",
    },
    "heavy_hitters_mg": {
        "BroadcastNestedLoopJoin": "1-row corpus-token-total scalar broadcast onto the per-term exact "
        "aggregate",
    },
    "semdedup_prune": {
        "BroadcastNestedLoopJoin": "k-row centroid broadcast for cell assignment (same bounded table "
        "as ivf_topk); the within-cell pair join itself is a SortMergeJoin "
        "on cell — verified",
        "ForcedBroadcastUnbounded": "label-centroid index (k rows) + per-cell member counts (|cells| "
        "rows) — both label-bounded",
    },
    "approx_quantiles_accuracy": {
        "ForcedBroadcastUnbounded": "3 GK probe rows per returnflag group (9 rows total) joined back to "
        "lineitem",
    },
    "pq_topk": {
        "ForcedBroadcastUnbounded": "m*k-row PQ codebooks (k-means on a literal block grid) — fixed "
        "size at any corpus scale",
    },
    "events_outlier_mad": {
        "ForcedBroadcastUnbounded": "median/MAD per event_type — |event types| rows, key-cardinality "
        "bounded",
    },
    "corpus_token_entropy": {
        "ForcedBroadcastUnbounded": "literal-key 1-row corpus token total",
    },
}

def _single_partition_sort_or_window(plan: str) -> bool:
    """True when a Sort or Window consumes an Exchange SinglePartition
    (parents precede children in the tree printout, so look at the two
    lines above the exchange)."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        for prev in lines[max(0, i - 2): i]:
            op = prev.lstrip(" +-*")
            if op.startswith("Sort [") or op.startswith("Window ["):
                return True
    return False


#: Relation-line signature column of each base table that grows with
#: scale factor (nation/region are fixed 25/5 rows and absent here).
SCALING_SIGNATURES = {
    "part": "p_partkey#",
    "supplier": "s_suppkey#",
    "customer": "c_custkey#",
    "orders": "o_orderkey#",
    "lineitem": "l_linenumber#",
    "events": "event_id#",
    "documents": "doc_id#",
    "embeddings": "vec_id#",
}


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(":+- "))


def _node(line: str) -> str:
    return line.lstrip(":+- ")


def _bounding(line: str) -> bool:
    """Nodes that cap the row count of everything above them:
    GlobalLimit N, or a GLOBAL aggregate (one expr list — a grouped
    Aggregate prints `Aggregate [keys], [outputs]`)."""
    n = _node(line)
    if n.startswith("GlobalLimit"):
        return True
    return n.startswith("Aggregate [") and "], [" not in n


def _forced_broadcast_unbounded(analyzed: str) -> list[str]:
    """Scaling base tables scanned under a broadcast ResolvedHint with
    no bounding node on the hint->scan ancestor path. Parent of a line
    in the tree printout = nearest preceding line with smaller indent."""
    lines = analyzed.splitlines()
    flagged: set[str] = set()
    for hi, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line:
            continue
        hd = _indent(line)
        end = hi + 1
        while end < len(lines) and _indent(lines[end]) > hd:
            end += 1
        for ri in range(hi + 1, end):
            rnode = _node(lines[ri])
            if not rnode.startswith("Relation"):
                continue
            tables = [
                t for t, sig in SCALING_SIGNATURES.items() if sig in rnode
            ]
            if not tables:
                continue
            # climb the ancestor chain from the scan up to the hint
            covered, cur, d = False, ri, _indent(lines[ri])
            while cur > hi:
                j = cur - 1
                while j > hi and _indent(lines[j]) >= d:
                    j -= 1
                if j <= hi:
                    break
                if _bounding(lines[j]):
                    covered = True
                    break
                cur, d = j, _indent(lines[j])
            if not covered:
                flagged.update(tables)
    return sorted(flagged)


def _streaming_plans(spark, sf_dir):
    """Yield ``(name, analyzed_logical_plan)`` for every streaming
    transformation builder. The registry sweep above only sees BATCH
    queries, which is exactly how round 5's one surviving forced
    broadcast (flagship_stream's categories side) escaped the audit.
    A streaming DataFrame analyzes eagerly but refuses to produce an
    executedPlan without ``writeStream.start()``, so this sweep runs
    the LOGICAL detector only — ForcedBroadcastUnbounded is the one
    that matters here (an explicit hint survives into the analyzed
    plan; the physical patterns are covered by each stream's
    oracle-checked batch twin). Sources point at an empty temp dir
    with the real schemas: plan shape is schema-driven, no data or
    query start needed."""
    import tempfile

    from bigdata_pipelines_aws_glue_spark.plans.flagship import (
        synth_currency_rates,
        synth_product_categories,
        synth_transactions,
    )
    from bigdata_pipelines_aws_glue_spark.streaming import jobs, stateful

    empty = tempfile.mkdtemp(prefix="plan_audit_stream_")
    tx_schema = synth_transactions(spark, sf_dir).schema
    rates = synth_currency_rates(spark, sf_dir)
    categories = synth_product_categories(spark, sf_dir)
    tx = jobs.read_transaction_stream(spark, empty, tx_schema)
    ev = jobs.read_event_stream(spark, empty)
    builders = {
        "stream:flagship": lambda: jobs.flagship_stream(
            tx, rates, categories
        ),
        "stream:windowed_counts": lambda: jobs.windowed_counts_stream(ev),
        "stream:deduped": lambda: jobs.deduped_stream(ev),
        "stream:sessionized": lambda: jobs.sessionized_stream(ev),
        "stream:click_purchase_join": lambda: (
            jobs.click_purchase_join_stream(spark, empty)
        ),
        "stream:url_deduped": lambda: jobs.url_deduped_stream(
            jobs.read_document_stream(spark, empty)
        ),
        "stream:frontier_refs": lambda: jobs.frontier_refs_stream(
            jobs.read_document_stream(spark, empty)
        ),
        "stream:ewma": lambda: stateful.ewma_stream(ev),
        "stream:cusum": lambda: stateful.cusum_stream(ev),
        "stream:holt": lambda: stateful.holt_stream(ev),
        "stream:sessions_stateful": lambda: stateful.session_stream(ev),
    }
    for name, build in builders.items():
        yield name, build()._jdf.queryExecution().analyzed().toString()


PATTERNS = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "SinglePartition",
    "ForcedBroadcastUnbounded",
    "RawDecimalOutput",
)


def _raw_decimal_outputs(df) -> list[str]:
    """Top-level DECIMAL columns in a registry query's OUTPUT schema.

    Decimal arithmetic is encouraged internally (the dec_qsum carry),
    but emitting a raw decimal column breaks the driver's cross-engine
    value hash: Spark ``Decimal`` and DuckDB decimals normalize
    differently (round 6's ``join_size_estimate`` red row — values
    bit-identical, hash red). Convert to double/long/string before
    returning; this flag makes the class unrepresentable."""
    return [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName().startswith("decimal")
    ]

CHECKS = {
    "CartesianProduct": lambda plan: "CartesianProduct" in plan,
    "BroadcastNestedLoopJoin": lambda plan: "BroadcastNestedLoopJoin" in plan,
    "SinglePartition": _single_partition_sort_or_window,
}


def main() -> int:
    # Simulate the 100 TB posture: maybe_broadcast never hints, so any
    # broadcast ResolvedHint left in an analyzed plan is a static
    # F.broadcast — exactly what ForcedBroadcastUnbounded audits.
    import os

    os.environ["SPARK_GRAFT_ASSUME_HUGE"] = "1"

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from bigdata_pipelines_aws_glue_spark import registry
    from bigdata_pipelines_aws_glue_spark.session import get_spark

    unknown = sorted(only - set(registry.queries()))
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}", file=sys.stderr)
        return 2

    spark = get_spark("plan-audit")
    failures: list[tuple[str, str]] = []
    n_checked = 0
    n_builders = 0
    for name, fn in registry.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            analyzed = qe.analyzed().toString()
            plan = qe.executedPlan().toString()
        except Exception as exc:  # plan construction itself failed
            failures.append((name, f"plan build error: {exc}"))
            continue
        n_checked += 1
        allowed = WHITELIST.get(name, {})
        hits = [p for p in PATTERNS if p in CHECKS and CHECKS[p](plan)]
        forced = _forced_broadcast_unbounded(analyzed)
        if forced:
            hits.append("ForcedBroadcastUnbounded")
        dec_cols = _raw_decimal_outputs(df)
        if dec_cols:
            hits.append("RawDecimalOutput")
        bad = [p for p in hits if p not in allowed]
        stale = [p for p in allowed if p not in hits]
        status = "ok" if not bad and not stale else "FLAG"
        detail = {
            "ForcedBroadcastUnbounded": f"({','.join(forced)})",
            "RawDecimalOutput": f"({','.join(dec_cols)})",
        }
        notes = "; ".join(
            [
                f"{p}{detail.get(p, '')} [allowed: {allowed[p]}]"
                for p in hits
                if p in allowed
            ]
            + [f"{p}{detail.get(p, '')} <-- NOT WHITELISTED" for p in bad]
            + [f"{p} <-- STALE (whitelisted, not hit)" for p in stale]
        )
        print(f"  {name}: {status}" + (f"  {notes}" if notes else ""))
        if bad:
            failures.append((name, ", ".join(bad)))
        if stale:
            failures.append((name, "STALE " + ", ".join(stale)))

    if not only:
        for name in sorted(set(WHITELIST) - set(registry.queries())):
            print(f"  {name}: FLAG  STALE (whitelisted, not registered)")
            failures.append((name, "STALE whitelist entry, not registered"))

    if not only:
        print("  -- streaming builders (logical sweep) --")
        try:
            stream_plans = list(_streaming_plans(spark, sf_dir))
        except Exception as exc:
            failures.append(("streaming", f"stream plan build error: {exc}"))
            stream_plans = []
        for name, analyzed in stream_plans:
            n_builders += 1
            forced = _forced_broadcast_unbounded(analyzed)
            status = "ok" if not forced else "FLAG"
            print(
                f"  {name}: {status}"
                + (
                    f"  ForcedBroadcastUnbounded({','.join(forced)})"
                    f" <-- NOT WHITELISTED"
                    if forced
                    else ""
                )
            )
            if forced:
                failures.append((name, "ForcedBroadcastUnbounded"))

    print()
    if failures:
        print(f"{len(failures)} plan flags:")
        for name, why in failures:
            print(f"  - {name}: {why}")
        return 1
    print(
        f"plan audit clean ({n_checked} queries"
        + (f" + {n_builders} streaming builders" if n_builders else "")
        + ")"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
