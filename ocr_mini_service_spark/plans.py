"""Physical-plan introspection: capture ``EXPLAIN FORMATTED`` output for the
engine's key plans and assert the properties the 100 TB design depends on
(SURVEY.md §4.2):

- the fused extraction hot path contains NO Exchange (zero-shuffle, scales
  linearly with executors);
- the batch job's only Exchange is the input-side range repartition of
  the bucket ids;
- validation predicates reach the parquet scan (``PushedFilters``) and scans
  read only the projected columns (``ReadSchema``);
- small dims join as BroadcastHashJoin, the overlap prune is a true
  left-anti join, top-k is TakeOrderedAndProject, and filter/project chains
  run inside WholeStageCodegen.

``python -m ocr_mini_service_spark.plans`` writes the annotated plans to
PLANS.md; tests/test_plans.py asserts the properties.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame, mode: str = "formatted") -> str:
    """EXPLAIN output as a string (pyspark's explain() prints via a
    Python-side print, so stdout capture is reliable)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def plan_report(spark, sf_dir: str) -> dict[str, tuple[str, str]]:
    """name → (annotation, formatted plan) for the plans worth reading."""
    import __spark_entry__ as entry

    from .manifest import bucketed_write_plan
    from .pipeline import extract_fused
    from .synth import gen_transcripts

    q = entry.queries()

    pdf = gen_transcripts(200)
    transcripts = spark.createDataFrame(pdf)

    fused = extract_fused(transcripts)
    # only printed, never run, so the staging URI is never opened
    job = bucketed_write_plan(
        transcripts, 64, spark.sparkContext.defaultParallelism, "file:/plan/_staging/run"
    )

    return {
        "extract_fused (hot path)": (
            "scan → ArrowEvalPython/MapInArrow → project. NO Exchange anywhere: "
            "the per-turn kernel is embarrassingly parallel, so throughput scales "
            "with executors (the north-rule scaling claim).",
            formatted_plan(fused),
        ),
        "batch job (bucketed + sorted commit)": (
            "exactly ONE Exchange — the input-side range repartition of the "
            "pmod(xxhash64(conv_id, salt), 64) bucket ids onto contiguous "
            "per-task ranges, then a sort of the thin input within "
            "partitions for the stable (conv_id, turn_idx) order.  The "
            "MapInArrow on top extracts and writes one Parquet file per "
            "bucket itself: the fat nested output never enters the JVM, "
            "only one small row per bucket file comes back.",
            formatted_plan(job),
        ),
        "admission_filter": (
            "all five validation predicates are pushed to the parquet scan "
            "(PushedFilters) and ReadSchema carries only the 4 projected columns.",
            formatted_plan(q["admission_filter"](spark, sf_dir)),
        ),
        "broadcast_region_customers": (
            "two BroadcastHashJoins — region/nation never shuffle the customer "
            "side (J3 page-dims enrichment pattern).",
            formatted_plan(q["broadcast_region_customers"](spark, sf_dir)),
        ),
        "overlap_anti_join_geometric": (
            "equi key + range residual as a genuine LeftAnti hash join "
            "(J1, image-recognition.service.ts:252-302).",
            formatted_plan(q["overlap_anti_join_geometric"](spark, sf_dir)),
        ),
        "q1_pricing_summary": (
            "partial HashAggregate → Exchange on the group key → final "
            "HashAggregate, all inside WholeStageCodegen; the shipdate filter is "
            "pushed to the scan.",
            formatted_plan(q["q1_pricing_summary"](spark, sf_dir)),
        ),
        "topk_orders": (
            "ORDER BY … LIMIT k compiles to TakeOrderedAndProject — no global "
            "sort is materialized.",
            formatted_plan(q["topk_orders"](spark, sf_dir)),
        ),
        "lsh_candidate_pairs": (
            "MinHash band join is a hash equi-join on (band_id, h1, h2) bucket "
            "keys — candidate generation without an all-pairs cross join; "
            "buckets capped at DEDUP_CAP.",
            formatted_plan(q["lsh_candidate_pairs"](spark, sf_dir)),
        ),
        "heavy_hitters": (
            "global vocabulary top-N: map-side partial HashAggregate → one "
            "Exchange on the token key → final HashAggregate → "
            "TakeOrderedAndProject; the vocabulary is never globally sorted.",
            formatted_plan(q["heavy_hitters"](spark, sf_dir)),
        ),
        "repetition_stats": (
            "staged projections: split(trim(text)) appears EXACTLY ONCE — "
            "materialized as an array alias before the gram lambda (an inline "
            "expression would re-split per element_at, O(words²) per doc) — "
            "and the per-doc scalars are computed before the Generate so they "
            "aren't re-evaluated per gram row.",
            formatted_plan(q["repetition_stats"](spark, sf_dir)),
        ),
        "embedding_cosine_dups": (
            "banded multi-table sign-LSH: candidates come from capped "
            "(band, bucket) groups — no CartesianProduct / nested-loop join "
            "anywhere; the bucket space (B_BANDS × 2^R_BITS) grows with "
            "config instead of being a constant.",
            formatted_plan(q["embedding_cosine_dups"](spark, sf_dir)),
        ),
        "range_join_events": (
            "trailing-window interval join as a time-bucket equi-join "
            "(left explodes into its two covering buckets, range predicate "
            "is an in-bucket residual) — pair fan-out bounded by bucket "
            "population, never a key-only join that goes quadratic in the "
            "hottest key, and no nested-loop join.",
            formatted_plan(q["range_join_events"](spark, sf_dir)),
        ),
        "pivot_event_matrix": (
            "pivot with an explicit value list: one scan + two agg pairs "
            "(groupBy(user,type) then pivotfirst by user) — no hidden "
            "distinct-scan job to discover the pivot columns.",
            formatted_plan(q["pivot_event_matrix"](spark, sf_dir)),
        ),
        "decontaminate": (
            "benchmark n-gram decontamination: the held-out gram set (fixed "
            "size at any corpus scale) reaches the membership test as a "
            "BroadcastHashJoin LeftSemi — the unbounded training side never "
            "shuffles for it and no join can go quadratic.",
            formatted_plan(q["decontaminate"](spark, sf_dir)),
        ),
        "line_dedup": (
            "C4-style corpus-wide segment dedup: the first-occurrence keeper "
            "per segment is a min(struct(doc_id, seg_idx)) AGGREGATION on the "
            "segment key — partial_min shrinks a hot duplicated segment "
            "map-side before the shuffle (a window row_number would sort the "
            "whole hot key in one task); mark-back is a plain equi-join, "
            "reassembly one keyed groupBy.  No Window operator anywhere.",
            formatted_plan(q["line_dedup"](spark, sf_dir)),
        ),
        "kmeans_step": (
            "one Lloyd iteration: the K-row codebook reaches assignment as a "
            "BroadcastExchange (corpus side never shuffles to be assigned); "
            "the centroid update is a keyed (cid, pos) partial+final "
            "aggregation after a posexplode fan-out — skew-free at any "
            "corpus size.",
            formatted_plan(q["kmeans_step"](spark, sf_dir)),
        ),
        "dedup_incremental": (
            "incremental-crawl admission: the same capped LSH band join as "
            "lsh_candidate_pairs generates new-batch collision pairs; one "
            "keyed aggregation over doc_b decides admission — no corpus "
            "rescan shape beyond the signature build, no quadratic join.",
            formatted_plan(q["dedup_incremental"](spark, sf_dir)),
        ),
        "semantic_decontaminate": (
            "embedding-space benchmark decontamination: the fixed-size "
            "benchmark band rows and scoring vectors arrive as "
            "BroadcastExchanges — the unbounded training side never "
            "shuffles to be vetted; the tagged signature table is "
            "localCheckpointed (evaluated once, consumed by four subtrees), "
            "which is why the leaves scan an ExistingRDD.",
            formatted_plan(q["semantic_decontaminate"](spark, sf_dir)),
        ),
        "boilerplate_strip": (
            "DOM-heuristic boilerplate strip: one pruned scan -> block "
            "fan-out projection -> doc-key window (prev/next context for "
            "the NumWordsRules classifier) -> keyed groupBy reassembly — "
            "no join, no UDF, at most the window/agg exchanges plus the "
            "presentation repartition.",
            formatted_plan(q["boilerplate_strip"](spark, sf_dir)),
        ),
        "ensemble_strip": (
            "2-of-3 majority-vote ensemble of the NumWordsRules / "
            "densitometric / jusText rungs: all three verdicts are "
            "computed on the jusText frame's single doc-keyed window sort "
            "(the rules/density context is five more lag/lead frames on "
            "the same key) — NO join of rung outputs anywhere — then one "
            "keyed groupBy reassembles the kept blocks.",
            formatted_plan(q["ensemble_strip"](spark, sf_dir)),
        ),
        "codec_grid_parity": (
            "real-codec end-to-end check: five container formats built "
            "byte-by-byte as native Spark SQL expressions (hex-concat -> "
            "unhex, Adler-32 as a SQL aggregate — no UDF anywhere in the "
            "payload construction), one mapInPandas decode+resize pass, "
            "presentation sort.  No shuffle at all before the final "
            "repartition: the whole check is a narrow map.",
            formatted_plan(q["codec_grid_parity"](spark, sf_dir)),
        ),
        "conv_topic_segments": (
            "TextTiling valley segmentation: the lead-token intersection "
            "and the valley context are consecutive windows on the SAME "
            "conv_id key and turn order — one data sort, 2 Window nodes, "
            "the only join is the turn resolution's BroadcastHashJoin.",
            formatted_plan(q["conv_topic_segments"](spark, sf_dir)),
        ),
        "secret_scan": (
            "credential scrubbing at scan speed: secret synthesis, four "
            "regexp_counts, and the 4-pattern redaction chain are one "
            "codegen'd projection over the resolved turns — no shuffle "
            "beyond the turn resolution's BroadcastHashJoin, no sort "
            "before the presentation device.",
            formatted_plan(q["secret_scan"](spark, sf_dir)),
        ),
        "conv_stitch_apply": (
            "log repair as sessionization: overlay lag, continuation lag, "
            "and the message-open running sum are windows on ONE conv_id "
            "sort; the merge is the array_sort(collect_list(struct)) "
            "ordered reduction keyed by (conv_id, message group) — no "
            "self-join back to the turn grid, nothing quadratic in "
            "conversation length.",
            formatted_plan(q["conv_stitch_apply"](spark, sf_dir)),
        ),
        "curation_funnel_v2": (
            "strip -> Gopher gate on stripped text -> exact dedup of "
            "stripped text in ONE DAG: the gate is a narrow projection "
            "riding the strip aggregate (keep= passthrough, no self-join), "
            "dedup one window on the content-hash key, then a single "
            "partial+final aggregation of the cumulative conjunctions "
            "unpivoted by stack.",
            formatted_plan(q["curation_funnel_v2"](spark, sf_dir)),
        ),
        "curation_funnel": (
            "the whole curation pipeline in one DAG: one broadcast "
            "LeftSemi (decon), then a groupBy on the content-hash key that "
            "IS the dedup (map-side partial agg collapses hot content "
            "keys; min(struct) carries the canonical member's flags — no "
            "Window), then the global stage-conjunction aggregate "
            "unpivoted by stack — no per-stage re-scan jobs, no "
            "driver-side loop.",
            formatted_plan(q["curation_funnel"](spark, sf_dir)),
        ),
        "inverted_index": (
            "phrase-term postings: (doc, term) tf agg → term-keyed DF count "
            "→ the df<=cap cutoff filter → BroadcastHashJoin → ranking "
            "Window ABOVE the cutoff (every window partition bounded by "
            "IDX_DF_MAX) with WindowGroupLimit pushing rank<=K into the "
            "sort — the index is vocabulary-sized, never corpus-sized.",
            formatted_plan(q["inverted_index"](spark, sf_dir)),
        ),
        "substring_dupes": (
            "ExactSubstr-style window-hash dedup: strided char windows "
            "explode → distinct (window, doc) → window-keyed count with "
            "map-side combine (boilerplate windows collapse before the "
            "shuffle) → window-keyed join back → doc-keyed sum.  Every "
            "shuffle on a natural key; no Window operator, no product join.",
            formatted_plan(q["substring_dupes"](spark, sf_dir)),
        ),
        "lsh_jaccard_verify": (
            "candidate verification: two doc-id hash joins bring the "
            "distinct shingle-hash arrays to the capped LSH pair list; "
            "per-pair cost is one array_intersect — no all-pairs product, "
            "and the pair list bounds everything downstream.",
            formatted_plan(q["lsh_jaccard_verify"](spark, sf_dir)),
        ),
        "event_outliers": (
            "exact-integer 3-sigma flags: one map-side-combined aggregate "
            "produces the per-type DECIMAL(38,0) stats row, which returns "
            "to the stream as a BroadcastExchange — the event side never "
            "shuffles to be flagged.",
            formatted_plan(q["event_outliers"](spark, sf_dir)),
        ),
        "frame_sample": (
            "multimodal sampling plumbing: media_type prunes BELOW the "
            "decode (a filter cannot push through MapInPandas) → one Arrow "
            "decode pass → JVM-side Generate (K uniform sample points) → "
            "byte-range arithmetic.  No join, no keyed shuffle.",
            formatted_plan(q["frame_sample"](spark, sf_dir)),
        ),
        "extraction_funnel": (
            "the flagship composition — extraction engine into curation: "
            "ONE MapInArrow kernel pass feeds the quality-gate projection, "
            "then a groupBy(md5(extracted_text)) aggregation that IS the "
            "exact dedup (map-side partial agg collapses a mass-duplicated "
            "extraction; no Window over a content key), and the final "
            "aggregate unpivoted by stack.  No join, no second kernel "
            "evaluation.",
            formatted_plan(q["extraction_funnel"](spark, sf_dir)),
        ),
        "substring_dupes_fast": (
            "production twin of substring_dupes: window strings are "
            "xxhash64-compressed BEFORE the explode, so every Exchange "
            "carries 8-byte LONG keys instead of 36-char strings — same "
            "natural-key plan shape, ~4x less shuffle volume, value-"
            "identical output (counts depend only on window equality).",
            formatted_plan(q["substring_dupes_fast"](spark, sf_dir)),
        ),
        "fast_parity": (
            "driver-visible value check for the xxhash64 production data "
            "plane: the portable banded pair list (capped) + two doc-id "
            "hash joins bring xxhash64 shingle SETS to each pair; exact "
            "Jaccard integers must equal what the oracle recomputes from "
            "the raw shingle strings.  No product join anywhere.",
            formatted_plan(q["fast_parity"](spark, sf_dir)),
        ),
        "token_surprisal": (
            "importance weighting in exact bits: token-keyed DF count "
            "(map-side combine) → corpus size joined as a broadcast 1-row "
            "frame (the single BroadcastNestedLoopJoin is a scalar join, "
            "not a product) → floor(log2) via binary-string length → "
            "doc-keyed sum.  Only vocabulary-sized state.",
            formatted_plan(q["token_surprisal"](spark, sf_dir)),
        ),
        "bloom_decon_audit": (
            "Bloom decontamination, the true 100 TB shape: the benchmark "
            "grams fold into a fixed 2^16-bit bitmap (word-keyed bit_or "
            "with map-side combine, config-bounded collect — the scalar-"
            "subquery materialization Spark's own runtime bloom filters "
            "perform), inlined as a constant-folded literal; every "
            "training gram is probed MAP-SIDE by K O(1) word-load+mask "
            "tests inside a projection — no join, no per-row filter copy, "
            "the corpus never shuffles for the membership test.  The "
            "audit pins the no-false-negative containment as a driver-"
            "checked constant.",
            formatted_plan(q["bloom_decon_audit"](spark, sf_dir)),
        ),
        "ann_recall_audit": (
            "recall@k of BOTH approximate ANN families (IVF + banded "
            "sign-LSH) vs exact ground truth: every side is an audited "
            "top-k plan (brute force scores against the broadcast 5-query "
            "set only); the k-row-per-query ground truth is "
            "localCheckpointed once for its four consumers; each "
            "comparison is a (query_id, neighbor_id) semi-join plus one "
            "keyed aggregate.",
            formatted_plan(q["ann_recall_audit"](spark, sf_dir)),
        ),
        "minhash_band_sweep": (
            "LSH banding calibration: the shingle+minhash pipeline is "
            "evaluated ONCE (localCheckpoint — zero parquet scans in the "
            "sweep plan); each (b, r) scheme is its own capped band-bucket "
            "collect + in-array pair explosion + two doc-id hash joins to "
            "the signature frame, reduced to one stats row.  Nothing "
            "quadratic at any scheme.",
            formatted_plan(q["minhash_band_sweep"](spark, sf_dir)),
        ),
        "extract_spans": (
            "span half of the extraction contract: ONE MapInArrow kernel "
            "pass → JVM-side posexplode of the span array → substring "
            "projection addressed by the span offsets.  Narrow after the "
            "kernel — no join, no keyed shuffle; the oracle re-derives "
            "offsets from document geometry independently.",
            formatted_plan(q["extract_spans"](spark, sf_dir)),
        ),
        "shard_stats": (
            "packing observability: the per-(lang, shard) fill audit is "
            "ONE keyed aggregate over the packing assignment (map-side "
            "combine) — the lang-keyed packing window itself is the only "
            "other shuffle, and output is shard-count-sized.",
            formatted_plan(q["shard_stats"](spark, sf_dir)),
        ),
        "dedup_family_agreement": (
            "three-family candidate Venn: LSH band buckets (DEDUP_CAP), "
            "DF-cut shingle intersection buckets, and SimHash fingerprint "
            "buckets (DEDUP_CAP) each generate their bounded pair list; "
            "the merge is a unionByName + ONE groupBy on the pair key "
            "(map-side combine) + a 7-region aggregate.  No product join, "
            "no Window.",
            formatted_plan(q["dedup_family_agreement"](spark, sf_dir)),
        ),
        "bpe_pair_counts": (
            "tokenizer-training inner loop: the corpus collapses to the "
            "VOCABULARY first (word-keyed partial+final HashAggregate), the "
            "character-pair explode runs over distinct words only, and the "
            "final pair count is alphabet²-bounded.  Two Generates, no "
            "Window, no join.",
            formatted_plan(q["bpe_pair_counts"](spark, sf_dir)),
        ),
        "source_leakage_matrix": (
            "cross-source contamination Venn: grams dedup to (source, gram) "
            "on the scan side, the self-join is a hash equi-join on the gram "
            "key, and the S-row per-source totals return by broadcast — "
            "output bounded by S² source pairs.",
            formatted_plan(q["source_leakage_matrix"](spark, sf_dir)),
        ),
        "curriculum_stages": (
            "scale-honest exact quantiles: NO global row_number over the "
            "corpus — the length histogram (one keyed aggregate) carries the "
            "cumulative window over its distinct-lengths frame, and the "
            "stage boundaries broadcast-join back onto documents by length.",
            formatted_plan(q["curriculum_stages"](spark, sf_dir)),
        ),
        "packed_doc_spans": (
            "document-boundary offsets in packed shards: the packing "
            "window (lang-keyed) plus a MIN window over (lang, shard_id) — "
            "partitions are shard-sized by construction of the token "
            "budget, never skew-sized.",
            formatted_plan(q["packed_doc_spans"](spark, sf_dir)),
        ),
        "seqlen_buckets": (
            "power-of-two length histogram via the integer-log2 pattern "
            "(length(bin(n))-1): one projection, one keyed aggregate with "
            "map-side combine, ~60-row output.",
            formatted_plan(q["seqlen_buckets"](spark, sf_dir)),
        ),
        "curation_incremental": (
            "daily-ingest admission: the index collapses to DISTINCT "
            "normalized keys (key-only aggregate, never the corpus rows), "
            "the novelty test is one hash equi-join on the key, the "
            "quality gate rides the shared one-scan gopher chain.",
            formatted_plan(q["curation_incremental"](spark, sf_dir)),
        ),
        "source_token_drift": (
            "mixture drift monitor: (source, token)-keyed counts with "
            "map-side combine, a token-keyed join to the vocabulary-sized "
            "corpus counts, S-row totals by broadcast, and DECIMAL(38,0) "
            "cross-multiplication so nothing wraps at 100-TB counts; the "
            "absent-token mass is a closed form, so only present tokens "
            "ever join.",
            formatted_plan(q["source_token_drift"](spark, sf_dir)),
        ),
        "dedup_cluster_stats": (
            "cluster-size observability: label- and size-keyed aggregates "
            "over the shared capped-LSH + CC labels; output bounded by "
            "distinct component sizes.",
            formatted_plan(q["dedup_cluster_stats"](spark, sf_dir)),
        ),
        "mixture_rebalance": (
            "mixture solver: one source-keyed token aggregate with "
            "map-side combine, the global-min scale folds to ONE row that "
            "broadcasts back over the S-row frame — no window, nothing "
            "corpus-sized past the first aggregate.",
            formatted_plan(q["mixture_rebalance"](spark, sf_dir)),
        ),
        "cms_heavy_audit": (
            "relational count-min sketch: vocabulary-keyed exact counts "
            "with map-side combine, D x W counter aggregation, heavy "
            "hitters via TakeOrderedAndProject, probe joins the BROADCAST "
            "counter table — sketch state is O(D*W) at any corpus size.",
            formatted_plan(q["cms_heavy_audit"](spark, sf_dir)),
        ),
        "hll_distinct_audit": (
            "relational integer HyperLogLog: ONE aggregation chain — "
            "distinct (source, gram), (source, bucket) partial max, then "
            "<=64 register rows fold to one row per source carrying BOTH "
            "the exact count and the sketch estimate; no join, no window.",
            formatted_plan(q["hll_distinct_audit"](spark, sf_dir)),
        ),
        "skew_salted_join": (
            "salt-splintered hot-key join: the per-source aggregate is "
            "replicated SALT ways, the fact side salts on pmod(doc_id), "
            "and the Exchange partitions on (source, salt) — a source "
            "holding most of the corpus lands on SALT reducers instead of "
            "one; shuffle_hash hinted, NO broadcast (the shape that "
            "survives a dim too large to broadcast).",
            formatted_plan(q["skew_salted_join"](spark, sf_dir)),
        ),
        "audio_features": (
            "audio decode: media_type pruned BELOW the Arrow decode node "
            "(a filter cannot push through MapInPandas), then ONE "
            "embarrassingly-parallel batch pass — real RIFF/PCM WAV stats "
            "in exact integers, digest stub for codec-bound formats; no "
            "join, no keyed shuffle.",
            formatted_plan(q["audio_features"](spark, sf_dir)),
        ),
        "thumbnail_dedup": (
            "perceptual image dedup: media_type pruned BELOW the decode, "
            "ONE Arrow-batched grid pass (eager localCheckpoint — the "
            "final plan has no MapInPandas; without it the decode subtree "
            "clones into both consumers), then the line_dedup keeper shape "
            "— grouped min on the grid key + equi-join mark-back, no "
            "window over the hot content key.",
            formatted_plan(q["thumbnail_dedup"](spark, sf_dir)),
        ),
        "url_canonicalize": (
            "URL canonicalization: one codegen'd regex/list projection over "
            "the scan — zero shuffles before the presentation sort; runs at "
            "parquet-read speed on any corpus.",
            formatted_plan(q["url_canonicalize"](spark, sf_dir)),
        ),
        "domain_stats": (
            "registrable-domain rollup: distinct-first two-level aggregate — "
            "(domain, canon_url) partial-aggregates map-side BEFORE the "
            "shuffle so a hot domain arrives pre-collapsed; no COUNT "
            "DISTINCT state, no window.",
            formatted_plan(q["domain_stats"](spark, sf_dir)),
        ),
        "pagerank_step": (
            "one PageRank power iteration in integer basis points: edges "
            "explode JVM-side from the vertex scan, ONE keyed shuffle "
            "groups contributions by destination, the rank join back is "
            "co-keyed on doc_id, and the corpus-size scalar rides a 1-row "
            "broadcast — per iteration at 100 TB: one shuffle of the edge "
            "list, nothing quadratic, no driver state.",
            formatted_plan(q["pagerank_step"](spark, sf_dir)),
        ),
        "perplexity_buckets": (
            "CCNet perplexity tiers: bigram-keyed count with map-side "
            "combine, context totals derived from the VOCAB-sized pair "
            "table (not a second corpus-wide shuffle), keyed join back, "
            "doc-keyed sum; the tercile cut is the curriculum_stages "
            "histogram trick — the only Window runs over the distinct-score "
            "frame, never the corpus.",
            formatted_plan(q["perplexity_buckets"](spark, sf_dir)),
        ),
        "source_cap": (
            "exact per-key cap without a corpus-wide window: per-key "
            "hash-threshold prefilter (expected CAP_K*CAP_OVER survivors "
            "per key regardless of skew, checkpointed), row_number + "
            "WindowGroupLimit over the bounded candidates only, and an "
            "exactness fallback branch (the single remaining parquet scan) "
            "that re-admits any key the probabilistic prefilter undershot.",
            formatted_plan(q["source_cap"](spark, sf_dir)),
        ),
        "url_dedup": (
            "canonical-URL dedup (the first dedup rung of a crawl "
            "pipeline): the line_dedup keeper shape — groupBy(canon_url) "
            "min + equi-join mark-back, NO window, so a page re-crawled "
            "10^6 times collapses in the map-side partial aggregate.",
            formatted_plan(q["url_dedup"](spark, sf_dir)),
        ),
        "domain_policy": (
            "domain-level keep/cap/drop gate: URL layer equi-joined to the "
            "quality signals on the base doc key (one keyed shuffle each), "
            "then the distinct-first two-level domain aggregate; verdicts "
            "are integer CASEs on the domain-sized result — no window, no "
            "cartesian anywhere.",
            formatted_plan(q["domain_policy"](spark, sf_dir)),
        ),
        "pdf_extract": (
            "PDF / layout extraction: pure map — synthesize + parse the "
            "document's PDF inside ONE Arrow kernel; a single pruned scan "
            "(doc_id, text), no Join, no Exchange before the presentation "
            "repartition.  At 100 TB the job is embarrassingly parallel "
            "over document partitions, identical to extract_fulltext.",
            formatted_plan(q["pdf_extract"](spark, sf_dir)),
        ),
        "pdf_line_spans": (
            "per-line span records emitted KERNEL-side (offset arithmetic "
            "inside the Arrow pass), so no per-doc window shuffle exists: "
            "one scan, no Join, no Window, presentation Exchange only.",
            formatted_plan(q["pdf_line_spans"](spark, sf_dir)),
        ),
        "semdedup_prune": (
            "SemDeDup: broadcast codebook assignment (BroadcastNestedLoop "
            "over N_CENTROIDS rows, never a corpus shuffle), assignment "
            "localCheckpointed (ExistingRDD) so it evaluates once, pair "
            "generation cluster-capped via WindowGroupLimit, tallies are "
            "keyed aggregates — no cartesian, nothing quadratic corpus-wide.",
            formatted_plan(q["semdedup_prune"](spark, sf_dir)),
        ),
        "dsir_weights": (
            "DSIR selection: bigram feature stream -> ONE map-side-combined "
            "aggregate producing BOTH bucket count tables -> 256-row weight "
            "table broadcast back (BroadcastHashJoin) -> per-doc keyed sum. "
            "The stream re-evaluates for scoring instead of materializing a "
            "corpus-size intermediate; no window, no sort-merge join.",
            formatted_plan(q["dsir_weights"](spark, sf_dir)),
        ),
        "ann_hard_negatives": (
            "hard-negative mining: the audited broadcast-brute shape — "
            "corpus x broadcast(query set), label filter below the "
            "per-query rank window; fan-out bounded by the query-set size.",
            formatted_plan(q["ann_hard_negatives"](spark, sf_dir)),
        ),
        "tokenizer_fertility": (
            "fertility audit: one pruned scan, one map-side-combined "
            "groupBy(source), ratios as integer basis points in the final "
            "projection — no joins, no windows, no Python.",
            formatted_plan(q["tokenizer_fertility"](spark, sf_dir)),
        ),
        "conv_prefix_containment": (
            "retry/resume dedup: the containment join is an EQUI hash join "
            "on full md5-chain prefixes (true-duplicate groups — group "
            "sizes track the real retry rate, never a coarse bucket); "
            "prefix fan-out per conversation is bounded by its turn count; "
            "every window/aggregate is conv_id-keyed.",
            formatted_plan(q["conv_prefix_containment"](spark, sf_dir)),
        ),
        "transcript_funnel": (
            "conversation-level curation funnel: turns localCheckpointed "
            "once (ExistingRDD), three conv_id-keyed flag branches (lag "
            "window / chain join / cumulative window) meet in two equi "
            "joins on conv_id and collapse in one global aggregate of "
            "cumulative conjunctions — nothing shuffles on anything but "
            "conv_id or a true-duplicate hash chain.",
            formatted_plan(q["transcript_funnel"](spark, sf_dir)),
        ),
        "fork_preference_pairs": (
            "RLHF pair mining: fork groups keyed by full md5-chain "
            "prefixes; the per-group original-vs-final reduction is "
            "min_by/max_by AGGREGATION (map-side combinable) — no window, "
            "no product join, per-doc work bounded by turn count.",
            formatted_plan(q["fork_preference_pairs"](spark, sf_dir)),
        ),
        "sft_pack_conversations": (
            "conversation-aware packing: one conv_id-keyed cumulative "
            "window (turn offsets), one stream-keyed cumulative window "
            "(the packing scan — parallelism per stream), one sample-sized "
            "MIN window for base offsets, one equi join back to turns. "
            "The packed sample text is never built — offset arithmetic "
            "only.",
            formatted_plan(q["sft_pack_conversations"](spark, sf_dir)),
        ),
        "pdf_extraction_funnel": (
            "PDF tier composed with curation: ONE MapInPandas parse pass "
            "over the union with the republication overlay, gate flags in "
            "a narrow projection, then the content-hash aggregation that "
            "IS the dedup (map-side partial agg collapses re-published "
            "extractions; no mark-back join, no window).",
            formatted_plan(q["pdf_extraction_funnel"](spark, sf_dir)),
        ),
        "turn_credit_decay": (
            "credit assignment: terminal reward distributes over the "
            "conversation via ONE bounded conv_id-keyed window (max of a "
            "last-turn CASE); the decay is an integer shift projection — "
            "no join back, per-conversation cost = its turn rows.",
            formatted_plan(q["turn_credit_decay"](spark, sf_dir)),
        ),
        "span_corruption_masks": (
            "span-corruption plan: pure projection + JVM-side sequence "
            "explode (fan-out n_tokens/CORRUPT_WIN per doc) — zero "
            "shuffles before the presentation repartition; the mask is a "
            "closed-form integer function of (doc_id, window).",
            formatted_plan(q["span_corruption_masks"](spark, sf_dir)),
        ),
        "corpus_report": (
            "dataset card: one scan through the shared gopher_flags "
            "projection, then ONE source-keyed aggregate whose two "
            "distinct counts ride Spark's Expand-based multi-distinct "
            "rewrite (map-side partial dedup) — output source-bounded, "
            "no window, no self-join.",
            formatted_plan(q["corpus_report"](spark, sf_dir)),
        ),
        "split_leakage_audit": (
            "split leakage: per-gram split presence is one gram-keyed "
            "aggregate of three max flags (map-side combine — never a "
            "COUNT DISTINCT per split pair); the contaminated-doc count "
            "is one gram-keyed semi join; output is 4 audit rows.",
            formatted_plan(q["split_leakage_audit"](spark, sf_dir)),
        ),
        "ngram_novelty_curve": (
            "vocabulary growth: first occurrence per gram is a gram-keyed "
            "MIN aggregate (a 10^6-duplicated gram collapses per "
            "partition); deciles via a broadcast 1-row grand max; the "
            "cumulative sum runs over the 10-row decile frame "
            "(driver-sized, the vocab_coverage convention).",
            formatted_plan(q["ngram_novelty_curve"](spark, sf_dir)),
        ),
    }


def write_plans_md(path: str = "PLANS.md", sf_dir: str = "/root/testdata/sf0.01") -> str:
    from .session import get_spark

    spark = get_spark(app_name="plans")
    try:
        report = plan_report(spark, sf_dir)
        with open(path, "w") as f:
            f.write(
                "# PLANS — physical plans of the key queries (`EXPLAIN FORMATTED`)\n\n"
                "Generated by `python -m ocr_mini_service_spark.plans`; the plan\n"
                "properties below are asserted by tests/test_plans.py.\n"
            )
            for name, (note, plan) in report.items():
                f.write(f"\n## {name}\n\n{note}\n\n```\n{plan}```\n")
    finally:
        spark.stop()
    return path


if __name__ == "__main__":
    print(write_plans_md())
