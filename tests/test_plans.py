"""Physical-plan assertions — the scale-design claims (SURVEY.md §4.2) hold
in the actual Catalyst output, not just in prose."""

import re

import pytest

import __spark_entry__ as entry
from ocr_mini_service_spark.hierarchy import extract_hierarchy
from ocr_mini_service_spark.manifest import bucketed_write_plan
from ocr_mini_service_spark.pipeline import extract_fused
from ocr_mini_service_spark.plans import formatted_plan
from ocr_mini_service_spark.synth import gen_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(gen_transcripts(200))


def test_fused_hot_path_has_no_exchange(spark, transcripts):
    plan = formatted_plan(extract_fused(transcripts))
    assert "Exchange" not in plan, plan


def test_hierarchy_has_no_exchange(spark, transcripts):
    """The rollup is one narrow Arrow pass: each turn's elements depend only
    on its own TSV, so nothing is shuffled, windowed or joined."""
    plan = formatted_plan(extract_hierarchy(transcripts))
    for op in ("Exchange", "Window", "Join"):
        assert op not in plan, plan


def test_batch_job_has_exactly_one_exchange(spark, transcripts, tmp_path):
    """The production write plan (the one run_with_manifest executes): one
    Exchange, range partitioning of the bucket id onto n_tasks ranges.  The
    extracting and writing tasks sit above it, in the job's result stage,
    whose collect() returns one successful attempt per partition (each
    bucket written and counted once; tests/test_manifest_tasks.py retries a
    task)."""
    n_tasks = 3
    staging = f"file:{tmp_path}/_staging/plan"
    plan = formatted_plan(bucketed_write_plan(transcripts, 64, n_tasks, staging))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert re.search(
        rf"rangepartitioning\(bucket#\d+ ASC NULLS FIRST, {n_tasks}\)", plan
    ), plan
    tree = plan.split("\n\n")[0]
    assert tree.index("MapInArrow") < tree.index("Exchange"), plan


def test_admission_filter_pushes_predicates_and_prunes_columns(spark, sf_dir):
    plan = formatted_plan(entry.queries()["admission_filter"](spark, sf_dir))
    m = re.search(r"PushedFilters: (.*)", plan)
    assert m and "IsNotNull" in m.group(1), plan
    assert "GreaterThan(n_chars,50)" in m.group(1), plan
    assert "StringStartsWith(source,c)" in m.group(1), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "text" in m.group(1), plan  # length(text) needs the column
    # the scan does not read the full 5-column table for its own sake: every
    # read column is used (doc_id, lang, source, n_chars projected; text filtered)
    assert set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id", "text", "lang", "source", "n_chars"
    }, plan


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = formatted_plan(entry.queries()["broadcast_region_customers"](spark, sf_dir))
    # "(n) BroadcastHashJoin" = one tree node (names repeat in the details)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_overlap_anti_join_is_left_anti(spark, sf_dir):
    plan = formatted_plan(entry.queries()["overlap_anti_join_geometric"](spark, sf_dir))
    assert "LeftAnti" in plan, plan


def test_cosine_dups_has_no_cross_join_and_scaled_bucket_space(spark, sf_dir):
    """The near-dup candidate stage must be bucket-grouped, never a product
    join, and the sign-LSH bucket space must be a config that grows (banded
    multi-table), not a hard-wired constant."""
    from ocr_mini_service_spark.operators.similarity import B_BANDS, R_BITS

    plan = formatted_plan(entry.queries()["embedding_cosine_dups"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert B_BANDS * 2**R_BITS >= 1024  # vs the 16-bucket constant of round 1


def test_topk_is_take_ordered(spark, sf_dir):
    plan = formatted_plan(entry.queries()["topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_heavy_hitters_is_two_stage_agg_plus_take_ordered(spark, sf_dir):
    """Global top-N = map-side partial count + one token-key Exchange +
    TakeOrderedAndProject — never a global sort of the vocabulary."""
    plan = formatted_plan(entry.queries()["heavy_hitters"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan


def test_repetition_stats_splits_text_exactly_once(spark, sf_dir):
    """Pins the staged-projection fix: referencing the split() expression
    from inside the gram lambda would inline a re-split per element_at call
    (O(words²) per doc); the words array must be materialized so the plan
    contains exactly one split over the text column."""
    plan = formatted_plan(entry.queries()["repetition_stats"](spark, sf_dir))
    assert len(re.findall(r"split\(trim\(text", plan)) == 1, plan


def test_sample_split_prunes_scan_columns(spark, sf_dir):
    plan = formatted_plan(entry.queries()["sample_split"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id", "text"
    }, plan


def test_q1_filter_pushdown_and_codegen(spark, sf_dir):
    df = entry.queries()["q1_pricing_summary"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "IsNotNull(l_shipdate)" in plan, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan  # partial + final
    # codegen spans live in the codegen explain mode (formatted mode under AQE
    # prints isFinalPlan=false without codegen ids)
    assert "WholeStageCodegen" in formatted_plan(df, mode="codegen")


def test_range_join_is_bucketed_equi_join(spark, sf_dir):
    """The trailing-window join must run as an equi-join on (key, time
    bucket) with the range predicate as an in-bucket residual — a key-only
    join with a range filter (or a pure theta join) degrades to
    nested-loop / all-pairs-per-key at scale."""
    plan = formatted_plan(entry.queries()["range_join_events"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # join keys include the synthetic _bucket column on both sides
    assert re.search(r"Join.*_bucket", plan) or "_bucket" in plan, plan


def test_pivot_is_single_pass_aggregate(spark, sf_dir):
    """Pivot with an explicit value list compiles to one partial+final
    aggregate pair — no extra distinct-scan job to discover columns."""
    plan = formatted_plan(entry.queries()["pivot_event_matrix"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_line_dedup_keeper_is_aggregation_not_window(spark, sf_dir):
    """The first-occurrence keeper per segment must be a min(struct)
    AGGREGATION on the segment key (map-side partial min shrinks a
    10^6-duplicated segment per input partition before the shuffle) — a
    window row_number over the segment key would instead sort every copy of
    the hottest segment in a single task."""
    plan = formatted_plan(entry.queries()["line_dedup"](spark, sf_dir))
    assert "partial_min" in plan or re.search(
        r"HashAggregate.*min", plan
    ), plan
    # the only Window allowed is none at all: keeper + reassembly are agg/join
    assert "(\\d+) Window" not in plan and not re.search(r"\(\d+\) Window", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_gopher_rules_is_single_scan_no_shuffle(spark, sf_dir):
    """The rule gate is one narrow projection chain: a single pruned scan
    (doc_id, text) and no Exchange before the presentation sort."""
    plan = formatted_plan(entry.queries()["gopher_rules"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id", "text"
    }, plan
    # repartition(1) for the driver-sized presentation is the only exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_kmeans_assignment_broadcasts_the_codebook(spark, sf_dir):
    """Lloyd assignment must broadcast the K-row codebook (a
    BroadcastNestedLoopJoin over K rows is the intended narrow shape);
    the corpus side never shuffles for the assignment itself."""
    plan = formatted_plan(entry.queries()["kmeans_step"](spark, sf_dir))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_boilerplate_strip_is_one_scan_two_exchanges(spark, sf_dir):
    """Block classify + strip: one pruned parquet scan feeding a doc-key
    window and a doc-key groupBy — at most the window Exchange, the
    aggregation Exchange (if not reused), and the presentation repartition;
    never a join or a second scan."""
    plan = formatted_plan(entry.queries()["boilerplate_strip"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan
    assert "Join" not in plan, plan


def test_semantic_decontaminate_broadcasts_the_benchmark(spark, sf_dir):
    """The fixed-size benchmark side must reach both the candidate join and
    the scoring join as broadcasts; the training side never shuffles to be
    vetted and nothing degenerates to a product join."""
    plan = formatted_plan(entry.queries()["semantic_decontaminate"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_verify_joins_are_hash_joins(spark, sf_dir):
    """Candidate verification must bring the two shingle-hash arrays to the
    capped pair list via doc-id HASH joins — per-pair cost O(|sh_a|+|sh_b|)
    array intersection; never a product join over documents or pairs."""
    plan = formatted_plan(entry.queries()["lsh_jaccard_verify"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "array_intersect" in plan, plan


def test_funnel_v3_decon_is_broadcast_and_no_product_join(spark, sf_dir):
    """The near-dup funnel's decontamination stage must broadcast the
    fixed-size benchmark gram set as a LeftSemi membership probe, and no
    stage of the composed DAG may degenerate to a product join."""
    plan = formatted_plan(entry.queries()["curation_funnel_v3"](spark, sf_dir))
    assert re.search(r"BroadcastHashJoin LeftSemi", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_token_rarity_prunes_scan_and_uses_keyed_aggs(spark, sf_dir):
    """The rarity signal reads only (doc_id, text) and computes via keyed
    hash aggregates (map-side partial combine on the token key) — no Window
    over the vocabulary, no product join."""
    plan = formatted_plan(entry.queries()["token_rarity"](spark, sf_dir))
    # the DF-count branch prunes even doc_id away — each scan reads a
    # subset of (doc_id, text), never the full 5-column table
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert set(c.split(":")[0] for c in m.group(1).split(",")) <= {
            "doc_id", "text"
        }, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan
    assert not re.search(r"\(\d+\) Window", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_retention_cohorts_prunes_scan_no_distinct_count_state(spark, sf_dir):
    """Retention reads only (user_id, ts); the cohort cell count is a plain
    COUNT(*) over rows already distinct per (user, day) — the plan must not
    carry per-group distinct-count state, and every join is a hash join."""
    plan = formatted_plan(entry.queries()["retention_cohorts"](spark, sf_dir))
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert set(c.split(":")[0] for c in m.group(1).split(",")) == {
            "user_id", "ts"
        }, plan
    assert not re.search(r"count\(distinct", plan, re.IGNORECASE), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_estimate_joins_signatures_by_hash_join(spark, sf_dir):
    """The estimator brings fixed-width signature rows to the capped pair
    list by doc-id hash joins — never a product join over signatures."""
    plan = formatted_plan(entry.queries()["minhash_jaccard_estimate"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_band_sweep_evaluates_signatures_once_and_hash_joins(spark, sf_dir):
    """The banding sweep computes the shingle+minhash pipeline exactly ONCE
    (localCheckpoint — zero parquet scans survive into the sweep plan); each
    scheme's estimator brings signatures to its capped pair list via doc-id
    hash joins, never a product join, and no Window over the corpus."""
    plan = formatted_plan(entry.queries()["minhash_band_sweep"](spark, sf_dir))
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert not re.search(r"\(\d+\) Window", plan), plan


def test_family_agreement_is_bounded_and_keyed(spark, sf_dir):
    """Every family's pair generator stays its capped/bounded bucket shape
    inside the composed Venn plan (band buckets, DF-cut shingle buckets,
    fingerprint buckets) — no product join anywhere, and the Venn merge is
    a keyed aggregate, not a Window."""
    plan = formatted_plan(entry.queries()["dedup_family_agreement"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert not re.search(r"\(\d+\) Window", plan), plan


def test_substring_dupes_prunes_scan_and_is_keyed_aggs(spark, sf_dir):
    """Exact-substring dedup reads only (doc_id, text); every shuffle is on
    a natural key (window string / doc_id) — no Window operator over the
    corpus, no product join."""
    plan = formatted_plan(entry.queries()["substring_dupes"](spark, sf_dir))
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert set(c.split(":")[0] for c in m.group(1).split(",")) <= {
            "doc_id", "text"
        }, plan
    assert not re.search(r"\(\d+\) Window", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_inverted_index_window_is_behind_the_df_cutoff(spark, sf_dir):
    """The per-term ranking window must sit ABOVE the DF-cutoff join (the
    cutoff bounds every window partition to IDX_DF_MAX rows); the scan reads
    only (doc_id, text) and nothing degenerates to a product join."""
    from ocr_mini_service_spark.operators.corpus import IDX_DF_MAX, IDX_TOPK

    plan = formatted_plan(entry.queries()["inverted_index"](spark, sf_dir))
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert set(c.split(":")[0] for c in m.group(1).split(",")) <= {
            "doc_id", "text"
        }, plan
    assert "CartesianProduct" not in plan, plan
    # the DF cutoff is a real filter node on the df column
    assert re.search(rf"df#\d+L? <= {IDX_DF_MAX}\b", plan), plan
    # formatted-plan ids are post-order (higher = closer to root): the
    # ranking Window must sit ABOVE the cutoff join, so its partition is
    # bounded by IDX_DF_MAX rows
    win = re.search(r"\((\d+)\) Window\b", plan)
    join = re.search(r"\((\d+)\) \w*Join", plan)
    assert win and join and int(win.group(1)) > int(join.group(1)), plan
    # and Spark pushes the rank<=K limit into the window itself
    assert "WindowGroupLimit" in plan, plan
    assert IDX_TOPK <= IDX_DF_MAX  # the window cap is the tighter bound


def test_event_outliers_broadcasts_the_stats_row(spark, sf_dir):
    """The per-type stats (event-type vocabulary, tiny at any scale) must
    broadcast back onto the stream; the event side never shuffles to be
    flagged."""
    plan = formatted_plan(entry.queries()["event_outliers"](spark, sf_dir))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert set(c.split(":")[0] for c in m.group(1).split(",")) <= {
            "event_id", "event_type", "value"
        }, plan


def test_media_resize_is_one_pass_no_shuffle(spark, sf_dir):
    """Thumbnailing is an embarrassingly parallel map: one scan, one Arrow
    kernel, no Join, and no Exchange beyond the presentation repartition."""
    plan = formatted_plan(entry.queries()["media_resize"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_pdf_extract_is_one_pass_no_shuffle(spark, sf_dir):
    """PDF extraction is pure map (build+parse per document in one Arrow
    kernel): one scan, only doc_id+text read, no Join, no Exchange beyond
    the presentation repartition — at 100 TB the job stays shuffle-free."""
    plan = formatted_plan(entry.queries()["pdf_extract"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan
    assert re.search(r"ReadSchema:.*doc_id.*text", plan), plan


def test_pdf_line_spans_is_one_pass_no_shuffle(spark, sf_dir):
    """Span rows are emitted kernel-side (offset arithmetic inside the Arrow
    pass), so there is no per-doc window shuffle: one scan, no Join, only
    the presentation Exchange."""
    plan = formatted_plan(entry.queries()["pdf_line_spans"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_frame_sample_explodes_jvm_side_no_join(spark, sf_dir):
    """Frame sampling is decode -> JVM-side Generate (explode) ->
    arithmetic: one scan, no Join, no keyed shuffle."""
    plan = formatted_plan(entry.queries()["frame_sample"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert re.search(r"\(\d+\) Generate", plan), plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_decontaminate_is_broadcast_semi_join(spark, sf_dir):
    """The benchmark gram set (fixed-size at any corpus scale) must reach
    the membership test as a broadcast LeftSemi — never a shuffled join on
    the unbounded training-gram side, never a cartesian product."""
    plan = formatted_plan(entry.queries()["decontaminate"](spark, sf_dir))
    assert re.search(r"BroadcastHashJoin LeftSemi", plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_winnowing_is_per_doc_array_work_no_join(spark, sf_dir):
    """Fingerprint selection is per-doc array work: one scan, no Join, no
    Window; the only shuffles are the selected-set distinct and the
    presentation repartition."""
    plan = formatted_plan(entry.queries()["winnowing_fingerprints"](spark, sf_dir))
    # two scans = the docs ∪ mutant-overlay union branches, nothing more
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan
    assert "Join" not in plan, plan
    assert not re.search(r"\(\d+\) Window", plan), plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan


def test_quality_classifier_is_single_scan_no_shuffle(spark, sf_dir):
    """The graded scorer rides the same one-scan narrow projection chain
    as the rule gate — no Exchange before the presentation sort."""
    plan = formatted_plan(entry.queries()["quality_classifier"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_embedding_hygiene_is_one_keyed_aggregate(spark, sf_dir):
    """The audit is per-row array folds + ONE label-keyed aggregation with
    a map-side partial (two HashAggregates, one label Exchange) — the
    output is label-sized, never corpus-sized."""
    plan = formatted_plan(entry.queries()["embedding_hygiene"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan
    # exactly the label Exchange + the presentation repartition — no input
    # repartition shuffling the wide embedding column for a cheap fold
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) <= 2, plan


def test_extraction_funnel_runs_the_kernel_exactly_once(spark, sf_dir):
    """The flagship composition evaluates the fused Arrow kernel ONCE: one
    MapInArrow node feeding the gate projection, the content-key dedup
    aggregation, and the final aggregate — no join, no second kernel pass."""
    plan = formatted_plan(entry.queries()["extraction_funnel"](spark, sf_dir))
    assert len(set(re.findall(r"\((\d+)\) MapInArrow", plan))) == 1, plan
    assert "Join" not in plan, plan
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) <= 4, plan


def test_extraction_funnel_keeper_is_aggregation_not_window(spark, sf_dir):
    """The exact-dedup keeper over the extracted text must be an AGGREGATION
    on the content-hash key (map-side partial agg collapses a
    mass-duplicated extraction per input partition before the shuffle) — a
    window over the content key would sort the whole hot key in one task
    (VERDICT r3 item 3)."""
    plan = formatted_plan(entry.queries()["extraction_funnel"](spark, sf_dir))
    assert not re.search(r"\(\d+\) Window", plan), plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan


def test_pdf_extraction_funnel_runs_the_kernel_exactly_once(spark, sf_dir):
    """The PDF funnel evaluates the PDF parse kernel ONCE: one MapInPandas
    node (over the union with the republication overlay) feeding the gate
    projection and the content-key dedup aggregation — no join, no second
    kernel pass, and the keeper is an aggregation, never a window."""
    plan = formatted_plan(entry.queries()["pdf_extraction_funnel"](spark, sf_dir))
    assert len(set(re.findall(r"\((\d+)\) MapInPandas", plan))) == 1, plan
    assert "Join" not in plan, plan
    assert not re.search(r"\(\d+\) Window", plan), plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) <= 4, plan


def test_span_corruption_masks_is_shuffle_free(spark, sf_dir):
    """The mask plan is a pure projection + JVM-side explode — nothing
    shuffles before the presentation repartition (one Exchange total)."""
    plan = formatted_plan(entry.queries()["span_corruption_masks"](spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan, plan
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) <= 1, plan


def test_corpus_report_is_one_expand_aggregate(spark, sf_dir):
    """The dataset card is ONE source-keyed aggregation (the two distinct
    counts ride Spark's expand rewrite) — no window, no self-join of the
    corpus back onto itself."""
    plan = formatted_plan(entry.queries()["corpus_report"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert "Expand" in plan, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan
    # the only joins allowed are none: base ∪ overlay is a union
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_curation_funnel_keeper_is_aggregation_not_window(spark, sf_dir):
    """Same keeper rule for the exact-dedup stage of the curation funnel:
    groupBy(md5(text)) aggregation (group size + text-constant flags +
    min(struct) for the canonical member's doc-determined flags), never a
    window over the content key (VERDICT r3 item 3)."""
    plan = formatted_plan(entry.queries()["curation_funnel"](spark, sf_dir))
    assert not re.search(r"\(\d+\) Window", plan), plan
    assert re.search(r"partial_min|HashAggregate.*min", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_curation_funnel_v2_keeper_is_aggregation_not_window(spark, sf_dir):
    """v2's dedup stage must be the ck-keyed aggregation shape too — the
    classifier windows upstream are doc_id-keyed (prev/next block context),
    so the only permitted Window partitions on doc_id, never the content
    key (VERDICT r3 item 3, closed for v2 in r4)."""
    plan = formatted_plan(entry.queries()["curation_funnel_v2"](spark, sf_dir))
    for m in re.finditer(
        r"\(\d+\) Window\b.*?Arguments: (.*?)\n", plan, re.S
    ):
        assert "doc_id" in m.group(1), m.group(1)
    assert "CartesianProduct" not in plan, plan


def test_fast_parity_is_capped_pairs_plus_hash_joins(spark, sf_dir):
    """fast_parity rides the lsh_jaccard_verify shape: banded capped pair
    list + two doc-id hash joins bringing the xxhash64 shingle sets to the
    pairs — no all-pairs product anywhere.  (The xxhash64 stage itself sits
    behind the shared localCheckpoint, so it is not visible in this final
    plan; its values are pinned by the DuckDB oracle instead.)"""
    plan = formatted_plan(entry.queries()["fast_parity"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert len(re.findall(r"\(\d+\) \w*HashJoin", plan)) >= 2, plan


def test_substring_dupes_fast_shuffles_hashes_not_strings(spark, sf_dir):
    """The production twin must shuffle 8-byte xxhash64 window keys, not
    raw 36-char window strings: every Exchange that carries a window key
    hashes on win_h (LONG), and the plan contains no `win` string column."""
    plan = formatted_plan(entry.queries()["substring_dupes_fast"](spark, sf_dir))
    assert "xxhash64" in plan, plan
    assert "win_h" in plan, plan
    assert not re.search(r"\bwin#\d+(?! *L)", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_token_surprisal_is_vocab_keyed_no_product(spark, sf_dir):
    """token_surprisal shuffles only on natural keys (tok / doc_id); the
    corpus size enters as a broadcast 1-row frame (one
    BroadcastNestedLoopJoin over a single row is the intended scalar-join
    shape — NOT a data-sized product), and the DF table is the only
    corpus-wide state."""
    plan = formatted_plan(entry.queries()["token_surprisal"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert len(set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))) <= 1, plan
    assert len(re.findall(r"\(\d+\) \w*HashAggregate", plan)) >= 2, plan


def test_bloom_decon_membership_is_map_side(spark, sf_dir):
    """The Bloom membership test must be MAP-SIDE: the bitmap enters the
    plan as a constant-folded literal probed by O(1) word-load+mask tests
    inside a projection — the bloom branch has NO join at all, so the
    training grams are never shuffled (and never pay a per-row copy of
    the filter) for the membership test."""
    plan = formatted_plan(entry.queries()["bloom_decon_audit"](spark, sf_dir))
    assert "forall" in plan and "element_at" in plan, plan
    assert "xxhash64" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ann_recall_audit_grades_topk_not_allpairs(spark, sf_dir):
    """ann_recall_audit compares two k-row-per-query frames: the only
    corpus-wide scans are the two searches themselves (brute force scores
    the corpus against the BROADCAST 5-query set — the intended narrow
    shape); the recall comparison is a keyed semi-join + keyed aggregate,
    never a corpus×corpus product."""
    plan = formatted_plan(entry.queries()["ann_recall_audit"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"LeftSemi", plan), plan


def test_normalized_dedup_keeper_is_aggregation_not_window(spark, sf_dir):
    """normalized_dedup follows the line_dedup keeper rule: ONE aggregation
    on the normalized-content key + equi-join mark-back — a window over
    the content key would sort a mass-republished page in one task."""
    plan = formatted_plan(entry.queries()["normalized_dedup"](spark, sf_dir))
    assert not re.search(r"\(\d+\) Window", plan), plan
    assert len(re.findall(r"\(\d+\) \w*HashAggregate", plan)) >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_text_normalize_is_single_scan_no_shuffle(spark, sf_dir):
    """text_normalize is a pure projection: one parquet scan, zero
    Exchange (ordered()'s presentation repartition(1) aside), whole-stage
    codegen end to end."""
    plan = formatted_plan(entry.queries()["text_normalize"](spark, sf_dir))
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1, plan
    # the only Exchange allowed is ordered()'s single-partition one
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) <= 1, plan
    assert "Join" not in plan, plan


def test_bpe_pair_counts_explodes_vocab_not_corpus(spark, sf_dir):
    """The pair explode must run AFTER the word-keyed vocabulary aggregate:
    a Generate whose input is the grouped vocab frame, never the raw corpus
    scan — the 100-TB corpus collapses to vocab size before pair work."""
    plan = formatted_plan(entry.queries()["bpe_pair_counts"](spark, sf_dir))
    assert "Window" not in plan, plan
    # two generates: word explode (corpus->words) then pair explode; the
    # pair explode consumes the aggregated wc column, pinning it above the
    # vocab aggregate in the tree
    gens = len(set(re.findall(r"\((\d+)\) Generate", plan)))
    assert gens == 2, plan
    aggs = len(set(re.findall(r"\((\d+)\) HashAggregate", plan)))
    assert aggs >= 4, plan  # partial+final for vocab AND for pair counts


def test_source_leakage_matrix_gram_join_and_broadcast_totals(spark, sf_dir):
    """The self-join is keyed on the gram; the per-source totals (S rows)
    come back by broadcast; nothing is a product join."""
    plan = formatted_plan(entry.queries()["source_leakage_matrix"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2, plan


def test_curriculum_stages_has_no_corpus_wide_window(spark, sf_dir):
    """The cumulative rank must run over the length HISTOGRAM, not the
    documents: the Window's input is the aggregated distinct-lengths frame
    (a HashAggregate below it), and the stage mark-back onto documents is a
    broadcast join — never a global sort of the corpus."""
    plan = formatted_plan(entry.queries()["curriculum_stages"](spark, sf_dir))
    body = plan.split("== Physical Plan ==")[-1]
    tree = body.split("(1) ")[0]
    # the Window node exists but sits above an aggregate, and the documents
    # join is broadcast
    assert len(set(re.findall(r"\(\d+\) Window", plan))) == 1, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 1, plan
    # no corpus-wide global sort: every Sort node in the tree belongs to the
    # histogram branch (single-partition Exchange of the tiny frame) or the
    # presentation ordering; the documents scan side must join via broadcast
    # without a SortMergeJoin
    assert "SortMergeJoin" not in plan, tree


def test_packed_doc_spans_window_is_shard_keyed(spark, sf_dir):
    """Every window in the plan is keyed (lang for the packing cumsum,
    lang+shard for the span base) — no unpartitioned window anywhere."""
    plan = formatted_plan(entry.queries()["packed_doc_spans"](spark, sf_dir))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert all("lang" in spec for spec in specs), plan
    assert any("shard_id" in spec for spec in specs), plan


def test_seqlen_buckets_is_single_keyed_aggregate(spark, sf_dir):
    plan = formatted_plan(entry.queries()["seqlen_buckets"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert len(set(re.findall(r"\(\d+\) Exchange", plan))) <= 2, plan  # agg + presentation
    aggs = len(set(re.findall(r"\(\d+\) HashAggregate", plan)))
    assert aggs == 2, plan  # partial + final


def test_thumbnail_dedup_keeper_is_aggregation_not_window(spark, sf_dir):
    """The image-dedup keeper must be the line_dedup shape: one grouped
    aggregation on the grid key + equi-join mark-back — a window over the
    hot content key would sort a mass-duplicated image in one task."""
    plan = formatted_plan(entry.queries()["thumbnail_dedup"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert len(set(re.findall(r"\(\d+\) HashAggregate", plan))) >= 2, plan
    # the decode ran ONCE, at the eager localCheckpoint: the final plan
    # joins two reads of the materialized grid frame and contains no
    # MapInPandas at all (without the checkpoint the whole decode subtree
    # is cloned into both consumers)
    assert "MapInPandas" not in plan, plan


def test_curation_incremental_index_side_is_keys_only(spark, sf_dir):
    """The novelty test joins the batch against DISTINCT normalized KEYS of
    the index (an aggregate of md5 keys), never the index rows; the gate +
    key chain stays narrow (no window, no product join)."""
    plan = formatted_plan(entry.queries()["curation_incremental"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the distinct over index keys compiles to partial+final HashAggregate
    assert len(set(re.findall(r"\(\d+\) HashAggregate", plan))) >= 2, plan


def test_source_token_drift_broadcasts_the_side_frames(spark, sf_dir):
    """The S-row totals and the 1-row grand total return by broadcast; the
    only big joins are token-keyed; nothing is a product join except the
    literal 1-row cross joins."""
    plan = formatted_plan(entry.queries()["source_token_drift"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2, plan
    assert "Window" not in plan, plan


def test_dedup_cluster_stats_is_two_keyed_aggregates(spark, sf_dir):
    """Beyond the shared clustering pipeline, the audit itself adds only
    label- and size-keyed aggregates — no window, no join."""
    plan = formatted_plan(entry.queries()["dedup_cluster_stats"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_audio_features_prunes_below_decode_one_pass(spark, sf_dir):
    """Audio feature extraction is one scan -> filter (media_type prune
    BELOW the Arrow decode node — a filter cannot push through
    MapInPandas) -> one MapInPandas pass; no join, no keyed shuffle."""
    plan = formatted_plan(entry.queries()["audio_features"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(set(re.findall(r"\((\d+)\) MapInPandas", plan))) == 1, plan
    # the media_type prune happens before the Python worker: node ids
    # ascend leaf-up in the formatted dump, so the Filter's id must be
    # SMALLER than the MapInPandas id (filter below the decode)
    filter_id = min(int(i) for i in re.findall(r"\((\d+)\) Filter", plan))
    map_id = min(int(i) for i in re.findall(r"\((\d+)\) MapInPandas", plan))
    assert filter_id < map_id, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_cms_heavy_audit_broadcast_probe_no_cartesian(spark, sf_dir):
    """The CMS counter table (D x W rows) reaches the probe via a broadcast
    hash join; the heavy-hitter selection is TakeOrderedAndProject (no
    global sort); no cartesian product anywhere."""
    plan = formatted_plan(entry.queries()["cms_heavy_audit"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hll_distinct_audit_is_joinless_aggregate_chain(spark, sf_dir):
    """The relational HLL folds to one row per source through keyed
    aggregations only — no join, no window: exact count and sketch ride the
    SAME (source, bucket) aggregation."""
    plan = formatted_plan(entry.queries()["hll_distinct_audit"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_quantile_sketch_audit_broadcasts_stats_back(spark, sf_dir):
    """The per-type stats row (5 rows) broadcasts back over the event
    stream for the rank count — never a shuffle join on the stream side,
    never a window."""
    plan = formatted_plan(entry.queries()["quantile_sketch_audit"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_skew_salted_join_shuffles_on_salted_key(spark, sf_dir):
    """The salted join's Exchange partitions on (source, salt) — the hot
    source key is splintered across SALT reducers — through a shuffle hash
    join with NO broadcast (the shape that survives a dim side too large to
    broadcast)."""
    plan = formatted_plan(entry.queries()["skew_salted_join"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert re.search(r"hashpartitioning\(source#\d+, salt#\d+", plan), plan


def test_quality_weighted_sample_is_one_scan_no_shuffle(spark, sf_dir):
    """Soft quality sampling rides the gopher_flags projection chain: one
    scan, no join, no keyed shuffle before the presentation sort."""
    plan = formatted_plan(
        entry.queries()["quality_weighted_sample"](spark, sf_dir)
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_mixture_rebalance_broadcasts_global_scale(spark, sf_dir):
    """The mixture solver folds to one global-min row that broadcasts back
    onto the S-row source frame — no window, no sort-merge join."""
    plan = formatted_plan(entry.queries()["mixture_rebalance"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_perplexity_window_runs_over_histogram_not_corpus(spark, sf_dir):
    # the tercile cut is the curriculum_stages histogram trick: ONE Window,
    # and its input is the distinct-score aggregate, never the documents
    plan = formatted_plan(entry.queries()["perplexity_buckets"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_source_cap_window_runs_over_checkpointed_candidates(spark, sf_dir):
    # the per-key row_number must rank the prefilter output (pinned by the
    # eager localCheckpoint -> ExistingRDD scan), not the raw corpus; the
    # only parquet scan left in the final plan is the exactness-fallback
    # branch (semi join against the expected-empty undershoot key set)
    plan = formatted_plan(entry.queries()["source_cap"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    # Spark pushes the rank<=K filter into partial+final WindowGroupLimit
    # nodes — each candidate partition truncates to K before the final sort
    assert "WindowGroupLimit" in plan, plan
    assert "ExistingRDD" in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_semdedup_assignment_broadcasts_codebook_pairs_capped(spark, sf_dir):
    """SemDeDup must broadcast the N_CENTROIDS-row codebook for assignment
    (never a corpus-side shuffle) and generate pairs only from the
    checkpointed assignment (ExistingRDD), cluster-capped — no cartesian
    product anywhere."""
    plan = formatted_plan(entry.queries()["semdedup_prune"](spark, sf_dir))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ExistingRDD" in plan, plan
    # cluster cap shows up as the same WindowGroupLimit truncation device
    assert "WindowGroupLimit" in plan, plan


def test_dsir_weights_broadcasts_bucket_table_no_window(spark, sf_dir):
    """DSIR scoring joins the feature stream to the DSIR_BUCKETS-row weight
    table by broadcast hash join; per-doc weights are a keyed aggregate,
    never a window; no sort-merge join of two corpus-sized sides."""
    plan = formatted_plan(entry.queries()["dsir_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tokenizer_fertility_is_single_keyed_aggregate(spark, sf_dir):
    """Fertility is one scan + one map-side-combined groupBy(source): no
    joins, no windows, exactly the aggregate Exchange + presentation."""
    plan = formatted_plan(entry.queries()["tokenizer_fertility"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan  # partial+final
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_ann_hard_negatives_broadcasts_queries(spark, sf_dir):
    """Hard-negative mining is the audited brute shape: the bounded query
    set broadcasts (BroadcastNestedLoopJoin over N_QUERIES rows); the label
    filter runs before the per-query rank window."""
    plan = formatted_plan(entry.queries()["ann_hard_negatives"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
