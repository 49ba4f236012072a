"""Plan audits: assert the physical properties that make the declared
surface scale — predicate pushdown, column pruning, broadcast joins,
partial aggregation, no Python in hot paths (SURVEY.md §4: everything
Catalyst gives us must actually be engaged)."""

from __future__ import annotations

from kinesumer_spark.plans.inspect import (
    assert_in_plan,
    plan_string,
    pushed_filters,
    read_schemas,
)
from kinesumer_spark.registry import all_queries

from .conftest import SF_SMALL


def _df(spark, name):
    return all_queries()[name].spark(spark, SF_SMALL)


def test_q6_filters_reach_parquet_scan(spark):
    """Q6's three range predicates must appear as PushedFilters."""
    df = _df(spark, "q6_forecast_revenue")
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_q6_scan_prunes_columns(spark):
    """The Q6 scan must read only the 4 referenced columns of 11."""
    df = _df(spark, "q6_forecast_revenue")
    schemas = read_schemas(df)
    assert schemas, "no ReadSchema in plan"
    scan = schemas[0]
    assert "l_extendedprice" in scan and "l_discount" in scan
    for unused in ("l_comment", "l_orderkey", "l_partkey", "l_returnflag"):
        assert unused not in scan, f"unpruned column {unused}: {scan}"


def test_broadcast_join_is_broadcast(spark):
    df = _df(spark, "join_broadcast_dim")
    assert_in_plan(df, "BroadcastHashJoin")


def test_q5_dimensions_broadcast(spark):
    """q5's nation/region/supplier joins must be broadcast, and the plan
    must keep whole-stage codegen (no Python evaluation nodes)."""
    plan = plan_string(_df(spark, "q5_local_supplier_volume"))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # (AQE shows isFinalPlan=false pre-execution, so codegen spans are not
    # in this text; JVM-path coverage is the BatchEvalPython absence)
    assert "BatchEvalPython" not in plan


def test_q1_partial_aggregation(spark):
    """Partial (map-side) + final HashAggregate pair around one exchange."""
    plan = plan_string(_df(spark, "q1_pricing_summary"))
    assert plan.count("HashAggregate") >= 2, plan


def test_no_python_udfs_in_columnar_operators(spark):
    """Everything except the explicitly-Pandas multimodal featureizer
    stays JVM-side (Python rows are the 10-100x slow path)."""
    for name in (
        "q1_pricing_summary",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "similarity_cosine_topk",
        "text_fingerprint",
        "text_lang_id",
        "text_lang_id_ngram",
        "text_lang_confusion_ngram",
        "events_sessionize",
        "mix_epoch_planner",
        "sample_proportional_allocation",
        "pack_length_buckets",
        "text_tokenizer_fertility",
        "export_shard_plan",
        "sample_eval_set_build",
        "text_ngram_novelty",
        "split_repair_leakage",
        "events_anomaly_zscore",
        "source_domain_cap",
        "source_token_drift_chi2",
    ):
        plan = plan_string(_df(spark, name))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "ArrowEvalPython" not in plan, f"{name} fell off the JVM path"


def test_multimodal_uses_arrow_batches(spark):
    """The one intentional Python stage must be Arrow-batched
    (mapInPandas), never row-at-a-time pickling."""
    plan = plan_string(_df(spark, "multimodal_features"))
    assert "MapInPandas" in plan or "mapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan


def test_topk_avoids_global_sort(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject (per-
    partition heaps), not a full Exchange+Sort of the table."""
    plan = plan_string(_df(spark, "topk_orderby_limit"))
    assert "TakeOrderedAndProject" in plan, plan


def test_dup_pairs_lsh_has_no_all_pairs_join(spark):
    """similarity_dup_pairs_lsh (the scale path) must candidate-generate
    through the (label, band, key) buckets: every join in the plan is an
    equi-join that includes the band/key columns or a vec-id backjoin —
    no label-only self-join (all pairs within a label block) anywhere.
    Python appears ONLY as the vectorized Arrow signature stage (one
    BLAS matmul per batch; see _band_keys_udf) — never as row-at-a-time
    BatchEvalPython. (The exact variant similarity_dup_pairs keeps the
    label-blocked join on purpose — it is the oracle-carrying exact
    form; see its docstring.) Audits the dup_pairs_lsh API — the
    registered name now carries the error-bound validation, which
    embeds the exact all-pairs reference on purpose."""
    from kinesumer_spark.operators.similarity import dup_pairs_lsh

    plan = plan_string(dup_pairs_lsh(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan
    # banding must be engaged: band/key columns flow through the plan,
    # and the candidate join keys on them (details section of the
    # formatted plan names the keys)
    assert "band" in plan and "key" in plan, "banding absent from plan"


def test_range_join_is_equi_join_on_bin(spark):
    """The 15-minute range join must compile to an equi-join keyed on
    (user_id, bin) — never a CartesianProduct or nested-loop theta join.
    The exact interval predicate is a post-join filter over the bounded
    candidate set."""
    plan = plan_string(_df(spark, "events_range_join_binned"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the bin column must appear AS A RESOLVED ATTRIBUTE (`bin#<id>`) in
    # the plan — a bare "bin" substring would match 'Combine'/'binary'
    # and pass vacuously even if the key were dropped from the join
    import re

    assert re.search(r"\bbin#\d+", plan), "bin key attribute absent from join plan"


def test_rollup_multires_scans_raw_data_once(spark):
    """The hierarchical rollup materializes the minute level (lazy
    localCheckpoint) and derives hour/day from it: the final plan reads
    the materialized RDD, with at most the single materialization scan
    of raw parquet — NOT one rescan per union branch (the naive chain
    measured 6 scans, ReusedExchange: 0)."""
    plan = plan_string(_df(spark, "events_rollup_multires"))
    assert plan.count("Scan parquet") <= 1, plan
    assert "ExistingRDD" in plan, "checkpointed minute level not engaged"


def test_asof_merge_plan_is_cogrouped_pandas(spark):
    """The scale-path as-of join must be a cogrouped Arrow stage (one
    shuffle per side on user_id), with NO join operator — the
    pair-expansion formulation compiles to a join + window dedup; this
    one must not."""
    plan = plan_string(_df(spark, "events_asof_join_merge"))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan, f"unexpected {node}: {plan}"
    assert "BatchEvalPython" not in plan


def test_repetition_has_no_shuffle(spark):
    """text_repetition is per-row columnar: no hash exchange anywhere
    (the only exchange is the rangepartitioning of the cosmetic final
    ORDER BY). Formatted explain spells partitionings on Arguments
    lines, so match the token, not "Exchange hashpartitioning"."""
    plan = plan_string(_df(spark, "text_repetition"))
    assert "hashpartitioning(" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_decontaminate_broadcasts_eval_set(spark):
    """The banned-shingle probe must be a broadcast join: the corpus
    side is never shuffled on shingle."""
    plan = plan_string(_df(spark, "text_decontaminate"))
    assert "BroadcastHashJoin" in plan, plan
    # Exchanges: doc_id-keyed (hit-count agg + left join), plus AT MOST
    # one shingle-keyed exchange — the EVAL-side distinct that feeds the
    # BroadcastExchange (bounded by eval-set size, KBs–MBs; benchmarks
    # are tiny next to the corpus). The CORPUS must never shuffle on
    # shingle: its probe is the broadcast join.
    import re

    keys = [k.split("#")[0] for k in re.findall(r"hashpartitioning\((\w+)", plan)]
    assert keys, "no hash exchange found — assertion would be vacuous"
    assert set(keys) <= {"doc_id", "shingle"}, (keys, plan)
    assert keys.count("shingle") <= 1, (keys, plan)
    assert "BroadcastExchange" in plan, plan


def test_boilerplate_shuffles_hashes_not_strings(spark):
    """dedup_boilerplate's frequency shuffle must be keyed on the 32-bit
    chunk hash (ch) or doc_id — never the chunk string itself."""
    import re

    plan = plan_string(_df(spark, "dedup_boilerplate"))
    keys = {m.split("#")[0] for m in re.findall(r"hashpartitioning\((\w+)", plan)}
    assert keys, "no hash exchange found — assertion would be vacuous"
    assert keys <= {"ch", "doc_id"}, keys
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_pii_scrub_and_vocab_stay_jvm_side(spark):
    """text_pii_scrub is zero-shuffle (regex chains are per-row JVM
    expressions); text_vocab_topk's only exchange is the term-keyed
    aggregation, and neither plan drops to Python."""
    plan = plan_string(_df(spark, "text_pii_scrub"))
    assert "hashpartitioning(" not in plan, plan
    assert "BatchEvalPython" not in plan
    vplan = plan_string(_df(spark, "text_vocab_topk"))
    assert "BatchEvalPython" not in vplan
    assert "TakeOrderedAndProject" in vplan, vplan


def test_partsupp_queries_broadcast_dims_no_smj(spark):
    """The derived-partsupp TPC-H shapes must resolve every keyed join as
    a broadcast (dims and the 4-row fan-out are all broadcast-sized) —
    no SortMergeJoin, no CartesianProduct — and stay JVM-side. q9's only
    exchange is the final GROUP BY."""
    p9 = plan_string(_df(spark, "q9_product_type_profit"))
    assert p9.count("BroadcastHashJoin") >= 5, p9
    assert "SortMergeJoin" not in p9 and "CartesianProduct" not in p9
    assert "BatchEvalPython" not in p9
    # formatted explain puts partitioning on an Arguments line, not on
    # the Exchange node line — count the partitioning token itself
    assert p9.count("hashpartitioning(") <= 1, p9
    p11 = plan_string(_df(spark, "q11_important_stock"))
    assert p11.count("BroadcastHashJoin") >= 4, p11
    assert "SortMergeJoin" not in p11 and "CartesianProduct" not in p11


def test_pack_sequences_prefix_sum_is_two_pass(spark):
    """pack_sequences must implement the distributed two-pass prefix sum:
    the within-block window is partitioned by block (parallel), and at
    most ONE single-partition exchange exists — the block-summary window,
    which runs over |docs|/_BLOCK rows, never the full data."""
    plan = plan_string(_df(spark, "pack_sequences"))
    # exactly ONE single-partition exchange (the block-summary window;
    # formatted explain spells it on an Arguments line) — a regression
    # to a full-data global window would add another
    assert plan.count("SinglePartition") <= 1, plan
    # ...and the data-sized stages stay block-partitioned (parallel)
    assert "hashpartitioning(block" in plan, plan
    assert "BatchEvalPython" not in plan


def test_substring_spans_blocked_join_no_all_pairs(spark):
    """dedup_substring_spans must join on the (lang, shingle-hash) block
    — never an unconditioned product — and stay JVM-side."""
    plan = plan_string(_df(spark, "dedup_substring_spans"))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan
    key_lines = [
        ln for ln in plan.splitlines()
        if ln.startswith(("Left keys", "Right keys"))
    ]
    assert key_lines and all("hsh" in ln for ln in key_lines), key_lines


def test_similarity_topk_auto_routes_ann_on_large_corpus(spark):
    """The similarity_topk facade must make ANN the default at scale:
    on the sf0.1 corpus (2000 > _AUTO_BRUTE_MAX) auto mode takes the
    IVF branch — no CartesianProduct / broadcast nested loop of corpus
    × queries anywhere in the plan — while at the gate SF (500 rows)
    it takes the exact brute branch, whose oracle it carries."""
    from kinesumer_spark.operators.similarity import similarity_topk

    big = plan_string(similarity_topk(spark, "/root/testdata/sf0.1"))
    assert "CartesianProduct" not in big, big
    assert "BroadcastNestedLoopJoin" not in big, big
    # the IVF candidate equi-join on cell must be engaged
    assert "cell" in big, big
    small = plan_string(similarity_topk(spark, SF_SMALL))
    # small corpus: brute branch (exact) — the crossJoin IS expected here
    assert "CartesianProduct" in small or "BroadcastNestedLoopJoin" in small, small


def test_warehouse_and_lm_plan_shapes(spark):
    """r6 plan contracts: (a) linear attribution's range join is a
    binned HASH join — no nested loop / cartesian; (b) SCD2's two
    windows share ONE hash exchange (Catalyst reuses the custkey
    partitioning + sort); (c) the trigram LM reads the corpus exactly
    once — the join formulation recomputed the extraction per branch
    (6 scans); the window formulation must keep it at 1."""
    from kinesumer_spark.operators.text import text_ngram_lm
    from kinesumer_spark.operators.warehouse import (
        events_attribution_linear,
        scd2_customer_priority,
    )
    from kinesumer_spark.plans.inspect import plan_string

    p_attr = plan_string(events_attribution_linear(spark, SF_SMALL))
    assert "CartesianProduct" not in p_attr, p_attr
    assert "BroadcastNestedLoopJoin" not in p_attr, p_attr

    p_scd2 = plan_string(scd2_customer_priority(spark, SF_SMALL), mode="simple")
    assert p_scd2.count("Exchange hashpartitioning") == 1, p_scd2

    p_lm = plan_string(text_ngram_lm(spark, SF_SMALL), mode="simple")
    assert p_lm.count("FileScan parquet") == 1, p_lm


def test_lm_score_and_bpe_single_scan_jvm_side(spark):
    """text_lm_doc_score attaches corpus counts via a window over the
    exploded token table — exactly ONE parquet scan (a join formulation
    recomputes the scan per branch, the text_ngram_lm lesson);
    text_bpe_pair_counts is one scan → explode → keyed agg → top-k.
    Both stay JVM-side."""
    # formatted explain prints each scan twice (tree node + detail
    # header), so one physical scan == count 2
    for name in ("text_lm_doc_score", "text_bpe_pair_counts"):
        plan = plan_string(_df(spark, name))
        assert plan.count("Scan parquet") <= 2, f"{name}: {plan}"
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    assert "ExistingRDD" in plan_string(
        _df(spark, "text_lm_doc_score")
    ), "per-doc materialization not engaged"
    plan = plan_string(_df(spark, "text_bpe_pair_counts"))
    assert "TakeOrderedAndProject" in plan, plan


def test_graph_plans_no_cartesian(spark):
    """Every graph join is equi-keyed: triangle counting's 3-way
    self-join and PageRank's edge⨝rank iterations must never fall back
    to a cartesian/nested-loop product; rank tables broadcast."""
    for name in ("graph_pagerank_trade", "graph_triangle_count"):
        plan = plan_string(_df(spark, name))
        assert "CartesianProduct" not in plan, f"{name}: {plan}"
        assert "BatchEvalPython" not in plan, name
    assert "BroadcastHashJoin" in plan_string(_df(spark, "graph_pagerank_trade"))


def test_snapshot_diff_is_full_outer_keyed(spark):
    """The snapshot diff must be ONE full-outer equi-join on the key —
    no nested-loop fallback, no Python."""
    plan = plan_string(_df(spark, "warehouse_snapshot_diff"))
    assert "FullOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_markov_and_rfm_shapes(spark):
    """Markov: one scan, lag window on the user shuffle, pair agg.
    RFM: keyed agg + broadcast totals, partial+final aggregation."""
    plan = plan_string(_df(spark, "events_markov_transitions"))
    assert plan.count("Scan parquet") <= 2, plan  # one physical scan
    assert "BatchEvalPython" not in plan
    plan = plan_string(_df(spark, "events_rfm_segments"))
    assert plan.count("Scan parquet") <= 2, plan  # one physical scan
    assert "ExistingRDD" in plan, "per-user materialization not engaged"
    assert plan.count("HashAggregate") >= 2, plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan


def test_pca_validation_rides_arrow_not_rows(spark):
    """The PCA reconstruction check is pandas-vectorized (ArrowEvalPython
    batches), never row-at-a-time Python."""
    plan = plan_string(_df(spark, "embedding_pca_validation"))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_cusum_windows_share_one_sort(spark):
    """CUSUM's running-sum and running-min windows share the same
    ordering — Catalyst must compute both in a single Window node over
    ONE sort of the calendar-bounded hourly table; the fact table is
    scanned once (totals read the materialized hourly aggregate)."""
    plan = plan_string(_df(spark, "events_changepoint_cusum"))
    assert plan.count("Scan parquet") <= 2, plan  # one physical scan
    assert "ExistingRDD" in plan, "hourly materialization not engaged"
    # two Window NODES are inherent (the running min consumes the
    # running sum's output) but they must ride ONE sort of the hourly
    # table — no re-sort/exchange between them (formatted explain
    # prints each node twice: tree + detail)
    assert plan.count("Window") <= 4, plan
    assert plan.count(") Sort") <= 1, plan
    assert "BatchEvalPython" not in plan


def test_timeseries_fold_single_fact_scan(spark):
    """EMA/Holt aggregate the fact table once into the calendar-bounded
    series; the fold is a scalar expression (no Python, no extra
    scans)."""
    for name in ("timeseries_ema_daily", "timeseries_holt_forecast"):
        plan = plan_string(_df(spark, name))
        assert plan.count("Scan parquet") <= 2, f"{name}: {plan}"  # 1 scan
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_hll_merge_reads_one_scan(spark):
    """Both branches (sketch rollup + exact check) read the materialized
    narrow projection — the fact table is scanned once."""
    plan = plan_string(_df(spark, "agg_hll_sketch_merge"))
    assert plan.count("Scan parquet") <= 2, plan  # one physical scan
    assert "ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan


def test_null_aware_anti_join_plan(spark):
    """NOT IN (subquery) must plan as the null-aware anti join —
    BroadcastHashJoin LeftAnti BuildRight with isNullAwareAntiJoin=true
    (rendered as the trailing `true` argument in simple mode; formatted
    mode omits the flag) — never a BroadcastNestedLoopJoin re-check of
    every build row."""
    plan = plan_string(_df(spark, "join_null_aware_anti"), mode="simple")
    assert "LeftAnti, BuildRight, true" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dpp_fact_scan_is_dynamically_pruned(spark):
    """join_dpp_partitioned's fact scan must carry a dynamicpruning
    expression in its PartitionFilters (the dim side's day list arrives
    at runtime), and the dim scan must read the partition column only
    (listing-only, zero data bytes)."""
    plan = plan_string(_df(spark, "join_dpp_partitioned"))
    assert "dynamicpruning" in plan, plan


def test_bfs_joins_are_equi_keyed_frontier_broadcast(spark):
    """BFS edge derivation is an equi self-join on l_orderkey (bounded
    per-order fan-out, never cartesian); a BFS round broadcasts the
    graph-bounded frontier. (The registered query's final plan shows
    only checkpoint RDD scans — the round shape is audited here on the
    same building blocks the loop uses.)"""
    import pyspark.sql.functions as F

    from kinesumer_spark.operators.graph import _copurchase_edges

    edges = _copurchase_edges(spark, SF_SMALL)
    eplan = plan_string(edges)
    assert "CartesianProduct" not in eplan, eplan
    assert "BroadcastNestedLoopJoin" not in eplan, eplan
    frontier = edges.select(F.col("u").alias("node")).limit(5)
    round_plan = plan_string(edges.join(F.broadcast(frontier), edges.u == F.col("node")))
    assert "BroadcastHashJoin" in round_plan, round_plan
    assert "BatchEvalPython" not in eplan


def test_bpe_train_counting_stays_jvm_side(spark):
    """The BPE trainer's per-iteration pair counting must stay on the
    JVM expression path (no Python rows); its only driver traffic is
    the one argmax row per merge."""
    from kinesumer_spark.operators.text import _t as _docs

    import pyspark.sql.functions as F

    vocab = (
        _docs(spark, SF_SMALL)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "s", F.concat(F.lit("||"), F.regexp_replace("word", "(.)", "$1||"))
        )
    )
    pairs = vocab.select(
        "freq",
        F.expr("filter(split(s, '\\\\|\\\\|'), x -> x != '')").alias("a"),
    ).filter(F.expr("size(a) >= 2")).select(
        "freq",
        F.expr(
            "explode(arrays_zip(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1))) AS p"
        ),
    )
    plan = plan_string(pairs.groupBy("p").count())
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_heavy_hitters_sketch_avoids_keyspace_groupby(spark):
    """Pass 1 must be the Arrow-batched Misra-Gries summary (MapInPandas,
    no shuffle of the key space); pass 2 counts candidates only, behind
    a broadcast semi-join — the full-keyspace HashAggregate the naive
    plan would run must not appear before the candidate join."""
    plan = plan_string(_df(spark, "agg_heavy_hitters_mg"))
    assert "MapInPandas" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_session2_operators_stay_jvm_side(spark):
    """Every session-2 addition whose semantics are columnar must stay
    off the Python row path; the two deliberate Arrow stages
    (agg_heavy_hitters_mg's MG summary) are audited separately."""
    for name in (
        "text_bpe_apply",
        "basket_association_rules",
        "embedding_mislabel_audit",
        "embedding_cohort_drift",
        "events_drift_chi2",
        "events_cohort_ltv",
        "events_missing_hours",
        "agg_bitmap_distinct",
        "agg_mode_exact",
        "agg_listagg_ordered",
        "scalar_regex_funcs",
        "dedup_edit_distance",
        "events_asof_join_forward",
        "source_schema_evolution",
    ):
        plan = plan_string(_df(spark, name))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "ArrowEvalPython" not in plan, f"{name} fell off the JVM path"


def test_hybrid_rrf_lists_are_takeordered_and_jvm_only(spark):
    """Both retrieval lists of similarity_hybrid_rrf must be distributed
    top-N (TakeOrderedAndProject — per-partition heads, no global sort
    Exchange of the corpus), the fusion join list-bounded, and the whole
    plan JVM-side (no row-at-a-time Python)."""
    plan = plan_string(_df(spark, "similarity_hybrid_rrf"))
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_quality_weighted_sampling_is_one_scan_one_exchange(spark):
    """sample_quality_weighted: the Bernoulli draw is map-side (hash +
    integer compare in the scan stage); the ONLY exchange is the final
    |langs|-row aggregate shuffle, and nothing touches Python."""
    df = _df(spark, "sample_quality_weighted")
    plan = plan_string(df)
    # partial agg -> exchange -> final agg (+ the orderBy's range
    # exchange over |langs| rows): no join/broadcast/python anywhere
    assert "BatchEvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert len(read_schemas(df)) == 1, plan


def test_mmr_iterations_are_pool_bounded(spark):
    """similarity_mmr_diversify: the corpus appears ONLY in the one
    relevance scan (plus the checkpointed pool reads); each MMR step
    joins against broadcast ≤pool-size sides — no corpus-scale shuffle
    join and no Python in the loop."""
    plan = plan_string(_df(spark, "similarity_mmr_diversify"))
    assert "BatchEvalPython" not in plan, plan
    # the final plan is union of 5 checkpoint-backed argmax branches;
    # every join must be broadcast (pool-bounded sides)
    assert "SortMergeJoin" not in plan, plan


def test_gapfill_windows_partition_by_type(spark):
    """timeseries_gapfill_interpolate: both anchor windows must
    partition by event_type (distributed per-key sort, never a single-
    partition global window), and the plan stays JVM-side."""
    plan = plan_string(_df(spark, "timeseries_gapfill_interpolate"))
    assert "BatchEvalPython" not in plan, plan
    # anchor windows exist and their exchanges hash-partition on the
    # series key (event_type) — a keyless window would show
    # SinglePartition on the Window input exchange instead
    assert "Window" in plan, plan
    assert "hashpartitioning(event_type" in plan, plan


def test_sink_roundtrip_readback_plan(spark):
    """sink_putrecords_roundtrip's read-back side: a bounded
    manifest-file-list JSON scan that reads ONLY the two referenced
    columns (explicit schema = parse-level pruning), aggregates with a
    partial/final pair, and stays JVM-side — the producer-contract
    query's scale properties, pinned like the other LLM-op plans."""
    df = _df(spark, "sink_putrecords_roundtrip")
    plan = plan_string(df)
    assert "BatchEvalPython" not in plan
    schemas = read_schemas(df)
    assert schemas, "no ReadSchema in plan"
    assert "partition_key" in schemas[0] and "_shard" in schemas[0]
    for unused in ("event_id",):  # written but never read back
        assert unused not in schemas[0], schemas[0]
    assert plan.count("HashAggregate") >= 2, plan


def test_temperature_draw_plan_broadcasts_and_stays_jvm(spark):
    """sample_temperature_draw: the |langs|-row plan table must attach
    via BroadcastHashJoin (never a corpus shuffle-join), the draw is a
    map-side hash + integer compare, and nothing touches Python."""
    plan = plan_string(_df(spark, "sample_temperature_draw"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_dsir_scoring_pass_is_broadcast_and_topk(spark):
    """text_dsir_importance (+ the bigram-feature variant): the bucket
    model must broadcast back onto the token stream (a shuffle by 4096
    bucket keys would under-partition a 100 TB corpus), the ranking
    must be distributed top-k (TakeOrderedAndProject), and the hot
    path JVM-only. The model subtree is localCheckpoint-truncated, so
    the executed top plan holds exactly ONE corpus scan (the scoring
    pass)."""
    for name in ("text_dsir_importance", "text_dsir_importance_bigram"):
        df = _df(spark, name)
        plan = plan_string(df)
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "TakeOrderedAndProject" in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)
        assert len(read_schemas(df)) == 1, (name, plan)


def test_asof_nearest_is_banded_equi_join(spark):
    """events_asof_join_nearest: the ±tolerance band rides an EQUI join
    on user_id (fan-out capped by in-band density) — never a cartesian
    or broadcast-nested-loop — and the pick is one window over the
    already co-located key, JVM-side throughout."""
    plan = plan_string(_df(spark, "events_asof_join_nearest"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_pack_bins_greedy_is_block_parallel(spark):
    """pack_bins_greedy: the grouped Arrow kernel's output is
    localCheckpoint-materialized, so the kernel (scan + block shuffle +
    greedy) executes ONCE even though bin numbering reads it twice —
    the executed top plan reads the checkpointed RDD in both branches
    (zero fresh parquet scans) and joins the bounded block-summary
    relation back as a BROADCAST, never a sort-merge of data-sized
    relations; no Python remains above the checkpoint."""
    df = _df(spark, "pack_bins_greedy")
    plan = plan_string(df)
    assert plan.count(") Scan ExistingRDD") >= 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(read_schemas(df)) == 0, plan


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """join_runtime_bloom: under the at-scale confs, InjectRuntimeFilter
    must plant a bloom_filter_agg on the dim side and a might_contain
    predicate above the FACT (lineitem) scan — fact rows drop before
    the shuffle. Audited on the un-materialized frame the registered
    query executes."""
    from kinesumer_spark.operators.skew import _RBLOOM_CONFS, runtime_bloom_plan

    prev = {k: spark.conf.get(k, None) for k in _RBLOOM_CONFS}
    for k, v in _RBLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = runtime_bloom_plan(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan
    # the might_contain must guard the lineitem side (the fact scan)
    fact_branch = plan[plan.index("might_contain"):]
    assert "l_partkey" in fact_branch.split("\n", 1)[0], plan


def test_cdc_chunker_is_one_scan_no_python(spark):
    """dedup_cdc_chunking: the whole chunker is higher-order Catalyst
    expressions in the scan stage — ONE parquet scan, no Python, no
    Generate (no exploded text copies), no join; the only exchange is
    the final orderBy's range partitioning."""
    df = _df(spark, "dedup_cdc_chunking")
    plan = plan_string(df)
    assert "BatchEvalPython" not in plan, plan
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan
    assert len(read_schemas(df)) == 1, plan


def test_cdc_rolling_chunker_same_plan_shape(spark):
    """dedup_cdc_chunking_rolling: identical plan contract to the sha
    twin — one scan, map-only, zero Python — with the boundary hash as
    pure int64 HOF arithmetic (no sha2 call per position; the only
    sha2 in the plan is the per-CHUNK identity checksum)."""
    df = _df(spark, "dedup_cdc_chunking_rolling")
    plan = plan_string(df)
    assert "BatchEvalPython" not in plan, plan
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan
    assert len(read_schemas(df)) == 1, plan


def test_cdc_vectorized_chunker_is_one_arrow_kernel(spark):
    """dedup_cdc_chunking_vectorized: exactly one Arrow-batched
    MapInPandas over one scan — no row-at-a-time BatchEvalPython, no
    join/generate, and no exchange below the presentation sort (the
    kernel is map-side; only the orderBy range-partitions)."""
    df = _df(spark, "dedup_cdc_chunking_vectorized")
    plan = plan_string(df)
    # the formatted plan names each node twice (tree + detail): count
    # the detail headers, "(n) MapInPandas"
    assert plan.count(") MapInPandas") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan
    assert len(read_schemas(df)) == 1, plan
    # in the plan TREE, the only Exchange must sit ABOVE the kernel
    # (it belongs to the presentation sort; the kernel itself is
    # map-side over the scan)
    tree = plan.split("(1) ", 1)[0]
    tree_lines = [ln for ln in tree.splitlines() if "+-" in ln or "Scan" in ln]
    exch = [i for i, ln in enumerate(tree_lines) if "Exchange" in ln]
    kern = [i for i, ln in enumerate(tree_lines) if "MapInPandas" in ln]
    assert len(exch) == 1 and len(kern) == 1 and exch[0] < kern[0], plan


def test_decontaminate_broadcast_eval_side_never_shuffles(spark):
    """text_decontaminate_broadcast (the asymmetric production form):
    BOTH eval-side joins — band-key candidates and shingle-set verify —
    must be broadcast, and no exchange may partition on a band key:
    the symmetric tier's bucket stage (groupBy(lang, band, key1, key2)
    + slice/posexplode pair expansion) must be absent, proving no
    corpus-corpus pair is ever materialized."""
    df = _df(spark, "text_decontaminate_broadcast")
    plan = plan_string(df)
    assert plan.count(") BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # the symmetric form's in-bucket pair expansion marker
    assert "slice(" not in plan, plan
    # every wide exchange is corpus-doc-keyed, never band-key-keyed
    for ln in plan.splitlines():
        if "hashpartitioning" in ln:
            assert "key1" not in ln and "key2" not in ln, ln


def test_pipeline_training_full_stages_execute_once(spark):
    """pipeline_training_full: every stage that is consumed twice is
    localCheckpoint-materialized, so in the final ledger plan all stage
    branches read checkpointed RDDs — the ONLY fresh parquet scans are
    the two raw ledger counts (n_input / n_corpus); no corpus subtree
    re-executes. The ledger's single-row crossJoins are broadcast
    nested-loop over 1-row sides (bounded by construction); the only
    hash join is the pack stage's broadcast prefix-sum join; nothing
    touches Python and no data-sized sort-merge or cartesian exists."""
    df = _df(spark, "pipeline_training_full")
    plan = plan_string(df)
    assert plan.count(") Scan ExistingRDD") >= 8, plan
    assert len(read_schemas(df)) == 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_r12_profiling_ops_stay_jvm_side(spark):
    """The r12 source-profiling / span additions are pure columnar —
    no Python anywhere, and the span screen's banned side broadcasts
    (the exact screen's shape at a different output grain)."""
    for name in (
        "source_quality_ledger",
        "text_decontaminate_spans",
        "text_decontaminate_excise",
        "text_lang_confusion",
        "dedup_cross_source_matrix",
    ):
        plan = plan_string(_df(spark, name))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "ArrowEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "CartesianProduct" not in plan, name
    assert "BroadcastHashJoin" in plan_string(
        _df(spark, "text_decontaminate_spans")
    )


def test_lsh_param_audit_shares_one_signature_pass(spark):
    """dedup_lsh_param_audit: all three b×r configs read the ONE
    localCheckpointed signature relation (no per-config re-shingle of
    the corpus); the exact pair set is likewise checkpointed; no Python
    anywhere and no cartesian."""
    df = _df(spark, "dedup_lsh_param_audit")
    plan = plan_string(df)
    assert plan.count(") Scan ExistingRDD") >= 4, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the checkpointed audit plan never rescans parquet
    assert len(read_schemas(df)) == 0, plan


def test_pack_seqlen_sweep_one_scan_no_python(spark):
    """pack_seqlen_sweep: the corpus is scanned once and the candidate
    lengths ride a 3-way explode — sweeping more lengths must not add
    scans; prefix sums stay block-partitioned (shared helper)."""
    df = _df(spark, "pack_seqlen_sweep")
    plan = plan_string(df)
    assert "BatchEvalPython" not in plan, plan
    # the slim (doc_id, tokens, block) projection is checkpointed before
    # the prefix sum's two reads: zero fresh parquet scans in this plan
    assert len(read_schemas(df)) == 0, plan
    assert plan.count(") Scan ExistingRDD") >= 2, plan


def test_stream_admission_reads_source_once(spark):
    """pipeline_stream_admission (r13): the three admission screens are
    fused into ONE explode over ONE streaming source read — r12 paid
    one read per screen branch (3× per microbatch), the r12 verdict
    asked for 2, the tagged-union explode gets it to 1. Also pin that
    every corpus-derived probe side still arrives by broadcast hint and
    nothing falls to Python."""
    from kinesumer_spark.streaming.queries import _admission_verdicts

    df = _admission_verdicts(spark, SF_SMALL)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert plan.count("StreamingRelation") == 1, plan
    # all three corpus-derived probe sides carry the (size-gated)
    # broadcast hint at this SF; nothing falls to Python
    assert plan.count("ResolvedHint (strategy=broadcast)") >= 3, plan
    assert "PythonUDF" not in plan, plan


def test_stream_neardup_partners_reads_source_once(spark):
    """stream_neardup_partners (the shared gate core, r13 extraction):
    the sentinel that guarantees every doc a verdict row is an in-row
    band=-1 element probing a LEFT join — NOT a second source read
    (r12's unionByName sentinel branch)."""
    from kinesumer_spark.catalog import read_table
    from kinesumer_spark.operators.dedup import stream_neardup_partners

    batch_docs = read_table(spark, SF_SMALL, "documents").select(
        "doc_id", "lang", "text"
    )
    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{SF_SMALL}/documents.parquet").schema
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF_SMALL)
    )
    df = stream_neardup_partners(stream, batch_docs, n_corpus_docs=500)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert plan.count("StreamingRelation") == 1, plan


def test_stream_neardup_admit_plan_shape(spark, tmp_path):
    """stream_neardup_admit's streaming plan: exactly ONE source read
    feeding the probe, and the cross-microbatch state lives in a single
    FlatMapGroupsInPandasWithState operator (no second stateful stage —
    the per-doc rollup is batch-side by design)."""
    import pandas as pd

    from kinesumer_spark.operators.dedup import stream_inrow_band_probe
    from kinesumer_spark.streaming.stateful import bucket_admit_pairs

    src = tmp_path / "admit_plan_src"
    src.mkdir()
    pd.DataFrame(
        [(1, "en", "a b c d")], columns=["doc_id", "lang", "text"]
    ).to_parquet(src / "chunk_0.parquet", index=False)
    stream = (
        spark.readStream.schema("doc_id bigint, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    df = bucket_admit_pairs(stream_inrow_band_probe(stream))
    plan = df._jdf.queryExecution().analyzed().toString()
    assert plan.count("StreamingRelation") == 1, plan
    assert plan.count("FlatMapGroupsInPandasWithState") == 1, plan


def test_split_leakage_audit_stays_jvm_and_semi_joins(spark):
    """The split audit must stay on the JVM path (both tiers are
    sha256/modular arithmetic) and implement the exact tier as a
    LeftSemi digest join — the text column must never ride past the
    hashing projection."""
    plan = plan_string(_df(spark, "split_leakage_audit"))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "LeftSemi" in plan, plan


def test_stream_neardup_gate_strategy_flips_at_cap(spark):
    """The over-cap streaming-index degrade path (r13 verdict #3) must
    EXECUTE, not just exist, and the three gate variants must carry the
    three intended physical layouts in their executed microbatch plans:

      - under the cap (stream_neardup_gate): both corpus probe sides
        arrive by BroadcastExchange / BroadcastHashJoin;
      - past the cap (stream_neardup_gate_shuffled, broadcast_cap=0 —
        the same code path a >100k-doc corpus takes): NO broadcast
        anywhere, both probe joins ShuffledHashJoin behind explicit
        exchanges;
      - the 100 TB layout (stream_neardup_gate_bucketed): SortMergeJoin
        over bucketed index tables, NO broadcast AND strictly fewer
        exchanges than the shuffled variant — the index-side shuffles
        are gone because the bucketed layout pre-paid them at write
        time (Bucketed: true scans in-plan).

    All three return the identical verdict relation (same registered
    oracle); this test pins only the physical strategy flip."""
    from kinesumer_spark.streaming.queries import LAST_STREAM_PLAN

    def phys(name):
        _df(spark, name).collect()
        full = LAST_STREAM_PLAN[f"ks_{name}"]
        return full.split("== Physical Plan ==")[-1]

    p_bcast = phys("stream_neardup_gate")
    assert p_bcast.count("BroadcastHashJoin") == 2, p_bcast
    assert "ShuffledHashJoin" not in p_bcast, p_bcast

    p_shuf = phys("stream_neardup_gate_shuffled")
    assert "BroadcastExchange" not in p_shuf, p_shuf
    assert "BroadcastHashJoin" not in p_shuf, p_shuf
    assert p_shuf.count("ShuffledHashJoin") == 2, p_shuf

    p_bkt = phys("stream_neardup_gate_bucketed")
    assert "BroadcastExchange" not in p_bkt, p_bkt
    assert p_bkt.count("SortMergeJoin") == 2, p_bkt
    assert "Bucketed: true" in p_bkt, p_bkt
    assert p_bkt.count("Exchange") < p_shuf.count("Exchange"), (
        p_bkt,
        p_shuf,
    )


def test_maybe_broadcast_cap_branches(spark):
    """_maybe_broadcast: broadcast hint at-or-under the cap, SHUFFLE_HASH
    hint past it (never an unhinted fall-through that sf-scale
    auto-broadcast would silently re-promote), and NO hint when the
    size is unknown — pinning a non-spillable shuffle-hash build side
    on an unknown-size index could OOM where the planner's default
    sort-merge join would spill (r14 driver advice)."""
    from kinesumer_spark.operators.dedup import (
        _STREAM_INDEX_BROADCAST_CAP,
        _maybe_broadcast,
    )

    df = spark.range(3)
    under = _maybe_broadcast(df, _STREAM_INDEX_BROADCAST_CAP)
    over = _maybe_broadcast(df, _STREAM_INDEX_BROADCAST_CAP + 1)
    unknown = _maybe_broadcast(df, None)
    assert "strategy=broadcast" in (
        under._jdf.queryExecution().analyzed().toString()
    )
    assert "strategy=shuffle_hash" in (
        over._jdf.queryExecution().analyzed().toString()
    )
    unk_plan = unknown._jdf.queryExecution().analyzed().toString()
    assert "strategy=" not in unk_plan, unk_plan


def test_source_domain_cap_skewsafe_plan(spark):
    """The skew-safe cap's layout claims (r14 verdict #3): exactly ONE
    Window operator in the whole plan (only the over-cap domains' rows
    are ranked), the over-cap row filter arrives by broadcast join
    (BroadcastHashJoin on domain), and the pre-aggregate runs a
    map-side partial combine — under-cap rows never see a window
    exchange."""
    plan = plan_string(_df(spark, "source_domain_cap_skewsafe"), "simple")
    assert plan.count("Window") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan


def test_source_domain_cap_partialk_no_window(spark):
    """The two-level top-K cap must carry NO window operator at all —
    the whole point of the refinement is that even a pathological
    one-domain skew never becomes one fat window partition — while
    keeping the map-side partial combine and the broadcast over-cap
    filter."""
    plan = plan_string(_df(spark, "source_domain_cap_partialk"), "simple")
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan, plan


def test_source_embedding_drift_plan(spark):
    """The embedding drift monitor's scale shape: pure JVM (the int8
    code profile is a transform chain + posexplode — never Python), a
    map-side partial combine before the bounded cell shuffle, the
    docs→source mapping by broadcast join, and exactly the two corpus
    scans the relation needs (documents for source, embeddings for
    vectors) — the drift tail's window sums run over the cell table,
    not the corpus."""
    plan = plan_string(_df(spark, "source_embedding_drift"), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_sum" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("FileScan") == 2, plan


def test_stream_lang_id_gate_is_fully_stateless(spark):
    """The language screen must be the admission plane's pure map-side
    member: no state store (the profiles are baked literals, the doc
    profile is in-row), no Python, no broadcast — nothing but the scan,
    the projection chain, and the sink in its executed microbatch
    plan."""
    from kinesumer_spark.streaming.queries import LAST_STREAM_PLAN

    _df(spark, "stream_lang_id_gate").collect()
    phys = LAST_STREAM_PLAN["ks_stream_lang_id_gate"].split(
        "== Physical Plan =="
    )[-1]
    for op in ("StateStore", "BatchEvalPython", "ArrowEvalPython",
               "BroadcastExchange", "SortMergeJoin", "ShuffledHashJoin"):
        assert op not in phys, (op, phys)


def test_stream_semdedup_admit_cap_plan_shape(spark, tmp_path):
    """The cap twin's streaming plan matches the admit family's shape:
    exactly ONE source read feeding the 3-cell probe, and the capped
    cross-microbatch state lives in a single
    FlatMapGroupsInPandasWithState operator — the cap is enforced
    inside the one state pass (a tail slice + eviction), never as a
    second stateful stage."""
    import pandas as pd

    from kinesumer_spark.streaming.stateful import semcell_admit_pairs

    src = tmp_path / "semcap_plan_src"
    src.mkdir()
    pd.DataFrame(
        [(1, [1.0] * 4)], columns=["doc_id", "e"]
    ).to_parquet(src / "chunk_0.parquet", index=False)
    stream = (
        spark.readStream.schema("doc_id bigint, e array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    probe = stream.selectExpr("doc_id", "e", "doc_id % 16 AS cell")
    df = semcell_admit_pairs(probe, 0.4, cap=32)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert plan.count("StreamingRelation") == 1, plan
    assert plan.count("FlatMapGroupsInPandasWithState") == 1, plan


def test_ann_adc_udf_evaluates_once(spark):
    """r17 (guide §4.4): the posexplode over the ADC pandas UDF plants an
    implicit size/isnotnull filter that — without the asNondeterministic
    mark — duplicates the ArrowEvalPython node, so every corpus vector
    pays the BLAS/ADC scoring twice. Pin exactly ONE Arrow eval node in
    the PQ and IVF-PQ plans (the numbered operator list prints each node
    once in the tree and once in the details — count the tree form)."""
    import re

    for name in ("similarity_pq_topk", "similarity_ivfpq_topk"):
        plan = plan_string(_df(spark, name))
        nodes = re.findall(r"\(\d+\) ArrowEvalPython", plan)
        assert len(nodes) == 1, f"{name}: {len(nodes)} Arrow nodes: {plan[:2000]}"


def test_ivf_assign_cell_evaluates_once(spark):
    """r17 (guide §4.4): the broadcast join on "cell" pushes an implicit
    isnotnull(cell) beneath the corpus projection; without the
    asNondeterministic mark the BLAS assign_cell UDF ran twice per
    corpus vector. similarity_ivf_topk must carry exactly one
    assign_cell and one probe_cells Arrow node."""
    import re

    plan = plan_string(_df(spark, "similarity_ivf_topk"))
    args = re.findall(r"Arguments: \[(assign_cell|probe_cells)\(", plan)
    assert sorted(args) == ["assign_cell", "probe_cells"], args


def test_km_final_assign_evaluates_once(spark):
    """r17 (guide §4.4): similarity_ivf_train's final stats branch is
    the broadcast build side of a left join on "cell" — the planner
    pushes isnotnull(cell) beneath the getItem projection, and without
    the asNondeterministic mark the k-means assign UDF (one int64
    matmul per batch) evaluated twice per corpus vector in a single
    stage (no exchange between the two Arrow nodes, so AQE reuse could
    not collapse them). Pin NO DUPLICATED eval signature (r17 ADVICE:
    a global count==1 pin would also fail on a legitimate second,
    DISTINCT UDF; §4.4's failure mode is the same signature twice)."""
    import re

    plan = plan_string(_df(spark, "similarity_ivf_train"))
    blocks = re.findall(
        r"^\(\d+\) (?:ArrowEvalPython|BatchEvalPython)\s*\n(.*?)(?=^\(\d+\) |\Z)",
        plan,
        flags=re.S | re.M,
    )
    sigs = []
    for blk in blocks:
        m = re.search(r"^Arguments: \[(.*?)\], \[", blk, flags=re.M)
        if m:
            sigs.append(re.sub(r"#\d+", "#", m.group(1)))
    assert blocks and len(sigs) == len(blocks), plan[:2000]
    assert len(sigs) == len(set(sigs)), sigs


def test_fan_out_is_gated_by_layout_and_env(spark):
    """r17: catalog.fan_out must round-robin-repartition above a
    single-split scan (the local fixtures), be the identity when the
    env gate disables it, and be the identity when the source layout
    can already feed the session's parallelism (scale-adaptiveness —
    the driver's lower-core runs and a multi-split production layout
    both take the identity path)."""
    import os

    from kinesumer_spark.catalog import fan_out, read_table, scan_task_bound

    d = read_table(spark, SF_SMALL, "documents")
    # single-split fixture: bound is 1 < defaultParallelism -> repartition
    assert scan_task_bound(SF_SMALL, "documents") == 1
    fanned = fan_out(d, SF_SMALL, "documents")
    assert "RoundRobinPartitioning" in fanned._jdf.queryExecution().toString()
    # env gate off -> identity
    os.environ["SPARK_GRAFT_FANOUT"] = "0"
    try:
        assert fan_out(d, SF_SMALL, "documents") is d
    finally:
        os.environ["SPARK_GRAFT_FANOUT"] = "auto"


def test_runtime_exchange_reuse_pins(spark):
    """r18 (r17 verdict #4): the r17 adjudications that left
    dedup_minhash_lsh and dedup_semantic / similarity_ivf_probe alone
    rest on RUNTIME exchange reuse — AQE collapses their canonically
    identical duplicated subtrees (the shingle chain across join sides;
    the probe_cells branches), so the apparent static-plan duplication
    costs nothing. That only holds while the branches stay canonically
    IDENTICAL: a refactor forking their early projections would silently
    reintroduce the double compute with no test to catch it. Pin the
    ReusedExchange count in the EXECUTED plan (the same QueryExecution
    the action drove — a noop write's qe would show the unexecuted
    isFinalPlan=false plan, the r17 pitfall)."""
    from kinesumer_spark.registry import all_queries

    registry = all_queries()
    expect_min = {
        "dedup_minhash_lsh": 1,   # shingle-set chain shared across verify sides
        "dedup_semantic": 1,      # probe_cells branches collapse at runtime
        "similarity_ivf_probe": 1,
    }
    for name, n_min in expect_min.items():
        df = registry[name].spark(spark, SF_SMALL)
        df.collect()
        simple = df._jdf.queryExecution().executedPlan().toString()
        n = simple.count("ReusedExchange")
        assert n >= n_min, f"{name}: ReusedExchange x{n} < {n_min}"


def test_scan_task_bound_fails_open_on_non_local_paths(spark):
    """r18 (r17 verdict #3): the layout probe uses the local filesystem;
    on an object-store URI (the 100 TB deployment the gate exists for)
    os.scandir raises. The gate must FAIL OPEN — return a bound larger
    than any parallelism so fan_out is the identity — instead of raising
    out of 8 hot query paths."""
    from kinesumer_spark.catalog import _FAIL_OPEN_BOUND, fan_out, read_table, scan_task_bound

    for sf_dir in ("s3a://bucket/prefix", "/nonexistent/dir/xyzzy"):
        bound = scan_task_bound(sf_dir, "documents")
        assert bound == _FAIL_OPEN_BOUND, (sf_dir, bound)
    # and fan_out over the unprobeable layout is the identity, not an error
    d = read_table(spark, SF_SMALL, "documents")
    assert fan_out(d, "s3a://bucket/prefix", "documents") is d


def test_scan_task_bound_probes_unprobeable_path_once(monkeypatch):
    """The fail-open bound is memoized: a path whose probe failed is not
    probed again on later calls (an object-store table is asked for by
    every fan_out on it)."""
    import kinesumer_spark.catalog as catalog

    probes = {"n": 0}
    real_state = catalog._path_state

    def counting_state(path):
        probes["n"] += 1
        return real_state(path)

    monkeypatch.setattr(catalog, "_path_state", counting_state)
    sf_dir = "s3a://bucket/probe-once"
    for _ in range(3):
        assert catalog.scan_task_bound(sf_dir, "documents") == catalog._FAIL_OPEN_BOUND
    assert probes["n"] == 1
    # a probeable layout is still cached by file state, not memoized away
    assert catalog.scan_task_bound(SF_SMALL, "documents") == 1


def test_scratch_base_resolution(monkeypatch):
    """r18: per-run scratch (staging chunks, streaming checkpoints,
    scratch sinks) prefers a RAM-backed /dev/shm under the default
    "auto" — the RocksDB commit's zip+fsync of ephemeral state to a
    virtual disk measures the sandbox's disk, not the computation —
    and stays overridable: an explicit path wins, "disk"/"0" forces
    the tempfile default, and an unusable path falls back cleanly."""
    import os

    from kinesumer_spark.tmpdirs import scratch_base, session_mkdtemp

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "disk")
    assert scratch_base() is None
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "0")
    assert scratch_base() is None
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "/nonexistent/dir/xyzzy")
    assert scratch_base() is None  # unusable explicit path: fall back
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "auto")
        assert scratch_base() == "/dev/shm"
        d = session_mkdtemp(prefix="ks_scratch_test_")
        try:
            assert d.startswith("/dev/shm/")
        finally:
            import shutil

            shutil.rmtree(d, ignore_errors=True)
    # a caller-pinned dir= is never redirected
    import tempfile

    pinned = tempfile.mkdtemp(prefix="ks_scratch_pin_")
    try:
        d2 = session_mkdtemp(prefix="x_", dir=pinned)
        assert d2.startswith(pinned)
    finally:
        import shutil

        shutil.rmtree(pinned, ignore_errors=True)
