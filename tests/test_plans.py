"""Physical-plan quality gates (SURVEY §4 / 100 TB design rules).

These tests pin the *plan shape*, not the results: filters and projections
must reach the parquet scan, small dimensions must broadcast, aggregations
must partial-aggregate before the shuffle, the tiny-ranges interval join must
stay a broadcast nested loop, and no headline query may fall back to
row-at-a-time Python evaluation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from mine_database_spark.queries.registry import QUERIES


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_frontier_select_pushdown_and_pruning(spark, sf_smoke):
    plan = plan_str(QUERIES["frontier_select"](spark, sf_smoke))
    assert "PushedFilters: [" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1].split("]")[0]
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "o_orderkey" in read_schema
    # only the 5 needed columns are read (key, custkey, status, price, date)
    assert read_schema.count(",") == 4


def test_dimension_joins_broadcast(spark, sf_smoke):
    for name in ("top_revenue_orders", "region_revenue", "rule_coverage_cdf"):
        plan = plan_str(QUERIES[name](spark, sf_smoke))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, f"{name}: dimension join should not sort-merge"


def test_pricing_summary_partial_aggregation(spark, sf_smoke):
    plan = plan_str(QUERIES["pricing_summary"](spark, sf_smoke), mode="simple")
    # map-side combine: partial aggregate below the exchange, final above it
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial_sum" in post


def test_range_join_is_broadcast_nested_loop(spark, sf_smoke):
    plan = plan_str(QUERIES["mass_range_join"](spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_find_db_hits_bucketed_no_bnlj(spark):
    """The bucketed mass-range twin must plan as a hash join on the bucket
    key — never a BroadcastNestedLoopJoin or cartesian product."""
    from mine_database_spark.operators.metabolomics import find_db_hits, find_db_hits_bucketed
    from mine_database_spark.schemas import ADDUCT_SCHEMA, CORE_COMPOUND_SCHEMA, PEAK_SCHEMA

    peaks = spark.createDataFrame(
        [("p1", 5.0, 427.0294, "+", None, [])], PEAK_SCHEMA
    )
    adducts = spark.createDataFrame([("[M+H]+", 1.0, 1.007276, "+")], ADDUCT_SCHEMA)
    core = spark.createDataFrame(
        [("Caaa", "mol1", "IK1", 426.022124, 0, "C10", 1.0, [1], ["m"])], CORE_COMPOUND_SCHEMA
    )
    plan = plan_str(find_db_hits_bucketed(peaks, adducts, core))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # contrast: the reference-scale form is the BNLJ
    assert "BroadcastNestedLoopJoin" in plan_str(find_db_hits(peaks, adducts, core))


def test_no_row_python_udf_in_headline_queries(spark, sf_smoke):
    """Python enters the plan only via Arrow (pandas UDF / mapInPandas),
    never via row-at-a-time BatchEvalPython."""
    import bench

    for name in bench.HEADLINE:
        plan = plan_str(QUERIES[name](spark, sf_smoke), mode="simple")
        assert "BatchEvalPython" not in plan, name


def test_exact_dedup_single_shuffle(spark, sf_smoke):
    plan = plan_str(QUERIES["dedup_exact"](spark, sf_smoke), mode="simple")
    assert plan.count("Exchange") == 1


def test_contamination_check_single_text_scan(spark, sf_smoke):
    """The decontamination scan reads the corpus TEXT exactly once (the
    doc_id base list re-reads a pruned column), never sort-merges, and
    broadcasts only the final tiny per-doc join."""
    plan = plan_str(QUERIES["contamination_check"](spark, sf_smoke), mode="simple")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    full = plan_str(QUERIES["contamination_check"](spark, sf_smoke))
    n_text_scans = sum("text" in seg.splitlines()[0] for seg in full.split("ReadSchema: ")[1:])
    assert n_text_scans == 1, full


def test_url_stats_scan_agg_shape(spark, sf_smoke):
    """url_stats is a pure scan + one aggregation: no joins, partial
    aggregation below the single domain-key exchange."""
    plan = plan_str(QUERIES["url_stats"](spark, sf_smoke), mode="simple")
    assert "Join" not in plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post


def test_vocab_oov_broadcasts_vocab(spark, sf_smoke):
    """The top-100 vocabulary must broadcast into the per-token probe —
    never a sort-merge join on the token stream."""
    plan = plan_str(QUERIES["vocab_oov"](spark, sf_smoke), mode="simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-100 without a full vocab sort


def test_winnow_fingerprints_zero_shuffle(spark, sf_smoke):
    """Winnowing is per-document, so the plan must be scan → project →
    generate with NO Exchange at all (the window form shuffles one row per
    character — a 100 TB killer)."""
    plan = plan_str(QUERIES["winnow_fingerprints"](spark, sf_smoke), mode="simple")
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_anti_join_orphan_gc_shape(spark, sf_smoke):
    plan = plan_str(QUERIES["orphan_gc"](spark, sf_smoke))
    assert "LeftAnti" in plan
    # quantity filter is pushed into the lineitem scan
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,48.0)" in plan


def test_bucketed_warehouse_join_has_no_shuffle(spark, tmp_path, network):
    """Bucketed compounds⋈edges on the compound hash must read co-located:
    no Exchange on either side of the join."""
    from mine_database_spark.sources.writers import save_warehouse_bucketed

    compounds, reactions = network
    old_wh = spark.conf.get("spark.sql.warehouse.dir", None)
    save_warehouse_bucketed(compounds, reactions, "bucket_test", n_buckets=4)
    try:
        c = spark.table("bucket_test.compounds")
        e = spark.table("bucket_test.edges")
        joined = c.hint("merge").join(e, c["_id"] == e["c_id"])
        plan = plan_str(joined, mode="simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucket_test CASCADE")


def test_mass_sorted_layout_prunes_files(spark, tmp_path):
    """Range-partitioned mass layout: files cover disjoint mass intervals
    (parquet min/max stats prune windows), and a window query pushes its
    filter to the scan."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mine_database_spark.sources.writers import write_mass_sorted

    df = spark.range(10000).select(
        F.concat(F.lit("C"), F.col("id")).alias("_id"),
        (F.col("id") * 0.05).alias("mass"),
    )
    out = str(tmp_path / "core_by_mass")
    write_mass_sorted(df, out, n_files=4)

    import glob
    ranges = []
    for f in sorted(glob.glob(out + "/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        col = md.row_group(0).column(1)
        assert col.path_in_schema == "mass"
        lo = min(md.row_group(g).column(1).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(1).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {ranges}"

    q = spark.read.parquet(out).where(F.col("mass").between(100.0, 101.0))
    plan = plan_str(q)
    assert "GreaterThanOrEqual(mass,100.0)" in plan and "LessThanOrEqual(mass,101.0)" in plan
    assert q.count() == 21


def test_registry_builds_are_action_free(spark, sf_smoke):
    """Building a registry DataFrame must trigger ZERO Spark jobs — driver
    actions at plan-build time (eager pivot-distinct, count(), first()) are
    hidden full passes at 100 TB. Exceptions: dup_clusters, whose iterative
    label propagation must converge to define its result, and the PQ
    family (ann_pq_topk / ann_pq_rescored / ann_ivf_pq), whose PQ codebook
    (m*ks tiny centroids) is deliberately collected once at build so
    encode + LUT compile to literal-inlined codegen scans — index
    CONSTRUCTION, the step a production deployment runs offline and
    materializes (similarity.collect_pq_codebook) — and k_core, whose
    per-round eager checkpoints ARE the peel (a lazy 6-round chain
    multiplies the logical plan, the round-9 explosion; like
    dup_clusters, the iteration must run to define the result).
    keep_best_dedup composes dup_clusters' CC iteration and inherits its
    exemption for the same reason. label_propagation and k_truss are
    k_core's class: per-round eager checkpoints ARE the iteration.
    ngram_jaccard / knn_graph_lsh / embed_neardup_lsh run their declared
    pre-flight volume guards (r14 verdict #4 / r15): ONE tiny aggregation
    over the posting lists / band buckets computing the exact pair-join
    volume before the join is built — the deliberate price of making the
    measured-lethal quadratic configurations opt-in (uncapped ngram was
    measured-killed >20 min, the unguarded LSH config killed the 24g
    driver JVM at 10x). The guard action doubles as the materialization
    pass of the persisted shingle/band table, so it is not an extra
    corpus scan; guarded configs (df_cap / candidates / bucket_cap or
    max_candidate_pairs=None) skip it and stay action-free."""
    from mine_database_spark.session import load_tables
    from mine_database_spark.queries.registry import QUERIES

    load_tables(spark, sf_smoke)  # warm the memoized table reads
    st = spark.sparkContext.statusTracker()
    offenders = {}
    for name, fn in sorted(QUERIES.items()):
        if name in ("dup_clusters", "keep_best_dedup", "ann_pq_topk",
                    "ann_pq_rescored", "ann_ivf_pq", "k_core",
                    "label_propagation", "k_truss",
                    # lang_id_model is the PQ-codebook class: its NB fit
                    # collects <= langs x 729 count rows once at model
                    # construction (offline at 100 TB), then scoring is a
                    # pure literal scan
                    "lang_id_model",
                    # the pre-flight volume-guard class (see docstring)
                    "ngram_jaccard", "knn_graph_lsh", "embed_neardup_lsh"):
            continue
        before = set(st.getJobIdsForGroup(None) or [])
        fn(spark, sf_smoke)
        after = set(st.getJobIdsForGroup(None) or [])
        if after - before:
            offenders[name] = len(after - before)
    assert not offenders, offenders


def test_round_loops_checkpoint_only_through_iterate():
    """operators/iterate.py is the one place a loop checkpoints a round:
    no `localCheckpoint` call may sit inside a for/while loop anywhere
    else in the package."""
    import ast
    from pathlib import Path

    import mine_database_spark

    root = Path(mine_database_spark.__file__).parent
    offenders = set()
    for path in sorted(root.rglob("*.py")):
        if path == root / "operators" / "iterate.py":
            continue
        for loop in ast.walk(ast.parse(path.read_text())):
            if isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
                offenders |= {
                    f"{path.relative_to(root)}:{node.lineno}"
                    for node in ast.walk(loop)
                    if isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                }
    assert not offenders, sorted(offenders)


def test_doc_chunks_zero_shuffle_no_python(spark, sf_smoke):
    """Chunking is per-document: scan -> project -> generate, with no
    Exchange and no Python evaluation — it must run at parquet scan speed."""
    plan = plan_str(QUERIES["doc_chunks"](spark, sf_smoke), mode="simple")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan


def test_pack_sequences_single_shard_exchange(spark, sf_smoke):
    """Packing shards on the source key: exactly one hash exchange feeds
    the Arrow-batched per-shard walk, and the token count is computed
    JVM-side (the only Python in the plan is the packer itself)."""
    plan = plan_str(QUERIES["pack_sequences"](spark, sf_smoke), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_domain_mixture_broadcasts_rates(spark, sf_smoke):
    """The O(#domains) keep-rate table broadcasts back onto the scan —
    the corpus itself is never shuffled for the keep/drop decision."""
    plan = plan_str(QUERIES["domain_mixture_sample"](spark, sf_smoke), mode="simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_incremental_dedup_prefilter_broadcasts(spark, sf_smoke):
    """Both prefilter phases (anti + semi against the bucket set) must
    broadcast the bounded bucket digest, never shuffle the batch on it."""
    plan = plan_str(QUERIES["incremental_dedup"](spark, sf_smoke), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan and "LeftSemi" in plan


def test_assign_ids_no_single_partition_data_sort(spark, sf_smoke):
    """assign_ids numbers compounds/reactions via distributed_rank: the
    plan must contain the range-partitioned exchange and the __pid-keyed
    window, and the only SinglePartition exchange may sit above an
    aggregate (the O(#partitions) offsets), never under a Sort consuming
    data-proportional rows — the pattern the old global row_number
    compiled to."""
    from mine_database_spark.operators.network import assign_ids
    from mine_database_spark.session import load_tables

    t = load_tables(spark, sf_smoke)
    # stand-in network tables with the assign_ids input shape
    compounds = t["customer"].selectExpr(
        "CAST(c_custkey AS STRING) AS _id",
        "c_custkey % 3 AS generation",
        "CAST(NULL AS STRING) AS id",
    )
    reactions = t["orders"].selectExpr(
        "CAST(o_orderkey AS STRING) AS _id",
        "array(named_struct('stoich', 1, 'c_id', CAST(o_custkey AS STRING))) AS reactants",
        "array(named_struct('stoich', 1, 'c_id', CAST(o_custkey AS STRING))) AS products",
        "array('op') AS operators",
        "'t' AS text",
    )
    cpds, rxns = assign_ids(compounds, reactions)
    for df in (cpds, rxns):
        plan = plan_str(df)
        assert "rangepartitioning" in plan
        assert "windowspecdefinition(__pid" in plan, "rank window must be __pid-keyed"
        # every SinglePartition exchange must feed from an aggregate
        # (offsets), not from a data-proportional sort
        segs = plan.split("Exchange SinglePartition")
        for seg in segs[1:]:
            head = seg[:400]
            assert "HashAggregate" in head or "SortAggregate" in head, head


def test_segment_dedup_no_hot_digest_window(spark, sf_smoke):
    """segment_dedup's first-wins must stay the de-skewed shape (round 8):
    winner per digest = min(struct(doc_id, seg_idx)) — a map-side-combinable
    HashAggregate keyed by the digest — joined back on the digest (AQE can
    skew-split a join, never a window partition). A digest-keyed Window
    would sort EVERY copy of a hot boilerplate segment in one task: assert
    no Window partitioned by the segment digest ever reappears."""
    df = QUERIES["segment_dedup"](spark, sf_smoke)
    plan = plan_str(df, mode="simple")
    # no window whose partition key is the digest column
    for frag in plan.split("windowspecdefinition(")[1:]:
        assert not frag.lstrip().startswith("__digest"), (
            "hot-digest window reintroduced:\n" + plan
        )
    # the de-skewed shape: digest-keyed aggregate (min(struct) winner,
    # partial map-side) + an equi-join back on the digest
    assert "partial_min" in plan
    assert (
        "HashAggregate(keys=[__digest" in plan
        or "SortAggregate(key=[__digest" in plan
        or "ObjectHashAggregate(keys=[__digest" in plan
    ), plan
    assert "SortMergeJoin [__digest" in plan or "BroadcastHashJoin [__digest" in plan or (
        "ShuffledHashJoin [__digest" in plan
    ), plan


def test_plan_shape_queries_invariant_under_aqe_stress(spark, sf_smoke):
    """The queries whose correctness rides on plan-shape invariants
    (prefix-sum exchange reuse, de-skewed first-wins join-backs, bucketed
    range join) must return IDENTICAL rows when AQE is pushed to its
    extremes: 1KB advisory/min partition sizes (maximal coalescing
    divergence), forced skew-join splitting, and broadcast joins disabled
    (everything becomes a shuffle join). All of these are runtime-settable
    SQL confs, so the sweep runs in the shared session and restores state."""
    names = [
        "token_shards",
        "unigram_logprob",
        "bigram_logprob",
        "assign_ids",
        "span_scrub",
        "segment_dedup",
        "mass_range_join_bucketed",
        "shard_balance",  # rides token_shards' prefix-sum exchange reuse
        "snm_pairs",  # rides distributed_rank's prefix-sum exchange reuse
        "binary_dedup",  # digest-keyed group + join-back (skew-splittable)
        "binary_neardup",  # band self-join + signature groupBy (skew-splittable)
    ]
    stress = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    base = {n: sorted(tuple(r) for r in QUERIES[n](spark, sf_smoke).collect()) for n in names}
    saved = {k: spark.conf.get(k, None) for k in stress}
    try:
        for k, v in stress.items():
            spark.conf.set(k, v)
        for n in names:
            got = sorted(tuple(r) for r in QUERIES[n](spark, sf_smoke).collect())
            assert got == base[n], f"{n} diverged under AQE stress"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_span_scrub_no_hot_digest_window(spark, sf_smoke):
    """repeated_span_scrub must keep the same de-skewed first-wins shape as
    segment_dedup: winner per span digest = min(struct) HashAggregate +
    equi-join back (AQE can skew-split a join on a hot boilerplate span,
    never a window partition). The only Windows allowed are the per-DOC
    interval-merge windows (bounded by document length)."""
    df = QUERIES["span_scrub"](spark, sf_smoke)
    plan = plan_str(df, mode="simple")
    for frag in plan.split("windowspecdefinition(")[1:]:
        assert frag.lstrip().startswith("doc_id"), (
            "non-doc-keyed window in span_scrub (hot-digest hazard):\n" + plan
        )
    assert "partial_min" in plan
    assert (
        "HashAggregate(keys=[__digest" in plan
        or "SortAggregate(key=[__digest" in plan
        or "ObjectHashAggregate(keys=[__digest" in plan
    ), plan
    assert "SortMergeJoin [__digest" in plan or "BroadcastHashJoin [__digest" in plan or (
        "ShuffledHashJoin [__digest" in plan
    ), plan
    # rebuild stays JVM-side: no Python in the plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_shards_distributed_prefix_sum_plan(spark, sf_smoke):
    """token_shards must compute its global running total as the two-level
    distributed prefix sum: a range exchange (reused across both branches),
    a window PARTITIONED by the physical partition id (parallel — never a
    global unpartitioned window over the corpus), and a broadcast of the
    O(#partitions) offsets. The only SinglePartition exchange allowed is
    the offsets branch, which sits above a partial aggregate."""
    df = QUERIES["token_shards"](spark, sf_smoke)
    # AQE applies ReuseExchange at runtime — run THIS DataFrame's own
    # QueryExecution (a write would spawn a fresh one) so plan_str reflects
    # the final adaptive plan, not the pre-execution sketch
    df.collect()
    plan = plan_str(df)
    assert "rangepartitioning" in plan
    assert "ReusedExchange" in plan, "range exchange must be shared, not recomputed"
    # exactly ONE physical range shuffle: the offsets branch is derived from
    # the window outputs themselves (packing.py distributed_prefix_sum), so a
    # second materialized range exchange means the boundary-sampling
    # nondeterminism hazard is back — fail loudly. Count in the FINAL
    # adaptive plan only (simple mode appends the pre-AQE "Initial Plan",
    # which legitimately shows both branches un-deduplicated).
    final = plan_str(df, mode="simple").split("Initial Plan")[0]
    n_range = final.count("Exchange rangepartitioning")
    assert n_range == 1, f"expected exactly 1 range exchange, found {n_range}\n{final}"
    # ... and the __pid hash shuffle is shared too: the only materialized one
    # plus the ReusedExchange reference that names its target
    n_pid = final.count("Exchange hashpartitioning(__pid")
    assert n_pid <= 2, f"offsets branch re-shuffled the kernel by __pid\n{final}"
    assert "windowspecdefinition(__pid" in plan, "corpus window must be keyed by __pid"
    # the corpus-side window is the one with a partition spec; the global
    # (unpartitioned) window may only appear above the offsets HashAggregate
    pre, _, post = plan.partition("HashAggregate")
    assert "Exchange SinglePartition" not in pre
    assert "BroadcastHashJoin" in plan


def test_priority_dedup_single_shuffle_no_window(spark, sf_smoke):
    """priority_dedup keeps exact_dedup's shape with a policy: ONE
    digest-keyed map-side-combinable min(struct) aggregate — never a
    per-digest window (which could not skew-split a hot boilerplate
    digest) and never a join for the priority map (inline literal MAP)."""
    plan = plan_str(QUERIES["priority_dedup"](spark, sf_smoke), mode="simple")
    assert "Window" not in plan, plan
    assert "Join" not in plan.replace("union", ""), plan  # map is a literal, not a join
    assert plan.count("Exchange") == 1, plan
    assert "partial_min" in plan and "partial_count" in plan, plan


def test_length_percentile_filter_corpus_never_shuffles(spark, sf_smoke):
    """The per-source thresholds are ONE O(#sources) aggregate broadcast
    back onto a stateless scan: exactly one hash exchange (the threshold
    agg), a broadcast join, and no window/sort-merge — the corpus itself
    must never shuffle (a percent_rank window would die on a dominant
    source)."""
    plan = plan_str(QUERIES["length_percentile_filter"](spark, sf_smoke), mode="simple")
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_snapshot_diff_single_join_no_window(spark, sf_smoke):
    """snapshot_diff is ONE full-outer join of two digest projections —
    no windows, no nested-loop fallback, and both sides shuffle only on
    the id key."""
    plan = plan_str(QUERIES["snapshot_diff"](spark, sf_smoke), mode="simple")
    assert "FullOuter" in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_knn_graph_ivf_shape(spark, sf_smoke):
    """The IVF graph's corpus-sized work must stay inside the cogrouped
    Arrow tiles: codebook broadcast (1-row), no row-at-a-time Python, no
    corpus cross join, and the multi-list duplicate collapse is a
    map-side-combinable aggregate BEFORE the top-k window."""
    plan = plan_str(QUERIES["knn_graph_ivf"](spark, sf_smoke), mode="simple")
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_max" in plan, plan  # (a,b) dedup agg, map-side
    # dedup agg must sit BELOW the ranking window in the plan tree
    assert plan.index("partial_max") > plan.index("Window"), plan


def test_source_overlap_no_cross_join(spark, sf_smoke):
    """source_overlap pairs sources through the shingle inverted index —
    an equi-join whose fan-out is bounded by #sources per shingle — never
    a cross join of the source sets, with map-side partial aggregation on
    the pair counts."""
    plan = plan_str(QUERIES["source_overlap"](spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan, plan


def test_mixture_upsample_zero_shuffle(spark, sf_smoke):
    """Epoch upsampling is a stateless scan + Generate: the literal factor
    map means NO join, NO aggregate, NO exchange — output volume is the
    only cost at 100 TB."""
    plan = plan_str(QUERIES["mixture_upsample"](spark, sf_smoke), mode="simple")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_winnow_pairs_inverted_index_shape(spark, sf_smoke):
    """winnow_pairs pairs documents through the fingerprint inverted index
    — an equi-join, never a cross join — with the df-cap aggregate and the
    pair count both map-side combinable."""
    plan = plan_str(QUERIES["winnow_pairs"](spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan, plan
    assert "InMemoryTableScan" in plan, plan  # fingerprint table persisted across branches


def test_knn_graph_tile_kernel_shape(spark, sf_smoke):
    """The exact kNN graph's O(n²) work lives inside cogrouped Arrow tiles:
    FlatMapCoGroupsInPandas present, no row-at-a-time Python, and the only
    nested-loop join is the constant 8x8 block-pair grid (its build side
    is a range, not the corpus)."""
    plan = plan_str(QUERIES["knn_graph"](spark, sf_smoke), mode="simple")
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the corpus scan must never sit under a nested-loop join build
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        head = frag[:400]
        assert "Scan parquet" not in head.split("FlatMapCoGroupsInPandas")[0] or "Range" in head, plan


def test_knn_graph_lsh_blocked_rescore(spark, sf_smoke):
    """The LSH graph twin must rescore candidates through the blocked
    cogrouped einsum (score_pairs_blocked), never a per-pair interpreted
    cosine fold: FlatMapCoGroupsInPandas present, no cross join, no
    row-Python."""
    plan = plan_str(QUERIES["knn_graph_lsh"](spark, sf_smoke), mode="simple")
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_url_dedup_scan_agg_shape(spark, sf_smoke):
    """Canonical-URL dedup is a pure regexp/array scan + ONE canonical-key
    aggregate — no joins, no Python, map-side partials."""
    plan = plan_str(QUERIES["url_dedup"](spark, sf_smoke), mode="simple")
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "partial_min" in plan and "partial_count" in plan, plan


def test_html_extract_zero_shuffle_no_python(spark, sf_smoke):
    """Markup extraction is a pure regexp-chain scan: no Exchange, no
    joins, no Python — parquet scan speed at 100 TB."""
    plan = plan_str(QUERIES["html_extract"](spark, sf_smoke), mode="simple")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_normalized_dedup_single_shuffle(spark, sf_smoke):
    """Normalization is scan-side; the operator keeps exact_dedup's
    single-shuffle shape with map-side partials (the distinct-variant
    count is Spark's two-phase expand over the same exchange)."""
    plan = plan_str(QUERIES["normalized_dedup"](spark, sf_smoke), mode="simple")
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # count-distinct expand


def test_char_entropy_zero_shuffle_no_python(spark, sf_smoke):
    """The entropy fold is a row-local array expression: pure scan, no
    Exchange, no Python — the quality signal costs one corpus pass."""
    plan = plan_str(QUERIES["char_entropy"](spark, sf_smoke), mode="simple")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_pii_pseudonymize_zero_shuffle_no_python(spark, sf_smoke):
    """Split + hash + interleave are all Catalyst expressions — the
    pseudonymization pass is a pure scan like redaction."""
    plan = plan_str(QUERIES["pii_pseudonymize"](spark, sf_smoke), mode="simple")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_dedup_report_stacked_aggregates(spark, sf_smoke):
    """Two stacked map-side-combinable aggregates, no joins/windows; the
    source rollup's key is a prefix of the cluster key, so at most two
    hash exchanges appear (AQE can reuse the first at runtime)."""
    plan = plan_str(QUERIES["dedup_report"](spark, sf_smoke), mode="simple")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post


def test_simhash_hamming_band_join_never_all_pairs(spark, sf_smoke):
    """Candidates come from the 4-band equi-self-join; the verify is a
    row-local xor. No cartesian/broadcast-nested-loop anywhere, and no
    per-pair Python."""
    plan = plan_str(QUERIES["simhash_hamming"](spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_ngram_containment_inverted_index_shape(spark, sf_smoke):
    """Pair generation is the shingle-keyed equi-join (ngram_jaccard's
    family) — never a cross join of documents."""
    plan = plan_str(QUERIES["ngram_containment"](spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bm25_stats_broadcast_corpus_never_shuffles_tokens_twice(spark, sf_smoke):
    """df/N/avgdl join back as broadcasts; the heavy token stream shuffles
    only for the tf aggregate. Global top-k is a sort-limit
    (TakeOrderedAndProject), never a full-corpus sort."""
    plan = plan_str(QUERIES["bm25_topk"](spark, sf_smoke), mode="simple")
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_stratified_sample_single_exchange_group_limit(spark, sf_smoke):
    """One hash exchange on the stratum key; Spark 3.5's WindowGroupLimit
    must rewrite the rank filter into partial limits below the shuffle so
    a hot stratum never ships its full population."""
    plan = plan_str(QUERIES["stratified_sample"](spark, sf_smoke), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "WindowGroupLimit" in plan, plan
    assert "Join" not in plan, plan


def test_inverted_index_single_distinct_then_group(spark, sf_smoke):
    """The (tok, doc) distinct and the tok group are the only exchanges;
    no joins, map-side partials present."""
    plan = plan_str(QUERIES["inverted_index"](spark, sf_smoke), mode="simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post


def test_inverted_index_capped_pushes_partial_limits(spark, sf_smoke):
    """With max_postings set, the posting branch must carry Spark's
    WindowGroupLimit rewrite (rank<=N filter over the tok window): each
    map task keeps only N ids per term BEFORE the shuffle, so a stop-word
    term's reduce-side rows are O(N x maps), not O(corpus) — the straggler
    guard the knob promises (round-10 ADVICE: the old post-agg slice only
    bounded OUTPUT size)."""
    from mine_database_spark.operators.search import inverted_index
    from mine_database_spark.queries.registry import _t

    (d,) = _t(spark, sf_smoke, "documents")
    plan = plan_str(inverted_index(d, min_df=2, max_postings=8), mode="simple")
    assert "WindowGroupLimit" in plan, plan


def test_pagerank_linear_iteration_chain(spark, sf_smoke):
    """5 iterations = a LINEAR chain of src-join + dst-agg: no cartesian,
    no windows, no Python; per-iteration shuffle volume is O(edges)."""
    plan = plan_str(QUERIES["pagerank"](spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_key_skew_audit_sort_limit(spark, sf_smoke):
    """Histogram agg map-side combined; total broadcasts as one row; the
    top-N is TakeOrderedAndProject — never a full histogram sort."""
    plan = plan_str(QUERIES["key_skew"](spark, sf_smoke), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post


def test_funnel_reuses_user_clustering(spark, sf_smoke):
    """Every funnel stage aggregates on the same user key; no windows, no
    Python, no cartesian — per-user state is one timestamp per stage."""
    plan = plan_str(QUERIES["funnel"](spark, sf_smoke), mode="simple")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_retention_two_aggregates_one_join(spark, sf_smoke):
    """Distinct activity + per-user min share the user-keyed exchange;
    one equi-join; final rollup is tiny."""
    plan = plan_str(QUERIES["retention"](spark, sf_smoke), mode="simple")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan, plan


def test_bloom_decontaminate_corpus_side_zero_shuffle(spark, sf_smoke):
    """The corpus probe is a scan against a broadcast one-row bitmap: the
    only exchanges belong to the tiny eval-side build; the corpus TEXT
    scan feeds no Exchange (no sort-merge join, no corpus aggregation,
    no Python)."""
    plan = plan_str(QUERIES["bloom_decontaminate"](spark, sf_smoke), mode="simple")
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Window" not in plan, plan
    # eval build: gram distinct (2-phase) + word pack + the single-row
    # map collect — everything else must stay exchange-free
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert plan.count("BroadcastExchange") == 1, plan


def test_cms_bounded_state_map_side(spark, sf_smoke):
    """The CMS build is one map-side-combinable aggregate into <= d·w
    cells; probes join the cell table broadcast — never sort-merge."""
    plan = plan_str(QUERIES["cms_token_freq"](spark, sf_smoke), mode="simple")
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post


def test_hll_registers_map_side_no_window(spark, sf_smoke):
    """Register build = one max-aggregate (<= 1024 rows per group);
    estimate = one more tiny aggregate. No windows, no Python."""
    plan = plan_str(QUERIES["hll_vocab"](spark, sf_smoke), mode="simple")
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_blocklist_filter_zero_shuffle_no_python(spark, sf_smoke):
    """The blocklist gate is a pure scan: literal-array membership, counts,
    density, verdict — all inside the projection."""
    plan = plan_str(QUERIES["blocklist_filter"](spark, sf_smoke), mode="simple")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_zipf_audit_group_limit_no_cartesian(spark, sf_smoke):
    """The per-group top-N filter must carry WindowGroupLimit (partial
    limits map-side over the vocab histogram); regression is a plain
    aggregate; no Python, no cartesian."""
    plan = plan_str(QUERIES["zipf_audit"](spark, sf_smoke), mode="simple")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_rate_anomaly_broadcast_stats_no_window(spark, sf_smoke):
    """Per-key stats are an O(#keys) aggregate joined BROADCAST back onto
    the bucket counts — never a window over the corpus, never a shuffle
    join for the tiny stats side."""
    plan = plan_str(QUERIES["rate_anomaly"](spark, sf_smoke), mode="simple")
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_event_transitions_sort_limit_not_full_sort(spark, sf_smoke):
    """Global top-k must be TakeOrderedAndProject (sort-limit), the
    transition count at most |types|^2 rows; the per-from totals join
    broadcast."""
    plan = plan_str(QUERIES["event_transitions"](spark, sf_smoke), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_embedding_outliers_broadcast_centroids_group_limit(spark, sf_smoke):
    """The centroid table joins BROADCAST onto a stateless scoring scan
    (zip_with/aggregate are row-local), the bottom-k is WindowGroupLimit,
    and nothing corpus-sized cross-joins or enters Python."""
    plan = plan_str(QUERIES["embedding_outliers"](spark, sf_smoke), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_hist_quantiles_map_side_bin_counts(spark, sf_smoke):
    """The (group, bin) count must partial-aggregate map-side (shuffled
    rows <= maps * groups * n_bins); the cumulative walk runs over the
    tiny histogram, never the corpus."""
    plan = plan_str(QUERIES["hist_quantiles"](spark, sf_smoke), mode="simple")
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post, plan


def test_triangle_count_equi_joins_only(spark, sf_smoke):
    """Triangle enumeration is three node-keyed equi-joins over the
    id-oriented edge list — never a cartesian, never Python."""
    plan = plan_str(QUERIES["triangle_count"](spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_triangle_count_deg_equi_joins_only(spark, sf_smoke):
    """The degree-oriented twin adds two degree equi-joins for the
    orientation but the wedge join itself stays a node-keyed equi-join
    with the (degree, id) order as a post-join FILTER — never a
    cartesian or a range join, never Python."""
    plan = plan_str(QUERIES["triangle_count_deg"](spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_token_pmi_broadcast_vocab_sort_limit(spark, sf_smoke):
    """The top-100 vocabulary broadcasts into the pair fan-out (semi-join)
    and the final top-k is a sort-limit — the corpus never sort-merges
    against the vocab."""
    plan = plan_str(QUERIES["token_pmi"](spark, sf_smoke), mode="simple")
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_lang_mismatch_scan_single_agg(spark, sf_smoke):
    """Metadata-consistency audit is a pure scan + ONE source-keyed
    aggregate: no joins, partial agg below the exchange."""
    plan = plan_str(QUERIES["lang_mismatch"](spark, sf_smoke), mode="simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post


def test_k_core_broadcast_keeps_no_cartesian(spark, sf_smoke):
    """The per-round eager checkpoints execute the peel joins at build
    time, so the VISIBLE plan is the final degree rebuild over the last
    checkpoint: one map-side-combined aggregate, no joins, no Python —
    which is itself the load-bearing assertion (a lazy chain here was the
    round-9 plan-growth explosion; the checkpoint collapsing the plan to
    this shape is the fix working)."""
    plan = plan_str(QUERIES["k_core"](spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Join" not in plan, plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post, plan


def test_k_core_peel_round_broadcast_both_ways(spark):
    """`broadcast_keep=True` pins BroadcastHashJoin on the keep-list;
    the DEFAULT (False) carries no hint, so with auto-broadcast disabled
    the same round plans as a shuffled semi-join — the documented 100 TB
    sort-merge path is reachable (r11 verdict #2: an O(nodes) keep-list
    must never be hint-pinned to the driver)."""
    from pyspark.sql import functions as F

    from mine_database_spark.operators.graph import _peel_round

    e = spark.range(1000).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 1000).alias("dst")
    )
    keep = spark.range(500).select(F.col("id").alias("node"))
    hinted = plan_str(_peel_round(e, keep, True), mode="simple")
    assert "BroadcastHashJoin" in hinted, hinted
    assert "SortMergeJoin" not in hinted, hinted
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        free = plan_str(_peel_round(e, keep, False), mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in free, free
    assert ("SortMergeJoin" in free) or ("ShuffledHashJoin" in free), free


def test_embedding_drift_broadcast_joins_no_python(spark, sf_smoke):
    """Everything after the two (group, dim) sum aggregates is O(groups)
    rows: the sum-table join and both count joins broadcast, nothing
    sort-merges, and the whole query stays JVM-side."""
    plan = plan_str(QUERIES["embedding_drift"](spark, sf_smoke), mode="simple")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ks_drift_post_agg_walk_no_python(spark, sf_smoke):
    """Both snapshot scans fold to value-histogram partial aggregates
    BEFORE any join; the full-outer merge and cumulative window run over
    the O(distinct values) post-agg rows; zero Python."""
    plan = plan_str(QUERIES["ks_drift"](spark, sf_smoke), mode="simple")
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post, plan


def test_text_knn_group_limit_no_cartesian(spark, sf_smoke):
    """The per-doc top-k is a WindowGroupLimit (partial limits map-side),
    pair generation stays the shingle equi-join — never a cartesian,
    never Python."""
    plan = plan_str(QUERIES["text_knn"](spark, sf_smoke), mode="simple")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_collapse_repeats_single_scan_no_python(spark, sf_smoke):
    """The stutter scrub is per-row JVM array expressions: one corpus
    scan, ONE exchange (the report aggregate), partial agg below it,
    never Python."""
    plan = plan_str(QUERIES["collapse_repeats"](spark, sf_smoke), mode="simple")
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post, plan


def test_adamic_adar_sort_limit_no_cartesian(spark, sf_smoke):
    """Common-neighbor enumeration is the wedge equi-join on the center
    key; the final top-k is a sort-limit — never a cartesian, never
    Python."""
    plan = plan_str(QUERIES["adamic_adar"](spark, sf_smoke), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_token_drift_sort_limits_no_corpus_join(spark, sf_smoke):
    """Both snapshot scans fold to token-count aggregates; the vocab pick
    and the final ranking are sort-limits; the only join is the O(vocab)
    full-outer count merge plus the 1-row totals broadcast — the corpus
    never joins anything."""
    plan = plan_str(QUERIES["token_drift"](spark, sf_smoke), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_edit_distance_pairs_block_equijoin_no_cartesian(spark, sf_smoke):
    """Candidate generation is an equi-join on the prefix block key —
    never a cartesian, never Python; the bounded levenshtein is a JVM
    expression. The block-cap pre-aggregate keeps a partial stage."""
    plan = plan_str(QUERIES["edit_distance_pairs"](spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "levenshtein" in plan, plan


def test_snm_pairs_range_rank_bucket_equijoin(spark, sf_smoke):
    """The global sort order materializes as distributed_rank's RANGE
    shuffle (never a single-partition global window over the corpus);
    adjacency pairing is an equi-join on the window bucket; zero Python."""
    plan = plan_str(QUERIES["snm_pairs"](spark, sf_smoke), mode="simple")
    assert "Exchange rangepartitioning" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_profile_table_split_agg_sort_free(spark, sf_smoke):
    """r15 shape (OPTIMIZATION_r15.md): the exact-distinct profile of a
    table WITH string columns splits into two aggregations — the plain
    count/nulls/min/max agg (GLOBAL, so its SortAggregate is a streaming
    fold with no Sort) and the distincts' Expand + HashAggregate (bigint
    buffers, codegen) — recombined by a trivial 1-row × 1-row join. The
    pre-r15 single df.agg mixed string min/max buffers (no HashAggregate)
    with the multi-distinct Expand and planned SortAggregate at EVERY
    phase, fully sorting the ×(len(cols)+1) expanded rows twice. The
    price is one extra column-pruned scan; the win is zero Sort nodes
    anywhere, and per-column distincts still compile to a single Expand
    with map-side partials. Still no Python."""
    plan = plan_str(QUERIES["profile_table"](spark, sf_smoke), mode="simple")
    assert plan.count("Scan parquet") == 2, plan
    assert "Expand" in plan, plan
    assert "HashAggregate" in plan, plan
    # the point of the split: no Sort OPERATOR anywhere (a SortAggregate
    # with no grouping keys requires no ordering; "Sort [" is the
    # operator's render, distinct from "SortAggregate")
    assert "Sort [" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_decayed_score_broadcast_anchor_takeordered(spark, sf_smoke):
    """The age anchor is a broadcast 1-row max (never a shuffle of the
    event table against it), the per-key sum keeps a map-side partial,
    and the top-k is a sort-limit — zero Python, no cartesian."""
    plan = plan_str(QUERIES["decayed_score"](spark, sf_smoke), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    pre, _, post = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in pre and "partial" in post, plan


def test_lpa_round_aggregate_argmax_no_window(spark):
    """One LPA round: the per-node argmax is a max_by AGGREGATE (partial
    map-side, measured 9.5s -> 6.3s vs the window form at sf0.1), so the
    plan has NO Window/sort; the vote join is an equi-join, zero Python."""
    from pyspark.sql import functions as F

    from mine_database_spark.operators.graph import _lpa_round

    sym = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "a long, b long"
    )
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    plan = plan_str(_lpa_round(sym, labels), mode="simple")
    assert "Window" not in plan, plan
    assert "partial" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_hybrid_rrf_fusion_no_corpus_rescan_no_python(spark, sf_smoke):
    """The fusion runs over two top-k lists: the final top-k is a
    sort-limit, nothing cartesian, zero Python; and fusing adds ZERO
    corpus text scans beyond what the BM25 side already reads."""
    plan = plan_str(QUERIES["hybrid_rrf"](spark, sf_smoke), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    def text_scans(df):
        full = plan_str(df)
        return sum(
            "text" in seg.splitlines()[0]
            for seg in full.split("ReadSchema: ")[1:]
        )

    assert text_scans(QUERIES["hybrid_rrf"](spark, sf_smoke)) == text_scans(
        QUERIES["bm25_topk"](spark, sf_smoke)
    )


def test_mad_anomaly_broadcast_stats_no_window(spark, sf_smoke):
    """Both percentile stages aggregate O(key-bucket) rows and join back
    broadcast — the bucket table never sort-merges against its own
    stats, and nothing needs a per-key sort window."""
    plan = plan_str(QUERIES["mad_anomaly"](spark, sf_smoke), mode="simple")
    assert "SortMergeJoin" not in plan, plan
    # >= 2: the median join appears once per wm consumer (the MAD branch
    # recomputes it), every occurrence must still be a broadcast build
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_fuzzy_contamination_band_equijoin_group_limit(spark, sf_smoke):
    """The cross-corpus candidate step is an equi-join on (band,
    band_sig) — never |train|x|bench|; the best-match pick is a single
    max_by aggregate (NO window, no per-group sort); zero Python, zero
    cartesian."""
    plan = plan_str(QUERIES["fuzzy_contamination"](spark, sf_smoke), mode="simple")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_source_top_terms_single_token_scan_group_limit(spark, sf_smoke):
    """ONE token explode feeds the (group, tok) count; group totals and
    corpus token totals are post-agg rollups of that table (the corpus
    text is scanned exactly once); the per-group top-k compiles to a
    WindowGroupLimit; the corpus total broadcasts; zero Python."""
    plan = plan_str(QUERIES["source_top_terms"](spark, sf_smoke), mode="simple")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    full = plan_str(QUERIES["source_top_terms"](spark, sf_smoke))
    n_text = sum(
        "text" in seg.splitlines()[0] for seg in full.split("ReadSchema: ")[1:]
    )
    assert n_text == 1, full


def test_lsh_candidate_fraction_band_equijoin_only(spark, sf_smoke):
    """The degeneracy audit must itself be cheap: the pair count comes
    from the band SELF equi-join (never an all-pairs cross), there is no
    rescore (no cosine arithmetic on the embedding column after banding),
    and the only nested-loop joins are the two final single-row scalar
    cross joins stitching the one-row aggregates together."""
    df = QUERIES["lsh_candidate_fraction"](spark, sf_smoke)
    plan = plan_str(df, mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Window" not in plan, plan


def test_binary_dedup_digest_only_shuffle(spark, sf_smoke):
    """Blobs never shuffle: every Exchange in the dedup plan carries only
    the id/digest projection (the binary column is pruned before the
    group/join), and the join back is an equi-join (no window, no
    nested loop)."""
    plan = plan_str(QUERIES["binary_dedup"](spark, sf_smoke), mode="simple")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    full = plan_str(QUERIES["binary_dedup"](spark, sf_smoke))
    # the only columns read from parquet are doc_id and text (digest
    # computes scan-side); no exchange ever lists the blob/text column
    for seg in full.split("Exchange ")[1:]:
        first = seg.splitlines()[0]
        assert "blob" not in first and "text" not in first, first


def test_binary_neardup_banded_never_all_pairs(spark, sf_smoke):
    """The byte-gram near-dup tier is banded like text MinHash-LSH: every
    join in the plan is an equi-join (band/band_sig or doc_id) — no
    cartesian, no nested loop, no window, no Python — and no Exchange
    ever carries the blob/text column: grams are scan-side, only the
    (doc_id, hash) ints shuffle into the wide-form signature aggregate."""
    plan = plan_str(QUERIES["binary_neardup"](spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    full = plan_str(QUERIES["binary_neardup"](spark, sf_smoke))
    for seg in full.split("Exchange ")[1:]:
        first = seg.splitlines()[0]
        assert "blob" not in first and "text" not in first, first


def test_binary_profile_single_scan_no_join(spark, sf_smoke):
    """The format census is ONE scan + one magic-prefix aggregate (plus
    the output sort): no join of any kind, no Python, and the aggregation
    state is O(formats)."""
    plan = plan_str(QUERIES["binary_profile"](spark, sf_smoke), mode="simple")
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange") <= 3, plan
