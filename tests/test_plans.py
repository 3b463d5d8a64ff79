"""Plan-quality assertions (SURVEY.md §4): the physical plans must show
the optimizations the layout policy is designed to unlock — partition
pruning, parquet predicate pushdown, broadcast of dimension sides,
map-side partial aggregation, top-k instead of global sort, and
shuffle-free bucketed snapshot diffs."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from ozone_spark import layout, tables
from ozone_spark.operators import insights, listing
from ozone_spark.operators.snapshot import snapshot_diff
from ozone_spark.operators.tpch import pricing_summary


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return tables.namespace_views(spark, sf_dir)


from ozone_spark.plans import formatted_plan as plan_of  # noqa: E402


def test_layout_scan_prunes_and_pushes(spark, t, tmp_path):
    out = str(tmp_path / "keys_layout")
    layout.write_keys_layout(t["keys"], out)
    q = layout.list_keys_pruned(spark, out, "vol1", "/vol1/b1/f/", max_keys=25)
    plan = plan_of(q)
    assert "PartitionFilters" in plan and "vol1" in plan
    assert "StringStartsWith" in plan  # db_key prefix reached the scan
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k
    # and it returns the same page as the in-memory operator
    expect = [r.db_key for r in
              listing.list_keys(t["keys"], prefix="/vol1/b1/f/",
                                max_keys=25).collect()]
    got = [r.db_key for r in q.collect()]
    assert got == expect


def test_paginated_listings_take_ordered(spark, t):
    """The MPU/open-files listings inherit S1's physical shape: the
    maxKeys+1 page compiles to TakeOrderedAndProject (per-partition
    top-k + driver merge), never a global sort of the table."""
    p1 = plan_of(listing.list_multipart_uploads(
        t["multipart_uploads"], key_marker="/vol1", max_uploads=25))
    p2 = plan_of(listing.list_open_files(
        t["open_keys"], path_prefix="/vol2/", max_keys=20))
    for plan in (p1, p2):
        assert "TakeOrderedAndProject" in plan
        # the bounded post-limit window is fine; a pre-limit global Sort
        # of the full table is not
        head = plan.split("TakeOrderedAndProject")[-1]
        assert "Exchange rangepartitioning" not in head


def test_lookup_key_pushes_point_predicate(spark, t):
    """The point read's equality predicate must reach the scan (the
    parquet row-group pruning analog of a RocksDB point-get)."""
    from ozone_spark.operators.datapath import lookup_key
    some_key = t["keys"].where("object_id = 7").first().db_key
    plan = plan_of(lookup_key(t["keys"], t["locations"], some_key))
    assert "order-" in plan  # the literal reached the physical plan
    # keys side is one row -> it must be the broadcast side of the join
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_dimension_joins_broadcast(spark, t):
    plan = plan_of(insights.datanode_utilization(
        t["containers"], t["replicas"], t["datanodes"]))
    assert "BroadcastHashJoin" in plan


def test_aggregation_is_partial_then_final(spark, t):
    plan = plan_of(pricing_summary(t["lineitem"]))
    assert "partial" in plan.lower()  # map-side combine before the shuffle
    # two HashAggregate phases (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2


def test_minhash_signature_stage_is_shuffle_free(spark, t):
    """The signature builder is a pure map over the corpus: shingling,
    hashing and the 32 permutation minima all happen per-row, so the
    plan must contain no Exchange at all (the round-robin fan-out of a
    single-file local input is the only allowed repartition)."""
    from ozone_spark.functions.dedup import minhash_signatures
    plan = plan_of(minhash_signatures(t["documents"]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "hashpartitioning(" not in body
    assert "rangepartitioning(" not in body


def test_ivf_assignment_corpus_side_never_shuffles(spark, t):
    """The IVF quantizer folds the centroids into one broadcast row;
    the corpus side must reach the assignment via BroadcastNestedLoopJoin
    with no hash/range exchange of the embeddings."""
    from ozone_spark.functions.similarity import ivf_assignments
    plan = plan_of(ivf_assignments(t["embeddings"]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" in body
    assert "hashpartitioning(" not in body
    assert "rangepartitioning(" not in body


def test_near_dup_pairs_never_all_pairs(spark, t):
    """The banded-LSH pair generator must candidate-join on (band, sig)
    — a hash equi-join — never the n² cross product of the corpus with
    itself (the r01 all-pairs formulation this replaced)."""
    from ozone_spark.functions.similarity import embedding_near_dup_pairs
    plan = plan_of(embedding_near_dup_pairs(t["embeddings"]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" not in body
    assert "CartesianProduct" not in body
    assert "SortMergeJoin" in body or "ShuffledHashJoin" in body \
        or "BroadcastHashJoin" in body


def test_semantic_dedup_bounded_candidates(spark, t):
    """SemDeDup's pair space must be bounded by the (cluster, band,
    sig) equi-join — no within-cluster n² cross product.  The only
    nested-loop joins allowed are the one-row broadcast centroid
    crossJoins; the vec_a/vec_b PAIR join must be a hash equi-join."""
    from ozone_spark.functions.similarity import semantic_dedup
    plan = plan_of(semantic_dedup(t["embeddings"]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    # the pair comparison (vec_a < vec_b residual) sits on a hash join
    blocks = body.split("\n(")
    for blk in blocks:
        if "BroadcastNestedLoopJoin" in blk.split("\n")[0]:
            assert "vec_a" not in blk, "pair join degenerated to BNLJ"
    assert any("vec_a" in blk and (
        blk.split("\n")[0].find("BroadcastHashJoin") >= 0
        or blk.split("\n")[0].find("SortMergeJoin") >= 0
        or blk.split("\n")[0].find("ShuffledHashJoin") >= 0)
        for blk in blocks)


def test_knn_lsh_probe_is_equi_join(spark, t):
    """Multi-probe kNN: queries explode into probe signatures and the
    candidate lookup is an equi-join on sig (hash join), not a
    BroadcastNestedLoopJoin filter scanning the corpus per query."""
    from ozone_spark.functions.similarity import knn_lsh
    plan = plan_of(knn_lsh(t["embeddings"], [0, 1, 2]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" not in body
    assert "BroadcastHashJoin" in body or "SortMergeJoin" in body \
        or "ShuffledHashJoin" in body


def test_bucketed_snapshot_diff_no_shuffle(spark, t):
    n1, n2 = layout.write_bucketed_snapshots(t["snap1"], t["snap2"], spark)
    s1, s2 = spark.table(n1), spark.table(n2)
    plan = plan_of(snapshot_diff(s1, s2))
    join_section = plan.split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" in join_section or "ShuffledHashJoin" in join_section
    # bucketed co-partitioned scans: no Exchange feeding the join
    assert "hashpartitioning(object_id" not in join_section


def test_decontaminate_broadcasts_eval_side(spark, t):
    """Decontamination must broadcast the (small) eval-set shingles so
    the training corpus is never shuffled for the overlap probe; the
    only hash exchange is the final per-doc count groupBy."""
    from ozone_spark.functions.pipeline import decontaminate
    docs = t["documents"]
    plan = plan_of(decontaminate(
        docs.where("doc_id % 25 <> 0"), docs.where("doc_id % 25 = 0")))
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in body
    assert "BroadcastNestedLoopJoin" not in body
    assert "CartesianProduct" not in body


def test_repetition_metrics_is_map_only(spark, t):
    """Repetition quality rules are per-row array expressions — no
    Exchange besides the output sort (drop the orderBy for the check)."""
    from ozone_spark.functions.pipeline import repetition_metrics
    plan = plan_of(repetition_metrics(t["documents"]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "hashpartitioning(" not in body


def test_stratified_sample_is_shuffle_free_filter(spark, t):
    """The deterministic Bernoulli sample is a map-only filter: zero
    hash exchanges of the corpus."""
    from ozone_spark.functions.pipeline import stratified_sample
    plan = plan_of(stratified_sample(t["documents"]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "hashpartitioning(" not in body


def test_pii_redaction_is_map_only(spark, t):
    """Regex detect/redact is pure per-row work: no Exchange anywhere."""
    from ozone_spark.functions.mining import pii_redaction
    plan = plan_of(pii_redaction(t["documents"]))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # JVM regexes, no Python UDFs


def test_kmeans_assignment_broadcasts_centroids(spark, t):
    """Every assignment pass must be corpus × broadcast ONE-ROW centroid
    table — never a nested-loop of corpus against centroid rows, and
    never a corpus-side shuffle for the crossJoin."""
    from ozone_spark.functions.similarity import kmeans_assign
    plan = plan_of(kmeans_assign(t["embeddings"]))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row build side only
    assert "BroadcastExchange" in plan
    # the corpus scan feeds the join directly (no Exchange between the
    # embeddings scan and the first join)
    assert plan.count("Scan parquet") >= 1


def test_asof_join_is_single_pass_union_window(spark, t):
    """The as-of join must not expand to candidate pairs: plan has a
    window over the unioned sides and NO join operator at all."""
    from ozone_spark.operators.events import asof_last_click
    plan = plan_of(asof_last_click(t["events"]))
    assert "Join" not in plan  # no range/theta join blowup
    assert "Window" in plan
    assert plan.count("Exchange") <= 2  # one hash-partition on user_id
                                        # (+AQE may tag a reused one)


def test_tfidf_aggregates_partially(spark, t):
    from ozone_spark.functions.mining import tf_idf_top_terms
    plan = plan_of(tf_idf_top_terms(t["documents"]))
    assert "partial" in plan.lower()  # tf/df counts map-side combined
    assert "BatchEvalPython" not in plan


def test_pq_encoding_corpus_side_never_shuffles(spark, t):
    """PQ encoding folds the codebook into one broadcast row; the
    corpus reaches its codes via BroadcastNestedLoopJoin with no
    hash/range exchange of the embeddings (a pure map at any scale)."""
    from ozone_spark.functions.similarity import pq_codes
    plan = plan_of(pq_codes(t["embeddings"]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" in body
    assert "hashpartitioning(" not in body
    # the only range exchange is the output ORDER BY over the compact
    # (vec_id, sub, code, dist) rows — never the 64-float vectors
    assert body.count("rangepartitioning(") <= 1


def test_knn_pq_scores_without_corpus_shuffle(spark, t):
    """ADC scoring joins the corpus codes with broadcast per-query LUTs:
    the only allowed exchange is the final top-k window's partition by
    query_id over already-scored rows — the corpus itself must never
    hash/range-shuffle at full width (codes, not vectors, flow in)."""
    from ozone_spark.functions.similarity import knn_pq
    plan = plan_of(knn_pq(t["embeddings"], [20, 21, 22]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    # scored rows shuffle once for the per-query window; embeddings
    # (64 floats wide) must not be the shuffled payload
    assert body.count("Arguments: hashpartitioning") <= 1


def test_cross_corpus_dedup_existing_side_only_joined(spark, t):
    """Incremental-ingest dedup: the exact check is a semi-join on the
    fingerprint and the near check an equi-join on shingles — never a
    cross product of batch x corpus."""
    from ozone_spark.functions.pipeline import cross_corpus_dedup
    plan = plan_of(cross_corpus_dedup(t["documents"]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    assert "BroadcastNestedLoopJoin" not in body


def test_duplicated_spans_is_count_join_not_pairs(spark, t):
    """The duplicated-span metric counts span document-frequency and
    joins it back — the plan must contain hash aggregates and equi
    joins only (no pair explosion, no cross product)."""
    from ozone_spark.functions.pipeline import duplicated_spans
    plan = plan_of(duplicated_spans(t["documents"]))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    assert "BroadcastNestedLoopJoin" not in body
    assert "HashAggregate" in body


def test_training_shards_single_window_exchange(spark, t):
    """Shard/split assignment is map-only key derivation plus ONE
    window shuffle partitioned by (split, shard)."""
    from ozone_spark.functions.pipeline import training_shards
    plan = plan_of(training_shards(t["documents"]))
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("Arguments: hashpartitioning") == 1


def test_bigram_lm_no_cartesian_vocab_broadcast(spark, sf_dir):
    """The LM scorer's only cross product is the one-row vocab scalar
    (broadcast); the model join is a real equi-join — no nested-loop
    scan of doc-bigrams against the model."""
    from ozone_spark.functions.mining import bigram_lm_scores
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(bigram_lm_scores(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row vocab scalar
    # formatted mode prints each node twice (tree + details): one instance
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_kmv_sketch_single_shuffle_shape(spark, sf_dir):
    """KMV never materializes text beyond the distinct-shingle set:
    no joins at all, and the plan carries no document text columns past
    the first project."""
    from ozone_spark.functions.sketch import kmv_shingle_estimate
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(kmv_shingle_estimate(docs))
    assert "Join" not in plan  # dedup + window + agg only
    assert "CartesianProduct" not in plan


def test_sketch_family_plan_shapes(spark, sf_dir):
    """Sketch ops keep their promised shapes: weighted sampling's
    global top-k is TakeOrderedAndProject (no global sort); the CMS
    estimate join broadcasts the d*w grid; nothing in the family
    degenerates to a cartesian product."""
    from ozone_spark.functions import sketch
    docs = tables.load_table(spark, sf_dir, "documents")
    ws = plan_of(sketch.weighted_sample(docs))
    assert "TakeOrderedAndProject" in ws
    cms = plan_of(sketch.cms_token_counts(docs))
    assert "BroadcastHashJoin" in cms  # grid side broadcast
    for plan in (ws, cms, plan_of(sketch.bloom_membership_report(docs))):
        assert "CartesianProduct" not in plan


def test_zorder_interleave_and_file_disjointness(spark, tmp_path, sf_dir):
    """Z-order layout: the interleave math is exact (hand-computed
    case), clamping bounds out-of-range inputs, and the written files
    carry DISJOINT z ranges in their parquet footers — the property
    that gives min/max file skipping its power on both axes."""
    import pyspark.sql.functions as F
    from ozone_spark import layout, tables

    df = spark.createDataFrame([(5, 3), (-7, 3), (1 << 40, 0)], "a long, b long")
    got = df.select(layout.zorder_key(F.col("a"), F.col("b")).alias("z")) \
        .collect()
    # a=101b -> even bit positions, b=011b -> odd: 1 + 16 + 2 + 8 = 27
    assert got[0].z == 27
    assert got[1].z == 2 + 8          # a clamps to 0, b=3 contributes
    max16 = (1 << 16) - 1
    assert got[2].z == sum(1 << (2 * i) for i in range(16))  # a clamps to max
    assert max16 == 65535

    events = tables.load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_z")
    layout.write_events_zorder(events, out, n_files=4)
    import glob
    import pyarrow.parquet as pq
    ranges = []
    for f in sorted(glob.glob(out + "/*.parquet")):
        md = pq.ParquetFile(f).metadata
        zi = [c for c in range(md.num_columns)
              if md.schema.column(c).name == "z"][0]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(zi).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # repartitionByRange => non-overlapping files
    # and the layout loses no rows
    assert spark.read.parquet(out).count() == events.count()


def test_paragraph_dedup_two_shuffle_no_text_reshuffle(spark, sf_dir):
    """paragraph_dedup is two hash shuffles (fingerprint window + doc
    agg); paragraph text never moves — only (fp, ids) rows shuffle, and
    there are no joins or cartesian products anywhere."""
    from ozone_spark.functions.dedup import paragraph_dedup
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(paragraph_dedup(docs))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # the window's shuffle keys are the fingerprint, not the paragraph
    # text: no 'para' column may appear in any Exchange line
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "para#" not in line and "text#" not in line, line


def test_threshold_sweep_reuses_pair_pipeline_shape(spark, sf_dir):
    """dedup_threshold_sweep adds only bounded aggregation on top of the
    two-shuffle pair pipeline: no new joins beyond the size joins the
    pair pipeline itself performs, and no cartesian products."""
    from ozone_spark.functions.dedup import dedup_threshold_sweep
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(dedup_threshold_sweep(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_payload_chunk_near_dup_equi_join_only(spark, sf_dir):
    """Chunk-dedup candidates come from the chunk-fingerprint equi-join
    (inverted index), never an all-pairs payload comparison."""
    from ozone_spark.functions import multimodal
    med = multimodal.as_media_table(
        tables.load_table(spark, sf_dir, "documents"))
    plan = plan_of(multimodal.payload_chunk_near_dup(med))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    assert "BroadcastNestedLoopJoin" not in body
    assert "SortMergeJoin" in body or "ShuffledHashJoin" in body \
        or "BroadcastHashJoin" in body


def test_remove_duplicate_spans_no_pairing(spark, sf_dir):
    """Span removal is count-join-subtract: hash equi-joins on the span
    hash and (doc, pos) only — no cartesian or nested-loop join, and no
    Exchange ever carries the token/text payload columns wider than one
    token."""
    from ozone_spark.functions.pipeline import remove_duplicate_spans
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(remove_duplicate_spans(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line and "ws#" not in line, line


def test_perplexity_buckets_window_partitioned_by_lang(spark, sf_dir):
    """The tercile window must be PARTITIONED (by lang) — never the
    single-partition global window Spark warns about."""
    from ozone_spark.functions.mining import perplexity_buckets
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(perplexity_buckets(docs))
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window" in line and "ntile" in line:
            assert "lang#" in line, line


def test_q18_heavy_hitter_side_broadcasts(spark, t):
    """large_volume_orders: the aggregated heavy-hitter order set is the
    broadcast side (no shuffle of orders for the semi-filter), and the
    plan keeps map-side partial aggregation for the lineitem rollup."""
    from ozone_spark.operators.tpch import large_volume_orders
    plan = plan_of(large_volume_orders(
        t["customer"], t["orders"], t["lineitem"]))
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan


def test_q13_left_outer_keeps_customer_side(spark, t):
    """customer_order_distribution: the join is genuinely LEFT OUTER
    (zero-order customers survive) and aggregates stay hash-based."""
    from ozone_spark.operators.tpch import customer_order_distribution
    plan = plan_of(customer_order_distribution(t["customer"], t["orders"]))
    assert "LeftOuter" in plan
    assert "HashAggregate" in plan


def test_q10_returned_filter_pushed_topk_no_global_sort(spark, t):
    """returned_item_customers: the returnflag filter reaches the
    lineitem parquet scan, nation is a broadcast, and the top-20 cut
    is TakeOrderedAndProject (no global sort of the aggregate)."""
    from ozone_spark.operators.tpch import returned_item_customers
    plan = plan_of(returned_item_customers(
        t["customer"], t["orders"], t["lineitem"], t["nation"]))
    assert "EqualTo(l_returnflag,R)" in plan  # pushed to the scan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q12_range_filter_pushed(spark, t):
    """priority_line_counts: the ship-date year window is pushed to the
    lineitem scan; the conditional counts stay hash-aggregated with a
    map-side partial."""
    from ozone_spark.operators.tpch import priority_line_counts
    plan = plan_of(priority_line_counts(t["orders"], t["lineitem"]))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "HashAggregate" in plan


def test_q6_all_predicates_pushed_no_join_no_shuffle(spark, t):
    """forecast_revenue_change: every range predicate reaches the
    lineitem scan; the plan has no join and the only exchange is the
    one-row final aggregate's."""
    from ozone_spark.operators.tpch import forecast_revenue_change
    plan = plan_of(forecast_revenue_change(t["lineitem"]))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "Join" not in plan


def test_q19_disjunctive_filter_broadcast_join(spark, t):
    """discounted_brand_revenue: part broadcasts and the OR-of-ANDs
    evaluates post-join — lineitem itself is never hash-shuffled (the
    lone hashpartitioning is the per-brand final aggregate)."""
    from ozone_spark.operators.tpch import discounted_brand_revenue
    plan = plan_of(discounted_brand_revenue(t["lineitem"], t["part"]))
    assert "BroadcastHashJoin" in plan
    assert plan.count("hashpartitioning(") == 1


def test_q7_nation_pair_pruned_before_fact_join(spark, t):
    """volume_shipping: both nation lookups prune to the pair BEFORE
    the fact join (the isin filter broadcasts), so foreign-nation
    suppliers never reach the orders shuffle."""
    from ozone_spark.operators.tpch import volume_shipping
    plan = plan_of(volume_shipping(t["lineitem"], t["orders"],
                                   t["customer"], t["supplier"],
                                   t["nation"]))
    assert "BroadcastHashJoin" in plan
    assert plan.count("In(n_name") >= 2  # pushed into both nation scans


def test_q17_window_keyed_by_partkey_single_fact_pass(spark, t):
    """small_quantity_revenue: the per-part average is a window KEYED
    by p_partkey (never a global single-partition window) and lineitem
    is scanned once (the brand filter prunes via one broadcast join)."""
    from ozone_spark.operators.tpch import small_quantity_revenue
    plan = plan_of(small_quantity_revenue(t["lineitem"], t["part"]))
    assert "Window" in plan
    assert "hashpartitioning(p_partkey" in plan
    # formatted explain lists each scan twice (tree + details):
    # lineitem once + part once = at most 4 mentions
    assert plan.count("Scan parquet") <= 4


def test_q21_blame_windows_share_aggregate_exchange(spark, t):
    """waiting_orders_suppliers: the (orderkey, suppkey) aggregate and
    both per-order window counts ride ONE explicit orderkey exchange
    (subset partitioning satisfies the composite group's clustered
    distribution), then TakeOrderedAndProject for the top-k (no global
    sort).  Formatted explain lists each exchange twice (tree +
    details)."""
    from ozone_spark.operators.tpch import waiting_orders_suppliers
    plan = plan_of(waiting_orders_suppliers(t["lineitem"], t["orders"],
                                            t["supplier"]))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("hashpartitioning(l_orderkey") <= 2


def test_q2_rank_window_shares_group_key(spark, t):
    """min_cost_supplier: the winner rank is a row_number window keyed
    by p_partkey riding the same partitioning as the (part, supplier)
    aggregate; the size filter reaches the part scan."""
    from ozone_spark.operators.tpch import min_cost_supplier
    plan = plan_of(min_cost_supplier(t["lineitem"], t["part"],
                                     t["supplier"]))
    assert "LessThanOrEqual(p_size" in plan
    assert "Window" in plan


def test_q22_anti_join_with_pruned_recent_orders(spark, t):
    """sales_opportunity: the dormancy check is a left-anti hash join
    whose orders side is pruned by the pushed cutoff filter."""
    from ozone_spark.operators.tpch import sales_opportunity
    plan = plan_of(sales_opportunity(t["customer"], t["orders"],
                                     t["nation"]))
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q16_anti_join_broadcast_distinct(spark, t):
    """parts_supplier_counts: the complaint blacklist is a broadcast
    anti-join and the distinct-supplier count is a two-level aggregate
    (segment+suppkey dedup then segment count), never an expand-based
    count-distinct over the fact rows."""
    from ozone_spark.operators.tpch import parts_supplier_counts
    plan = plan_of(parts_supplier_counts(t["lineitem"], t["part"],
                                         t["supplier"]))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q20_part_window_rides_group_exchange(spark, t):
    """dominant_part_suppliers: the (part, supplier) aggregate and the
    per-part total window ride ONE explicit p_partkey exchange, and the
    part-name prefix filter reaches the part scan.  Formatted explain
    lists each exchange twice (tree + details)."""
    from ozone_spark.operators.tpch import dominant_part_suppliers
    plan = plan_of(dominant_part_suppliers(t["lineitem"], t["part"],
                                           t["supplier"]))
    assert "StringStartsWith(p_name" in plan
    assert "Window" in plan
    assert plan.count("hashpartitioning(p_partkey") <= 2


def test_path_transitions_single_user_exchange(spark, sf_dir):
    """path_transitions: the lag window is the only user_id exchange
    and the per-source share window runs on the bounded type-pair
    aggregate — no global (empty-key) window over event rows."""
    from ozone_spark import tables
    from ozone_spark.operators.events import path_transitions
    ev = tables.namespace_views(spark, sf_dir)["events"]
    plan = plan_of(path_transitions(ev))
    # tree + details: one distinct user_id exchange at most
    assert plan.count("hashpartitioning(user_id") <= 2
    assert "Window" in plan


def test_cohort_retention_broadcast_sizes(spark, sf_dir):
    """cohort_retention: cohort sizes join back as a broadcast (bounded
    by calendar weeks) — the retention matrix never shuffles on the
    cohort key."""
    from ozone_spark import tables
    from ozone_spark.operators.events import cohort_retention
    ev = tables.namespace_views(spark, sf_dir)["events"]
    plan = plan_of(cohort_retention(ev))
    assert "BroadcastHashJoin" in plan


def test_winnowing_signature_stage_no_window_exchange(spark, sf_dir):
    """winnowing_fingerprints computes per-row (gram-hash array +
    sliding array_min): no Window operator and no exchange beyond
    _spread's round-robin fan-out — the lead()+window formulation's
    full token-stream repartition must not come back."""
    from ozone_spark import session, tables
    from ozone_spark.functions.dedup import winnowing_fingerprints
    # evict the winnowing_pairs slot cache: Spark's cache plan-matching
    # would otherwise serve this subtree as an InMemoryTableScan whose
    # stored description embeds the cached plan's own exchanges
    old = session.state(spark).get("slots", {}).get("winnow_fp")
    if old is not None and old.frame is not None:
        old.frame.unpersist()
        old.frame = None
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(winnowing_fingerprints(docs))
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2  # tree node + its detail block


def test_q14_single_agg_exchange_fact_never_shuffled(spark, t):
    """promo_revenue_share: part broadcasts, so the only hash exchange
    in the plan is the final month aggregate — lineitem itself is
    never shuffled (the lone rangepartitioning orders the ~tens of
    aggregated month rows, not the fact table)."""
    from ozone_spark.operators.tpch import promo_revenue_share
    plan = plan_of(promo_revenue_share(t["lineitem"], t["part"]))
    assert "BroadcastHashJoin" in plan
    assert plan.count("hashpartitioning(") == 1


def test_boilerplate_paragraphs_fp_only_exchanges(spark, sf_dir):
    """boilerplate_paragraphs shuffles fingerprints and ids only: no
    paragraph text or document text crosses an Exchange, and the one
    join is the fp-keyed frequency equi-join (no cartesian)."""
    from ozone_spark.functions.dedup import boilerplate_paragraphs
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(boilerplate_paragraphs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "para#" not in line and "text#" not in line, line


def test_kmv_source_overlap_corpus_independent_pair_stage(spark, sf_dir):
    """The pair stage of kmv_source_overlap runs on the per-source
    sketch table: no document text appears in any Exchange (the only
    corpus-wide shuffles carry (source, hash) pairs)."""
    from ozone_spark.functions.sketch import kmv_source_overlap
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(kmv_source_overlap(docs))
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_aqe_coalesces_small_shuffle_at_runtime(spark, sf_dir):
    """AQE evidence: after execution, a small groupBy's shuffle read is
    coalesced below the static shuffle-partition count — the runtime
    re-plan that keeps 100 TB configs from drowning small stages in
    empty tasks."""
    docs = tables.load_table(spark, sf_dir, "documents")
    df = docs.groupBy("lang").count()
    df.collect()  # materialize so AQE finalizes the executed plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in executed, executed[:500]
    assert "coalesced" in executed, executed[:500]


def test_power_users_top_k_and_no_text_exchange(spark, sf_dir):
    """The heavy-hitter report's only corpus exchange carries the
    user-keyed partial aggregate; the corpus total folds in as a
    broadcast one-row scalar, never a second full scan exchange."""
    from ozone_spark.operators.events import power_users
    events = tables.load_table(spark, sf_dir, "events")
    plan = plan_of(power_users(events))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    assert "partial_count" in plan  # map-side combine before the exchange
    for line in body.splitlines():
        if "Exchange" in line:
            assert "props#" not in line, line  # wide columns pruned


def test_source_length_drift_histogram_sized_arithmetic(spark, sf_dir):
    """All TV-distance arithmetic runs on the (source, bin) histogram:
    the corpus is scanned once into a partial count aggregate, and no
    exchange carries the text column."""
    from ozone_spark.functions.text import source_length_drift
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(source_length_drift(docs))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    assert "partial_count" in plan
    for line in body.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_interarrival_single_user_keyed_window(spark, sf_dir):
    """The gap stage rides ONE (user, type)-keyed exchange (the lag
    window); the rank windows then partition by the small type
    vocabulary — no global (empty-key) window over raw events."""
    from ozone_spark.operators.events import interarrival_stats
    events = tables.load_table(spark, sf_dir, "events")
    plan = plan_of(interarrival_stats(events))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    assert "hashpartitioning(user_id" in body
    for line in body.splitlines():
        if "Exchange" in line:
            assert "props#" not in line, line


def test_dedup_savings_text_never_shuffled(spark, sf_dir):
    """The keeper join moves only (fp, doc_id, n_chars, source) rows:
    no exchange carries the text column (fingerprints are computed
    map-side)."""
    from ozone_spark.functions.dedup import dedup_savings
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(dedup_savings(docs))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    for line in body.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_topk_rank_is_take_ordered_not_global_window(spark, sf_dir):
    """VERDICT r8 item 1: the centrality top-k (and power_users) must
    compile to TakeOrderedAndProject (distributed per-partition top-k +
    driver merge) with any rank Window consuming the BOUNDED k-row
    limit output — never a partition-less row_number window over the
    corpus-sized score/fan-out table, which Spark executes by moving
    all data to a single partition."""
    from ozone_spark.functions import dedup
    from ozone_spark.operators.events import power_users
    docs = tables.load_table(spark, sf_dir, "documents")
    events = tables.load_table(spark, sf_dir, "events")
    for df in (dedup.dup_graph_centrality(docs),
               dedup.dup_graph_centrality_reps(docs),
               power_users(events)):
        tree = plan_of(df).split("== Physical Plan ==")[-1].split("\n\n")[0]
        lines = tree.splitlines()
        tidx = [i for i, ln in enumerate(lines)
                if "TakeOrderedAndProject" in ln]
        widx = [i for i, ln in enumerate(lines) if "Window" in ln]
        assert tidx, tree  # the top-k is a distributed TakeOrdered
        # tree prints root-first, so a Window ABOVE the TakeOrdered
        # line consumes its bounded k-row output; a Window BELOW it
        # would run over the unbounded input — the single-partition
        # shape this test exists to forbid
        assert all(w < min(tidx) for w in widx), tree


def test_top_users_per_type_salted_two_phase(spark, sf_dir):
    """The per-type top-k must be the salted two-phase window: phase 1
    partitions by (event_type, salt) — visible as a pmod in an Exchange
    hashpartitioning — so no single task ever holds a full type's
    user-cardinality totals (the type vocabulary is 5 values)."""
    from ozone_spark.operators.events import top_users_per_type
    events = tables.load_table(spark, sf_dir, "events")
    plan = plan_of(top_users_per_type(events))
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("Window") >= 2  # local + final rank
    assert "pmod" in plan  # the salt reached a partitioning expression


def test_whole_registry_plan_audit_zero_flags(spark, sf_dir):
    """CI twin of tools/plan_audit.py (VERDICT r8 item 6): the audit
    must return ZERO flags over the whole registry, so a shipped
    CartesianProduct or unsanctioned BroadcastNestedLoopJoin fails the
    suite instead of riding silently in a round artifact."""
    import importlib.util
    import os
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(os.path.dirname(__file__),
                                   "..", "tools", "plan_audit.py"))
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)
    flags = pa.audit(spark, sf_dir, verbose=False)
    assert flags == [], flags


def test_novelty_curve_no_corpus_window(spark, sf_dir):
    """The novelty curve's windows run over the n_buckets-row aggregate
    only: any single-partition (empty hashpartitioning) exchange in the
    plan must sit above an aggregate, and no exchange carries text."""
    from ozone_spark.functions.dedup import ngram_novelty_curve
    docs = tables.load_table(spark, sf_dir, "documents")
    plan = plan_of(ngram_novelty_curve(docs))
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    for line in body.splitlines():
        if "Exchange" in line:
            assert "text#" not in line and "shingle#" not in line, line
