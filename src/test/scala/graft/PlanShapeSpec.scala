package graft

/** Plan-shape assertions for the claims COVERAGE.md makes: filters and
  * projections reach the parquet scan, top-k avoids global sorts, and
  * dimension joins broadcast.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q02: filter pushed to parquet, scan pruned to needed columns") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"expected shipdate pushdown:\n$p")
    // 4 projected + 2 filter-only columns = 6 of lineitem's 11; the
    // ReadSchema line is truncated in toString, so parse the FileScan
    // output column list instead
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(sys.error(s"no FileScan in:\n$p"))
    assert(scanCols.split(",").length == 6,
      s"scan should read exactly the 6 needed columns, got: $scanCols")
  }

  test("q03: per-partition top-k (TakeOrderedAndProject), no global sort") {
    val p = plan("q03_join_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q06: dimension chain joins are broadcast") {
    val p = plan("q06_outer_agg")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("wc: exactly one hash-partition exchange keyed on word pre-sort") {
    val df = SparkEntry.queries("wc_word_count")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(word".r.findAllIn(p).size
    assert(exchanges == 1, s"expected ONE word-keyed exchange, plan:\n$p")
  }

  test("dd_simhash: fused signature leaves NO key-hash exchange (map work + sort only)") {
    val p = plan("dd_simhash")
    assert(p.contains("simhash_sig"), s"fused expression missing:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"signature build must not shuffle on a key:\n$p")
    assert(!p.contains("HashAggregate"), s"no per-token aggregate expected:\n$p")
  }

  test("ta_rolling_hash: fused fold, no per-character lambda aggregate") {
    val p = plan("ta_rolling_hash")
    assert(p.contains("rolling_hash"), s"fused expression missing:\n$p")
    assert(!p.toLowerCase.contains("lambdafunction"),
      s"no interpreted higher-order fold expected:\n$p")
  }

  test("q29_range_join: epoch-bucketed equi-join, no pair-explosion join") {
    val p = plan("q29_range_join")
    assert(p.contains("epoch"), s"expected epoch bucketing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must stay an equi-join:\n$p")
  }

  test("q30_bucketed_join: no Exchange beneath the SortMergeJoin, bucketed scans") {
    // the exact oracled query, not a stand-in — the one scale utility
    // that previously had only a synthetic-table plan assertion
    val p = plan("q30_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scans must read bucketed:\n$p")
    // the plan prints parents above children: everything after the join
    // node is its subtree, which must be exchange-free (the post-join
    // aggregate/sort exchanges sit above it)
    val below = p.substring(p.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange"),
      s"no shuffle may feed the bucketed join:\n$p")
  }

  test("q60_merge_bucketed: FULL-OUTER merge join exchange-free over the bucketed target") {
    val p = plan("q60_merge_bucketed")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"expected a full-outer sort-merge join:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scans must read bucketed:\n$p")
    // subtree below the merge join must be exchange-free: BOTH sides
    // read the bucketed layout (the change batch derives from it with
    // alias-preserving projections). The audit aggregate's exchange
    // sits above the join; the insert arm is union'd above it too —
    // cut the print at the first post-join aggregate
    val below = p.substring(p.indexOf("SortMergeJoin"))
    val joinSubtree = below.indexOf("HashAggregate") match {
      case -1 => below
      case i  => below.substring(0, i)
    }
    assert(!joinSubtree.contains("Exchange"),
      s"no shuffle may feed the bucketed merge join:\n$p")
  }

  test("q61_merge_broadcast: skew-immune small-batch merge — broadcast arms, no SMJ, no key shuffle") {
    val p = plan("q61_merge_broadcast")
    // both arms (inner reconcile + left-anti passthrough) broadcast the
    // concentrated change batch; the target is never partitioned by key
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected two broadcast joins (reconcile + anti passthrough):\n$p")
    assert(p.contains("LeftAnti"), s"expected the anti passthrough arm:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the target must not be shuffled by key:\n$p")
    // the only exchanges are the audit aggregate's (and its broadcasts)
    assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
      !p.contains("Exchange hashpartitioning(c_orderkey"),
      s"no key-partitioned exchange may appear:\n$p")
  }

  test("q62_merge_compacted: version skew dies in the partial aggregate; merge is broadcast") {
    val p = plan("q62_merge_compacted")
    // latest-per-key compaction map-side combines: a hot key's 200
    // versions collapse to one buffer row per task BEFORE the exchange
    assert(p.contains("partial_max("),
      s"compaction must carry a partial (map-side) max:\n$p")
    // exactly ONE key-partitioned exchange — the compaction's own;
    // the target is never partitioned by key
    val keyEx = "Exchange hashpartitioning\\((?:c_orderkey|o_orderkey)".r
      .findAllIn(p).size
    assert(keyEx == 1, s"expected exactly one key exchange (the compaction), got $keyEx:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"merge must be a left-outer broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"no target shuffle, no window-formulated compaction:\n$p")
  }

  test("dd_contam_embed: benchmark screen is map work — broadcast eval row, no key exchange") {
    val p = plan("dd_contam_embed")
    // the eval set rides ONE broadcast row; train vectors never shuffle
    // (the only exchanges are the eval set's own single-partition
    // collect and the final output sort)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval array must join as a broadcast single-row frame:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no train-side key exchange may appear:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffled join may appear:\n$p")
  }

  test("q54_zorder_rank: rank tables broadcast back, guard branch dead by construction") {
    val p = plan("q54_zorder_rank")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both rank tables must broadcast onto the fact scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the fact side must not shuffle for the rank joins:\n$p")
  }

  test("q54_zorder_sampled: boundary tables broadcast-range-join, every row " +
      "bucketed exactly once") {
    val p = plan("q54_zorder_sampled")
    // the non-equi range lookup must be a broadcast nested-loop against
    // the <=64-row boundary tables — never a shuffled or cartesian join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2,
      s"both boundary tables must broadcast-range-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no unbroadcast join may appear:\n$p")
    // half-open dedup'd boundaries partition the key line: the manifest
    // must cover the fact table exactly once (a double or zero match
    // would break this count, independently of the oracle's hash)
    import org.apache.spark.sql.functions.sum
    val out = graft.queries.Relational.q54ZorderSampled(spark, sfDir)
    val total = out.agg(sum("n_rows")).collect()(0).getLong(0)
    val facts = graft.sources.Tables(spark, sfDir).lineitem.count()
    assert(total === facts, s"bucket coverage broke: $total != $facts")
    // bucket ids stay inside the ZHistBits domain by construction
    val rows = out.collect()
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 16),
      "zbucket outside the 4-bit manifest domain")
    assert(rows.forall(r => r.getLong(2) >= 0 &&
      r.getLong(3) < (1L << (2 * graft.queries.Relational.ZHistBits))),
      "z outside the 12-bit interleave domain")
  }

  test("q59_keyset_page: cursor predicate pushed to the scan, page is a TakeOrdered") {
    val p = plan("q59_keyset_page")
    assert(p.contains("TakeOrderedAndProject"),
      s"keyset page must plan as per-partition top-k:\n$p")
    assert(p.contains("PushedFilters") && p.contains("Or(LessThan(o_totalprice"),
      s"the keyset OR-predicate must reach the parquet scan:\n$p")
  }

  test("ta_domain_cap: quota truncates inside the window, one domain exchange") {
    val p = plan("ta_domain_cap")
    // the quota filter must push into the window as a group limit —
    // a 10M-page domain then costs its scan, never a sort buffer
    assert(p.contains("WindowGroupLimit"),
      s"quota must truncate pre-sort inside the window:\n$p")
    val exchanges = "Exchange hashpartitioning\\(source".r.findAllIn(p).size
    assert(exchanges >= 1 && !p.contains("Join"),
      s"one domain-keyed exchange, no joins:\n$p")
    // quota active on every gate domain: exactly quota rows per source
    val out = graft.queries.TextAnalysis.taDomainCap(spark, sfDir).collect()
    val bySrc = out.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(bySrc.values.forall(_ == graft.queries.TextAnalysis.DomainCapQuota),
      s"quota not active on all domains: $bySrc")
  }

  test("ta_lang_id: tokenizer evaluated once per row") {
    // the staged token array must survive optimization — exactly one
    // byte_split node in the physical plan, not one per consumer
    // (subexpression elimination would hide the duplicates, but it is
    // config-gated; the plan shape must not depend on it)
    val p = plan("ta_lang_id")
    val cnt = "byte_split\\(".r.findAllIn(p).size
    assert(cnt == 1, s"ta_lang_id should evaluate byte_split exactly once, found $cnt:\n$p")
  }

  test("ta_quality: one fused rep_sig pass, no staged tokenizer") {
    val p = plan("ta_quality")
    assert(p.contains("rep_sig"), s"fused expression missing:\n$p")
    assert(!p.contains("byte_split"), s"no staged tokenizer expected:\n$p")
  }

  test("ta_repetition: one fused rep_sig pass, no aggregate, sort-only exchange") {
    val p = plan("ta_repetition")
    assert(p.contains("rep_sig"), s"fused expression missing:\n$p")
    assert(!p.contains("byte_split"),
      s"no staged tokenizer expected once the kernel is fused:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("Exchange hashpartitioning"),
      s"repetition signals must not shuffle or aggregate:\n$p")
  }

  test("q31_grouping_sets: one Expand feeding one aggregate pair — not a union of scans") {
    val p = plan("q31_grouping_sets")
    assert("Expand".r.findAllIn(p).size == 1, s"expected exactly one Expand:\n$p")
    assert(!p.contains("Union"), s"grouping sets must not plan as a union of aggregates:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected ONE scan of orders, got $scans:\n$p")
  }

  test("dd_contam: shingle-keyed equi-join, no pair explosion, no broadcast of the corpus side") {
    val p = plan("dd_contam")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination join must stay an equi-join:\n$p")
    assert("Exchange hashpartitioning\\(shingle".r.findAllIn(p).nonEmpty,
      s"expected a shingle-keyed exchange:\n$p")
  }

  test("q32_mask_props: scan pruned to the two needed columns, no shuffle before the sort") {
    val p = plan("q32_mask_props")
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(sys.error(s"no FileScan in:\n$p"))
    assert(scanCols.split(",").length == 2,
      s"masking must read exactly (event_id, props), got: $scanCols")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row masking must not key-shuffle:\n$p")
  }

  test("q36_partition_pruning: the filter is a PartitionFilter, not a data filter") {
    val p = plan("q36_partition_pruning")
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).isDefined,
      s"event_type filter must prune partitions at listing time:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(event_type)"),
      s"partition column must not be filtered row-by-row:\n$p")
  }

  test("q28_asof_join: one user-keyed exchange, no range-join pair explosion") {
    val p = plan("q28_asof_join")
    val keyed = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(keyed == 1, s"expected ONE user-keyed exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan a pair-explosion join:\n$p")
  }

  test("q39_window_funcs: both window specs share ONE customer-keyed exchange") {
    val p = plan("q39_window_funcs")
    // two Window operators (time-ordered and price-ordered specs) over
    // the same partition key: the second needs only a re-sort, not a
    // second shuffle
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2, s"expected two window specs:\n$p")
    val keyed = "Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size
    assert(keyed == 1, s"expected ONE o_custkey exchange shared by both specs:\n$p")
  }

  test("q52_scd2: the whole SCD2 chain runs on ONE custkey exchange") {
    val p = plan("q52_scd2")
    // lag window → running-sum window → run rollup → lead window: the
    // rollup keys (custkey, version, status) are a superset of the
    // window partitioning, so hash(custkey) satisfies every stage —
    // one shuffle of the filtered orders, everything else in-partition
    val keyed = "Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size
    assert(keyed == 1, s"expected ONE o_custkey exchange for the whole chain:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"no other key exchange expected:\n$p")
    assert(p.contains("PushedFilters"), s"custkey filter should reach the scan:\n$p")
  }

  test("ta_chunk: in-row chunking — no join, no aggregate, sort-only exchange") {
    val p = plan("ta_chunk")
    // NB: not a substring test on "join" — array_join is in the project
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"), s"chunking must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"chunking must not aggregate:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"only the output sort may shuffle:\n$p")
  }

  test("ta_winnow: fingerprinting stays in the row — no explode, no key shuffle") {
    val p = plan("ta_winnow")
    assert(!p.toLowerCase.contains("generate"),
      s"gram fan-out must stay in-row (no explode):\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"only the output sort may shuffle:\n$p")
  }

  test("ta_heavy_hitters: sketch built from weighted vocab, probe join broadcast") {
    val p = plan("ta_heavy_hitters")
    // corpus-scale work is ONE wc-shaped aggregate (tok); the sketch
    // probe joins 256 broadcast cells; top-k is TakeOrdered, not sort
    assert(p.contains("BroadcastHashJoin"), s"sketch probe should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join expected:\n$p")
  }

  test("q40_setops_all: multiset ops plan as aggregates, never as joins") {
    val p = plan("q40_setops_all")
    assert(!p.toLowerCase.contains("join"),
      s"INTERSECT/EXCEPT ALL must plan count-and-replicate aggregates:\n$p")
    assert(p.contains("Generate"), s"expected the replicate Generate:\n$p")
  }

  test("q41_higher_order: lambdas stay inside the row — no explode, no key shuffle") {
    val p = plan("q41_higher_order")
    assert(!p.contains("Generate"), s"array lambdas must not explode:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row array work must not key-shuffle:\n$p")
    assert(!p.contains("HashAggregate"), s"no per-element aggregate expected:\n$p")
  }

  test("q44_cube: one Expand feeding one partial+final aggregate pair") {
    val p = plan("q44_cube")
    assert("\\bExpand\\b".r.findAllIn(p).size == 1, s"expected ONE Expand:\n$p")
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyed == 1, s"cube must aggregate through ONE key exchange:\n$p")
  }

  test("q45_full_outer: SortMergeJoin FullOuter over pre-aggregated sides") {
    val p = plan("q45_full_outer")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"full outer must sort-merge both key-collapsed sides:\n$p")
  }

  test("q46_cross_join: the ONE deliberate cartesian in the surface") {
    val p = plan("q46_cross_join")
    assert(p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"explicit crossJoin should plan the cartesian it asks for:\n$p")
  }

  test("q47_limit_offset: TakeOrderedAndProject — page bounded per partition, no global sort") {
    val p = plan("q47_limit_offset")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-(offset+limit) partials:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"no global sort for a bounded page:\n$p")
  }

  test("dd_incremental: anti-join against history, batch filter pushed to scan") {
    val p = plan("dd_incremental")
    assert(p.contains("LeftAnti"), s"expected an anti-join on fingerprint:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"anti-join must stay an equi-join:\n$p")
  }

  test("ta_mixture: expression-only selection, ONE aggregate exchange, no join") {
    val p = plan("ta_mixture")
    // the manifest is scan → per-row md5 coins → partial/final aggregate:
    // exactly one hash exchange (on source), nothing join-shaped
    val exchanges = "Exchange hashpartitioning\\(source".r.findAllIn(p).size
    assert(exchanges == 1, s"expected ONE source-keyed exchange:\n$p")
    assert(!p.contains("Join"), s"mixture selection must not join:\n$p")
  }

  test("sim_kmeans_ivf: centroid joins broadcast; the corpus never shuffles for serving") {
    val p = plan("sim_kmeans_ivf")
    // both centroid passes (multi-probe on the queries, assignment on
    // the corpus) must be broadcast loop joins over the k-row model —
    // a map-side loop, never a shuffle of the vector side (assignment
    // rides the 1-row pivoted-candidate frame + the argmin kernel)
    val loops = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(loops == 2, s"expected 2 broadcast centroid loops, got $loops:\n$p")
    // candidate generation broadcasts the bounded probe-query frame
    // into the assigned corpus: no SortMergeJoin anywhere — the SMJ
    // formulation exchanged and sorted the ENTIRE corpus by cell to
    // meet a ≤(queries × probes)-row frame
    assert(!p.contains("SortMergeJoin"),
      s"the probe-side join must broadcast, not sort-merge:\n$p")
    assert(p.contains("centroid_argmin"),
      s"assignment must ride the codegen argmin kernel:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$p")
  }

  test("sim_int8_topk: quantize/dequantize stay in-row; rank is the first key shuffle") {
    val p = plan("sim_int8_topk")
    // candidate generation is the deliberate small-query-set loop join;
    // quantization itself must add no aggregate and no extra exchange
    // before the per-query rank window
    val exchanges = "Exchange hashpartitioning\\(query_id".r.findAllIn(p).size
    assert(exchanges == 1, s"expected ONE query-keyed exchange for the rank window:\n$p")
    assert(!p.contains("HashAggregate"),
      s"quantization must be pure projection, no aggregate:\n$p")
  }

  test("sim_pq: every join broadcasts; encoding never shuffles scored candidates") {
    val p = plan("sim_pq")
    // codebook joins (encode, distance table) and the ADC code⋈table
    // join are all broadcast — n² never appears, and nothing merges
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"all PQ joins must broadcast:\n$p")
    // the in-row argmin encode: a window/groupBy encode would shuffle
    // n·M·K scored rows keyed (vec_id, m) — that key must not exist
    assert(!"Exchange hashpartitioning\\(vec_id#\\d+L?, m#".r.findFirstIn(p).isDefined,
      s"encoding must fold in-row, not shuffle scored candidates:\n$p")
    // the vector-side exchanges are exactly the ADC (query, vector)
    // aggregate and the per-query rank window
    assert("Exchange hashpartitioning\\(query_id#\\d+L?, vec_id".r.findFirstIn(p).isDefined,
      s"expected the ADC lookup-sum aggregate exchange:\n$p")
  }

  test("ta_gopher_quality: per-row rules, ONE lang-keyed aggregate exchange, no join") {
    val p = plan("ta_gopher_quality")
    // all five rules are per-row expressions folded into the scan
    // projection; the manifest is one partial/final aggregate on lang
    val exchanges = "Exchange hashpartitioning\\(lang".r.findAllIn(p).size
    assert(exchanges == 1, s"expected ONE lang-keyed exchange:\n$p")
    assert(!p.contains("Join"), s"rule evaluation must not join:\n$p")
  }

  test("ta_shuffle_shard: one shard-keyed exchange feeds the in-partition position sort") {
    val p = plan("ta_shuffle_shard")
    // the global permutation is range-partition + in-partition sort:
    // exactly one hash exchange (the shard key) and the position window;
    // a global ORDER BY over the coin would be a rangepartitioning-only
    // plan with no shard exchange — the shape that dies at 100 TB
    val exchanges = "Exchange hashpartitioning\\(shard".r.findAllIn(p).size
    assert(exchanges == 1, s"expected ONE shard-keyed exchange:\n$p")
    assert(p.contains("Window"), s"per-shard position must be a window:\n$p")
    assert(!p.contains("Join"), s"shuffle-shard must not join:\n$p")
  }

  test("dd_dup_spans: hot-gram manifest is one gram-keyed join, no pair explosion") {
    // the oracled query caches its result (settled), so assert the
    // extracted post-tokenize plan on an unpersisted window stream
    import spark.implicits._
    val grams = Seq((1L, "aa"), (1L, "bb"), (2L, "aa")).toDF("doc_id", "gh")
    val p = graft.queries.Dedup.dupSpanManifest(grams)
      .queryExecution.executedPlan.toString
    // a gram shared by k docs must cost k rows (1:1 join against the
    // hot set), never k² — no join may pair the window stream with itself
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dup-span detection must stay an equi-join:\n$p")
    val joinKeys = "(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[([a-z_]+)#"
      .r.findAllMatchIn(p).map(_.group(1)).toList
    assert(joinKeys.nonEmpty && joinKeys.forall(_ == "gh"),
      s"the only join keys on the 16-byte gram hash, got $joinKeys:\n$p")
    val exKeys = "Exchange hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exKeys.subsetOf(Set("gh", "doc_id")),
      s"shuffles keyed on gram or doc only, got $exKeys:\n$p")
  }

  test("ta_ppl_bucket: LM scoring is bigram-keyed equi-joins + one doc aggregate") {
    // the oracled query caches the scored stage, so assert the extracted
    // scoring plan (model build + bigram join) on unpersisted inputs
    import spark.implicits._
    val big = Seq((1L, "a", "b"), (1L, "b", "c"), (2L, "a", "b"))
      .toDF("doc_id", "w1", "w2")
    val vocab = Seq(Tuple1(3L)).toDF("v")
    val p = graft.queries.TextAnalysis.pplScore(big, vocab)
      .queryExecution.executedPlan.toString
    // the corpus-sized joins (bigram⋈model, model = bc⋈uc) stay keyed on
    // the token prefix; the ONE nested-loop is the broadcast 1-row vocab
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      s"exactly the 1-row vocab broadcast may nest-loop:\n$p")
    val joinKeys = "(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[([a-z_0-9]+)#"
      .r.findAllMatchIn(p).map(_.group(1)).toList
    assert(joinKeys.nonEmpty && joinKeys.forall(_ == "w1"),
      s"every equi-join leads on the bigram prefix w1, got $joinKeys:\n$p")
    val exKeys = "Exchange hashpartitioning\\(([a-z_0-9]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exKeys.subsetOf(Set("w1", "w2", "doc_id")),
      s"shuffles keyed on bigram or doc only, got $exKeys:\n$p")
  }

  test("dd_semdedup: assignment computed once (cached), joins keyed on cell/vec_id only") {
    val p = plan("dd_semdedup")
    // the persisted assignment feeds the pair join's both branches and
    // the final keep/drop projection — the plan must read the cache,
    // not re-run the centroid argmin per branch
    assert(p.contains("InMemoryTableScan"),
      s"assignment should be read from cache:\n$p")
    // pair generation is an equi-join on the CELL key; drop-marking is
    // a vec_id left join — nothing vector-shaped, no cartesian
    val smj = "SortMergeJoin \\[([a-z_]+)#".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(smj.forall(k => k == "cell" || k == "vec_id"),
      s"every merge join must key on cell or vec_id, got $smj:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$p")
    spark.catalog.clearCache()
  }

  test("q54_zorder: two-column pruned scan, per-row bit ops, ONE aggregate") {
    val p = plan("q54_zorder")
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(sys.error(s"no FileScan in:\n$p"))
    assert(scanCols.split(",").length == 2,
      s"scan should read exactly l_partkey + l_suppkey, got: $scanCols")
    val exchanges = "Exchange hashpartitioning\\(zbucket".r.findAllIn(p).size
    assert(exchanges == 1, s"expected ONE zbucket-keyed exchange:\n$p")
    assert(!p.contains("Join"), s"the interleave must not join:\n$p")
  }

  test("q54_zorder: Morton interleave round-trips both dimensions") {
    // de-interleaving z must recover (p, s) exactly for 16-bit inputs —
    // an independent plain-Scala replay of the shared expression text
    val rnd = new scala.util.Random(54)
    val cases = Seq((0, 0), (65535, 65535), (1, 0), (0, 1)) ++
      Seq.fill(50)((rnd.nextInt(65536), rnd.nextInt(65536)))
    import spark.implicits._
    val got = cases.toDF("l_partkey", "l_suppkey")
      .selectExpr("l_partkey", "l_suppkey",
        s"CAST(${graft.queries.Relational.zExprSql("l_partkey", "l_suppkey")} AS BIGINT) AS z")
      .collect()
    got.foreach { r =>
      val (pk, sk, z) = (r.getInt(0), r.getInt(1), r.getLong(2))
      val pBack = (0 until 16).map(i => (((z >> (2 * i)) & 1L) << i)).sum
      val sBack = (0 until 16).map(i => (((z >> (2 * i + 1)) & 1L) << i)).sum
      assert(pBack == pk && sBack == sk,
        s"z=$z de-interleaves to ($pBack,$sBack), expected ($pk,$sk)")
    }
  }

  test("q56_pit_join: every fact row sees exactly one dimension version") {
    import org.apache.spark.sql.functions.{col, sum}
    // the PIT invariant: the interval probe preserves fact cardinality
    // (0 matches = a coverage hole, 2+ = overlapping versions — both
    // are the label-leakage bugs the operator exists to prevent)
    val joined = graft.queries.Relational.q56PitJoin(spark, sfDir)
      .agg(sum("n_orders")).collect()(0).getLong(0)
    val facts = graft.sources.Tables(spark, sfDir).orders
      .where(col("o_custkey") % 10 === 0).count()
    assert(joined === facts,
      s"PIT join must preserve fact cardinality: $joined != $facts")
    // plan: a custkey equi-join with the interval test residual — no
    // range-join explosion, no cartesian
    val p = plan("q56_pit_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the interval probe must ride the key equi-join:\n$p")
    val joins = "(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[([a-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(joins == List("custkey"), s"one custkey-keyed join, got $joins:\n$p")
  }

  test("q57_compaction_plan: pack arithmetic replayed from the staged listing") {
    val got = graft.queries.Relational.q57CompactionPlan(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // independent replay straight off the filesystem: same filename
    // order, same running sum, same integer division
    val target = graft.queries.Relational.CompactionTargetBytes
    val base = new java.io.File(graft.queries.Relational.CompactionStageDir)
    val want = base.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
      .flatMap { pd =>
        val part = pd.getName.stripPrefix("event_type=")
        val files = pd.listFiles().filter(_.getName.endsWith(".parquet"))
          .sortBy(_.getName)
        var cum = 0L
        val tagged = files.map { f =>
          val g = cum / target; cum += f.length(); (part, g, f.length())
        }
        tagged.groupBy(x => (x._1, x._2)).map { case ((p, g), fs) =>
          (p, g, fs.length.toLong, fs.map(_._3).sum)
        }
      }.toSeq.sortBy(x => (x._1, x._2))
    assert(got === want, s"plan diverged from the filesystem replay:\n$got\nvs\n$want")
    // non-vacuous: the shattered layout must force real multi-file groups
    assert(got.exists(_._3 > 1), s"fixture never packed 2+ files: $got")
  }

  test("q55_merge_upsert: ONE full-outer key join, change derivation join-free") {
    val p = plan("q55_merge_upsert")
    assert(p.contains("FullOuter"), s"merge must be a full-outer join:\n$p")
    val joins = "(?:SortMergeJoin|ShuffledHashJoin) \\[([a-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(joins == List("o_orderkey"),
      s"exactly one key-equi merge join, got $joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cartesian in the merge:\n$p")
  }

  test("dd_pipeline_manifest: no cartesian, one survivor window, broadcast hit frames") {
    // the oracled query settles (persists) its manifest, which hides
    // the topology behind an InMemoryRelation's adaptive plan — assert
    // on the UNPERSISTED core with the same wiring instead (the
    // dupSpanManifest pattern)
    import org.apache.spark.sql.functions._
    val D = graft.queries.Dedup
    val staged = D.shingleDocs(
        spark.read.parquet(s"$sfDir/documents.parquet"))
      .select(col("doc_id"), col("sh"))
    val lsh = D.minhashLshFrom(staged)
    val pairs = lsh.select("doc_a", "doc_b", "jaccard")
    val lexHits = D.contam(staged, broadcastTest = false)
      .select(col("doc_id"), col("contam_ratio"))
    val sem = D.contamEmbed(
        spark.read.parquet(s"$sfDir/embeddings.parquet"), D.ContamBothEvalMod)
      .select(col("vec_id").as("doc_id"))
    val p = D.pipelineCore(
        spark.read.parquet(s"$sfDir/documents.parquet"), pairs, lexHits, sem,
        D.PipelineDomainQuota)
      .queryExecution.executedPlan.toString
    lsh.unpersist()
    // no unbounded pair blowup anywhere in the 7-stage composition
    assert(!p.contains("CartesianProduct"), s"cartesian in the pipeline:\n$p")
    // the two BroadcastNestedLoopJoins are contamEmbed's deliberate
    // 1-row eval-array broadcast (its own spec pins that shape) — any
    // OTHER nested-loop join would be a real regression
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 2, s"unexpected nested-loop joins ($bnl):\n$p")
    // exactly one window: the domain-cap rank over post-pipeline
    // survivors (everything upstream is joins/aggregates)
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows === 1, s"expected the one survivor-cap window, got $windows:\n$p")
  }
}
