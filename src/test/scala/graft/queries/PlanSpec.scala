package graft.queries

import org.apache.spark.sql.execution.{DataSourceScanExec, InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.{RhpSig, VecDot}

/** Physical-plan regression guards: the properties that make these queries
  * scale must survive refactors — filters/projections on the scan, broadcast
  * dimension joins, map-side partial aggregation, top-k without full sort. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q02: filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)") || p.contains("GreaterThanOrEqual(l_quantity,49.0)"))
    assert(!p.contains("l_shipdate"), "pruned columns must not be read")
  }

  test("q04: star joins broadcast, no sort-merge join") {
    val p = plan("q04_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q08: last-by-key is a partial max_by aggregate, not a window sort") {
    val p = plan("q08_last_by_key")
    assert(p.contains("partial_max_by"))
    assert(!p.contains("Window"))
  }

  test("q11: top-k plans TakeOrderedAndProject (no global sort)") {
    val p = plan("q11_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q01: aggregate has a map-side partial stage") {
    val p = plan("q01_groupby_sum")
    assert(p.contains("partial_sum"))
  }

  test("q29: pair scan uses the codegen vec_dot kernel") {
    val p = plan("q29_cosine_neardup")
    assert(p.contains("graft_vec_dot"))
  }

  test("q42: LSH near-dup has NO cross/all-pairs join — bucket-keyed joins only") {
    val p = plan("q42_embedding_neardup_lsh")
    assert(!p.contains("CartesianProduct"), "no cross product anywhere")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no conditional all-pairs join")
    assert(p.contains("graft_rhp_sig"), "signatures come from the codegen expression")
    assert(p.contains("graft_vec_dot"), "verify stage uses the codegen dot kernel")
  }

  /** Every operator of `name`'s final (post-AQE) plan that evaluates
    * `graft_vec_dot` or `graft_rhp_sig`, each paired with whether it sits
    * inside a whole-stage codegen stage. Runs the query once so AQE settles
    * its final plan. */
  private def nativeKernelOps(name: String): Seq[(String, Boolean)] = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.collect()
    // a parquet scan lists the query's filters as `DataFilters` but never
    // evaluates a graft_* one: the Filter above it does
    def native(p: SparkPlan) = !p.isInstanceOf[DataSourceScanExec] &&
      p.expressions.exists(_.exists {
        case _: VecDot | _: RhpSig => true
        case _ => false
      })
    def walk(p: SparkPlan, inStage: Boolean): Seq[(String, Boolean)] = {
      val here = if (native(p)) Seq(p.nodeName -> inStage) else Nil
      here ++ (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inStage = false)
        case q: QueryStageExec => walk(q.plan, inStage = false)
        case w: WholeStageCodegenExec => walk(w.child, inStage = true)
        case i: InputAdapter => walk(i.child, inStage = false)
        case _ => p.children.flatMap(walk(_, inStage))
      })
    }
    walk(df.queryExecution.executedPlan, inStage = false)
  }

  test("q29/q42: the operators evaluating graft_vec_dot/graft_rhp_sig stay in whole-stage codegen") {
    for (q <- Seq("q29_cosine_neardup", "q42_embedding_neardup_lsh")) {
      val ops = nativeKernelOps(q)
      assert(ops.nonEmpty, s"$q: no operator evaluates a graft_* kernel")
      assert(ops.forall(_._2), s"$q: outside WholeStageCodegen: ${ops.filterNot(_._2)}")
    }
  }

  test("q41: the LSH-routed dedup pipeline is also free of all-pairs joins") {
    val p = plan("q41_embedding_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q43: IVF corpus assignment is map-only — no Exchange before the candidate join") {
    val p = plan("q43_ivf_topk")
    assert(p.contains("BroadcastHashJoin"))
    // exactly ONE window — the final per-query top-k. The rejected
    // formulation ranked centroid assignment with windows too (3 total),
    // shuffling the whole corpus twice.
    assert("Window \\[".r.findAllIn(p).size == 1, "only the top-k window")
  }

  test("q48: decontamination never shuffles the training text") {
    val p = plan("q48_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "benchmark n-grams broadcast")
    // the only non-broadcast exchanges carry (doc_id, count) style rows —
    // no string-array payloads (grep for a shuffle of the exploded gram col
    // paired with text columns is brittle; assert join type + no SMJ)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q53: as-of join is one keyed window pass, not a nested loop") {
    val p = plan("q53_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Window"), "last-ignoreNulls carry-forward window")
  }

  test("q54: range join is an equi hash join with a residual filter, not a nested loop") {
    val p = plan("q54_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Generate"), "intervals explode into buckets")
  }

  test("q60: KMV sketch aggregates with bounded map-side partials") {
    val p = plan("q60_kmv_distinct")
    // the MinK udaf runs as an ObjectHashAggregate with a partial stage, so
    // per-group traffic over the exchange is <= k longs per partition
    assert(p.contains("ObjectHashAggregate"))
    assert(p.contains("partial_mink"), "MinK itself must have a partial stage")
  }

  test("q62: PII redaction is a single scan — no shuffle at all before the sort") {
    val p = plan("q62_pii_redact")
    // one Exchange only: the final rangepartitioning for ORDER BY
    assert("Exchange".r.findAllIn(p).size == 1, s"expected only the sort exchange")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("q63: simhash near-dup joins on (band, slice) — no all-pairs join") {
    val p = plan("q63_simhash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q65: OOV vocabulary probe broadcasts — the corpus never shuffles by token") {
    val p = plan("q65_oov_rate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q66: funnel rides the as-of operator — no range self-join blow-up") {
    val p = plan("q66_funnel")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Window"), "as-of carry-forward window")
  }

  test("q69: salted last-by-key is two hash aggregates, never a window sort") {
    val p = plan("q69_lastby_salted")
    assert(p.contains("partial_max_by"))
    assert(!p.contains("Window"))
  }

  test("q70: incremental near-dup joins band keys — no all-pairs join") {
    val p = plan("q70_incremental_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("graft_minhash"), "signatures from the codegen expression")
  }

  test("q76: repeated-ngram join shuffles hashed longs, not gram strings") {
    val p = plan("q76_repeated_ngrams")
    // the gram string column must be projected away before any Exchange:
    // every exchange key set is (h) or (doc_id ...), never g
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(l => !l.contains("g#")),
      s"gram strings must not be shuffle keys:\n${exchanges.mkString("\n")}")
    assert(p.contains("partial_count"), "doc-frequency agg has a map-side stage")
  }

  test("q77/q78: vocabulary-sized sides broadcast — corpus never sort-merge joins") {
    Seq("q77_tfidf_keywords", "q78_collocations").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast the small side")
    }
    // q78 top-k is a TakeOrderedAndProject, not a global sort
    assert(plan("q78_collocations").contains("TakeOrderedAndProject"))
  }

  test("q79: per-type stats join broadcasts (one row per type)") {
    val p = plan("q79_event_anomaly")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q82: the CMS counter table broadcasts into the probe join") {
    val p = plan("q82_cms_heavyhitters")
    assert(p.contains("BroadcastHashJoin"), "bounded counter table must broadcast")
    assert(p.contains("partial_count"), "counters aggregate with map-side partials")
  }

  test("q83: span-dedup shuffles hashed longs, not gram strings; no all-pairs join") {
    val p = plan("q83_span_dedup")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(l => !l.contains("g#")),
      s"gram strings must not be shuffle keys:\n${exchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q86: co-purchase self-join is order-keyed, never a nested loop") {
    val p = plan("q86_copurchase")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-k without a global sort")
  }

  test("q84: cross-modal audit uses the codegen dot kernel, no all-pairs join") {
    val p = plan("q84_modal_mismatch")
    assert(p.contains("graft_vec_dot"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q81: scan goes through graft-replay with pushed ts range") {
    val p = plan("q81_v2_replay_hourly")
    assert(p.contains("graft-replay"), "scan must be the V2 connector")
    assert(p.contains("tsRange=(1704672000000000000,1705276800000000000]"),
      "literal bounds pushed into the scan for row-group pruning")
    assert(p.contains("partial_count"), "hourly agg keeps map-side partials")
    // the columnar-decode proof lives in ReplayDataSourceSpec on a
    // plain-INT64 fixture; the driver's micros-annotated events file
    // takes the row path (unit scaling), which this run exercises
    val df = graft.SparkEntry.queries("q81_v2_replay_hourly")(spark, dir)
    assert(df.count() > 0)
  }

  test("q100: z-order stats are one map-only pass + one combinable aggregate") {
    val p = plan("q100_zorder_stats")
    assert(!p.contains("Join") && !p.contains("Window"),
      "pure integer bit math needs no join and no window")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      "bucket stats keep map-side partials")
    assert("Exchange".r.findAllIn(p).size <= 2, // one for the agg, one for the sort
      s"only the aggregate and final sort may shuffle:\n$p")
  }

  test("q98: MG sketch aggregates with map-side partials; recount join broadcasts") {
    val p = plan("q98_guaranteed_heavyhitters")
    // partial ObjectHashAggregate: each partition reduces to <= k counters
    // BEFORE the exchange — the vocabulary never shuffles
    assert(p.contains("partial_freqitems") ||
      ("ObjectHashAggregate".r.findAllIn(p).size >= 2 && p.contains("freqitems")),
      s"sketch must keep a map-side partial stage:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the <= k candidates broadcast back over the stream")
    assert(!p.contains("SortMergeJoin"), "recount must not shuffle the token stream by item")
  }

  test("q101: Bloom prefilter sits on the fact scan BELOW the semi join") {
    val p = plan("q101_bloom_semijoin")
    assert(p.contains("LeftSemi"), "exact semi join present")
    assert(p.contains("element_at"), "bloom bitset probe present")
    // the executedPlan string prints top-down: the join (above) must appear
    // before the probe filter (below) — i.e. the filter runs pre-shuffle
    val join = p.indexOf("LeftSemi")
    val probe = p.indexOf("element_at")
    assert(join >= 0 && probe > join,
      s"prefilter must be under the join, cutting exchange volume:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q106: SemDeDup dominance join is cid-keyed with literal-centroid assignment") {
    val p = plan("q106_semdedup")
    assert(!p.contains("CartesianProduct"), "no cross product anywhere")
    assert(!p.contains("BroadcastNestedLoopJoin"), "pair scan must stay within clusters")
    assert(p.contains("graft_vec_dot"), "assignment + verify use the codegen dot kernel")
  }

  test("q104: prefix-filter join is token-keyed — no all-pairs join anywhere") {
    val p = plan("q104_prefix_jaccard_join")
    assert(!p.contains("CartesianProduct"), "no cross product anywhere")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no conditional all-pairs join")
    assert(p.contains("xxhash64"), "tokens are int64-hashed before any shuffle")
  }

  test("q109: containment join is token-keyed — no all-pairs join anywhere") {
    val p = plan("q109_subset_containment")
    assert(!p.contains("CartesianProduct"), "no cross product anywhere")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no conditional all-pairs join")
  }

  test("q113: Gopher rules are one map-only scan — no shuffle before the sort") {
    val p = plan("q113_gopher_rules")
    // exactly the output sort's exchange; the flags themselves add none
    assert("Exchange".r.findAllIn(p).size == 1, s"one exchange (the sort):\n$p")
    assert(!p.contains("Join"), "no join anywhere")
  }

  test("q105/q112: integer-log scoring keeps aggregates partial (map-side combine)") {
    assert(plan("q105_lm_surprisal").contains("partial_count"))
    val p112 = plan("q112_source_entropy")
    assert(p112.contains("partial_count") || p112.contains("partial_sum"))
    assert(!p112.contains("CartesianProduct"))
  }

  test("q114: the composed funnel stays join-keyed — no cross product; shared frames cached") {
    val p = plan("q114_curation_funnel")
    assert(!p.contains("CartesianProduct"), "no cross product anywhere")
    // The only BroadcastNestedLoopJoin allowed is unigramSurprisal's
    // ONE-ROW corpus-total attach (crossJoin(broadcast(1 row)) plans as
    // BNLJ); the plan STRING repeats it per reference to the cached
    // frame, so assert the cache is in place rather than a brittle count.
    assert(p.contains("InMemoryTableScan"),
      "staged/pool must be cached so gate pipelines run once")
  }

  test("q116/q121: image near-dup joins band keys — no all-pairs join") {
    for (q <- Seq("q116_image_neardup", "q121_image_clusters")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: no cross product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: no all-pairs join")
    }
  }

  test("q117/q119/q122: tokenizer, canonicalizer, classifier are map-only scans") {
    for (q <- Seq("q117_wordpiece_counts", "q119_url_canonicalize",
        "q122_quality_classifier")) {
      val p = plan(q)
      // exactly the output sort's exchange; the operator itself adds none
      assert("Exchange".r.findAllIn(p).size == 1, s"$q: one exchange (the sort):\n$p")
      assert(!p.contains("Join"), s"$q: no join anywhere")
    }
  }

  test("q123: BM25 broadcasts the one-row stats and plans top-k without a global sort") {
    val p = plan("q123_bm25_search")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort the corpus")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "the stats attach must broadcast")
  }

  test("q120: host rollup aggregates with map-side partials") {
    val p = plan("q120_host_dedup_rollup")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q124: audio near-dup joins band keys — no all-pairs join") {
    val p = plan("q124_audio_neardup")
    assert(!p.contains("CartesianProduct"), "no cross product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no all-pairs join")
  }

  test("q125: decontamination probes a BROADCAST eval gram set with partial rollup") {
    val p = plan("q125_decontamination")
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark-sized eval gram set must broadcast — the corpus never shuffles by gram")
    assert(!p.contains("SortMergeJoin"), "no corpus-wide gram shuffle")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-doc rollup keeps map-side partials")
  }

  test("q126: alpha mixture plan is one per-source aggregate (sources-sized window)") {
    val p = plan("q126_alpha_mixture_plan")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "source aggregate keeps map-side partials")
    assert(!p.contains("Join"), "weights derive in-plan; no join anywhere")
  }

  test("q127: span dedup partial-aggs the hash groupBy and never goes all-pairs") {
    val p = plan("q127_span_dedup")
    assert(p.contains("partial_count"),
      "duplicated-hash detection must combine map-side — only (hash, count) shuffles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no all-pairs stage at any scale")
    assert(p.contains("InMemoryTableScan"),
      "the span frame feeds both the dup-hash agg and the semi join — must be pinned")
  }

  test("q128: lev join blocks on segment equi-keys — no all-pairs anywhere") {
    val p = plan("q128_lev_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "PassJoin candidates come from an equi-join on (length, segment, substring)")
    assert(p.contains("partial_count"),
      "the distinct-name dedup must combine map-side — costs scale with distinct strings")
    assert(p.contains("InMemoryTableScan"),
      "the names frame feeds index, probe, and both count attaches — must be pinned")
  }

  test("q129: span novelty ranks inside span-hash partitions, never a global window") {
    val p = plan("q129_span_novelty")
    assert(p.contains("hashpartitioning(h"),
      "the ranking window must shuffle by span hash — groups bounded by occurrence count")
    assert(!p.contains("SinglePartition"), "no all-rows-to-one-partition stage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q130: BPE pair counts partial-agg both rollups and top-k without a global sort") {
    val p = plan("q130_bpe_pairs")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "word and pair rollups must combine map-side")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort the pairs")
  }

  test("q131: funnel joins by user with window bounds as join predicates") {
    val p = plan("q131_event_funnel")
    assert(p.contains("partial_min"), "anchor and ttc mins must combine map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"), "no window function — per-user groups only")
  }

  test("q132: pagerank iterations reuse the pinned out-edge list, no all-pairs") {
    // the registered query checkpoints each round (final plan = RDD scan),
    // so audit one lazy iteration directly
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      .distinct()
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val p = graft.ext.Graphs.integerPageRank(sym, iters = 1, eager = false)
      .queryExecution.executedPlan.toString
    graft.ext.PinnedCache.releaseAll()
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      "the degree-annotated edge list feeds every iteration — must be pinned")
    assert(p.contains("partial_sum"), "per-node contribution sum combines map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q133: HLL registers aggregate with map-side partial max; no all-pairs") {
    val p = plan("q133_hll_distinct")
    assert(p.contains("partial_max"), "register max must combine map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q134: BPE encode loops over DISTINCT words; occurrence join is word-keyed") {
    val p = plan("q134_bpe_encode")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-doc rollup combines map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q135: semantic decontamination broadcasts the eval side, bucket-keyed only") {
    val p = plan("q135_semantic_decontamination")
    assert(!p.contains("CartesianProduct"), "no cross product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no all-pairs join")
    assert(p.contains("graft_rhp_sig"), "signatures come from the codegen expression")
    assert(p.contains("graft_vec_dot"), "verify stage uses the codegen dot kernel")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "eval signatures and eval vectors broadcast to the corpus side")
  }

  test("q136: HTML extraction is one map-only scan — no join, one exchange (the sort)") {
    val p = plan("q136_html_main_content")
    assert(!p.contains("Join"), "no join anywhere")
    assert("Exchange".r.findAllIn(p).size == 1, s"one exchange (the sort):\n$p")
  }

  test("q137: DBSCAN epsilon graph is bucket-keyed — no all-pairs join") {
    val p = plan("q137_dbscan_clusters")
    graft.ext.PinnedCache.releaseAll()
    assert(!p.contains("CartesianProduct"), "no cross product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no all-pairs join")
  }

  test("q139: triangle wedge join is node-keyed; shared subtrees are cached") {
    val p = plan("q139_triangle_count")
    graft.ext.PinnedCache.releaseAll()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "wedges come from equi-joins, never cross products")
    assert(p.contains("InMemoryTableScan"),
      "edge/degree/orientation frames must be cached, not recomputed per reference")
  }

  test("q142: shard plan is map-only until the per-shard window — no join") {
    val p = plan("q142_shard_plan")
    assert(!p.contains("Join"), "pure-function assignment needs no join")
    assert(p.contains("Window"), "per-shard position/offset window present")
  }

  test("q144: skew audit aggregates map-side and broadcasts the 1-row total") {
    val p = plan("q144_skew_audit")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-key count combines map-side")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row total joins via broadcast, never a shuffle")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q146: multi-probe candidates are bucket-keyed; probes broadcast") {
    val p = plan("q146_multiprobe_topk")
    assert(!p.contains("CartesianProduct"), "no cross product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no all-pairs join")
    assert(p.contains("graft_rhp_sig"), "corpus signatures from the codegen expression")
    assert(p.contains("BroadcastHashJoin"), "query probe table broadcasts")
  }

  test("q147: equi-depth bounds aggregate per distinct value map-side first") {
    val p = plan("q147_range_bounds")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "distinct-value counts combine map-side before the vocabulary window")
    assert(!p.contains("SortMergeJoin"), "the 1-row total broadcasts")
  }

  test("q168: split contamination — the train gram set broadcasts, test text never shuffles by gram") {
    val p = plan("q168_split_contamination")
    assert(p.contains("BroadcastHashJoin"), "gram probe must broadcast")
    assert(!p.contains("SortMergeJoin"), "no text-side shuffle join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q169: RRF fusion window runs over the unioned top-k lists only") {
    val p = plan("q169_rrf_hybrid")
    assert(p.contains("TakeOrderedAndProject"),
      "each system's top-k cut happens before fusion (no global sort of the corpus)")
    assert(!p.contains("CartesianProduct"))
  }

  test("q171: link extraction is map-only — no exchange before the host-pair rollup") {
    val p = plan("q171_link_graph")
    // one partial agg + one exchange for the rollup and one for the sort;
    // the render+regex pipeline itself must not shuffle
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "host-pair counts combine map-side")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "the doc->src_host attach must not degrade to a sort-merge join without broadcast")
  }

  test("q176: A-priori triples assemble through semi-joins on frequent pairs") {
    val p = plan("q176_frequent_triples")
    assert(p.contains("LeftSemi"), "downward-closure pruning must survive as semi joins")
    assert(!p.contains("CartesianProduct"))
  }

  test("q182: sliding HLL never re-expands the stream — window merge runs on register rollups") {
    val p = plan("q182_sliding_hll")
    assert(p.contains("partial_max") || p.contains("max("),
      "register build is a map-side-combinable max")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin") || p.contains("LeftSemi"),
      "occupied-week filter stays a semi join")
  }

  test("q193: Fano dispersion is two pure rollups — no window, partial aggs") {
    val p = plan("q193_fano_dispersion")
    assert(!p.contains("Window"), "dispersion needs no window pass")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "hour cells combine map-side")
  }

  test("q194: gap spectrum is exactly one window pass then a rollup") {
    val p = plan("q194_gap_spectrum")
    assert("Window".r.findAllIn(p).size == 1, "one lag window only")
    assert(p.contains("partial_count"), "bin counts combine map-side")
  }

  test("q195: cluster cohesion inherits the bucket-keyed pair pipeline — no all-pairs") {
    val p = plan("q195_cluster_cohesion")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q196: centroid matrix broadcasts the label-count dim; sums combine map-side") {
    val p = plan("q196_centroid_matrix")
    assert(p.contains("BroadcastHashJoin"), "label counts must broadcast")
    assert(p.contains("partial_sum"), "per-dim sums combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q198: growth accounting runs ONE user-keyed window over the distinct rollup") {
    val p = plan("q198_growth_accounting")
    assert("Window".r.findAllIn(p).size == 1,
      "classification is a single lag window; flows join adds none")
  }

  test("q199: Zipf slope windows the vocabulary ROLLUP only, moments aggregate map-side") {
    val p = plan("q199_zipf_slope")
    assert("Window".r.findAllIn(p).size == 1, "one global rank window (vocab-sized)")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "gram counts and moments combine map-side")
  }

  test("q208: lift margins broadcast — the cells never shuffle for the join") {
    val p = plan("q208_hour_lift")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "row/col margins must broadcast onto the cells")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q210: keyless range join is bucket-keyed — no nested-loop pair scan") {
    val p = plan("q210_incident_correlation")
    // the only nested-loop is the deliberate 1-row totals crossJoin; the
    // interval join itself must be the bucket equi-join with the BETWEEN
    // residual, never a pair scan
    assert(p.contains("bucket"), "range join must key on the time bucket")
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      "only the 1-row totals crossJoin may be nested-loop")
  }

  test("q200: CUSUM's two window steps share one partitioning — no exchange between them") {
    // min-prefix(P) consumes P, so they can't fuse into one Window exec —
    // but both use the same (event_type, hr) spec, so the second must ride
    // the first's exchange+sort, not add its own.
    val p = plan("q200_cusum_drift")
    val lines = p.split('\n')
    val wIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Window") => i
    }
    assert(wIdx.length == 2, s"expected 2 window steps, got ${wIdx.length}")
    val between = lines.slice(wIdx.min + 1, wIdx.max)
    assert(!between.exists(l => l.contains("Exchange") || l.contains("Sort")),
      "second window pass must reuse the first's exchange and sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q269: the dimension star broadcasts — the fact shuffles only as rollup partials") {
    val p = plan("q269_market_share")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no fact-sized join shuffle in the star")
    assert(p.contains("partial"), "rollup must have a map-side partial stage")
  }

  test("q254: the salted join keys on (key, _salt) with no cartesian anywhere") {
    val p = plan("q254_salted_join")
    assert(p.contains("_salt"), "salt key must reach the join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q278: AUC joins broadcast and windows partition by source (no global sort)") {
    val p = plan("q278_classifier_auc")
    assert(p.contains("BroadcastHashJoin"), "margin-label join must broadcast")
    assert(!p.contains("SortMergeJoin"))
    // both rank windows must be keyed by source — a partition-less window
    // here would funnel the corpus through one task
    assert(p.contains("windowspecdefinition(grp#") ||
      p.contains("windowspecdefinition(source#"),
      "windows must partition by source")
  }

  test("q280: the A/A rollup partial-aggregates map-side") {
    val p = plan("q280_aa_test")
    assert(p.contains("partial_sum"), "conditional sums must have a partial stage")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q285: stump cumsums run over the DISTINCT-value frame, total broadcast") {
    val p = plan("q285_decision_stump")
    assert(p.contains("TakeOrderedAndProject"), "argmin is a top-1, not a global sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row total joins broadcast")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the distinct-value rollup partial-aggregates")
  }

  test("q289: CDC chunk rollup partial-aggregates after one doc-keyed window pass") {
    val p = plan("q289_cdc_chunks")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
    assert(!p.contains("CartesianProduct"))
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).nonEmpty,
      "the window exchange must key by doc_id")
  }

  test("q315: DSIR selection boundary is a top-k + broadcast flag, never a global sort") {
    val p = plan("q315_dsir_selection")
    assert(p.contains("TakeOrderedAndProject"),
      "the take-100 boundary must plan as per-partition heads")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "the 256-bucket model and the membership flag both broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  // q314/q317 (walk operators) checkpoint per hop, so their final plans
  // are unions over checkpoint scans — nothing to pin here; their real
  // traffic is asserted by ScaleBudgetSpec instead.

  test("q319: pass@k is one map-side-combinable rollup, no joins at all") {
    val p = plan("q319_pass_at_k")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
    assert(!p.contains("Join"), "pure rollup + per-row arithmetic")
  }
}
