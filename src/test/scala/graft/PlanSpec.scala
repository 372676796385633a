package graft

import graft.queries.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Physical-plan audits (SURVEY §5): these lock in the *shape* that makes
  * the queries scale — filters and projections reaching the parquet scan,
  * dims broadcast, aggregates partial, top-k never globally sorting —
  * so a regression that silently de-optimizes a plan fails CI, not a
  * 100 TB run.
  */
class PlanSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** number of physical nodes of the given name (counted from the
    * formatted-explain detail headers, one per node)
    */
  private def nodeCount(plan: String, name: String): Int =
    plan.linesIterator.count(_.trim.matches(s"\\(\\d+\\) $name( .*)?"))

  /** Total task-input records read while `body` runs (parquet rows +
    * cached/checkpointed block reads). The listener bus is async, so
    * after `body` returns we wait for the counter to go quiescent.
    */
  private def recordsRead(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val v = acc.get()
        if (v == prev) stable += 1 else { stable = 0; prev = v }
      }
      acc.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("q2: predicates and projection are pushed into the parquet scan") {
    val plan = formatted(Relational.q2_filter_project(spark, sfDir))
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), "shipdate range must reach the scan")
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"),
      s"scan must prune unused columns, got $readSchema")
  }

  test("q3: dimension join is a broadcast join, no shuffle of the fact side") {
    val plan = formatted(Relational.q3_join_broadcast(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q1: aggregation is partial (map-side) before the shuffle, codegen'd") {
    val df = Relational.q1_agg(spark, sfDir)
    val plan = formatted(df)
    assert(nodeCount(plan, "HashAggregate") >= 2, "expect partial + final HashAggregate")
    assert(plan.contains("partial_sum"), "map-side partial aggregation required")
    df.collect() // materialize so AQE finalizes the plan
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "agg pipeline must run inside whole-stage codegen (the *(n) markers)")
  }

  test("q7: global top-k plans TakeOrderedAndProject, not a full sort") {
    val plan = formatted(Relational.q7_topk(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Exchange rangepartitioning"), "no global sort for top-k")
  }

  test("q18: star join broadcasts all dims; single fact-fact shuffle join") {
    val plan = formatted(Relational.q18_star_revenue(spark, sfDir))
    assert(nodeCount(plan, "BroadcastHashJoin") >= 3,
      "customer/nation/region joins must broadcast")
  }

  test("text ops are narrow: only the output sort shuffles") {
    val plan = formatted(graft.ops.TextOps.t2_quality(spark, sfDir))
    assert(nodeCount(plan, "Exchange") <= 1,
      "per-row scoring must not shuffle (only the final ORDER BY may)")
  }

  test("dedup LSH never degenerates into a cartesian product") {
    val plan = formatted(graft.ops.Dedup.d2_dedup_minhash(spark, sfDir))
    assert(!plan.contains("CartesianProduct"))
  }

  test("ANN brute-force broadcasts the query side") {
    val plan = formatted(graft.ops.Similarity.s1_ann_topk(spark, sfDir))
    assert(plan.contains("Broadcast"), "query set must broadcast, corpus scanned once")
  }

  test("q30: CUBE plans one Expand + partial/final aggregate, not N scans") {
    val plan = formatted(Relational.q30_cube(spark, sfDir))
    assert(nodeCount(plan, "Expand") == 1)
    assert(nodeCount(plan, "Scan parquet") == 1, "grouping sets must reuse one scan")
    assert(plan.contains("partial_"), "cube aggregate must be map-side partial first")
  }

  test("q32/q33: array and regexp surfaces are pure narrow maps") {
    Seq(Relational.q32_arrays(spark, sfDir), Relational.q33_regexp(spark, sfDir))
      .foreach { df =>
        val plan = formatted(df)
        assert(nodeCount(plan, "Exchange") <= 1,
          "per-row function surface must not shuffle (only the final ORDER BY may)")
      }
  }

  test("t9: decontamination broadcasts the eval n-gram set, never the corpus") {
    val plan = formatted(graft.ops.PipelineOps.t9_decontaminate(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      "train-grams ⋈ eval-grams must be a broadcast join")
  }

  test("t10: sequence packing shuffles once on the group key") {
    val plan = formatted(graft.ops.PipelineOps.t10_pack_sequences(spark, sfDir))
    // one hashpartitioning(lang) feeds both the window and the groupBy —
    // the agg reuses the window's partitioning instead of re-shuffling
    val hashEx = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange( .*)?")) -
      (if (plan.contains("rangepartitioning")) 1 else 0)
    assert(hashEx <= 2, s"expected ≤2 hash exchanges (window+agg share lang key), got:\n$plan")
  }

  test("q10: set-op branches reuse the two persisted distinct inputs, not 6 rescans") {
    val df = Relational.q10_setops(spark, sfDir)
    val plan = formatted(df)
    assert(nodeCount(plan, "Scan parquet") <= 2,
      s"union/intersect/except must share the cached distinct inputs:\n$plan")
    assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
      "distinct inputs must come from the persisted frames")
  }

  test("d4: inverted-index dedup has no cartesian product and prunes via semi join") {
    val plan = formatted(graft.ops.Dedup.d4_ngram_jaccard(spark, sfDir))
    assert(!plan.contains("CartesianProduct"))
  }

  test("d6: no query it runs range-partitions, while d4 keeps its one output sort") {
    val d4 = formatted(graft.ops.Dedup.d4_ngram_jaccard(spark, sfDir))
    assert(d4.linesIterator.count(_.trim.startsWith("Arguments: rangepartitioning(")) == 1,
      s"d4 orders its pairs with one range-partition exchange:\n$d4")
    // every query d6 executes (pair build, seed, rounds, the counted
    // output), read from the session's query listener
    val plans = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val n = countJobs(graft.ops.Dedup.d6_dedup_clusters(spark, sfDir).count())
      assert(n > 0)
    } finally spark.listenerManager.unregister(l)
    assert(plans.size >= 3, s"expected the pair build, seed and rounds, saw ${plans.size} queries")
    val sorted = plans.toArray.map(_.toString).filter(_.toLowerCase.contains("rangepartitioning"))
    assert(sorted.isEmpty, s"d6 range-partitions:\n${sorted.mkString("\n")}")
  }

  test("t12: df table and corpus size broadcast onto the term table") {
    val plan = formatted(graft.ops.PipelineOps.t12_tfidf(spark, sfDir))
    assert(nodeCount(plan, "BroadcastHashJoin") >= 1, "df join must broadcast")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "the 1-row corpus count must broadcast, never shuffle the term table")
  }

  test("q37/q39: unpivot and histogram reuse one scan and stay narrow until the agg") {
    val unpivot = formatted(Relational.q37_unpivot(spark, sfDir))
    assert(nodeCount(unpivot, "Expand") == 1 && nodeCount(unpivot, "Scan parquet") == 1)
    val hist = formatted(Relational.q39_histogram(spark, sfDir))
    assert(nodeCount(hist, "Scan parquet") == 1)
    assert(hist.contains("partial_count"), "histogram counts must partial-aggregate map-side")
  }

  test("q47: correlated subqueries decorrelate to semi/anti joins, no per-row loops") {
    val plan = formatted(Relational.q47_exists(spark, sfDir))
    assert(plan.contains("LeftSemi"), "EXISTS must plan as a left-semi join")
    assert(plan.contains("LeftAnti"), "NOT EXISTS must plan as a left-anti join")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q63: recursion re-joins only the frontier against the contracted edge table") {
    val plan = formatted(Relational.q63_recursive(spark, sfDir))
    // the recursive step must be a real UnionLoop execution, and the
    // per-iteration join must never degenerate into a cross product
    assert(plan.contains("UnionLoop") || plan.contains("Recursion") ||
      plan.contains("CTERelation"), "recursive CTE must plan as an iterative union")
    assert(!plan.contains("CartesianProduct"))
    // the round-4 `weak` shape is dead: the loop joins the MATERIALIZED
    // contracted edge table (a checkpointed RDD), so no parquet scan —
    // i.e. no fact-table re-read — can appear anywhere inside the
    // recursion's plan
    assert(!plan.contains("Scan parquet"),
      s"recursion must read the materialized edge table, not re-scan facts:\n$plan")
  }

  test("q63: total records read ≈ one edges pass (no per-iteration fact re-scan)") {
    // round 4 measured 4.4× an edges pass when the edge CTE was inlined
    // into the loop; materialize-first must bring the whole entry back to
    // ~1× (+ the loop's own reads of ~600 checkpointed rows + tiny dims)
    Tables(spark, sfDir).registerAll()
    val edgesOnly = recordsRead {
      spark.sql(graft.queries.Relational.EDGES_TEXT).count()
    }
    val full = recordsRead { Relational.q63_recursive(spark, sfDir).count() }
    assert(full < edgesOnly * 1.5 + 100000,
      s"q63 must read ~one edges pass: full=$full vs edgesOnly=$edgesOnly")
  }

  test("q68: bucketed fact join plans zero join-input shuffles") {
    val bucketed = formatted(graft.sources.Sources.q68_bucketed_join(spark, sfDir))
    assert(bucketed.contains("SortMergeJoin"),
      "co-located join expected (not broadcast) so bucketing is what kills the shuffle")
    // the unbucketed twin of the same query shuffles BOTH join inputs;
    // bucketing must remove exactly those two exchanges (the agg/sort
    // tail exchanges after the join are the same in both plans)
    val t = Tables(spark, sfDir)
    val plain = formatted(
      t.lineitem.select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
        .join(t.orders.select("o_orderkey", "o_orderpriority").hint("merge"),
          Seq("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority"))
    val nb = nodeCount(bucketed, "Exchange")
    val np = nodeCount(plain, "Exchange")
    assert(np - nb >= 2,
      s"bucketing must remove both join-input shuffles: bucketed=$nb plain=$np")
  }

  test("q46: explicit grouping sets plan one Expand over one scan") {
    val plan = formatted(Relational.q46_grouping_sets(spark, sfDir))
    assert(nodeCount(plan, "Expand") == 1 && nodeCount(plan, "Scan parquet") == 1)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "grouping-sets aggregate must be partial before the shuffle")
  }

  test("t15: stratified sample filter is narrow — only the report agg shuffles") {
    val plan = formatted(graft.ops.PipelineOps.t15_stratified_sample(spark, sfDir))
    // exchanges: one for the groupBy report, one for the output sort — the
    // sample membership decision itself must not move data
    assert(nodeCount(plan, "Exchange") <= 2,
      s"sampling must be a narrow scan-side filter, got\n$plan")
    assert(nodeCount(plan, "Scan parquet") == 1)
  }

  test("m3: frame fan-out is one scan with no shuffle before the output sort") {
    val plan = formatted(graft.ops.Multimodal.m3_frame_sample(spark, sfDir))
    assert(nodeCount(plan, "Scan parquet") == 1)
    assert(nodeCount(plan, "Exchange") <= 1,
      "sequence+explode fan-out must be narrow (only the ORDER BY may shuffle)")
  }

  test("q52: bloom pre-filter is scan-side narrow; exact semi-join only sees survivors") {
    val plan = formatted(Relational.q52_bloom_semi(spark, sfDir))
    assert(plan.contains("might_contain"),
      "bloom probe must be in the lineitem filter (codegen'd, scan-side)")
    assert(plan.contains("LeftSemi"), "exact verify is the semi-join")
  }

  test("q56: 8 constraints cost at most 4 scans (fused per-table aggregates)") {
    val plan = formatted(graft.ops.DataQuality.q56_dq_suite(spark, sfDir))
    // 2 scans of orders (fused metrics + RI build side) and 2 of lineitem
    // (fused metrics + RI probe side) — NOT one scan per constraint
    assert(nodeCount(plan, "Scan parquet") <= 4,
      "per-table constraints must share one fused-aggregate scan")
    assert(plan.contains("LeftSemi"), "referential integrity is a semi-join")
  }

  test("q55: within-hour sweep windows are partitioned by hour (no global sort of boundaries)") {
    val plan = formatted(graft.ops.TimeOps.q55_concurrency(spark, sfDir))
    // the ONLY single-partition exchange allowed is the per-hour offset
    // cumsum (O(hours) rows, post-aggregate); the boundary-level window
    // must be hash-partitioned by h
    assert(plan.contains("hashpartitioning(h"),
      "boundary sweep must partition by hour")
  }

  test("q58: sliding windows are one Expand + partial agg, not 4 scans") {
    val plan = formatted(Relational.q58_sliding_window(spark, sfDir))
    assert(nodeCount(plan, "Expand") == 1,
      "x4 window membership must be a single narrow Expand")
    assert(nodeCount(plan, "Scan parquet") == 1)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "aggregation must be partial before the shuffle")
  }

  test("q61: temporal join is an equi-join on the entity key, never a cross product") {
    val plan = formatted(Relational.q61_temporal_join(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "interval filter must ride the user_id equi-join")
  }

  test("t18: boilerplate set is df-filtered BEFORE the join back") {
    val plan = formatted(graft.ops.TextOps.t18_boilerplate(spark, sfDir))
    assert(!plan.contains("CartesianProduct"))
    // the >= minDocs filter must sit on the aggregate side of the join,
    // shrinking the build input (visible as a Filter over the distinct
    // count, not over the joined result)
    assert(plan.contains("ndocs"), "frequency filter must exist in the plan")
  }

  test("q69: the CDC diff is ONE join — the four op branches never re-execute it") {
    // changes() classifies via a single explode(filter(array(...))) over
    // one full-outer join; a per-branch formulation (4 filters of the
    // join, unioned) would plan 4 joins and rescan both versions 4x
    val scratch = java.nio.file.Files.createTempDirectory("plan_cdc_").toString + "/t"
    import spark.implicits._
    graft.sources.Snapshots.write(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), scratch)
    graft.sources.Snapshots.write(
      Seq((2L, "B"), (3L, "c")).toDF("id", "s"), scratch)
    val feed = graft.sources.Snapshots.changes(spark, scratch, 0L, 1L, "id")
    val plan = formatted(feed)
    val joins = nodeCount(plan, "SortMergeJoin") + nodeCount(plan, "BroadcastHashJoin") +
      nodeCount(plan, "ShuffledHashJoin") + nodeCount(plan, "BroadcastNestedLoopJoin")
    assert(joins == 1, s"CDC diff must plan exactly one join, got $joins:\n$plan")
  }

  test("s7: both retrieval sides keep the corpus un-shuffled until the candidate stage") {
    val df = graft.ops.Similarity.s7_hybrid_search(spark, sfDir)
    val plan = formatted(df)
    // the query-token list and the query vectors arrive broadcast —
    // the corpus-side scans must join them without a corpus-wide exchange
    assert(nodeCount(plan, "BroadcastExchange") >= 2,
      s"query token list and query vectors must broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"corpus x query joins must be broadcast-side:\n$plan")
  }

  test("s7: ranking never funnels corpus-sized input through one partition") {
    val df = graft.ops.Similarity.s7_hybrid_search(spark, sfDir)
    // both top-20 cuts run through the native bounded-heap operator
    // (partial pass before the one exchange), so only <= 20 rows per
    // query survive to the window stage
    val exec = df.queryExecution.executedPlan
    val plan = exec.toString
    assert("TopKPerGroup".r.findAllIn(plan).size >= 4,
      s"both candidate cuts must use the partial+final heap operator:\n$plan")
    // every WindowExec must be partitioned (the r6 defect was a
    // no-PARTITION-BY row_number over the full scored corpus — a
    // single-partition WindowExec). AQE wraps the plan in an adaptive
    // LEAF node, so collect() alone sees nothing — descend explicitly.
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: allNodes(a.inputPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: allNodes(q.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    val windows = allNodes(exec).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "ranks are computed by windows over the survivors")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"no-PARTITION-BY window over unbounded input:\n$w")
      // and its input must already be the bounded top-k survivor set:
      // a TopKPerGroupExec below the window, with no join between them
      // that could re-inflate cardinality beyond the fused <= 40/query
      assert(w.find {
        case _: graft.plans.TopKPerGroupExec => true
        case _ => false
      }.isDefined, s"window input must be the bounded survivor set:\n$w")
    }
  }

  test("s5: multi-probe fans out the broadcast query side, corpus bucketed once") {
    val plan = formatted(graft.ops.Similarity.s5_ann_multiprobe(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      "probe join must broadcast the query side")
    // two scans: the corpus, and the query side with vec_id<10 pushed down
    // (the ×(planes+1) probe fan-out multiplies only the broadcast side)
    assert(nodeCount(plan, "Scan parquet") == 2)
    assert(plan.contains("LessThan(vec_id,10)"),
      "query-side scan must push the vec_id<10 filter")
  }

  test("s8: query vocabulary broadcasts; tf/df aggregate only posting-list matches") {
    val df = graft.ops.Similarity.s8_bm25(spark, sfDir)
    val plan = formatted(df)
    // the query-token set, df table, and corpus stats all arrive
    // broadcast — the corpus-sized token stream joins them without a
    // corpus-wide exchange before the probe filter
    assert(nodeCount(plan, "BroadcastExchange") >= 3,
      s"query vocab + df + stats must broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"posting-list probe must be a broadcast join:\n$plan")
    // top-10 per query runs through the native bounded heap, never a
    // corpus-sized window
    val exec = df.queryExecution.executedPlan.toString
    assert("TopKPerGroup".r.findAllIn(exec).size >= 2,
      s"final cut must use the partial+final heap operator:\n$exec")
  }

  test("t20: chunking is a pure narrow map — zero exchanges before the output sort") {
    val plan = formatted(graft.ops.PipelineOps.t20_chunk(spark, sfDir))
    // one scan, explode, projections; the only exchange is the final
    // orderBy's range partitioning
    assert(nodeCount(plan, "Scan parquet") == 1)
    assert(nodeCount(plan, "Exchange") <= 1,
      s"chunking must not shuffle the corpus:\n$plan")
    assert(plan.contains("Generate"), "chunk-index fan-out must be an explode")
  }

  test("t22: shard manifest is one scan + one 32-key partial/final aggregate") {
    val plan = formatted(graft.ops.PipelineOps.t22_shard_manifest(spark, sfDir))
    assert(nodeCount(plan, "Scan parquet") == 1)
    // partial (map-side) aggregation before the one 32-key exchange
    assert(nodeCount(plan, "HashAggregate") == 2,
      s"manifest agg must be partial+final:\n$plan")
    assert(nodeCount(plan, "Exchange") <= 2, // agg shuffle + output sort
      s"only the 32-key agg and the output sort may exchange:\n$plan")
  }

  test("s10: query codes broadcast; both cuts use the bounded heap; windows stay bounded") {
    val df = graft.ops.Similarity.s10_ann_sq(spark, sfDir)
    val plan = formatted(df)
    // the 10-query code/vector sides arrive broadcast — the corpus-side
    // code scan joins them without a corpus-wide exchange
    assert(nodeCount(plan, "BroadcastExchange") >= 2,
      s"query codes and query vectors must broadcast:\n$plan")
    val exec = df.queryExecution.executedPlan.toString
    // shortlist cut + final top-5: each is a partial+final heap pair
    assert("TopKPerGroup".r.findAllIn(exec).size >= 4,
      s"shortlist and final cut must both use the heap operator:\n$exec")
  }

  test("p2: the corpus parquet is scanned once — stats and sample reuse the persisted frame") {
    val df = graft.ops.PipelineOps.p2_mix_apply(spark, sfDir)
    val plan = formatted(df)
    // the compact (doc_id, source, toks, ticket) frame is persisted and
    // feeds both the stats pass and the sample pass; the n_sources-row
    // plan arrives broadcast at the sample filter
    assert(nodeCount(plan, "Scan parquet") <= 1,
      s"documents must be read once into the persisted frame:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"both passes must reuse the persisted compact frame:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the rate plan must broadcast onto the sample pass:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("t26: tokenization runs on the distinct-word table — the corpus is scanned once") {
    val df = graft.ops.PipelineOps.t26_wordpiece(spark, sfDir)
    val plan = formatted(df)
    // the corpus parquet feeds ONE word-count aggregate into the
    // persisted distinct-word frame; vocabulary, best-piece table, and
    // the greedy walk all derive from that frame
    assert(nodeCount(plan, "Scan parquet") <= 1,
      s"documents must be scanned once for the word counts:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"vocab/best/segmentation must reuse the persisted word table:\n$plan")
    // the greedy walk is a projection (higher-order aggregate), never a
    // per-step join cascade: no more joins than vocab-probe + map-join
    assert(nodeCount(plan, "Window") == 0,
      s"segmentation must not rank anything:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("t25: strip keeps t18's linear shape — no pairwise doc comparison") {
    val plan = formatted(graft.ops.TextOps.t25_boilerplate_strip(spark, sfDir))
    assert(!plan.contains("CartesianProduct"))
    // the >= minDocs frequency filter shrinks the boilerplate set
    // BEFORE the join back (t18's discipline)
    assert(plan.contains("ndocs"), "frequency filter must exist in the plan")
    // reassembly is ONE per-doc aggregate, partial+final or single-stage
    // — never a window/sort over the corpus-wide chunk stream
    assert(nodeCount(plan, "Window") == 0,
      s"reassembly must be an aggregate, not a window:\n$plan")
  }

  test("s13: filter rides the broadcast probe — no corpus shuffle, heap cut") {
    val df = graft.ops.Similarity.s13_filtered_ann(spark, sfDir)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"))
    assert(nodeCount(plan, "BroadcastExchange") >= 1,
      s"query side must broadcast:\n$plan")
    // prefilter = join condition, not a post-rank filter: no corpus-wide
    // exchange before the heap (only the <=k*|Q| survivors shuffle)
    val exec = df.queryExecution.executedPlan.toString
    assert("TopKPerGroup".r.findAllIn(exec).size >= 2,
      s"k-selection must use the bounded heap:\n$exec")
  }

  test("q73: windows run on the value histogram, never on the fact table") {
    val lineitemRows = Tables(spark, sfDir).lineitem.count()
    val read = recordsRead {
      Relational.q73_ordered_set(spark, sfDir).collect()
    }
    // histogram pass + exact-percentile pass (plus tiny cached re-reads
    // of the ~150-row histogram): if a window ever sorted the fact
    // table, the shuffled-read side would balloon far past 2 passes
    assert(read <= lineitemRows * 3 + 10000,
      s"ordered-set aggs must read ~2 lineitem passes, read=$read rows=$lineitemRows")
  }

  test("t28: bucket weights and source thresholds broadcast; corpus tokenized once") {
    val df = graft.ops.PipelineOps.t28_dsir(spark, sfDir)
    val plan = formatted(df)
    // the 512-row weight table and the |sources|-row threshold table
    // both arrive broadcast — the corpus never shuffles for either join
    assert(nodeCount(plan, "BroadcastExchange") >= 2,
      s"weights and thresholds must broadcast:\n$plan")
    assert(nodeCount(plan, "Scan parquet") <= 1,
      s"token stream must come from the persisted frame, not rescans:\n$plan")
  }

  test("p5: quartile cuts broadcast; no global window orders the corpus") {
    val plan = formatted(graft.ops.PipelineOps.p5_curriculum(spark, sfDir))
    assert(nodeCount(plan, "Window") == 0,
      s"curriculum order must be a sort KEY, not a rank window:\n$plan")
    assert(nodeCount(plan, "BroadcastExchange") >= 1,
      s"the 1-row cuts must broadcast onto the scored frame:\n$plan")
  }

  test("m8: audio dedup is scan + one fingerprint aggregate — no join at all") {
    val plan = formatted(graft.ops.Multimodal.m8_audio_dedup(spark, sfDir))
    assert(nodeCount(plan, "SortMergeJoin") == 0 &&
      nodeCount(plan, "BroadcastHashJoin") == 0 &&
      !plan.contains("CartesianProduct"),
      s"perceptual groups collapse in one aggregate, no pair join:\n$plan")
  }

  test("d12: segments explode once and dedup on the segment key — never all-pairs") {
    val df = graft.ops.Dedup.d12_line_dedup(spark, sfDir)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"))
    assert(nodeCount(plan, "Scan parquet") <= 1,
      s"the corpus explodes into the persisted segment frame once:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"owner aggregate and verdict join must reuse the persisted segments:\n$plan")
    // keep-first is a segment-keyed min-aggregate + equi-join, never a
    // corpus-wide window (a global rank over 100 TB of segments)
    assert(nodeCount(plan, "Window") == 0,
      s"first ownership must be an aggregate, not a window:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("t30: repetition rules are doc-keyed aggregates — no window, no pair join") {
    val df = graft.ops.TextOps.t30_repetition_filter(spark, sfDir)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"))
    assert(nodeCount(plan, "Window") == 0,
      s"per-doc gram stats are aggregates, not windows:\n$plan")
    assert(nodeCount(plan, "Scan parquet") <= 1,
      s"the corpus tokenizes once into the persisted frame:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"both gram passes and the verdict join reuse the tokenized frame:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("p7: packing plans over lengths — one scan, one per-shard window, no payload shuffle") {
    val df = graft.ops.PipelineOps.p7_pack_chunks(spark, sfDir)
    val plan = formatted(df)
    assert(nodeCount(plan, "Scan parquet") == 1,
      s"one narrow scan of (doc_id, text-length):\n$plan")
    assert(nodeCount(plan, "Window") == 1,
      s"exactly the per-shard cumulative sum:\n$plan")
    assert(!plan.contains("CartesianProduct") && nodeCount(plan, "SortMergeJoin") == 0,
      s"packing never joins:\n$plan")
  }

  test("d13: calibration pairs come from LSH buckets, never an all-pairs product") {
    val df = graft.ops.Dedup.d13_lsh_calibration(spark, sfDir)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("InMemoryTableScan"),
      s"signatures and shingles are computed once and reused across the joins:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("t31: redaction is one narrow codegen pass — no shuffle but the output sort") {
    val df = graft.ops.TextOps.t31_pii_redact(spark, sfDir)
    val plan = formatted(df)
    assert(nodeCount(plan, "Scan parquet") == 1)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"per-row regex work must not shuffle:\n$plan")
    assert(nodeCount(plan, "Window") == 0 && !plan.contains("SortMergeJoin"))
    // all four count + rewrite expressions sit in Projects directly over
    // the scan (codegen'd builtins, no UDF barrier node)
    assert(plan.contains("regexp_replace") && plan.contains("regexp_extract_all"),
      s"the regex pipeline is projection work over the scan:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ArrowEvalPython"))
  }

  test("p8: split manifest is one narrow scan + aggregates, totals broadcast") {
    val df = graft.ops.PipelineOps.p8_split_assign(spark, sfDir)
    val plan = formatted(df)
    assert(nodeCount(plan, "Scan parquet") <= 1,
      s"the corpus is read once into the persisted assigned frame:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"report and leak audit reuse the assigned frame:\n$plan")
    assert(nodeCount(plan, "BroadcastExchange") >= 1,
      s"the 1-row totals frame broadcasts onto the 3-row report:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("d14: policy audit inherits d2's bucketed candidates — never all-pairs") {
    val df = graft.ops.Dedup.d14_retention_policies(spark, sfDir)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("InMemoryTableScan"),
      s"stats and shingles come from the one persisted base frame:\n$plan")
    assert(nodeCount(plan, "BroadcastExchange") >= 1,
      s"corpus totals broadcast onto the 3-row policy report:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("d15: only 32-byte digests shuffle — one scan, digest-keyed joins, no text movement") {
    val df = graft.ops.Dedup.d15_incremental_dedup(spark, sfDir)
    val plan = formatted(df)
    assert(nodeCount(plan, "Scan parquet") <= 1,
      s"one scan feeds both the index and increment sides:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"both sides read the persisted digest frame:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // the join keys are the digests: no exchange ever hashes on `text`
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#")),
      s"only 32-byte digests shuffle, never document text:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("p9: the data card is one scan + a digest groupBy + a sources-row aggregate") {
    val df = graft.ops.PipelineOps.p9_dataset_card(spark, sfDir)
    val plan = formatted(df)
    assert(nodeCount(plan, "Scan parquet") <= 1)
    assert(plan.contains("InMemoryTableScan"),
      s"owner groupBy and report reuse the persisted narrow frame:\n$plan")
    assert(nodeCount(plan, "Window") == 0 && !plan.contains("CartesianProduct"))
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("s15: knn graph cuts per-vector on the native bounded heap, no rank window") {
    val df = graft.ops.Similarity.s15_knn_join(spark, sfDir)
    val plan = formatted(df)
    assert(plan.contains("TopKPerGroup"),
      s"the per-vector cut is the native operator:\n$plan")
    // the only Window is the bucket-size skew guard, never a rank over candidates
    assert(!plan.contains("row_number"),
      s"no rank window materializes the candidate set:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("g7: the degree report's wide work is the shared contraction only") {
    val df = graft.ops.GraphOps.g7_degree_report(spark, sfDir)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"the only product is the 1-row total broadcast:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"degree passes and the total reuse the persisted contracted frame:\n$plan")
    assert(nodeCount(plan, "SortMergeJoin") == 0,
      s"the ≤625-row report side joins broadcast:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("p6: the plan is aggregates only — the corpus is scanned once, never joined") {
    val df = graft.ops.PipelineOps.p6_epoch_plan(spark, sfDir)
    val plan = formatted(df)
    assert(nodeCount(plan, "Scan parquet") <= 1,
      s"one token-count scan feeds the |sources|-row plan:\n$plan")
    // r14: the totals ride a whole-frame window over the |sources|-row
    // aggregate (replacing the persist + agg + crossJoin trio), so the
    // plan has NO join of any kind and exactly one Window over the tiny
    // frame — the corpus is still scanned once and never joined
    assert(nodeCount(plan, "Window") == 1,
      s"totals ride one whole-frame window over the |sources|-row frame:\n$plan")
    assert(nodeCount(plan, "SortMergeJoin") == 0 && !plan.contains("Join") &&
      !plan.contains("CartesianProduct"),
      s"no join of any kind — aggregates and the tiny window only:\n$plan")
    assert(nodeCount(plan, "HashAggregate") >= 2,
      s"per-source aggregate must run partial+final:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("p10: the prefix sum is two-phase — tiny offset window + per-cell windows, no global sort window") {
    val df = graft.ops.PipelineOps.p10_token_budget(spark, sfDir)
    val plan = formatted(df)
    // exactly two windows: the ≤bands×32-row offset ladder and the
    // per-(band, shard) cumsum — a single flat window over the corpus
    // (one partition) would be the scale bug this entry exists to avoid
    assert(nodeCount(plan, "Window") == 2,
      s"two-phase prefix sum means exactly two windows:\n$plan")
    assert(nodeCount(plan, "SortMergeJoin") == 0,
      s"offsets and the budget row join broadcast:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"cells, offsets, and the verdict pass reuse the persisted doc frame:\n$plan")
    assert(nodeCount(plan, "Scan parquet") <= 1,
      s"the corpus tokenizes once:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("t32: the per-source cap runs on the native bounded heap, not a window sort") {
    val df = graft.ops.PipelineOps.t32_domain_cap(spark, sfDir)
    val plan = formatted(df)
    assert(plan.contains("TopKPerGroup"),
      s"K-selection must be the native bounded-heap operator:\n$plan")
    assert(nodeCount(plan, "Window") == 0,
      s"no row_number window sort anywhere:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("InMemoryTableScan"),
      s"kept-side and totals reuse the persisted compact frame:\n$plan")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("d10: one cell-keyed self-join, no join-by-vec_id re-attach round") {
    val df = graft.ops.Dedup.d10_semdedup(spark, sfDir)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"),
      s"within-cell scoring must stay an equi-join on cell:\n$plan")
    // the r11 rework replaced the anti-join-free re-attach (a SECOND
    // corpus join keyed by vec_id) with a LEFT self-join + sentinel:
    // vec_id must never appear as a JOIN key — the only joins are
    // cell-keyed (guard semi-join + pair scoring). The aggregate may
    // still exchange by (vec_id, cell) when the guarded side broadcasts
    // (small-scale plans have no reusable hash(cell) partitioning).
    // match any JOIN-key detail line ("Left keys [n]: [...]" / "Right
    // keys [n]: ...": lowercase "keys [" — HashAggregate's "Keys [n]:"
    // grouping keys are capital-K and ALLOWED) and assert vec_id appears
    // NOWHERE in it — a composite key with vec_id second (e.g.
    // "[cell#1, vec_id#2]") must fail too, not just a leading one
    val vecIdJoinKeys = plan.linesIterator
      .filter(l => l.contains("keys [") && l.contains("vec_id")).toSeq
    assert(vecIdJoinKeys.isEmpty,
      s"no join keyed by vec_id:\n${vecIdJoinKeys.mkString("\n")}")
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("PlanDump counts a plan's exchanges the same before and after it runs") {
    // a cached aggregate under a join: an executed plan nests AQE final
    // and initial plans, and only the initial ones count
    val agg = spark.range(0, 2000, 1, 4).groupBy((col("id") % 7).as("k")).count().persist()
    try {
      val df = spark.range(0, 2000, 1, 4).withColumn("k", col("id") % 7)
        .join(agg, "k").groupBy("k").agg(sum("id").as("s"))
      val before = formatted(df)
      df.queryExecution.toRdd.foreach(_ => ())
      val after = formatted(df)
      assert(!before.contains("== Final Plan ==") && after.contains("== Final Plan =="))
      assert(PlanDump.plannedExchanges(before) == nodeCount(before, "Exchange"))
      assert(PlanDump.plannedExchanges(after) == PlanDump.plannedExchanges(before), after)
    } finally agg.unpersist()
  }
}
