package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Plan-shape audits: the 100 TB posture is only real if the physical plans
  * show pushdown, pruning and broadcasts (SURVEY §5).
  */
class PlanSpec extends GraftSuite {

  private def explained(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  // plan every contract query ONCE; both whole-inventory scans read this
  // (planning all 56 queries is the dominant cost of the suite)
  private lazy val allPlans: Map[String, String] =
    SparkEntry.queries.map { case (name, fn) => name -> explained(fn(spark, sf)) }

  test("filter + projection reach the parquet scan (PushedFilters/ReadSchema)") {
    val li = graft.sources.Readers.table(spark, sf, "lineitem")
    val plan = explained(
      li.filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"missing pushdown:\n$plan")
    assert(plan.contains("struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan not pruned to 2 columns:\n$plan")
  }

  test("q18 revenue join broadcasts the nation dim") {
    val plan = explained(SparkEntry.queries("q18_revenue_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("q02 aggregation does map-side partial aggregation before the shuffle") {
    // (AQE renders the adaptive plan without WholeStageCodegen markers; the
    // partial_* functions prove the map-side combine, which is what matters
    // for shuffle volume at scale.)
    val plan = explained(SparkEntry.queries("q02_group_agg")(spark, sf))
    assert(plan.contains("partial_sum"), s"no partial agg:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash agg:\n$plan")
  }

  test("q09 nearby self-join is cell-blocked, not a cartesian product") {
    val plan = explained(SparkEntry.queries("q09_nearby_selfjoin")(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian product found:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop join found:\n$plan")
  }

  test("no query plans a cartesian product (q26/q48/q63 excepted: corpus × broadcast queries/centroids/LUT by design)") {
    // q61: the only nested loop is (source,token) counts × a BROADCAST
    // 1-row source-count threshold — the same shape as
    // interestingKeysApprox's percentile thresholds; O(n) map-side compare,
    // never a data×data cartesian.
    val exceptions = Set("q26_ann_bruteforce", "q48_ann_ivf", "q63_ann_pq",
      "q65_ann_ivfpq", "q66_ann_pq_exact", "q67_ann_ivf_exact",
      "q68_ann_ivfpq_exact", "q61_distinctive_terms",
      // q97: q67's searchIvf shape against the STORED artifact — the same
      // corpus × broadcast queries/centroids by-design nested loops
      "q97_ann_index_lifecycle",
      // q70/q71: corpus × ONE broadcast packed-centroid row (assignCells)
      // — the same by-design shape as the ANN assignment paths above
      // (q71's pair join and verdict join are equi-joins; only the 1-row
      // centroid packing is nested-loop)
      // q86: the q71 shape across the train/held-out split — TWO packed-
      // centroid 1-row broadcasts (one per side); the cross-split pair join
      // and the verdict join are equi-joins on cell_id / vec_id
      "q70_cluster_assign", "q71_semantic_dedup", "q86_semantic_decontaminate",
      // q75: tf table × TWO broadcast 1-row stats (N/Σdl, per-term dfs) —
      // the q61 threshold shape again; the tokenize/tf/df sides are all
      // equi-joined or aggregated
      "q75_bm25_topk",
      // q94: vocab-sized (source, token) counts × the broadcast 1-ROW
      // grand-total N — the q61/q75 one-row-stats shape; the token and
      // source joins are equi-joins
      "q94_source_drift",
      // q95: BOTH by-design shapes at once — q70's packed-centroid 1-row
      // broadcast (assignment) and q94's 1-row grand total (TV core)
      "q95_cluster_balance",
      // q101: probe table × the broadcast ONE-ROW CMS grid (the whole
      // sketch is a single 256 KiB array row) — the q61/q75/q94
      // one-row-stats shape; the sketch build and the truth counts are
      // plain aggregates
      "q101_cms_df")
    val offenders = allPlans.toSeq.sortBy(_._1)
      .filterNot(q => exceptions.contains(q._1))
      .collect { case (name, plan)
        if plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin") =>
        name
      }
    assert(offenders.isEmpty, s"cartesian/nested-loop in: $offenders")
  }

  test("no query plans an unpartitioned window over corpus-sized input") {
    // the q44 round-1 failure mode: Window with an empty partition spec
    // moves ALL data to one task. Allowed only where the windowed relation
    // is an already-aggregated small table: q04's global ntile percentiles
    // (per-key aggregate, documented in SURVEY §5), q50's max-share
    // lookup (#groups rows), and q60's bucket-offset scan (#buckets rows —
    // the whole point of globalOrderIndex is that the corpus-sized window
    // is replaced by this tiny one).
    val exceptions = Set("q04_interesting_keys", "q50_mix_epochs", "q60_corpus_shuffle")
    // WindowExec prints as: Window [funcs], [partitionSpec], [orderSpec].
    // Unpartitioned+ordered: the partition bracket vanishes, so the bracket
    // after the funcs holds the ORDER spec (contains ASC/DESC).
    // Unpartitioned+unordered (count(*) OVER ()): TreeNode.argString drops
    // BOTH empty iterables — the node prints with no second bracket at all.
    // Both regexes validated against hand-built bad/good plans.
    val unpartitionedOrdered = raw"Window\s+\[[^\]]*\],\s*\[[^\]]*(ASC|DESC)".r
    val unpartitionedBare = raw"Window\s+\[[^\]]*\](?!, \[)".r
    val offenders = allPlans.toSeq.sortBy(_._1)
      .filterNot(q => exceptions.contains(q._1))
      .collect { case (name, plan)
        if unpartitionedOrdered.findFirstIn(plan).isDefined ||
           unpartitionedBare.findFirstIn(plan).isDefined =>
        name
      }
    assert(offenders.isEmpty, s"unpartitioned window in: $offenders")
  }

  test("per-group rankings are group-limited: a Partial WindowGroupLimit prunes before the exchange, and no plan is salted") {
    // the round-3 weak spot: `row_number() OVER (PARTITION BY query_id)`
    // whose input is the scored corpus would ship and sort every scored row.
    // Spark's InferWindowGroupLimit (limits up to
    // spark.sql.optimizer.windowGroupLimitThreshold, 1000) plans a Partial
    // WindowGroupLimit on the group key below the exchange, so each map
    // partition ships at most k rows per group. Every topNPerGroup ranking
    // must show it (for q63/q65, the 200/100-candidate prescreen does).
    def limit(key: String, k: String, mode: String) =
      raw"WindowGroupLimit \[$key#\d+L?\], \[[^\]]*\], row_number\(\), $k, $mode".r
    val rankings = Map(
      "q26_ann_bruteforce" -> "query_id", "q27_ann_lsh" -> "query_id",
      "q48_ann_ivf" -> "query_id", "q59_weighted_sample" -> "source",
      "q61_distinctive_terms" -> "source", "q63_ann_pq" -> "query_id",
      "q65_ann_ivfpq" -> "query_id", "q67_ann_ivf_exact" -> "query_id",
      "q69_ann_lsh_exact" -> "query_id", "q97_ann_index_lifecycle" -> "query_id",
      "q107_ann_int_lsh" -> "query_id")
    val offenders = rankings.toSeq.sorted.collect {
      case (name, key) if limit(key, raw"\d+", "Partial").findFirstIn(allPlans(name)).isEmpty => name
    }
    assert(offenders.isEmpty,
      s"no Partial group limit in: $offenders\n${offenders.headOption.map(allPlans).getOrElse("")}")
    // q66/q68's 10⁶ prescreen is above the threshold, so it has no prune in
    // either form; their match is the k = 5 re-rank, which reuses the prescreen's
    // query_id partitioning and so runs as a Final limit with no exchange
    val exactTwins = Seq("q66_ann_pq_exact", "q68_ann_ivfpq_exact").filter(name =>
      limit("query_id", "5", "Final").findFirstIn(allPlans(name)).isEmpty)
    assert(exactTwins.isEmpty, s"no k = 5 group limit in: $exactTwins")
    val salted = allPlans.collect { case (name, plan) if plan.contains("_salt") => name }
    assert(salted.isEmpty, s"salted ranking left in: $salted")
  }

  test("ANN plans use the native hot-path expressions, not composed fallbacks") {
    // the zero-shuffle index build hinges on these staying IN the plan: a
    // refactor that silently reverts to a max_by groupBy (assignment) or an
    // aggregate/element_at HOF chain (code-scan scoring) would still be
    // correct but reintroduce the corpus shuffle / interpreted inner loop
    val nearestQueries = Seq("q48_ann_ivf", "q65_ann_ivfpq",
      "q67_ann_ivf_exact", "q68_ann_ivfpq_exact", "q70_cluster_assign")
    val pqScoreQueries = Seq("q63_ann_pq", "q65_ann_ivfpq",
      "q66_ann_pq_exact", "q68_ann_ivfpq_exact")
    val missingNearest = nearestQueries.filterNot(allPlans(_).contains("graft_nearest"))
    val missingPq = pqScoreQueries.filterNot(allPlans(_).contains("graft_pq_score"))
    assert(missingNearest.isEmpty, s"no graft_nearest in: $missingNearest")
    assert(missingPq.isEmpty, s"no graft_pq_score in: $missingPq")
  }

  test("q47 range join plans as a hash equi-join on buckets, not a nested loop") {
    val plan = explained(SparkEntry.queries("q47_range_join")(spark, sf))
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), s"nested loop:\n$plan")
    assert(plan.contains("_bucket") || plan.contains("hashpartitioning(user_id"),
      s"no bucketed equi-join:\n$plan")
  }

  test("q21 exact dedup shuffles on an 8-byte hash, not the document text") {
    val plan = explained(SparkEntry.queries("q21_dedup_exact")(spark, sf))
    assert(plan.contains("xxhash64"), s"no hash grouping:\n$plan")
  }

  test("PLANS.md is fresh: one heading per contract query, no extras") {
    // the explain-audit file went silently stale once (round 3); this pins
    // its heading set to the live contract so adding/renaming a query
    // without regenerating (sbt "Test/runMain graft.PlansDump")
    // fails the build instead of shipping a stale audit
    val plansFile = java.nio.file.Paths.get("PLANS.md")
    assert(java.nio.file.Files.exists(plansFile), s"missing ${plansFile.toAbsolutePath}")
    val headings = java.nio.file.Files.readAllLines(plansFile).asScala
      .collect { case l if l.startsWith("## ") => l.stripPrefix("## ").trim }
      .toSet
    val contract = SparkEntry.queries.keySet
    val missing = contract -- headings
    val stale = headings -- contract
    assert(missing.isEmpty && stale.isEmpty,
      s"PLANS.md out of date — missing: ${missing.toSeq.sorted}, stale: ${stale.toSeq.sorted}; " +
        "regenerate with `sbt \"Test/runMain graft.PlansDump\"`")
  }
}
