package graft

import graft.operators.Relational
import graft.sources.{Readers, Writers}
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends GraftSuite {
  import spark.implicits._

  test("topNPerGroup equals a driver-side sort-and-take and prunes before its exchange") {
    // skew-shaped input: one giant group plus small ones, order-key ties
    val docs = Readers.table(spark, sf, "documents")
      .select($"doc_id", $"source", $"n_chars")
    val grp = Seq($"source")
    val ord = Seq($"n_chars", $"doc_id") // tie-break makes top-N unique
    val top = Relational.topNPerGroup(docs, grp, ord, 5)
      .select($"source", $"doc_id", $"rn")
    val want = docs.as[(Long, String, Long)].collect().toSeq
      .groupBy(_._2).toSeq.flatMap { case (src, rows) =>
        rows.sortBy(r => (r._3, r._1)).take(5).zipWithIndex
          .map { case (r, i) => (src, r._1, i + 1L) }
      }
    val got = top.as[(String, Long, Long)].collect().toSeq
    assert(got.sorted == want.sorted, "top-N diverged from the driver-side take")
    // the per-group prune Spark infers: a Partial WindowGroupLimit under the
    // exchange, so each map partition ships at most 5 rows per source
    val plan = top.queryExecution.executedPlan.toString
    val partial = raw"WindowGroupLimit \[source#\d+\], .*, Partial".r
      .findFirstMatchIn(plan).map(_.start)
    val exchange = raw"Exchange hashpartitioning\(source#\d+".r
      .findFirstMatchIn(plan).map(_.start)
    assert(partial.isDefined && exchange.isDefined && exchange.get < partial.get,
      s"want a Partial WindowGroupLimit below the exchange:\n$plan")
  }

  test("globalOrderIndex equals the single-task row_number window, at any bucket width") {
    import org.apache.spark.sql.expressions.Window
    val docs = Readers.table(spark, sf, "documents")
      .select($"doc_id",
        pmod(pmod($"doc_id", lit(100003L)) * 2654435761L, lit(1000003L)).as("h"))
    val plain = docs.withColumn("seq",
      row_number().over(Window.orderBy($"h", $"doc_id")).cast("long") - 1)
      .select($"doc_id", $"seq")
    // width 1 = one bucket per distinct key; huge width = one bucket total
    for (w <- Seq(1L, 1000L, 100000000L)) {
      val got = Relational.globalOrderIndex(docs, $"h", Seq($"doc_id"), w)
        .select($"doc_id", $"seq")
      assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty,
        s"globalOrderIndex diverged from the plain window at width=$w")
    }
  }

  test("PQ ANN: prescreen keeping everything reproduces brute force exactly") {
    import graft.operators.Similarity
    val embs = Readers.table(spark, sf, "embeddings")
    val queries = embs.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id", $"cos", $"rnk")
    // candidates >= corpus: the approximate prescreen drops nothing, and the
    // exact re-rank then IS brute force — PQ error cannot touch the result
    val full = Similarity.pqTopK(embs, queries, "vec_id", "embedding", 5,
        numSub = 8, numCentroids = 16, candidates = 1000000, kmeansIters = 1)
      .select($"query_id", $"neighbor_id", $"cos", $"rnk")
    assert(full.exceptAll(truth).isEmpty && truth.exceptAll(full).isEmpty,
      "PQ with an uncapped prescreen must reproduce the exact result")
  }

  test("PQ ANN: top-50 prescreen keeps usable recall@5") {
    import graft.operators.Similarity
    val embs = Readers.table(spark, sf, "embeddings")
    val queries = embs.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.pqTopK(embs, queries, "vec_id", "embedding", 5,
        numSub = 8, numCentroids = 16, candidates = 50, kmeansIters = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall > 0.3, s"PQ recall@5 with 50 candidates unreasonably low: $recall")
  }

  test("IVFPQ: probe-all + uncapped candidates reproduces brute force exactly") {
    import graft.operators.Similarity
    val embs = Readers.table(spark, sf, "embeddings")
    val queries = embs.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id", $"cos", $"rnk")
    // nProbe = numCells keeps every cell, a cap far above the corpus keeps
    // every code: both filters pass everything, so the exact re-rank IS
    // brute force — neither quantizer can touch the result. (Finite cap on
    // purpose: Int.MaxValue folds the rank filter to true and Catalyst
    // prunes the whole PQ scoring path out of the plan — the test would
    // then not exercise it.)
    val full = Similarity.ivfPqTopK(embs, queries, "vec_id", "embedding", 5,
        numCells = 16, nProbe = 16, numSub = 8, numCentroids = 16,
        candidates = 1000000, kmeansIters = 1)
      .select($"query_id", $"neighbor_id", $"cos", $"rnk")
    assert(full.exceptAll(truth).isEmpty && truth.exceptAll(full).isEmpty,
      "IVFPQ with probe-all + uncapped prescreen must reproduce the exact result")
  }

  test("IVFPQ recall@5 never drops as probes widen (uncapped prescreen)") {
    import graft.operators.Similarity
    val embs = Readers.table(spark, sf, "embeddings")
    val queries = embs.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // effectively-uncapped candidates so widening probes grows the candidate
    // set monotonically (a binding prescreen could swap survivors either way)
    def recall(nProbe: Int): Double = {
      val got = Similarity.ivfPqTopK(embs, queries, "vec_id", "embedding", 5,
          numCells = 16, nProbe = nProbe, numSub = 8, numCentroids = 16,
          candidates = 1000000, kmeansIters = 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (got & truth).size.toDouble / truth.size
    }
    val r2 = recall(2)
    val r8 = recall(8)
    assert(r8 >= r2, s"IVFPQ recall with 8 probes ($r8) below 2 probes ($r2)")
  }

  test("ANN sample-trained quantizers: a sample >= corpus equals full-corpus training") {
    import graft.operators.Similarity
    val embs = Readers.table(spark, sf, "embeddings")
    val queries = embs.filter($"vec_id" < 10)
    // Lloyd assignment and means are order-independent, so the hash-ordered
    // "sample" that covers the whole corpus must give identical centroids —
    // this pins the sampling refactor to bit-identical behavior at test scale
    val full = Similarity.pqTopK(embs, queries, "vec_id", "embedding", 5,
        numSub = 8, numCentroids = 16, candidates = 50, kmeansIters = 1,
        trainSample = Int.MaxValue)
      .select($"query_id", $"neighbor_id", $"cos", $"rnk")
    val sampled = Similarity.pqTopK(embs, queries, "vec_id", "embedding", 5,
        numSub = 8, numCentroids = 16, candidates = 50, kmeansIters = 1,
        trainSample = 1000000)
      .select($"query_id", $"neighbor_id", $"cos", $"rnk")
    assert(sampled.exceptAll(full).isEmpty && full.exceptAll(sampled).isEmpty,
      "covering train sample diverged from full-corpus training")
  }

  test("interestingKeysApprox selects rows above all thresholds, one per group") {
    val perKey = Readers.table(spark, sf, "orders")
      .join(Readers.table(spark, sf, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(Readers.table(spark, sf, "nation")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey".as("key"), $"n_name".as("grp"))
      .agg(max($"o_totalprice").as("m1"),
        sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).cast("long").as("m2"),
        sum(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L)).cast("long").as("m3"))
    val got = Relational.interestingKeysApprox(perKey, 0.4, 0.5, 0.5)
    assert(got.count() > 0)
    // at most one winner per group
    val dupGroups = got.groupBy("grp").count().filter($"count" > 1).count()
    assert(dupGroups == 0)
    assert(got.filter($"rnk" =!= 1).count() == 0)
  }

  test("prefixSum equals the single-window running total, at any bucket width") {
    val docs = Readers.table(spark, sf, "documents")
      .select($"doc_id", $"source", $"n_chars")
    val expected = docs.withColumn("cum",
      sum($"n_chars").over(org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")))
    for (w <- Seq(1L, 7L, 64L, 1000000L)) {
      val got = Relational.prefixSum(docs, $"source", $"doc_id", $"n_chars", w)
      assert(got.count() == docs.count(), s"width $w changed row count")
      assert(got.exceptAll(expected.select(got.columns.map(col).toIndexedSeq: _*)).count() == 0,
        s"width $w diverges from the window running total")
    }
  }

  test("prefixSum intra-bucket window partitions are bounded by bucketWidth") {
    // the point of the scan: no window partition ever exceeds the bucket
    // width, regardless of how skewed the group sizes are — here ALL rows
    // share one group, the case a plain window serializes on one task
    val skewed = Readers.table(spark, sf, "documents")
      .select($"doc_id", lit("one_source").as("source"), $"n_chars")
    val got = Relational.prefixSum(skewed, $"source", $"doc_id", $"n_chars", 32L)
    val expected = skewed.withColumn("cum",
      sum($"n_chars").over(org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")))
    // count + one-sided exceptAll = multiset equality (exceptAll alone
    // would pass for any SUBSET — it could not detect row loss)
    assert(got.count() == skewed.count(), "skewed prefixSum lost rows")
    assert(got.exceptAll(expected.select(got.columns.map(col).toIndexedSeq: _*)).count() == 0)
    // and the bound is real: the running-sum window in the plan partitions
    // on (group, bucket), not on the group alone
    val windowNodes = got.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Window ")).mkString("\n")
    assert(windowNodes.contains("_bkt"),
      s"running-sum window is not bucket-partitioned:\n$windowNodes")
  }

  test("firstOccurrenceFlags marks exactly one keeper per distinct content") {
    val docs = Readers.table(spark, sf, "documents").select($"doc_id", $"text")
    val flagged = graft.operators.Dedup.firstOccurrenceFlags(
      docs, $"text", Seq($"doc_id"))
    assert(flagged.count() == docs.count())
    assertOneKeeperPerContent(flagged, "text", "doc_id")
  }

  test("groupedJson emits the nearby_stations.json shape") {
    val pairs = Seq((72L, 480L, 0.28), (72L, 508L, 0.48), (79L, 146L, 0.37))
      .toDF("id_a", "id_b", "dist_km")
    val got = Writers.groupedJson(pairs, $"id_a",
      struct($"id_b".as("station_id"), $"dist_km".as("distance")))
    val m = got.as[(Long, String)].collect().toMap
    assert(m(72L) == """[{"station_id":480,"distance":0.28},{"station_id":508,"distance":0.48}]""")
    assert(m(79L) == """[{"station_id":146,"distance":0.37}]""")
  }

  test("LSH ANN recall vs brute force improves with more tables") {
    import graft.operators.Similarity
    val embs = Readers.table(spark, sf, "embeddings")
    val queries = embs.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    def recall(tables: Int): Double = {
      val got = Similarity.lshTopK(embs, queries, "vec_id", "embedding", 5, 8, tables)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (got & truth).size.toDouble / truth.size
    }
    val r1 = recall(1)
    val r4 = recall(4)
    assert(r4 >= r1, s"recall with 4 tables ($r4) below 1 table ($r1)")
    assert(r4 > 0.1, s"recall@5 with 4 tables unreasonably low: $r4")
  }

  test("kmeansAssign: iters=0 equals a composed argmax; Lloyd keeps every vector assigned") {
    import graft.operators.Similarity
    val embs = Readers.table(spark, sf, "embeddings")
    val got = Similarity.kmeansAssign(embs, "vec_id", "embedding", k = 16, iters = 0)
    // reference: centroids = the 16 lowest-id vectors; nearest by cosine,
    // ties to the lowest cell_id — a composed cross-join + window argmax
    val cent = embs.orderBy($"vec_id").limit(16)
      .select($"vec_id".as("cell_id"), $"embedding".as("cvec"))
    val scored = embs.crossJoin(broadcast(cent))
      .select($"vec_id", $"cell_id",
        graft.plans.NativeFns.cosineSim($"embedding", $"cvec").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"cos".desc, $"cell_id")
    val ref = scored.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).select($"vec_id", $"cell_id")
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      "iters=0 assignment must equal the composed argmax")
    // a zero-norm vector has no defined cosine to ANY centroid: its row is
    // kept with a NULL cell_id (the q70 oracle encodes the same contract —
    // isfinite filter + LEFT JOIN — so engine and oracle agree if the
    // testdata ever grows such a vector)
    val dim = embs.select(size($"embedding")).as[Int].head()
    val withZero = embs.select($"vec_id", $"embedding")
      .unionByName(Seq((999999L, Seq.fill(dim)(0.0f))).toDF("vec_id", "embedding"))
    val zeroRow = Similarity.kmeansAssign(withZero, "vec_id", "embedding",
        k = 16, iters = 0)
      .filter($"vec_id" === 999999L).collect()
    assert(zeroRow.length == 1 && zeroRow.head.isNullAt(1),
      "zero-norm vector must keep its row with NULL cell_id")
    // Lloyd refinement: still exactly one non-null cell per corpus vector,
    // and cells keep their seed ids (means are keyed by cell_id)
    val refined = Similarity.kmeansAssign(embs, "vec_id", "embedding", k = 16, iters = 1)
    assert(refined.count() == embs.count())
    assert(refined.filter($"cell_id".isNull).count() == 0)
    val seedIds = cent.select($"cell_id").as[Long].collect().toSet
    val cellIds = refined.select($"cell_id").distinct().as[Long].collect().toSet
    assert(cellIds.subsetOf(seedIds), s"unexpected cell ids: ${cellIds -- seedIds}")
  }

  test("boilerplateStrip removes all instances of high-df chunks and round-trips unique text") {
    import graft.operators.Dedup
    // every doc opens with the same 5-token header (boilerplate) and
    // continues with unique content; doc 9 is empty
    val header = "one two three four five"
    val docs = ((0 until 9).map(i =>
        (i.toLong, s"$header u${i}a u${i}b u${i}c u${i}d u${i}e")) :+ (9L, ""))
      .toDF("doc_id", "text")
    val got = Dedup.boilerplateStrip(docs, $"doc_id", $"text",
        chunkTokens = 5, minDf = 3).orderBy("doc_id").collect()
    assert(got.length == 10, "one row per input doc, empty doc included")
    for (r <- got.take(9)) {
      val clean = r.getAs[String]("clean_text")
      assert(!clean.contains("one two three"), s"header must be stripped: $clean")
      assert(clean.split(" ").length == 5, "unique content chunk survives intact")
      assert(r.getAs[Long]("n_chunks") == 2 && r.getAs[Long]("n_dropped") == 1)
    }
    // an empty doc yields ONE empty-string chunk (split("") = [""] — the
    // same q41 chunk semantics DuckDB's string_split has, so engine and
    // oracle agree), which no other doc repeats here: kept, text stays ""
    assert(got(9).getAs[String]("clean_text") == "" &&
      got(9).getAs[Long]("n_chunks") == 1L &&
      got(9).getAs[Long]("n_dropped") == 0L, "empty doc: one empty chunk, kept")
    // with a threshold nothing reaches, the rebuild round-trips the text
    val roundTrip = Dedup.boilerplateStrip(docs.filter($"doc_id" < 9), $"doc_id",
        $"text", chunkTokens = 5, minDf = 1000).orderBy("doc_id").collect()
    assert(roundTrip.forall(r => r.getAs[String]("clean_text") ==
      s"$header u${r.getAs[Long]("doc_id")}a u${r.getAs[Long]("doc_id")}b " +
        s"u${r.getAs[Long]("doc_id")}c u${r.getAs[Long]("doc_id")}d u${r.getAs[Long]("doc_id")}e"),
      "unreached threshold must reconstruct the original text exactly")
  }

  test("boilerplateStrip domain edges: in-doc repeats, NULL, empty and short text; two exchanges, no join") {
    import graft.operators.Dedup
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // "h1 h2" twice in doc 1 and once in doc 2 is df 2, under minDf 3;
    // "b1 b2" in docs 6-8 is df 3, stripped everywhere
    // three input partitions, so the plan needs its exchanges
    val docs = spark.sparkContext.parallelize(Seq[(Long, String)](
      (1L, "h1 h2 u1 u2 h1 h2"), (2L, "h1 h2 v1 v2"), (3L, null), (4L, ""), (5L, "w"),
      (6L, "b1 b2 x1"), (7L, "b1 b2"), (8L, "y1 y2 b1 b2")), 3).toDF("doc_id", "text")
    val stripped = Dedup.boilerplateStrip(docs, $"doc_id", $"text", chunkTokens = 2, minDf = 3)
    val got = stripped.as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "h1 h2 u1 u2 h1 h2", 3L, 0L), // a repeat inside one doc counts once
      (2L, "h1 h2 v1 v2", 2L, 0L),
      (3L, "", 0L, 0L), // NULL text: no chunks
      (4L, "", 1L, 0L), // empty text: one empty chunk, kept
      (5L, "w", 1L, 0L), // shorter than one chunk
      (6L, "x1", 2L, 1L), (7L, "", 1L, 1L), (8L, "y1 y2", 2L, 1L)))
    val plan = stripped.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, s"join planned:\n$plan")
    val keys = plan.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).mkString(",")
        case other => other.toString
      }
    }
    assert(keys.sorted == Seq("chunk_text", "doc_id"), s"exchanges: $keys\n$plan")
  }

  test("semanticDedup equals a composed cluster-blocked reference; minCos=-1 keeps one per cell") {
    import graft.operators.{Dedup, Similarity}
    val embs = Readers.table(spark, sf, "embeddings")
    val got = Dedup.semanticDedup(embs, "vec_id", "embedding",
      k = 16, iters = 0, minCos = 0.35)
    assert(got.count() == embs.count(), "every input row keeps a verdict row")
    // independent reference: same contract via the JOIN-BACK formulation
    // the operator's carried projection avoids (assignment joined to the
    // corpus on id, then within-cell pairs + lowest-id keeper)
    val assign = Similarity.kmeansAssign(embs, "vec_id", "embedding", 16, 0)
    val withVec = embs.select($"vec_id", $"embedding").join(assign, "vec_id")
    val dropIds = withVec.as("a").join(withVec.as("b"),
        $"a.cell_id" === $"b.cell_id" && $"a.vec_id" < $"b.vec_id")
      .select($"b.vec_id".as("drop_id"),
        round(graft.plans.NativeFns.cosineSim($"a.embedding", $"b.embedding"), 3).as("cos"))
      .filter($"cos" >= 0.35).select($"drop_id").distinct()
    val ref = withVec.join(dropIds, $"vec_id" === $"drop_id", "left")
      .select($"vec_id", $"cell_id", $"drop_id".isNull.as("is_kept"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      "semanticDedup must equal the composed join-back reference")
    // minCos = -1 makes EVERY within-cell pair a dup pair: exactly the
    // lowest-id member of each cell survives
    val all = Dedup.semanticDedup(embs, "vec_id", "embedding",
      k = 16, iters = 0, minCos = -1.0)
    val keepers = all.filter($"is_kept").select($"vec_id", $"cell_id")
    val expected = assign.groupBy($"cell_id").agg(min($"vec_id").as("vec_id"))
      .select($"vec_id", $"cell_id")
    assert(keepers.exceptAll(expected).isEmpty && expected.exceptAll(keepers).isEmpty,
      "minCos=-1 must keep exactly the min-id vector per cell")
  }

  test("semanticDedupExactFirst: same keepers as the plain pass on a clique-heavy corpus") {
    import graft.operators.Dedup
    // 5 id-shifted copies of the corpus: every vector is in a 5-wide
    // exact-dup clique. The exact-first composition must keep exactly the
    // plain operator's keeper set (the lowest-id copy is the
    // representative, identical vectors always share cell and cosine 1),
    // while running its quadratic stage on 1/5th of the rows.
    val base = Readers.table(spark, sf, "embeddings").select($"vec_id", $"embedding")
    val staged = (0 until 5).map(i =>
        base.select(($"vec_id" + lit(i * 1000000L)).as("vec_id"), $"embedding"))
      .reduce(_ unionByName _)
    val fast = Dedup.semanticDedupExactFirst(staged, "vec_id", "embedding",
      k = 16, iters = 0, minCos = 0.35)
    val plain = Dedup.semanticDedup(staged, "vec_id", "embedding",
      k = 16, iters = 0, minCos = 0.35)
    assert(fast.count() == staged.count(), "every input row keeps a verdict row")
    val fastKeep = fast.filter($"is_kept").select($"vec_id")
    val plainKeep = plain.filter($"is_kept").select($"vec_id")
    assert(fastKeep.exceptAll(plainKeep).isEmpty && plainKeep.exceptAll(fastKeep).isEmpty,
      "exact-first must keep exactly the plain operator's keeper set")
    // keepers are all original-corpus ids (the clique minimum)
    assert(fastKeep.filter($"vec_id" >= 1000000L).count() == 0,
      "a non-minimum clique member survived")
  }

  test("LSH ANN: zero hyperplanes reproduces brute force exactly") {
    import graft.operators.Similarity
    val embs = Readers.table(spark, sf, "embeddings")
    val queries = embs.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id", $"cos", $"rnk")
    // 0 planes key every vector to bucket 0: the single band table holds the
    // whole corpus, the bucket join scores every pair, and the LSH top-k IS
    // brute force — the q69_ann_lsh_exact configuration
    val full = Similarity.lshTopK(embs, queries, "vec_id", "embedding", 5,
        numPlanes = 0, numTables = 1)
      .select($"query_id", $"neighbor_id", $"cos", $"rnk")
    assert(full.exceptAll(truth).isEmpty && truth.exceptAll(full).isEmpty,
      "LSH with zero planes must reproduce the exact result")
  }

  test("df-capped jaccard: uncapped-equivalent at high cap, lower-bound subset at low cap") {
    import graft.operators.Dedup
    val docs = Readers.table(spark, sf, "documents")
    val exact = Dedup.ngramJaccardPairs(docs, $"doc_id", $"text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val high = Dedup.ngramJaccardPairsCapped(docs, $"doc_id", $"text", 3, 0.5,
        maxDocFreq = 1000000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(high == exact, "cap above corpus size must reproduce the exact pairs")
    val low = Dedup.ngramJaccardPairsCapped(docs, $"doc_id", $"text", 3, 0.5,
        maxDocFreq = 5L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(low.subsetOf(exact), "capped jaccard is a lower bound: no false positives")
  }

  test("bucket-capped minhash LSH: default cap exact, low cap yields a subset") {
    import graft.operators.Dedup
    val docs = Readers.table(spark, sf, "documents")
    val exact = Dedup.minhashLshPairs(docs, $"doc_id", $"text", 3, 32, 4, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashLshPairs(docs, $"doc_id", $"text", 3, 32, 4, 0.5,
        maxBucketSize = 3L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(exact), "capping buckets must only drop candidates")
  }

  test("contaminationHits bounded by the doc's own distinct gram count") {
    import graft.operators.Dedup
    val docs = Readers.table(spark, sf, "documents")
    val held = pmod($"doc_id" * 2654435761L, lit(100L)) >= 95
    val grams = docs.select($"doc_id",
      size(graft.functions.TextFns.shingles($"text", 3)).cast("long").as("n_grams"))
    val bad = Dedup.contaminationHits(docs, $"doc_id", $"text", held, 3)
      .join(grams, "doc_id")
      .filter($"n_hits" > $"n_grams" || $"n_hits" <= 0)
    assert(bad.count() == 0)
  }

  test("mixEpochs row count equals the sum of per-group weights") {
    import graft.operators.Relational
    val docs = Readers.table(spark, sf, "documents")
    val out = Relational.mixEpochs(docs, $"doc_id", $"source", 4)
    // every doc appears at least once, at most 4 times, epochs contiguous from 1
    val perDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), min($"epoch").as("lo"), max($"epoch").as("hi"))
    assert(perDoc.filter($"n" < 1 || $"n" > 4 || $"lo" =!= 1 || $"hi" =!= $"n").count() == 0)
    assert(out.count() >= docs.count())
  }

  test("IVF ANN recall vs brute force improves with more probes; full probe = exact") {
    import graft.operators.Similarity
    val embs = Readers.table(spark, sf, "embeddings")
    val queries = embs.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    def recall(nProbe: Int): Double = {
      val got = Similarity.ivfTopK(embs, queries, "vec_id", "embedding", 5, 16, nProbe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (got & truth).size.toDouble / truth.size
    }
    val r2 = recall(2)
    val r8 = recall(8)
    assert(r8 >= r2, s"recall with 8 probes ($r8) below 2 probes ($r2)")
    assert(r8 > 0.2, s"recall@5 with 8/16 probes unreasonably low: $r8")
    // probing every cell degenerates to the exact brute-force result
    assert(recall(16) == 1.0, "probing all cells must equal brute force")
  }

  test("IVF k-means quantizer: recall@5 at nProbe=4 at least matches first-N seeding") {
    import graft.operators.Similarity
    val embs = Readers.table(spark, sf, "embeddings")
    val queries = embs.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(iters: Int): Double = {
      val got = Similarity.ivfTopK(embs, queries, "vec_id", "embedding", 5, 16, 4,
          kmeansIters = iters)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (got & truth).size.toDouble / truth.size
    }
    val seeded = recall(0)
    val trained = recall(1)
    // one Lloyd iteration must not lose recall vs raw seeding (on this
    // synthetic corpus — uniform random embeddings, no cluster structure —
    // it ties; additional iterations shrink centroids toward the sphere
    // center and hurt, so the contract entry uses exactly one). Tolerance of
    // one neighbor (1/50): centroid means come from float sums over
    // nondeterministically ordered partials, and an exact >= sits on a tie
    // that a ULP-level difference can flip.
    assert(trained >= seeded - 1.0 / truth.size - 1e-9,
      s"k-means quantizer recall ($trained) below first-N seeding ($seeded)")
  }

  test("mixEpochs rejects maxRepeat < 1 (sequence would silently emit epoch 0)") {
    val docs = Readers.table(spark, sf, "documents")
    intercept[IllegalArgumentException] {
      Relational.mixEpochs(docs, $"doc_id", $"source", 0)
    }
  }

  test("index-persisting dedup operators release their caches before returning") {
    import graft.operators.Dedup
    val docs = Readers.table(spark, sf, "documents")
    Dedup.ngramJaccardPairs(docs, $"doc_id", $"text", 3, 0.5, persistIndex = true).count()
    Dedup.ngramJaccardPairsCapped(docs, $"doc_id", $"text", 3, 0.5,
      maxDocFreq = 50L, persistIndex = true).count()
    Dedup.minhashLshPairs(docs, $"doc_id", $"text", 3, 16, 4, 0.5,
      persistIndex = true, maxBucketSize = 100L).count()
    Dedup.simhashPairs(docs, $"doc_id", $"text", 8, persistIndex = true).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "an operator left a cached plan in the CacheManager after returning")
  }

  test("contaminationHitsBloom equals exact contaminationHits (false positives removed)") {
    import graft.operators.Dedup
    val docs = Readers.table(spark, sf, "documents")
    val held = pmod(pmod($"doc_id", lit(100003L)) * 2654435761L, lit(100L)) >= 95
    val exact = Dedup.contaminationHits(docs, $"doc_id", $"text", held, 3)
    // deliberately undersized filter (high fpp): the exact join must still
    // remove every false positive the prefilter lets through
    val bloom = Dedup.contaminationHitsBloom(docs, $"doc_id", $"text", held, 3,
      expectedItems = 1000L, numBits = 8000L)
    assert(bloom.count() == exact.count())
    assert(bloom.exceptAll(exact).count() == 0,
      "bloom-prefiltered result diverges from the exact decontamination")
  }

  test("connectedComponents releases per-round checkpoint blocks at the RDD level") {
    import graft.operators.Dedup
    val docs = Readers.table(spark, sf, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, $"doc_id", $"text", 3, 0.5)
    val before = spark.sparkContext.getPersistentRDDs.size
    Dedup.connectedComponents(pairs, "doc_a", "doc_b").count()
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the final label table's checkpoint may remain (it backs the
    // returned DataFrame); per-round checkpoints and the edge list must be
    // gone — Dataset.unpersist alone would leave one per round
    assert(after - before <= 1,
      s"per-round checkpoint blocks leaked: $before persistent RDDs before, $after after")
  }

  test("connectedComponents collapses a 64-node chain to its min id") {
    import graft.operators.Dedup
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(chain, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 64)
    assert(got.values.forall(_ == 0L), "all chain nodes must collapse to the min id")
  }

  test("approx_count_distinct (HLL) lands within 5% of exact at testdata scale") {
    val ev = Readers.table(spark, sf, "events")
    val row = ev.agg(
      countDistinct($"user_id").as("exact"),
      approx_count_distinct($"user_id").as("approx")).head()
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact <= 0.05, s"approx $approx vs exact $exact")
  }

  test("NumFns.roundHalfUp rounds half up on the binary value") {
    val df = Seq(1.00005, 1.00004, 2.5, 0.0).toDF("x")
    val got = df.select(graft.functions.NumFns.roundHalfUp($"x", 4)).as[Double].collect()
    // 1.00005 as double is 1.0000500000000000389 (above the decimal midpoint)
    // → *1e4 + 0.5 = 10001.000... → floor 10001. The point is that ANY engine
    // computing on the same double bits lands on the same side.
    assert(got(0) == 1.0001)
    assert(got(1) == 1.0)
    assert(got(2) == 2.5)
    assert(got(3) == 0.0)
  }
}
