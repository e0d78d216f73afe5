package graft

import graft.functions.TextFns
import graft.operators._
import org.apache.spark.sql.functions._

class OperatorsSpec extends GraftSuite {
  import spark.implicits._

  test("TimeSeries.sessionize splits on gaps > threshold") {
    val df = Seq(
      (1L, 1L, "2024-01-01 00:00:00"),
      (2L, 1L, "2024-01-01 00:10:00"),  // same session (10 min gap)
      (3L, 1L, "2024-01-01 01:00:00"),  // new session (50 min gap)
      (4L, 2L, "2024-01-01 00:00:00"))  // other user starts at 1
      .toDF("event_id", "user_id", "s")
      .select($"event_id", $"user_id", to_timestamp($"s").as("ts"))
    val got = TimeSeries.sessionize(df, $"user_id", $"ts", 1800000L)
      .select($"event_id", $"session_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("TimeSeries.asofJoin picks most recent right row <= left ts") {
    val left = Seq((10L, 1L, "2024-01-01 02:00:00"), (11L, 1L, "2024-01-01 00:30:00"),
      (12L, 2L, "2024-01-01 00:10:00"))
      .toDF("event_id", "user_id", "s")
      .select($"event_id", $"user_id", to_timestamp($"s").as("ts"))
    val right = Seq((1L, "2024-01-01 00:00:00", 100.0), (1L, "2024-01-01 01:00:00", 200.0),
      (2L, "2024-01-01 00:20:00", 300.0))
      .toDF("user_id", "s", "v")
      .select($"user_id", to_timestamp($"s").as("ts"), $"v")
    val got = TimeSeries.asofJoin(left, right, "user_id", "ts", Seq("v"))
      .select($"event_id", $"v").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(10L).contains(200.0)) // latest <= 02:00
    assert(got(11L).contains(100.0)) // only 00:00 qualifies
    assert(got(12L).isEmpty)         // right row is later than left ts
  }

  test("Relational.firstPerGroup keeps exactly one deterministic row") {
    val df = Seq((1, "a", 3.0), (1, "b", 1.0), (2, "c", 5.0)).toDF("g", "v", "ord")
    val got = Relational.firstPerGroup(df, Seq($"g"), Seq($"ord"))
      .select($"g", $"v").as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "b", 2 -> "c"))
  }

  test("Relational.repairUnion fixes only broken rows and keeps count") {
    val facts = Seq((1L, "ok", 10.0), (2L, "bad", -1.0), (3L, "ok", 30.0))
      .toDF("id", "status", "value").withColumn("k", lit(1))
    val fix = Seq((1, 99.0)).toDF("k", "fixed_value")
    val got = Relational.repairUnion(facts, $"status" === "bad", fix, Seq("k"),
      "value", "fixed_value")
    assert(got.count() == 3)
    val bad = got.filter($"id" === 2).select($"value", $"src").head()
    assert(bad.getDouble(0) == 99.0 && bad.getString(1) == "fixed")
    val okSrc = got.filter($"id" === 1).select($"src").as[String].head()
    assert(okSrc == "observed")
  }

  test("Relational.repairUnion keeps rows whose broken predicate is NULL") {
    val facts = Seq((1L, Some("ok"), 10.0), (2L, None, 20.0))
      .toDF("id", "status", "value").withColumn("k", lit(1))
    val fix = Seq((1, 99.0)).toDF("k", "fixed_value")
    // status NULL ⇒ predicate NULL: the row must survive as observed, not
    // vanish from both filter branches
    val got = Relational.repairUnion(facts, $"status" === "bad", fix, Seq("k"),
      "value", "fixed_value")
    assert(got.count() == 2, "NULL-predicate row was dropped")
    assert(got.filter($"id" === 2).select($"src").as[String].head() == "observed")
  }

  test("Dedup.exact groups identical content") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    val got = Dedup.exact(df, $"doc_id", $"text")
      .select($"keeper_id", $"n_copies").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 3L -> 1L))
  }

  test("Dedup.ngramJaccardPairs finds a known near-dup pair with correct jaccard") {
    val df = Seq(
      (1L, "a b c d e"),   // shingles: abc bcd cde
      (2L, "a b c d x"),   // shingles: abc bcd cdx  → common 2, union 4 → 0.5
      (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, $"doc_id", $"text", 3, 0.4)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 0.5)))
  }

  test("Dedup.ngramJaccardAgainst scores only cross-set pairs") {
    // corpus 1/2 are near-dups of each other; batch 10 is a near-dup of 1;
    // batch 11 matches nothing. Only (10, 1)-family pairs may surface —
    // corpus-internal (1,2) and batch-internal pairs must not.
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "a b c d x"), (11L, "m n o p q")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardAgainst(corpus, $"doc_id", $"text",
        batch, $"doc_id", $"text", 3, 0.4)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(got == Seq((10L, 1L, 0.5), (10L, 2L, 0.5)))
  }

  test("Dedup.ngramJaccardAgainst agrees with ngramJaccardPairs on the cross-set slice") {
    val docs = (1L to 30L).map(i =>
      (i, if (i % 3 == 0) s"a b c d e f ${i % 5}" else s"w$i x$i y$i z$i q$i r$i s$i"))
      .toDF("doc_id", "text")
    val inBatch = (id: Long) => id % 10 == 7
    val all = Dedup.ngramJaccardPairs(docs, $"doc_id", $"text", 3, 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val crossExpected = all.collect {
      case (a, b, j) if inBatch(a) ^ inBatch(b) =>
        (if (inBatch(a)) (a, b) else (b, a), j)
    }.map { case ((b, c), j) => (b, c, j) }
    val got = Dedup.ngramJaccardAgainst(
        docs.filter($"doc_id" % 10 =!= 7), $"doc_id", $"text",
        docs.filter($"doc_id" % 10 === 7), $"doc_id", $"text", 3, 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == crossExpected)
  }

  test("Dedup.ngramJaccardAgainstIndex on a round-tripped index equals ngramJaccardAgainst") {
    val docs = (1L to 30L).map(i =>
      (i, if (i % 3 == 0) s"a b c d e f ${i % 5}" else s"w$i x$i y$i z$i q$i r$i s$i"))
      .toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" % 10 =!= 7)
    val batch = docs.filter($"doc_id" % 10 === 7)
    val direct = Dedup.ngramJaccardAgainst(corpus, $"doc_id", $"text",
        batch, $"doc_id", $"text", 3, 0.2)
      .as[(Long, Long, Double)].collect().toSet
    // materialize the standing corpus index to parquet and read it back —
    // the nightly-ingest artifact must give identical results to inline
    // shingling (the index is the same relation, just persisted)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_spec")
      .resolve("corpus_shingle_index").toString
    graft.sources.Writers.writeSorted(
      Dedup.shingleIndex(corpus, $"doc_id", $"text", 3, idName = "corpus_id"),
      dir, Seq("sh_h"), numFiles = 2)
    val viaIndex = Dedup.ngramJaccardAgainstIndex(spark.read.parquet(dir),
        batch, $"doc_id", $"text", 3, 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex == direct)

    // maxDocFreq >= corpus size restores exactness (the q52 cap contract,
    // now on the cross-set ingest operator)
    val cappedWide = Dedup.ngramJaccardAgainstIndex(spark.read.parquet(dir),
        batch, $"doc_id", $"text", 3, 0.2, maxDocFreq = 1000L)
      .as[(Long, Long, Double)].collect().toSet
    assert(cappedWide == direct)

    // a tight cap yields a LOWER BOUND: every emitted pair also appears
    // uncapped, with capped jaccard <= exact jaccard pairwise (sizes stay
    // full — only n_common can shrink)
    val exactAll = Dedup.ngramJaccardAgainstIndex(spark.read.parquet(dir),
        batch, $"doc_id", $"text", 3, 0.0)
      .as[(Long, Long, Double)].collect()
      .map { case (b, c, j) => (b, c) -> j }.toMap
    val cappedTight = Dedup.ngramJaccardAgainstIndex(spark.read.parquet(dir),
        batch, $"doc_id", $"text", 3, 0.0, maxDocFreq = 3L)
      .as[(Long, Long, Double)].collect()
    assert(cappedTight.nonEmpty && cappedTight.length < exactAll.size,
      "cap=3 must actually drop candidates on the a-b-c-d clique corpus")
    cappedTight.foreach { case (b, c, j) =>
      assert(exactAll.contains((b, c)) && j <= exactAll((b, c)),
        s"capped pair ($b,$c,$j) must lower-bound the exact ${exactAll.get((b, c))}")
    }

    // the standing-artifact form (capIndexByDf at index-build time +
    // sizes from the UNCAPPED index) must equal the inline knob — the
    // shape a production ingest actually materializes, cap paid once
    val full = spark.read.parquet(dir)
    val viaArtifact = Dedup.ngramJaccardAgainstIndex(
        Dedup.capIndexByDf(full, 3L),
        batch, $"doc_id", $"text", 3, 0.0,
        corpusSizes = Some(Dedup.indexSizes(full)))
      .as[(Long, Long, Double)].collect().toSet
    assert(viaArtifact == cappedTight.toSet)

    // a non-positive cap would silently empty the index (df >= 1 always);
    // the uncapped sentinel is Long.MaxValue, so 0 must fail fast
    intercept[IllegalArgumentException](Dedup.capIndexByDf(full, 0L))

    // a prefiltered index WITHOUT the uncapped sizes artifact must fail
    // fast (advisor r9): default sizes from a capped index undercount n_c
    // and silently inflate jaccard above truth — a broken lower bound
    intercept[IllegalArgumentException](Dedup.ngramJaccardAgainstIndex(
      Dedup.capIndexByDf(full, 3L), batch, $"doc_id", $"text", 3, 0.0))
    // ...and the prefiltered tag survives its own parquet round-trip, so a
    // capped artifact materialized at index-build time and read back still
    // trips the guard at every later ingest
    val cappedDir = java.nio.file.Files.createTempDirectory("graft_idx_capped")
      .resolve("capped_index").toString
    Dedup.capIndexByDf(full, 3L).write.parquet(cappedDir)
    intercept[IllegalArgumentException](Dedup.ngramJaccardAgainstIndex(
      spark.read.parquet(cappedDir), batch, $"doc_id", $"text", 3, 0.0))
    // the guarded round-tripped artifact still computes correctly WITH sizes
    val viaStoredArtifact = Dedup.ngramJaccardAgainstIndex(
        spark.read.parquet(cappedDir), batch, $"doc_id", $"text", 3, 0.0,
        corpusSizes = Some(Dedup.indexSizes(full)))
      .as[(Long, Long, Double)].collect().toSet
    assert(viaStoredArtifact == cappedTight.toSet)
  }

  test("Dedup.minhashLshPairs surfaces identical docs with est 1.0") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "z y x w v u t s"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(df, $"doc_id", $"text", 3, 16, 4, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("Dedup.dropOverCapBuckets drops every over-cap bucket, the NULL bucket included") {
    // buckets of size 1, 3 (== cap), and 5 (over cap, must drop whole);
    // NULL keys form their own bucket (window partitions group NULLs) — so
    // cap 3 drops the 5-bucket AND the 4-wide NULL bucket
    val rows = Seq(
      (1L, "solo"), (2L, "trio"), (3L, "trio"), (4L, "trio"),
      (10L, "five"), (11L, "five"), (12L, "five"), (13L, "five"), (14L, "five"),
      (20L, null), (21L, null), (22L, null), (23L, null))
      .toDF("id", "bk")
    val got = Dedup.dropOverCapBuckets(rows, $"bk", 3L)
      .as[(Long, Option[String])].collect()
      .map { case (i, b) => (i, b.orNull) }.toSet
    assert(got == Set((1L, "solo"), (2L, "trio"), (3L, "trio"), (4L, "trio")))
  }

  test("Dedup.simhashPairs: identical docs at hamming 0") {
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "completely different words here"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df, $"doc_id", $"text", 0)
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 0L)))
  }

  test("Dedup.simhashPairs numBands=1: candidates iff the full signatures are equal") {
    // signature equality is order-INDEPENDENT (token multiset): the
    // permuted doc pairs with both copies; the disjoint-token doc pairs
    // with nobody (its sign vector differs); maxHam=64 shows the bucket
    // alone does the filtering in this configuration
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
        (3L, "delta gamma beta alpha"), (4L, "completely unrelated tokens here"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df, $"doc_id", $"text", 64, numBands = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L)))
    // the default 4x16 banding on the same corpus finds the same multiset
    // cliques (identical sims share all four bands)
    val banded4 = Dedup.simhashPairs(df, $"doc_id", $"text", 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded4 == got)
  }

  test("simhashPairs first-band emission: one row per pair, set-equal to a groupBy dedup") {
    // r12 (the q24 sf10 trim): the join emits a pair once per matching
    // band; the first-matching-band filter must keep EXACTLY one row per
    // pair — same set as an explicit dedup, with zero duplicate rows —
    // at both probe settings. Mixed corpus: exact clones (match all 4
    // bands), near-clones (match some), unrelated (match none).
    val docs = (1L to 40L).map { i =>
      val base = s"tok${i % 8} alpha beta gamma delta eps${i % 3} zeta eta theta"
      (i, if (i % 5 == 0) base + " extra drift words" else base)
    }.toDF("doc_id", "text")
    for (pb <- Seq(0, 1)) {
      val rows = Dedup.simhashPairs(docs, $"doc_id", $"text", 8, probeBits = pb)
        .as[(Long, Long, Long)].collect()
      assert(rows.length == rows.map(r => (r._1, r._2)).distinct.length,
        s"probeBits=$pb emitted a duplicate pair row")
      val viaDedup = rows.map(r => (r._1, r._2)).toSet
      // independent truth: every candidate pair from ANY band, deduped,
      // hamming-confirmed (the old groupBy formulation, reconstructed)
      val sigs = docs.select($"doc_id",
          graft.plans.NativeFns.simhash(graft.functions.TextFns.tokens($"text")).as("s"))
        .as[(Long, Long)].collect().toMap
      val expect = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        ham = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
        if ham <= 8
        // candidate iff SOME band within pb bits
        if (0 until 4).exists(i => java.lang.Long.bitCount(
          (((sigs(a) >>> (i * 16)) ^ (sigs(b) >>> (i * 16))) & 0xFFFFL)) <= pb)
      } yield (a, b)).toSet
      assert(viaDedup == expect,
        s"probeBits=$pb: ${(expect -- viaDedup).take(3)} missing, ${(viaDedup -- expect).take(3)} extra")
      assert(expect.nonEmpty, "fixture produced no pairs — strengthen it")
    }
  }

  test("Dedup.minhashLshPairs rowsPerBand=numPerms: one band, pairs iff full signatures agree") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "z y x w v u t s"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(df, $"doc_id", $"text", 3, 32, 32, 0.5)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("Relational.describeProfile matches a hand-computed reference (nulls, n=1, quartiles)") {
    // x: 1..8 plus a null (n=8, type-1 quartiles over sorted values);
    // y: a single non-null value (stddev must be NULL, like pandas ddof=1);
    // z: constant column (stddev exactly 0)
    val rows = Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (1.0, 42.5, 7.0), (2.0, null, 7.0), (3.0, null, 7.0), (4.0, null, 7.0),
      (5.0, null, 7.0), (6.0, null, 7.0), (7.0, null, 7.0), (8.0, null, 7.0),
      (null, null, 7.0))
    val df = rows.toDF("x", "y", "z")
    val got = Relational.describeProfile(df,
        Seq("x" -> $"x", "y" -> $"y", "z" -> $"z"))
      .orderBy("column_name")
      .as[(String, Long, Double, Option[Double], Double, Double, Double, Double, Double)]
      .collect()
    // x: n=8, mean 4.5, sample std sqrt(42/7)=sqrt(6)≈2.4495, quartile
    // ranks ceil(.25*8)=2, ceil(.5*8)=4, ceil(.75*8)=6 → values 2, 4, 6
    val x = got(0)
    assert(x._1 == "x" && x._2 == 8L && x._3 == 4.5 &&
      x._4.contains(math.floor(math.sqrt(6.0) * 10000.0 + 0.5) / 10000.0) &&
      x._5 == 1.0 && x._6 == 2.0 && x._7 == 4.0 && x._8 == 6.0 && x._9 == 8.0)
    val y = got(1)
    assert(y._1 == "y" && y._2 == 1L && y._3 == 42.5 && y._4.isEmpty &&
      y._5 == 42.5 && y._6 == 42.5 && y._7 == 42.5 && y._8 == 42.5 && y._9 == 42.5)
    val z = got(2)
    assert(z._1 == "z" && z._2 == 9L && z._3 == 7.0 && z._4.contains(0.0) &&
      z._6 == 7.0 && z._7 == 7.0 && z._8 == 7.0)
  }

  test("Relational.describeProfile drops NaN cells like NULL (r8 ADVICE fix)") {
    // a NaN cell used to reach max(v) and abort the profile with a
    // misleading "exceeds 1e10" range message; the melt now filters NaN
    // alongside NULL (the groupedQuantiles policy)
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 5.0), (2.0, Double.NaN), (3.0, 6.0), (Double.NaN, 7.0))
      .toDF("x", "y")
    val got = Relational.describeProfile(df, Seq("x" -> $"x", "y" -> $"y"))
      .orderBy("column_name")
      .select($"column_name", $"n", $"mean", $"min_value", $"max_value")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(got(0) == (("x", 3L, 2.0, 1.0, 3.0)))
    assert(got(1) == (("y", 3L, 6.0, 5.0, 7.0)))
  }

  test("Dedup.connectedComponents labels chains and keeps singleton edges apart") {
    // components: {1,2,3,9} via 1-2, 2-3, 3-9 chain; {5,6}; node 7-8 pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
  }

  test("Similarity.bruteForceTopK ranks the nearest vector first") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(corpus, corpus.filter($"vec_id" === 1), "vec_id", "embedding", 2)
      .select($"neighbor_id", $"rnk").as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 1L, 3L -> 2L))
  }

  test("Multimodal: decode stub emits metadata with stable schema") {
    val docs = Seq((0L, "hello"), (1L, "world")).toDF("doc_id", "text")
    val got = Multimodal.decode(Multimodal.asMediaTable(docs, "doc_id", "text"))
    assert(got.schema.fieldNames.toSeq ==
      Seq("doc_id", "media_type", "n_bytes", "width", "height",
        "sample_rate", "channels", "checksum", "content_checksum", "format"))
    val rows = got.orderBy("doc_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("media_type") == "image") // even id
    assert(rows(1).getAs[String]("media_type") == "audio")
    assert(rows.forall(_.getAs[Long]("n_bytes") == 5L))
    // deterministic: re-running yields identical checksums
    val again = Multimodal.decode(Multimodal.asMediaTable(docs, "doc_id", "text"))
      .orderBy("doc_id").collect()
    assert(rows.map(_.getAs[Long]("checksum")).toSeq ==
      again.map(_.getAs[Long]("checksum")).toSeq)
  }

  test("Multimodal: real PNG/JPEG header bytes yield true dimensions; others fall back to the stub") {
    import org.apache.spark.sql.functions.{col, octet_length}
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // hand-built 640×480 PNG: signature + IHDR (len 13, w/h big-endian,
    // bit-depth 8, color 6) + CRC bytes the parser does not verify
    val png = b(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, 0, 0, 0, 13) ++
      "IHDR".getBytes("US-ASCII") ++
      b(0, 0, 2, 0x80, 0, 0, 1, 0xE0, 8, 6, 0, 0, 0, 0, 0, 0, 0)
    // hand-built 1024×768 JPEG: SOI, APP0 (len 16, payload skipped by the
    // marker walk), SOF0 (len 17, precision 8, height 0x0300, width 0x0400)
    val jpeg = b(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10) ++ Array.fill[Byte](14)(0) ++
      b(0xFF, 0xC0, 0x00, 0x11, 0x08, 0x03, 0x00, 0x04, 0x00, 0x01, 0x11, 0x00)
    val junk = "not an image".getBytes("UTF-8")
    val corrupt = b(0xFF, 0xD8, 0x00, 0x11, 0x22, 0x33) // SOI then a non-marker byte
    // SOF with a TRUNCATED segment (len 2 < the 7 a SOF needs to hold
    // dims): the bytes after it belong to the next segment, and reading
    // them as width/height would return garbage labeled "jpeg"
    val shortSof = b(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x02,
      0xFF, 0xE0, 0x00, 0x10) ++ Array.fill[Byte](14)(0)
    val media = Seq((1L, "image", png), (2L, "image", jpeg),
        (3L, "audio", junk), (4L, "image", corrupt), (5L, "image", shortSof))
      .toDF("doc_id", "media_type", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val rows = Multimodal.decode(media).orderBy("doc_id").collect()
    assert(rows(0).getAs[Long]("width") == 640L, "png width")
    assert(rows(0).getAs[Long]("height") == 480L, "png height")
    assert(rows(0).getAs[String]("format") == "png")
    assert(rows(1).getAs[Long]("width") == 1024L, "jpeg width")
    assert(rows(1).getAs[Long]("height") == 768L, "jpeg height")
    assert(rows(1).getAs[String]("format") == "jpeg")
    // non-image, corrupt, and truncated-SOF payloads degrade to the
    // stub, never throw and never report garbage dims as a real decode
    assert(rows(2).getAs[Any]("format") == null)
    assert(rows(3).getAs[Any]("format") == null)
    assert(rows(4).getAs[Any]("format") == null, "truncated SOF must not parse")
    assert(rows.forall(_.getAs[Any]("checksum") != null))
  }

  test("Multimodal: real WAV header bytes yield sample rate and channels") {
    import org.apache.spark.sql.functions.{col, octet_length}
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def le32(v: Long): Array[Byte] =
      b((v & 0xFF).toInt, ((v >> 8) & 0xFF).toInt, ((v >> 16) & 0xFF).toInt, ((v >> 24) & 0xFF).toInt)
    def le16(v: Int): Array[Byte] = b(v & 0xFF, (v >> 8) & 0xFF)
    // canonical 44.1 kHz stereo PCM header: RIFF/WAVE + fmt(16) + data
    val wav = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(176400) ++ le16(4) ++ le16(16) ++ "data".getBytes ++ le32(0)
    // fmt preceded by another chunk (JUNK, odd size → pad byte): the chunk
    // walk must skip it, word-aligned, and still find fmt
    val wavJunkFirst = "RIFF".getBytes ++ le32(50) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32(3) ++ b(1, 2, 3, 0) ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(16000) ++
      le32(32000) ++ le16(2) ++ le16(16)
    val truncated = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) // fmt chunk cut short
    val media = Seq((1L, "audio", wav), (2L, "audio", wavJunkFirst),
        (3L, "audio", truncated))
      .toDF("doc_id", "media_type", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val rows = Multimodal.decode(media).orderBy("doc_id").collect()
    assert(rows(0).getAs[Long]("sample_rate") == 44100L)
    assert(rows(0).getAs[Long]("channels") == 2L)
    assert(rows(0).getAs[String]("format") == "wav")
    assert(rows(0).getAs[Any]("width") == null, "audio rows carry no image dims")
    assert(rows(1).getAs[Long]("sample_rate") == 16000L, "JUNK-first chunk walk")
    assert(rows(1).getAs[Long]("channels") == 1L)
    assert(rows(2).getAs[Any]("format") == null, "truncated fmt must not parse")
  }

  test("Multimodal: PNG content decode — IDAT inflate + unfilter reproduces the true pixel bytes") {
    import org.apache.spark.sql.functions.{col, octet_length}
    // a REAL png, encoded by the JDK's own ImageIO (which applies scanline
    // filters, so the unfilter path is genuinely exercised), with
    // deterministic RGB pixels
    val w = 5; val h = 3
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 40 + y) << 16) | ((y * 70 + x) << 8) | (x * x + y * 30))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos), "JDK PNG encoder unavailable")
    val png = baos.toByteArray
    // expected content: unfiltered scanlines of a color-type-2 depth-8 PNG
    // are rows of R,G,B triplets
    val expected = (for (y <- 0 until h; x <- 0 until w) yield {
      val rgb = img.getRGB(x, y)
      Seq(((rgb >> 16) & 0xFF).toByte, ((rgb >> 8) & 0xFF).toByte, (rgb & 0xFF).toByte)
    }).flatten.toArray
    val expectedSum = expected.foldLeft(0L)((a, b) => (a * 31 + (b & 0xFF)) % 1000000007L)
    // corrupt twin: same header, IDAT bytes zeroed mid-stream — header
    // metadata must survive, content checksum must be null, no throw
    val corrupt = png.clone()
    val idatAt = corrupt.indexOfSlice("IDAT".getBytes("US-ASCII"))
    for (k <- idatAt + 8 until math.min(idatAt + 16, corrupt.length))
      corrupt(k) = 0x55.toByte
    val media = Seq((1L, "image", png), (2L, "image", corrupt))
      .toDF("doc_id", "media_type", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val rows = Multimodal.decode(media).orderBy("doc_id").collect()
    assert(rows(0).getAs[String]("format") == "png")
    assert(rows(0).getAs[Long]("width") == w && rows(0).getAs[Long]("height") == h)
    assert(rows(0).getAs[Long]("content_checksum") == expectedSum,
      "decoded pixel bytes must match the encoder's input pixels")
    assert(rows(1).getAs[String]("format") == "png", "header survives corrupt IDAT")
    assert(rows(1).getAs[Any]("content_checksum") == null,
      "corrupt zlib stream must degrade to header-only, not garbage")
    // absurd declared dimensions (2^30 x 2^30): the Long size product
    // would overflow without the per-factor cap — must degrade to
    // header-only metadata, never allocate or throw
    def bb(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val huge = bb(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, 0, 0, 0, 13) ++
      "IHDR".getBytes("US-ASCII") ++
      bb(0x40, 0, 0, 0, 0x40, 0, 0, 0, 8, 6, 0, 0, 0) ++ bb(0, 0, 0, 0) ++
      bb(0, 0, 0, 2) ++ "IDAT".getBytes("US-ASCII") ++ bb(1, 2) ++ bb(0, 0, 0, 0) ++
      bb(0, 0, 0, 0) ++ "IEND".getBytes("US-ASCII") ++ bb(0, 0, 0, 0)
    val hugeMedia = Seq((1L, "image", huge)).toDF("doc_id", "media_type", "payload")
      .withColumn("n_bytes", org.apache.spark.sql.functions.octet_length($"payload").cast("long"))
    val hugeRow = Multimodal.decode(hugeMedia).collect().head
    assert(hugeRow.getAs[Long]("width") == 0x40000000L)
    assert(hugeRow.getAs[Any]("content_checksum") == null,
      "overflow-scale dimensions must not reach the allocation")
  }

  test("Multimodal: JPEG content decode — ImageIO raster parity, truncation degrades (r8)") {
    import org.apache.spark.sql.functions.{col, octet_length}
    // a REAL baseline JPEG from the JDK's own encoder, deterministic pixels
    val w = 6; val h = 4
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 35 + y * 3) << 16) | ((y * 50 + x * 7) << 8) | (x * 11 + y * 19))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpeg", baos), "JDK JPEG encoder unavailable")
    val jpeg = baos.toByteArray
    // parity reference: an INDEPENDENT ImageIO.read + getRGB walk in the
    // test, canonical row-major RGB — lossy coding means the decoded pixels
    // differ from the encoder input, so the truth is the decoded raster
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
    val expected = (for (y <- 0 until h; x <- 0 until w) yield {
      val rgb = ref.getRGB(x, y)
      Seq(((rgb >> 16) & 0xFF).toByte, ((rgb >> 8) & 0xFF).toByte, (rgb & 0xFF).toByte)
    }).flatten.toArray
    val expectedSum = expected.foldLeft(0L)((a, b) => (a * 31 + (b & 0xFF)) % 1000000007L)
    // truncated twin: cut right after the SOF0 segment — the marker-walk
    // header parser still finds the dimensions, but there is no scan data,
    // so the content decode must degrade to null, not throw
    val sofAt = jpeg.indexOfSlice(Array(0xFF.toByte, 0xC0.toByte))
    assert(sofAt > 0, "baseline SOF0 expected in JDK output")
    val sofLen = ((jpeg(sofAt + 2) & 0xFF) << 8) | (jpeg(sofAt + 3) & 0xFF)
    val truncated = jpeg.take(sofAt + 2 + sofLen)
    val media = Seq((1L, "image", jpeg), (2L, "image", truncated))
      .toDF("doc_id", "media_type", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val rows = Multimodal.decode(media).orderBy("doc_id").collect()
    assert(rows(0).getAs[String]("format") == "jpeg")
    assert(rows(0).getAs[Long]("width") == w && rows(0).getAs[Long]("height") == h)
    assert(rows(0).getAs[Long]("content_checksum") == expectedSum,
      "decoded JPEG raster must match an independent ImageIO decode")
    assert(rows(1).getAs[String]("format") == "jpeg", "header survives truncation")
    assert(rows(1).getAs[Long]("width") == w)
    assert(rows(1).getAs[Any]("content_checksum") == null,
      "scan-less JPEG must degrade to header-only, not throw")
  }

  test("Multimodal: WAV content decode — the data chunk's PCM bytes are checksummed") {
    import org.apache.spark.sql.functions.{col, octet_length}
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def le32(v: Long): Array[Byte] =
      b((v & 0xFF).toInt, ((v >> 8) & 0xFF).toInt, ((v >> 16) & 0xFF).toInt, ((v >> 24) & 0xFF).toInt)
    def le16(v: Int): Array[Byte] = b(v & 0xFF, (v >> 8) & 0xFF)
    val pcm = (0 until 32).map(i => ((i * 37 + 11) & 0xFF).toByte).toArray
    def wavWith(dataSize: Long, data: Array[Byte]): Array[Byte] =
      "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
        le32(176400) ++ le16(4) ++ le16(16) ++ "data".getBytes ++ le32(dataSize) ++ data
    val good = wavWith(pcm.length.toLong, pcm)
    // declared data size overruns the payload: header fields still parse,
    // content must be null (never a partial/garbage checksum)
    val overrun = wavWith(1000L, pcm)
    val expectedSum = pcm.foldLeft(0L)((a, x) => (a * 31 + (x & 0xFF)) % 1000000007L)
    val media = Seq((1L, "audio", good), (2L, "audio", overrun))
      .toDF("doc_id", "media_type", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val rows = Multimodal.decode(media).orderBy("doc_id").collect()
    assert(rows(0).getAs[Long]("sample_rate") == 44100L)
    assert(rows(0).getAs[Long]("content_checksum") == expectedSum,
      "PCM byte checksum must match the data chunk content")
    assert(rows(1).getAs[String]("format") == "wav")
    assert(rows(1).getAs[Any]("content_checksum") == null,
      "overrunning data size must not checksum partial bytes")
  }

  test("Multimodal: null payloads pass through with null metadata") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val docs = Seq((0L, "hello"), (1L, "world")).toDF("doc_id", "text")
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
      .withColumn("payload", when(col("doc_id") === 1L, lit(null)).otherwise(col("payload")))
    val rows = Multimodal.decode(media).orderBy("doc_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Any]("checksum") != null)
    assert(rows(1).getAs[Any]("width") == null)
    assert(rows(1).getAs[Any]("checksum") == null)
  }

  test("Multimodal: NULL doc_id/n_bytes stay NULL through decode (no 0 coercion)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val docs = Seq((5L, "hello"), (6L, "world")).toDF("doc_id", "text")
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
      .withColumn("doc_id", when(col("doc_id") === 6L, lit(null)).otherwise(col("doc_id")))
      .withColumn("n_bytes", when(col("doc_id").isNull, lit(null)).otherwise(col("n_bytes")))
    val rows = Multimodal.decode(media).orderBy(col("doc_id").asc_nulls_last).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Any]("doc_id") == 5L)
    // a getAs[Long] implementation would have coerced these to 0
    assert(rows(1).getAs[Any]("doc_id") == null, "NULL doc_id coerced")
    assert(rows(1).getAs[Any]("n_bytes") == null, "NULL n_bytes coerced")
  }

  test("contaminationHits counts distinct shared n-grams, held-out docs excluded") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta", false), // shares "alpha beta gamma" + "beta gamma delta"
      (2L, "alpha beta gamma zeta", false),  // shares "alpha beta gamma"
      (3L, "nothing in common here", false),
      (9L, "alpha beta gamma delta epsilon", true) // held out
    ).toDF("doc_id", "text", "held")
    val got = Dedup.contaminationHits(docs, $"doc_id", $"text", $"held", 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 1L)) // doc 3 clean, doc 9 not scored
  }

  test("mixEpochs repeats under-represented groups, capped, majority stays 1x") {
    import graft.operators.Relational
    val docs = (1L to 8L).map(i => (i, "big")) ++ Seq((9L, "small"))
    val df = docs.toDF("doc_id", "source")
    val got = Relational.mixEpochs(df, $"doc_id", $"source", 4)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert((1L to 8L).forall(got(_) == 1L)) // max-share group: 1 epoch
    assert(got(9L) == 4L) // 8/1 = 8, capped at 4
  }

  test("Readers.csvWithSchema keeps leading-zero zips and parses timestamps") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv-in")
    val f = dir.resolve("availability.csv")
    java.nio.file.Files.writeString(f,
      """station_id,station_name,station_status,latitude,longitude,zip,borough,hood,available_bikes,available_docks,time_interval,created_at,weather_summary,precip_intensity,temperature,humidity,wind_speed,wind_gust,cloud_cover,weather_status,updated_at
        |3195,Sip Ave,In Service,40.730897,-74.063913,07306,New Jersey,Journal Square,1,33,2019-05-12 22:45:00,2019-05-13 02:45:04,Overcast,0.0,44.86,0.91,6.85,9.65,1.0,predicted,2019-05-13 02:45:04
        |""".stripMargin)
    val got = graft.sources.Readers.csvWithSchema(spark, f.toString,
      graft.sources.Readers.availabilitySchema)
    val row = got.head()
    assert(row.getAs[String]("zip") == "07306") // leading zero survives
    assert(row.getAs[java.sql.Timestamp]("time_interval").toString == "2019-05-12 22:45:00.0")
    assert(row.getAs[Long]("available_bikes") == 1L)
  }

  test("Readers.flattenStationsJson flattens the feed shape") {
    val raw = Seq(
      """{"executionTime": "2019-06-22 01:53:41 PM", "stationBeanList": [
        |{"id": 72, "stationName": "W 52 St", "availableDocks": 20, "totalDocks": 39,
        | "latitude": 40.76727216, "longitude": -73.99392888, "statusValue": "In Service",
        | "availableBikes": 19, "lastCommunicationTime": "2019-06-22 01:53:41 PM"}]}""".stripMargin)
      .toDF("status")
    val got = graft.sources.Readers.flattenStationsJson(raw, "status")
    val row = got.head()
    assert(row.getAs[Long]("station_id") == 72L)
    assert(row.getAs[Long]("available_bikes") == 19L)
    assert(row.getAs[String]("station_status") == "In Service")
  }

  test("bm25TopK ranks term-dense short docs first; non-matching docs absent") {
    val docs = Seq(
      (1L, "hash hash hash join"), // dense in query terms, short
      (2L, "hash join " + ("filler words here " * 30).trim), // same terms, long
      (3L, "vector"), // one rarer term
      (4L, "nothing relevant at all"), // no query terms
      (5L, "the the the the")).toDF("doc_id", "text")
    val got = Scoring.bm25TopK(docs, $"doc_id", $"text",
      Seq("hash", "join", "vector"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ids = got.map(_._1).toSet
    assert(!ids.contains(4L) && !ids.contains(5L),
      "docs with no query terms must not rank")
    assert(got.head._1 == 3L,
      "the sole match for the rarest term (max idf, max tf-saturation) ranks first")
    val byId = got.toMap
    assert(byId(1L) > byId(2L), "length normalization must damp the long doc")
    assert(got.forall(_._2 > 0.0))
  }

  test("bm25TopK logIdf variant keeps the same matching-doc set, positive scores") {
    val docs = Seq(
      (1L, "hash join vector"),
      (2L, "hash alone here"),
      (3L, "unrelated text")).toDF("doc_id", "text")
    val raw = Scoring.bm25TopK(docs, $"doc_id", $"text", Seq("hash", "vector"), 10)
    val logd = Scoring.bm25TopK(docs, $"doc_id", $"text", Seq("hash", "vector"), 10,
      logIdf = true)
    assert(raw.select("doc_id").as[Long].collect().toSet ==
      logd.select("doc_id").as[Long].collect().toSet)
    assert(logd.select("bm25").as[Double].collect().forall(_ > 0.0))
  }

  test("charGramDupProfile flags shared passages, skips short docs") {
    val passage = "this exact passage of twenty plus characters is copied verbatim"
    val docs = Seq(
      (1L, s"unique prefix one $passage"),
      (2L, s"different lead-in text $passage"),
      (3L, "entirely original content with no overlap whatsoever in it"),
      (4L, "short")).toDF("doc_id", "text") // < 20 chars: no grams
    val got = Dedup.charGramDupProfile(docs, $"doc_id", $"text", 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains(4L), "sub-gram-length doc must be absent")
    assert(got(1L)._2 > 0 && got(2L)._2 > 0, "copied passage must flag both docs")
    assert(got(3L)._2 == 0, "unique doc must have zero shared grams")
    assert(got(1L)._2 <= got(1L)._1)
  }

  test("exactNormalized collapses case/whitespace variants, ASCII-only") {
    val docs = Seq(
      (1L, "The Quick Brown Fox"),
      (2L, "the quick brown fox"),        // case variant of 1
      (3L, "  the\tquick   brown\nfox "), // whitespace variant of 1
      (4L, "the quick brown fox"),        // byte-exact copy of 2
      (5L, "entirely different text"),
      (6L, "ÄPFEL und BIRNEN"),
      (7L, "äpfel und birnen"))           // NOT collapsed: folding is ASCII-only
      .toDF("doc_id", "text")
    val got = Dedup.exactNormalized(docs, $"doc_id", $"text")
      .select($"keeper_id", $"n_copies", $"n_variants")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set(1L, 5L, 6L, 7L))
    assert(got(1L) == ((4L, 3L)),
      "docs 1-4 are one group of 4 copies with 3 distinct raw texts")
    assert(got(5L) == ((1L, 1L)))
    assert(got(6L) == ((1L, 1L)) && got(7L) == ((1L, 1L)),
      "non-ASCII case variants must NOT collapse (portable folding only)")
    assert(got.values.map(_._1).sum == docs.count(),
      "groups must partition the corpus")
  }

  test("dupSpanCoverage merges duplicated gram instances into exact spans") {
    val passage = "this exact passage of twenty plus characters is copied verbatim"
    val docs = Seq(
      // adjoining char differs (':' vs ';') so no boundary gram is shared
      (1L, s"unique prefix one:$passage"),
      (2L, s"different lead-in;$passage"),
      (3L, "entirely original content with no overlap whatsoever in it"),
      (4L, "short"), // < 20 chars: no grams, still emitted with coverage 0
      (5L, "z" * 40), // all grams identical but SINGLE-doc: not duplicated
      (6L, "wholesale duplicated document body of ample length"),
      (7L, "wholesale duplicated document body of ample length"))
      .toDF("doc_id", "text")
    val got = Dedup.dupSpanCoverage(docs, $"doc_id", $"text", 20)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L),
      "every document must appear in the verdict table")
    // the shared passage's internal grams merge to exactly the passage span
    assert(got(1L)._2 == passage.length.toLong,
      s"doc 1 covered ${got(1L)._2}, want ${passage.length}")
    assert(got(2L)._2 == passage.length.toLong)
    assert(got(3L)._2 == 0L && got(3L)._3 == 0.0)
    assert(got(4L) == ((5L, 0L, 0.0)), "short doc: emitted, zero coverage")
    assert(got(5L)._2 == 0L,
      "within-doc repeats are not cross-doc duplication")
    assert(got(6L)._2 == got(6L)._1 && got(6L)._3 == 1.0,
      "verbatim copy must cover the whole document")
    assert(got(7L)._3 == 1.0)
  }

  test("heavyHitters equals the exact groupBy answer at several partitionings") {
    val docs = graft.sources.Readers.table(spark, sf, "documents")
      .select($"doc_id", $"text")
    val k = 60 // sf0.001: ~2.7k tokens, threshold n/61 ~ 44 — several hitters exist
    def exact(d: org.apache.spark.sql.DataFrame) = {
      val toks = d.select(explode(TextFns.tokens($"text")).as("token"))
      val n = toks.count()
      toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" * (k + 1) > n)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    val want = exact(docs)
    assert(want.nonEmpty, "test corpus should have heavy hitters at k=60")
    for (parts <- Seq(1, 7, 32)) {
      val got = Scoring.heavyHitters(docs.repartition(parts), $"text", k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == want, s"MG two-pass diverged from exact at $parts partitions")
    }
  }

  test("MisraGries candidate set always contains every true heavy hitter") {
    // a skewed synthetic stream: token t0 is 40% of all tokens, the rest
    // spread thin — t0 must appear in the candidate array at ANY k >= 2
    val rows = (1 to 400).map(i => s"hot x$i hot y$i") // 'hot' freq = 800/1600
    val docs = rows.toDF("text")
    val toks = docs.select(explode(TextFns.tokens($"text")).as("token"))
    for (k <- Seq(2, 5, 30)) {
      val cands = toks.agg(graft.plans.HeavyHitters.misraGries($"token", k).as("c"))
        .select(explode($"c").as("t")).as[String].collect().toSet
      assert(cands.contains("hot"), s"guarantee violated at k=$k")
      assert(cands.size <= k)
    }
  }

  test("groupedQuantiles equals the sorted-rank reference per group") {
    val docs = graft.sources.Readers.table(spark, sf, "documents")
    val pcts = (1 to 9).map(_ * 10)
    val got = Relational.groupedQuantiles(docs, $"source",
        length($"text").cast("long"), pcts)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val byGroup = docs.select($"source", length($"text").cast("long").as("v"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted).toMap
    for ((g, vs) <- byGroup; p <- pcts) {
      val r = ((p.toLong * vs.length + 99) / 100).toInt // ceil(p*n/100), 1-based
      assert(got((g, p)) == vs(r - 1),
        s"group $g pct $p: got ${got((g, p))}, want ${vs(r - 1)}")
    }
  }

  test("groupedQuantiles: a NULL group key is a real group (SQL GROUP BY semantics)") {
    val df = Seq((Option("a"), 5L), (Option("a"), 1L),
      (None: Option[String], 4L), (None: Option[String], 2L), (None: Option[String], 6L))
      .toDF("g", "v")
    val got = Relational.groupedQuantiles(df, $"g", $"v", Seq(50, 100))
      .collect().map(r => (Option(r.getString(0)), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got((Some("a"), 50)) == 1L && got((Some("a"), 100)) == 5L)
    assert(got((None, 50)) == 4L && got((None, 100)) == 6L,
      "the NULL group must be reported, not silently dropped")
  }

  test("groupedQuantiles: pct=100 is the max; singleton group is constant") {
    val df = Seq(("a", 5L), ("a", 1L), ("a", 9L), ("b", 7L)).toDF("g", "v")
    val got = Relational.groupedQuantiles(df, $"g", $"v", Seq(50, 100))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got(("a", 100)) == 9L && got(("a", 50)) == 5L)
    assert(got(("b", 50)) == 7L && got(("b", 100)) == 7L)
  }

  test("groupedQuantiles: two-level bucketing is invariant across widths, on doubles, skew, and dup-heavy values") {
    // the range bucketing only has to be ORDER-PRESERVING — any numBuckets
    // must give the identical exact quantile. Continuous-ish doubles (the
    // q82 price shape), a constant group (span 0), a two-value group, and
    // a heavily duplicated value all in one corpus.
    val rows =
      (1 to 400).map(i => ("cont", math.sqrt(i.toDouble) * 17.31 - 3.0)) ++
      (1 to 50).map(_ => ("const", 42.42)) ++
      (1 to 30).map(i => ("dup", if (i < 25) 1.5 else 99.25)) ++
      Seq(("neg", -8.25), ("neg", -1.0), ("neg", 4.75))
    val df = rows.toDF("g", "v")
    val pcts = Seq(1, 10, 25, 50, 75, 90, 100)
    val reference = Relational.groupedQuantiles(df, $"g", $"v", pcts, numBuckets = 1)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // numBuckets=1 degenerates to the plain single-window scheme (one
    // bucket per group) — the pre-round-7 formulation, our reference
    val sortedRef = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((g, p) <- reference.keys) {
      val vs = sortedRef(g)
      val r = ((p.toLong * vs.length + 99) / 100).toInt
      assert(reference((g, p)) == vs(r - 1), s"reference wrong at ($g, $p)")
    }
    for (b <- Seq(2, 7, 64, 1024)) {
      val got = Relational.groupedQuantiles(df, $"g", $"v", pcts, numBuckets = b)
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got == reference, s"numBuckets=$b diverged from the plain window")
    }
  }

  test("corpusDupStats counts exact dups per source") {
    val docs = Seq(
      (1L, "a", "same text"), (2L, "a", "same text"), (3L, "a", "other"),
      (4L, "b", "unique one"), (5L, "b", "unique two")).toDF("doc_id", "source", "text")
    val got = Dedup.corpusDupStats(docs, $"source", $"doc_id", $"text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(got("a") == ((3L, 2L, 0.3333)))
    assert(got("b") == ((2L, 2L, 0.0)))
  }

  test("correlationMatrix matches a direct computation; pairwise deletion; zero variance is NULL") {
    // y = 2x exactly (r = 1), z = -x (r = -1 with both), c constant (NULL
    // against everything), and one row where y is NULL (pairwise deletion:
    // the (x, z) pair still counts it)
    val df = Seq(
      (1.0, Some(2.0), -1.0, 7.0),
      (2.0, Some(4.0), -2.0, 7.0),
      (3.0, None, -3.0, 7.0),
      (4.0, Some(8.0), -4.0, 7.0)).toDF("x", "y", "z", "c")
    val got = Relational.correlationMatrix(df, Seq(
        "x" -> $"x", "y" -> $"y", "z" -> $"z", "c" -> $"c"), scale = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(got(("x", "y")) == ((3L, Some(1.0))), "perfect positive")
    assert(got(("x", "z")) == ((4L, Some(-1.0))), "perfect negative, all 4 rows")
    assert(got(("y", "z")) == ((3L, Some(-1.0))))
    assert(got(("x", "c")) == ((4L, None)), "constant column has no correlation")
    assert(got(("y", "c"))._2.isEmpty && got(("z", "c"))._2.isEmpty)
    assert(got.size == 6, "all unordered pairs present")
  }

  test("correlationMatrix agrees with the textbook formula on real data, any partitioning") {
    val li = graft.sources.Readers.table(spark, sf, "lineitem")
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.correlationMatrix(d, Seq(
          "l_quantity" -> $"l_quantity", "l_extendedprice" -> $"l_extendedprice",
          "l_discount" -> $"l_discount"), scale = 2)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    val got = run(li)
    assert(got == run(li.repartition(13)), "partitioning changed the bits")
    // independent driver-side reference on the same rounded-double inputs
    val rows = li.select($"l_quantity".cast("double"),
      $"l_extendedprice".cast("double")).as[(Double, Double)].collect()
    val n = rows.length.toDouble
    val (sx, sy) = (rows.map(_._1).sum, rows.map(_._2).sum)
    val sxy = rows.map(p => p._1 * p._2).sum
    val (sxx, syy) = (rows.map(p => p._1 * p._1).sum, rows.map(p => p._2 * p._2).sum)
    val want = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    // the operator emits round-half-up to 4 digits; the double-summed
    // reference can sit a few ulps off the exact-decimal moments, so
    // compare at the emitted grain with a half-grain tolerance
    assert(math.abs(got(("l_quantity", "l_extendedprice")) - want) < 5e-5,
      s"got ${got(("l_quantity", "l_extendedprice"))} want ~$want")
  }

  test("ngramContainmentPairs: a quoted subset scores 1.0 where jaccard dilutes; cap >= corpus is exact") {
    val quote = "alpha beta gamma delta epsilon"
    val article = quote + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, article), (2L, quote), (3L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, $"doc_id", $"text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont == Map((1L, 2L) -> 1.0),
      "the quote's every shingle is in the article; unrelated docs absent")
    val jac = Dedup.ngramJaccardPairs(docs, $"doc_id", $"text", 3, 0.5).count()
    assert(jac == 0, "jaccard at the same threshold misses the subset pair")
    val capped = Dedup.ngramContainmentPairs(docs, $"doc_id", $"text", 3, 0.5,
      maxDocFreq = 1000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped == cont, "cap >= corpus must equal the uncapped result")
  }

  test("ngramContainmentPairs df cap only lowers scores (lower-bound contract)") {
    val docs = graft.sources.Readers.table(spark, sf, "documents")
    val exact = Dedup.ngramContainmentPairs(docs, $"doc_id", $"text", 3, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.ngramContainmentPairs(docs, $"doc_id", $"text", 3, 0.0,
        maxDocFreq = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped.nonEmpty && capped.keySet.subsetOf(exact.keySet))
    for ((k, v) <- capped)
      assert(v <= exact(k) + 1e-12, s"cap raised the score for $k")
  }

  test("loud guards: out-of-range profiles and fractional prefix weights fail fast") {
    import graft.operators.Relational
    // epoch-millis-scale values exceed DECIMAL(12,2): the non-ANSI cast
    // would silently NULL them out of the moment sums — must throw instead
    val big = Seq(("a", 1.7e12), ("a", 2.0)).toDF("g", "v")
    val e1 = intercept[Exception] {
      Relational.describeProfile(big, Seq("v" -> $"v")).collect()
    }
    assert(e1.getMessage.contains("describeProfile") ||
      Option(e1.getCause).exists(_.getMessage.contains("describeProfile")), e1.getMessage)
    val e2 = intercept[Exception] {
      Relational.correlationMatrix(
        Seq((1.0e17, 1.0), (2.0, 2.0)).toDF("x", "y"),
        Seq("x" -> $"x", "y" -> $"y")).collect()
    }
    // r15: the LONG-path rounding expression throws first for the same
    // inputs the old max-abs assert aborted on — still loud, earlier
    // message (graft_double_to_scaled_long names the supported range)
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e2).exists(m => m.contains("correlationMatrix") ||
      m.contains("graft_double_to_scaled_long")), chain(e2).mkString(" | "))
    // fractional weights would truncate to 0 inside the long cast
    val frac = Seq(("a", 1L, 0.7)).toDF("p", "o", "w")
    val e3 = intercept[IllegalArgumentException] {
      Relational.prefixSum(frac, $"p", $"o", $"w", 64)
    }
    assert(e3.getMessage.contains("integral"))
  }

  test("describeObjectProfile matches a hand-computed reference (nulls, ties, casts)") {
    // col a: b×2, a×2, null → tie at 2 broken lexicographically ('a');
    // col b: all distinct → every value tied at 1, top = min;
    // col c: ints cast to string — '10' sorts BEFORE '9' (string order)
    val df = Seq(
      (Option("b"), "x", 9),
      (Option("b"), "y", 10),
      (Option("a"), "z", 10),
      (Option("a"), "w", 10),
      (None: Option[String], "v", 9))
      .toDF("a", "b", "c")
    val got = graft.operators.Relational.describeObjectProfile(df, Seq(
        "a" -> $"a", "b" -> $"b", "c" -> $"c"))
      .orderBy("column_name")
      .as[(String, Long, Long, String, Long)].collect().toSeq
    val want = Seq(
      ("a", 4L, 2L, "a", 2L),
      ("b", 5L, 5L, "v", 1L),
      ("c", 5L, 2L, "10", 3L))
    assert(got == want, s"\ngot:  $got\nwant: $want")
  }

  test("simhashPairs: NULL-text docs never band (no null-sig clique blowup), exact dups still pair") {
    val docs = Seq(
      (1L, Option("a b c d")), (2L, Option("a b c d")),
      (3L, None: Option[String]), (4L, None: Option[String]),
      (5L, None: Option[String]))
      .toDF("doc_id", "text")
    // struct equality treats null fields as equal, so without the sig
    // filter the three null-text docs would band together and self-join
    // quadratically; with it they simply emit nothing
    val got = Dedup.simhashPairs(docs, $"doc_id", $"text", 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("connectedComponents fails loudly (and releases its checkpoints) when the diameter exceeds maxIters") {
    // a 64-node chain needs 6 rounds; maxIters=1 cannot converge — the
    // operator must throw, not return partial labels
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    // compared by id: the ContextCleaner may drop an earlier test's blocks
    // meanwhile, so a size comparison could miss a leak or flag none
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "a", "b", maxIters = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"the failed run left checkpoint blocks behind: RDDs $left")
  }

  /** Driver-side union-find: every endpoint labelled with the least id of
    * its component — the reference connectedComponents must equal.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def components(edges: Seq[(Long, Long)], maxIters: Int = 20): Map[Long, Long] = {
    val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIters)
      .as[(Long, Long)].collect()
    assert(got.map(_._1).distinct.length == got.length, "one row per node")
    got.toMap
  }

  private def shuffledPath(n: Int, seed: Int): Seq[(Long, Long)] = {
    val ids = new scala.util.Random(seed).shuffle((0L until n.toLong).toVector)
    ids.sliding(2).map(p => (p(0), p(1))).toSeq
  }

  test("connectedComponents converges on a 64-node path with shuffled ids within the default maxIters") {
    // ids do not increase along this path: the round count must not
    // depend on id order
    val path = shuffledPath(64, 7)
    assert(components(path) == unionFind(path))
  }

  test("connectedComponents matches union-find on a 4096-node shuffled path") {
    val path = shuffledPath(4096, 11)
    assert(components(path) == unionFind(path))
  }

  test("connectedComponents matches union-find with duplicate and reversed edges") {
    val rnd = new scala.util.Random(3)
    for (graph <- 1 to 4) {
      val edges = Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
      val dup = edges ++ edges.take(20) ++ edges.take(10).map(_.swap)
      assert(components(dup) == unionFind(dup), s"graph $graph")
    }
    // every pair oriented a > b
    val reversed = Seq((9L, 3L), (3L, 1L), (7L, 5L), (8L, 7L), (5L, 2L))
    assert(components(reversed) == unionFind(reversed))
    assert(components(reversed) ==
      Map(9L -> 1L, 3L -> 1L, 1L -> 1L, 8L -> 2L, 7L -> 2L, 5L -> 2L, 2L -> 2L))
  }

  test("connectedComponents: a self-loop makes its node a component of its own") {
    val edges = Seq((3L, 3L), (1L, 2L), (4L, 4L), (4L, 6L), (6L, 6L))
    assert(components(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 6L -> 4L))
    // a self-loop beside a path that takes several rounds
    val path = shuffledPath(64, 5) :+ ((100L, 100L))
    assert(components(path) == unionFind(path))
  }

  test("connectedComponents: a NULL endpoint links nothing and reports its partner's component") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (null, 5L), (3L, null), (3L, 4L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b").collect()
      .map(r => (Option(r.get(0)), r.getLong(1))).toSet
    assert(got == Set((Some(1L), 1L), (Some(2L), 1L), (Some(3L), 3L), (Some(4L), 3L),
      (Some(5L), 5L), (None, 3L)))
  }

  test("contaminationGramReport counts distinct docs per leaked gram, held-only grams excluded") {
    // held doc 10 shares "a b c" with train 1 and 2 (boilerplate: wide
    // reach) and "x y z" with train 3 only (narrow leak); "q r s" exists
    // only in held -> not leaked; "m n o" only in train -> not leaked
    val docs = Seq(
      (1L, "a b c one", false),
      (2L, "pre a b c", false),
      (3L, "x y z two", false),
      (4L, "m n o three", false),
      (10L, "a b c then x y z and q r s", true),
      (11L, "a b c again", true))
      .toDF("doc_id", "text", "held")
    val got = Dedup.contaminationGramReport(docs, $"doc_id", $"text", $"held", 3, 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(got.head == ("a b c", 2L, 2L), s"widest leak first: $got")
    assert(got.contains(("x y z", 1L, 1L)))
    assert(!got.exists(_._1 == "q r s") && !got.exists(_._1 == "m n o"),
      "one-sided grams are not leaks")
    // ordering is total: count desc then gram asc
    assert(got == got.sortBy(t => (-t._2, t._1)))
  }

  test("editDistancePairs confirms blocked candidates at the true edit distance") {
    // 12 shared tokens block the pair; "gamma"->"gamXa" (1 sub) +
    // " extra" appended (6 inserts) = distance 7
    val base = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base + " gamma"),
      (2L, base + " gamXa extra"),
      (3L, "unrelated words entirely different content here now ok"))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, $"doc_id", $"text", 6, 10, minCommon = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 7L), s"got $got")
    // maxDist below the true distance: the banded DP itself must prune
    assert(Dedup.editDistancePairs(docs, $"doc_id", $"text", 6, 6,
      minCommon = 2L).count() == 0)
  }

  test("editDistanceConfirm composes over LSH candidates; pairs = confirm(blocked candidates)") {
    val base = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base + " gamma"),
      (2L, base + " gamXa extra"),
      (3L, "unrelated words entirely different content here now ok"))
      .toDF("doc_id", "text")
    // LSH (near-identical docs collide in some band) as the candidate
    // generator, confirm unchanged — the wide-family production seam
    val lshCand = Dedup.minhashLshPairs(docs, $"doc_id", $"text",
      shingleN = 3, numPerms = 32, rowsPerBand = 4, minEstJaccard = 0.3)
    val viaLsh = Dedup.editDistanceConfirm(lshCand, docs, $"doc_id", $"text", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaLsh == Map((1L, 2L) -> 7L), s"got $viaLsh")
    // and the one-call operator IS confirm over its own blocked candidates
    val direct = Dedup.editDistancePairs(docs, $"doc_id", $"text", 6, 10,
      minCommon = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(direct == viaLsh)
  }

  test("editDistancePairs length prefilter cannot drop a confirmable pair") {
    // doc 2 = doc 1 + 30 appended chars: length gap 30 > maxDist 10 means
    // the pair is UNCONFIRMABLE (dist >= 30) — pruned before the DP, and
    // the emitted set equals the unpruned formulation's
    val base = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " " + ("x" * 29)), // gap 30
      (3L, base + " yz")) // gap 3: confirmable at dist 3
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, $"doc_id", $"text", 5, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.contains((1L, 3L)) && got((1L, 3L)) == 3L)
    assert(!got.contains((1L, 2L)), "gap > maxDist pair must be pruned")
    assert(got.contains((2L, 3L)) == (got.get((2L, 3L)).exists(_ <= 10)))
    // df cap keeps a subset (candidate generation only shrinks)
    val capped = Dedup.editDistancePairs(docs, $"doc_id", $"text", 5, 10,
      maxDocFreq = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped.keySet.subsetOf(got.keySet))
    for ((k, v) <- capped) assert(v == got(k), "confirmed distance is cap-independent")
  }

  test("semanticDecontaminate drops the vectors the held-out slice duplicates, keeps the rest") {
    // cell seeds are the 2 lowest-id TRAIN vectors (k=2, iters=0): e1/e2
    // axes. Train 1,2,3 + a zero vector; held-out 100 == train 3 (same
    // cell, cos 1.0 -> train 3 dropped). Nearby non-duplicates stay:
    // cos(train 1, held 100) = .9/sqrt(.82) -> 0.994 and
    // cos(train 2, held 101) = .9/sqrt(.83) -> 0.988, both under the
    // 0.995 bar
    val train = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.9f, 0.1f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val held = Seq(
      (100L, Seq(0.9f, 0.1f, 0.0f)),
      (101L, Seq(0.1f, 0.9f, 0.1f))).toDF("vec_id", "embedding")
    val got = Dedup.semanticDecontaminate(train, held, "vec_id", "embedding",
        k = 2, iters = 0, minCos = 0.995)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2)))).toMap
    assert(got(3L)._2 == false, "exact held-out duplicate must be dropped")
    assert(got(1L)._2 && got(2L)._2, "sub-threshold train vectors kept")
    assert(got(4L) == ((None, true)), "zero-norm: NULL cell, kept")
    assert(got.size == 4, "one verdict per train vector, held-out not in output")
  }

  test("thresholdSweep equals per-threshold brute force; NULL scores excluded") {
    val df = Seq((1L, Some(10L), 5L), (2L, Some(20L), 7L), (3L, Some(10L), 1L),
        (4L, Some(30L), 2L), (5L, None, 99L))
      .toDF("doc_id", "score", "w")
    val got = Scoring.thresholdSweep(df, $"score", $"w")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      30L -> ((1L, 1L, 2L)),
      20L -> ((1L, 2L, 9L)),
      10L -> ((2L, 4L, 15L))), s"got $got")
    // brute force: each observed threshold's filter must agree
    val base = df.filter($"score".isNotNull)
    for (t <- Seq(10L, 20L, 30L)) {
      val kept = base.filter($"score" >= t)
      assert(got(t)._2 == kept.count())
      assert(got(t)._3 == kept.agg(sum($"w")).head().getLong(0))
    }
  }

  test("embeddingCosinePairs slice salting is result-invariant (r9 sf10 fix)") {
    // the salted pair join (blk × slices keys, bounded buffers) must emit
    // the EXACT pair set of the unsalted blk-equi-join it replaces — on
    // real corpus data, where every label block is > slices wide
    val embs = graft.sources.Readers.table(spark, "/root/testdata/sf0.01", "embeddings")
    val unsalted = Dedup.embeddingCosinePairs(
      embs, $"vec_id", $"embedding", $"label", 0.3, slices = 1)
    val salted = Dedup.embeddingCosinePairs(
      embs, $"vec_id", $"embedding", $"label", 0.3, slices = 16)
    val a = unsalted.collect().map(_.toSeq).toSet
    val b = salted.collect().map(_.toSeq).toSet
    assert(a.nonEmpty, "equivalence check must cover a non-empty pair set")
    assert(a == b, s"salted/unsalted diverge: ${(a diff b).take(3)} / ${(b diff a).take(3)}")
  }
}
