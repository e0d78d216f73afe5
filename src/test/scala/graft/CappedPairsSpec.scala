package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused spec for [[graft.plans.DfCappedPairsAgg]] — the r15 one-pass
  * df-capped pair generation (q52/q108 and the capped containment path).
  * The optimization-round rule: an optimization that changes an operator's
  * internals gets its own test. What must hold:
  *
  *  1. the one-pass aggregate's output equals the old count-then-join
  *     shape's (here spelled as the still-shipping high-cap fallback and
  *     the uncapped twin) on a corpus that exercises BOTH branch outcomes
  *     (buckets under and over the cap);
  *  2. the cap EXCLUDES buckets with df > maxDf even when the over-cap
  *     rows arrive spread across many partitions (saturation must survive
  *     partial-buffer merges — the classic mergeable-summary hazard);
  *  3. the df counts every row while storage skips NULL ids (count/
  *     collect_list parity with the old shape);
  *  4. a bucket at EXACTLY the cap is kept complete (off-by-one at the
  *     boundary is the classic regression here).
  */
class CappedPairsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("one-pass capped jaccard equals the uncapped twin when no bucket is over the cap") {
    // 6 docs, small shared vocabulary; every shingle's df <= 6 << cap 50
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "a b c d e f"),
      (4L, "x y z w v u"), (5L, "x y z w v t"), (6L, "p q r s t u")
    ).toDF("doc_id", "text")
    val exact = graft.operators.Dedup
      .ngramJaccardPairs(docs, $"doc_id", $"text", 3, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val onePass = graft.operators.Dedup
      .ngramJaccardPairsCapped(docs, $"doc_id", $"text", 3, 0.0, maxDocFreq = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(onePass == exact,
      "with every df under the cap the capped one-pass result must equal the exact twin")
  }

  test("one-pass path equals the high-cap fallback path on a mixed-df corpus") {
    // a boilerplate phrase shared by ALL docs (df = 12 — over cap 8) plus
    // per-pair distinctive overlap (df = 2): the one-pass aggregate at cap
    // 8 must equal the fallback shape at the same cap (df-filter semantics
    // identical), both scoring only the under-cap shingles
    val docs = (0 until 12).map { i =>
      val pair = i / 2 // 6 twin pairs sharing their distinctive tail
      (i.toLong, s"common boiler plate header text pair$pair tail$pair end$pair")
    }.toDF("doc_id", "text")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val onePass = collect(graft.operators.Dedup
      .ngramJaccardPairsCapped(docs, $"doc_id", $"text", 3, 0.0, maxDocFreq = 8L))
    // the fallback branch engages above MaxSupportedDf; drive it directly
    // at the same semantic cap by re-deriving its shape from the uncapped
    // twin: a shingle with df > 8 contributes nothing
    val sh = docs.select($"doc_id",
      explode(graft.plans.NativeFns.shingleHashes($"text", 3)).as("sh_h"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val rare = sh.groupBy($"sh_h").agg(count(lit(1)).as("df"))
      .filter($"df" <= 8L).select($"sh_h")
    val blocked = sh.join(rare, "sh_h")
    val oldShape = collect(blocked.as("a")
      .join(blocked.as("b"),
        col("a.sh_h") === col("b.sh_h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.NumFns.roundHalfUp(col("n_common").cast("double") /
          (col("sa.n_sh") + col("sb.n_sh") - col("n_common")).cast("double"), 4)
          .as("jaccard")))
    assert(onePass == oldShape,
      "one-pass aggregate must reproduce the r14 count-then-join shape exactly")
    assert(onePass.nonEmpty, "the mixed-df corpus must actually produce pairs")
  }

  test("saturation survives merges: over-cap buckets excluded under any partitioning") {
    // one shingle in 40 docs, cap 10 — with the input spread over 4
    // partitions each partial stores <= 10+1 entries and the merged count
    // must still prove df=40 > 10, emitting NOTHING. Distinctive pairs in
    // the same corpus must still come through.
    val docs = ((0 until 40).map(i => (i.toLong, s"the same shared phrase here d$i x$i y$i")) ++
      Seq((100L, "unique pair alpha beta gamma"), (101L, "unique pair alpha beta delta")))
      .toDF("doc_id", "text").repartition(4)
    val got = graft.operators.Dedup
      .ngramJaccardPairsCapped(docs, $"doc_id", $"text", 3, 0.0, maxDocFreq = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall { case (a, b) => a >= 100L && b >= 100L },
      s"the df=40 shared-phrase shingles must be capped out entirely, got $got")
    assert(got.contains((100L, 101L)),
      "the df=2 distinctive shingles must still pair the planted twins")
  }

  test("a bucket at exactly the cap is kept complete (boundary off-by-one)") {
    // one shingle in exactly `cap` docs: every one of cap*(cap-1)/2 pairs
    // must be emitted; at cap-1 the same corpus with one more doc loses all
    val cap = 7
    def corpus(n: Int) = (0 until n)
      .map(i => (i.toLong, s"boundary shared trigram text t$i u$i v$i"))
      .toDF("doc_id", "text").repartition(3)
    val atCap = graft.operators.Dedup
      .ngramJaccardPairsCapped(corpus(cap), $"doc_id", $"text", 3, 0.0, cap.toLong)
      .collect()
    assert(atCap.length == cap * (cap - 1) / 2,
      s"df == cap must keep the bucket whole: want ${cap * (cap - 1) / 2} pairs, got ${atCap.length}")
    val overCap = graft.operators.Dedup
      .ngramJaccardPairsCapped(corpus(cap + 1), $"doc_id", $"text", 3, 0.0, cap.toLong)
      .collect()
    assert(overCap.isEmpty,
      s"df == cap+1 must drop the bucket entirely, got ${overCap.length} pairs")
  }

  test("null text rows neither pair nor poison the aggregate") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .ngramJaccardPairsCapped(docs, $"doc_id", $"text", 3, 0.0, maxDocFreq = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("capped containment through the one-pass path equals its self-join twin") {
    val docs = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four"), // subset: containment 1.0, low jaccard
      (3L, "nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val onePass = graft.operators.Dedup
      .ngramContainmentPairs(docs, $"doc_id", $"text", 3, 0.0, maxDocFreq = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = graft.operators.Dedup
      .ngramContainmentPairs(docs, $"doc_id", $"text", 3, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(onePass == uncapped,
      "no bucket is over cap 50 here, so capped == uncapped containment")
    assert(onePass.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
      "the quoted subset must score containment 1.0")
  }

  test("a df cap below 1 keeps no shingle: both capped variants return no pairs") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val Dedup = graft.operators.Dedup
    for (cap <- Seq(0L, -1L)) {
      val jaccard = Dedup.ngramJaccardPairsCapped(docs, $"doc_id", $"text", 3, 0.0, maxDocFreq = cap)
      val containment = Dedup.ngramContainmentPairs(docs, $"doc_id", $"text", 3, 0.0, maxDocFreq = cap)
      assert(jaccard.isEmpty && containment.isEmpty, s"cap $cap emitted pairs")
      assert(jaccard.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"))
      assert(containment.columns.toSeq == Seq("doc_a", "doc_b", "containment"))
    }
    // the same documents pair at any cap that keeps their shingles
    assert(!Dedup.ngramJaccardPairsCapped(docs, $"doc_id", $"text", 3, 0.0, maxDocFreq = 2L).isEmpty)
  }
}
