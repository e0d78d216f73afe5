package graft

import graft.plans.{CharGramHashes, CosineSimilarity, EditDistance, LshBucketKey, MinHashSignature, NearestIndex, PqApproxScore, RollingFingerprint, ShingleHashes, ShingleMinHash, SignatureAgreement, SimHash64}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extensions: expose the native expressions to SQL users
  * (`SELECT graft_cosine(a.embedding, b.embedding) ...`), plan the native
  * as-of join, and sort a one-task input in place ([[graft.plans.OneTaskSort]]).
  * Registered via `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * Builders validate arity up front: a wrong argument count must produce
  * the function's usage string, not a raw IndexOutOfBoundsException from
  * `args(i)` deep in analysis.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def arity(name: String, usage: String, args: Seq[Expression],
                    min: Int, max: Int): Unit =
    if (args.size < min || args.size > max)
      throw new IllegalArgumentException(
        s"$name expects $usage, got ${args.size} argument(s)")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectQueryStagePrepRule(graft.plans.OneTaskSort(_))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (args: Seq[Expression]) => {
        arity("graft_cosine", "(vecA, vecB)", args, 2, 2)
        CosineSimilarity(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        arity("graft_minhash", "(shingles, numPerms)", args, 2, 2)
        val k = args(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_minhash(arr, numPerms): numPerms must be an int literal, got $other")
        }
        MinHashSignature(args.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => {
        arity("graft_simhash", "(tokens)", args, 1, 1)
        SimHash64(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_key"),
      new ExpressionInfo(classOf[LshBucketKey].getName, "graft_lsh_key"),
      (args: Seq[Expression]) => {
        arity("graft_lsh_key", "(vec, numPlanes[, seed])", args, 2, 3)
        def intLit(e: Expression, what: String): Long = e match {
          case Literal(v: Int, _) => v.toLong
          case Literal(v: Long, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_lsh_key: $what must be an integer literal, got $other")
        }
        val planes = intLit(args(1), "numPlanes")
        // range-check on the Long BEFORE .toInt — 2^32+16 would silently
        // wrap to 16 planes (LshBucketKey's own require then re-validates)
        if (planes < 1 || planes > 64) throw new IllegalArgumentException(
          s"graft_lsh_key supports 1..64 planes, got $planes")
        LshBucketKey(args.head, planes.toInt,
          if (args.size > 2) intLit(args(2), "seed") else 42L)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nearest"),
      new ExpressionInfo(classOf[NearestIndex].getName, "graft_nearest"),
      (args: Seq[Expression]) => {
        arity("graft_nearest", "(vec, candidates[, metric])", args, 2, 3)
        val metric = if (args.size < 3) "cosine" else args(2) match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_nearest: metric must be a string literal, got $other")
        }
        NearestIndex(args(0), args(1), metric)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_score"),
      new ExpressionInfo(classOf[PqApproxScore].getName, "graft_pq_score"),
      (args: Seq[Expression]) => {
        arity("graft_pq_score", "(codes, lut)", args, 2, 2)
        PqApproxScore(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[RollingFingerprint].getName, "graft_fingerprint"),
      (args: Seq[Expression]) => {
        arity("graft_fingerprint", "(text)", args, 1, 1)
        RollingFingerprint(args.head)
      }))
    def intLitArg(name: String, e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$name: $what must be an int literal, got $other")
    }
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_text"),
      new ExpressionInfo(classOf[ShingleMinHash].getName, "graft_minhash_text"),
      (args: Seq[Expression]) => {
        arity("graft_minhash_text", "(text, shingleN, numPerms)", args, 3, 3)
        ShingleMinHash(args.head,
          intLitArg("graft_minhash_text", args(1), "shingleN"),
          intLitArg("graft_minhash_text", args(2), "numPerms"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) => {
        arity("graft_shingle_hashes", "(text, shingleN)", args, 2, 2)
        ShingleHashes(args.head,
          intLitArg("graft_shingle_hashes", args(1), "shingleN"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_chargram_hashes"),
      new ExpressionInfo(classOf[CharGramHashes].getName, "graft_chargram_hashes"),
      (args: Seq[Expression]) => {
        arity("graft_chargram_hashes", "(text, gramN)", args, 2, 2)
        CharGramHashes(args.head,
          intLitArg("graft_chargram_hashes", args(1), "gramN"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_chargram_hash_seq"),
      new ExpressionInfo(classOf[graft.plans.CharGramHashSeq].getName,
        "graft_chargram_hash_seq"),
      (args: Seq[Expression]) => {
        arity("graft_chargram_hash_seq", "(text, gramN)", args, 2, 2)
        graft.plans.CharGramHashSeq(args.head,
          intLitArg("graft_chargram_hash_seq", args(1), "gramN"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_script_counts"),
      new ExpressionInfo(classOf[graft.plans.ScriptCounts].getName,
        "graft_script_counts"),
      (args: Seq[Expression]) => {
        arity("graft_script_counts", "(text)", args, 1, 1)
        graft.plans.ScriptCounts(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sig_agree"),
      new ExpressionInfo(classOf[SignatureAgreement].getName, "graft_sig_agree"),
      (args: Seq[Expression]) => {
        arity("graft_sig_agree", "(sigA, sigB)", args, 2, 2)
        SignatureAgreement(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_edit_distance"),
      new ExpressionInfo(classOf[EditDistance].getName, "graft_edit_distance"),
      (args: Seq[Expression]) => {
        arity("graft_edit_distance", "(textA, textB, maxDist)", args, 3, 3)
        EditDistance(args(0), args(1),
          intLitArg("graft_edit_distance", args(2), "maxDist"))
      }))
    // aggregates register the raw AggregateFunction — the analyzer wraps it
    // in an AggregateExpression during UnresolvedFunction resolution, the
    // same path Spark's built-in aggregate registry entries take
    ext.injectFunction((
      FunctionIdentifier("graft_count_min"),
      new ExpressionInfo(classOf[graft.plans.CountMinAgg].getName,
        "graft_count_min"),
      (args: Seq[Expression]) => {
        arity("graft_count_min", "(tokens, depth, width)", args, 3, 3)
        graft.plans.CountMinAgg(args.head,
          intLitArg("graft_count_min", args(1), "depth"),
          intLitArg("graft_count_min", args(2), "width"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_misra_gries"),
      new ExpressionInfo(classOf[graft.plans.MisraGriesAgg].getName,
        "graft_misra_gries"),
      (args: Seq[Expression]) => {
        arity("graft_misra_gries", "(tokens, k)", args, 2, 2)
        graft.plans.MisraGriesAgg(args.head,
          intLitArg("graft_misra_gries", args(1), "k"))
      }))
  }
}
