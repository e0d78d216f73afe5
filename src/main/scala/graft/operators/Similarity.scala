package graft.operators

import graft.plans.NativeFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2b). Brute-force is the correctness baseline; the LSH-bucketed
  * variant is the scale path (candidates only within matching buckets).
  */
object Similarity {

  /** Deterministic top-k per query over a (query_id, neighbor_id, cos)
    * frame: rank over the ROUNDED score with neighbor_id as tiebreaker so
    * the exact baseline and every ANN variant rank identically (and match
    * the DuckDB oracle). This contract lives in exactly one place — the
    * recall specs compare these operators against each other.
    *
    * For k up to `spark.sql.optimizer.windowGroupLimitThreshold` (1000),
    * Spark plans a Partial `WindowGroupLimit` below the per-query exchange,
    * so each map partition ships at most k rows per query.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    Relational.topNPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id")), k)
      .withColumnRenamed("rn", "rnk")

  /** Nearest-centroid cell per corpus vector. Shared by the k-means trainer
    * and the IVF index build so the quantizer and the index can never
    * disagree on cell membership. Emits (nid, cell_id[, v] — vector kept
    * when `carryVec`).
    *
    * Shape: the (small) centroid table is packed into ONE broadcast row of
    * parallel arrays ordered by cell_id, and assignment is a map-side native
    * argmax per corpus row ([[NativeFns.nearestIndex]]) — a pure projection.
    * The composed alternative (corpus × centroids join → `max_by` groupBy)
    * expands the corpus numCells× AND re-shuffles it — full vector payload
    * included when carryVec — exactly the exchange that dominates an index
    * build at 100 TB. Parity with that formulation (spec-asserted via
    * probe-all == brute-force): ties → lowest cell_id (the array ordering),
    * undefined similarities (zero-norm, ragged dims) are skipped, a vector
    * with no defined similarity keeps a NULL cell_id, an empty centroid
    * table assigns nothing (the old inner join's behavior).
    */
  /** The ONE packing of a centroid table into parallel arrays, shared by
    * [[assignCells]] and [[routeToCells]]: `array_sort` over
    * (cell_id, cvec) structs makes array order == ascending cell_id, which
    * IS the argmax tie-break contract ("ties to the lowest cell_id") — a
    * single definition so the batch and streaming assignment paths cannot
    * drift apart.
    */
  private def packCentroids(centroids: DataFrame): DataFrame =
    centroids
      .agg(array_sort(collect_list(struct(col("cell_id"), col("cvec")))).as("cs"))
      .select(col("cs.cell_id").as("cids"), col("cs.cvec").as("cvecs"))

  /** The centroid table COLLECTED through [[packCentroids]]: (cids, cvecs)
    * parallel seqs ordered by cell_id. A centroid table is bounded by
    * construction (the quantizer's k), so this is a MODEL collect — the
    * routeToCells / blocklist-literal precedent, not a data collect. r14
    * (guide §2.4, remove shuffles outright): inlining the model as literals
    * deletes, per consumer, the packing aggregate's two exchanges + the
    * broadcast exchange + their AQE stage jobs — the assignment itself was
    * already a map-side projection and is unchanged.
    */
  private def collectCentroids(centroids: DataFrame): (Seq[Long], Seq[Seq[Float]]) = {
    val packed = packCentroids(centroids).head()
    // deep-copy to immutable Vectors: typedlit's Seq encoder rejects the
    // mutable ArraySeq views Row.getSeq returns (Scala 2.13 Seq = immutable)
    val out = (packed.getSeq[Long](0).toVector,
      packed.getSeq[scala.collection.Seq[Float]](1).toVector
        .map(s => if (s == null) null else s.toVector))
    // loud size guard (advisor r14): this is a MODEL collect by contract —
    // an unexpectedly large "centroid" table (someone passing postings as
    // the quantizer) must fail with a clear message, not balloon the plan's
    // literals and task binaries until something else falls over
    val elems = out._1.size.toLong * out._2.headOption.map(v =>
      if (v == null) 1 else v.size).getOrElse(1).toLong
    require(out._1.size <= ModelLitMaxRows && elems <= ModelLitMaxElems,
      s"collectCentroids: ${out._1.size} rows / ~$elems floats exceed the " +
        s"model-literal bounds ($ModelLitMaxRows rows / $ModelLitMaxElems " +
        "elements) — this API inlines MODELS, not data; a table this large " +
        "is almost certainly not a quantizer")
    out
  }

  /** Model-literal bounds for [[collectCentroids]] / [[pqPackLit]]: far
    * above any sane quantizer (contract knobs: k ≤ 16 cells, codebooks ≤
    * numSub × 256), far below anything that would bloat plans/binaries.
    */
  private val ModelLitMaxRows = 1 << 16
  private val ModelLitMaxElems = 1L << 24

  private def assignCells(corpus: DataFrame, centroids: DataFrame,
                          idCol: String, vecCol: String,
                          carryVec: Boolean): DataFrame = {
    val (cids, cvecs) = collectCentroids(centroids)
    // empty centroid table assigns nothing (the old inner-join behavior):
    // emit the correctly-typed empty relation rather than scanning
    if (cids.isEmpty) {
      val cols = Seq(col(idCol).as("nid"), lit(null).cast("long").as("cell_id")) ++
        (if (carryVec) Seq(col(vecCol).as("v")) else Nil)
      return corpus.select(cols: _*).limit(0)
    }
    val cell = get(typedlit(cids),
      NativeFns.nearestIndex(col(vecCol), typedlit(cvecs), "cosine"))
    val cols = Seq(col(idCol).as("nid"), cell.as("cell_id")) ++
      (if (carryVec) Seq(col(vecCol).as("v")) else Nil)
    corpus.select(cols: _*)
  }

  /** Brute-force cosine top-k: queries × corpus scored pairwise, then
    * row_number per query. The query set is small and broadcast; the corpus
    * is never collected. Ranking is over the *rounded* score with the
    * neighbor id as tiebreaker so results are deterministic across engines.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val scored = corpus.as("c")
      .join(broadcast(queries.as("q")),
        col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"),
        round(NativeFns.cosineSim(col(s"q.$vecCol"), col(s"c.$vecCol")), 4).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Deterministic fixed-size training sample: the `n` vectors with the
    * smallest xxhash64(id) — a pseudo-random draw with no RNG, independent
    * of partition layout, so specs and reruns agree. Plans as
    * TakeOrderedAndProject: each input partition keeps an ≤n heap, only the
    * pruned survivors reach the merge — the corpus is never shuffled.
    * `Int.MaxValue` (or any n ≥ corpus) degenerates to the full corpus,
    * merely re-ordered — and Lloyd assignment/means are order-independent,
    * so results are then IDENTICAL to full-corpus training.
    */
  private def trainSampleOf(corpus: DataFrame, idCol: String, n: Int): DataFrame =
    if (n == Int.MaxValue) corpus
    else corpus.orderBy(xxhash64(col(idCol)), col(idCol)).limit(n)

  /** Coarse quantizer for [[ivfTopK]]: Lloyd k-means with deterministic
    * seeding (first `k` corpus vectors by id — no RNG, so specs and reruns
    * are stable). Each iteration is one broadcast assignment pass over the
    * TRAINING SAMPLE (`trainSample` hash-selected vectors — quantizer
    * quality needs a representative draw, not the corpus; FAISS trains on
    * O(100k) points regardless of index size) plus one element-wise mean
    * (posexplode → groupBy (cell, dim) — a sample×dim shuffle of scalars).
    * Cells that end an iteration empty simply drop out (standard Lloyd
    * behavior); intermediate centroid tables are checkpointed per iteration
    * and released.
    *
    * EAGER (r14, documented per advisor r14): the driver-side Lloyd loop
    * runs its training Spark jobs AT CALL TIME — this is a training entry
    * point, not a lazy plan constructor. Callers that only want to build
    * or explain a downstream plan still pay (and can fail on) the full
    * training here; [[trainPqCodebook]] has the same contract. The
    * returned centroid table is a LocalRelation.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int, trainSample: Int = 65536): DataFrame = {
    // the sample feeds EVERY Lloyd round: left lazy, each round's job
    // would re-run the corpus-sized TakeOrdered from scratch — checkpoint
    // it once so rounds are O(sample) as documented (released on return).
    // iters <= 1 consumes the sample in exactly ONE round job, so the
    // checkpoint's own materialization job would be pure overhead there
    // (r12, part of the q97 protocol trim) — checkpoint only when a
    // second round exists to amortize it
    val (trainDf, trainBlocks) =
      if (iters <= 1) (trainSampleOf(corpus, idCol, trainSample), Seq.empty[org.apache.spark.rdd.RDD[_]])
      else Checkpoints.tracked(trainSampleOf(corpus, idCol, trainSample))
    // r14 (guide §2.4 / §1.2 "the distributed algorithm"): the centroid
    // table is ≤ k rows by construction — a MODEL, not data — so the Lloyd
    // loop now lives on the DRIVER: seeds are one bounded TakeOrdered
    // collect, each round is ONE distributed mean-aggregation job whose
    // ≤ k-row result is collected, and the returned table is a
    // LocalRelation. This deletes, per round, the localCheckpoint
    // materialization job and its 2-exchange aggregate re-execution inside
    // every downstream broadcast, and makes every consumer's packing
    // (collectCentroids) a local no-op. Float means are averaged in the
    // same one-level groupBy as before, so per-round centroid values are
    // unchanged from the checkpointed formulation.
    val seedRows = corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long").as("cell_id"),
        col(vecCol).cast("array<float>").as("cvec"))
      .collect()
    // a non-numeric id would cast to a NULL cell_id for EVERY seed, and
    // the per-round isNotNull filter would then silently empty the
    // centroid table — fail loudly instead (the id must be castable)
    require(seedRows.forall(!_.isNullAt(0)),
      s"kmeansCentroids: $idCol must cast to long for cell ids — " +
        "non-numeric ids would silently empty the centroid table")
    var cent: Seq[(Long, Seq[Float])] = seedRows.toSeq.map(r =>
      (r.getLong(0), Option(r.getSeq[Float](1)).map(_.toVector).orNull))
    for (_ <- 0 until iters) {
      val cids = cent.map(_._1)
      val cvecs = cent.map(_._2)
      val assigned = trainDf.select(
        get(typedlit(cids),
          NativeFns.nearestIndex(col(vecCol), typedlit(cvecs), "cosine"))
          .as("cell_id"),
        col(vecCol).as("v"))
      cent = assigned
        // unassignable vectors (NULL cell — zero-norm/ragged, see
        // assignCells) must not coalesce into a phantom NULL-keyed
        // centroid that later scores against real corpus vectors
        .filter(col("cell_id").isNotNull)
        .select(col("cell_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell_id"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cell_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e("m").cast("float")).as("cvec"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1).toVector))
        .sortBy(_._1)
    }
    Checkpoints.release(trainBlocks)
    val spark = corpus.sparkSession
    import spark.implicits._
    cent.toDF("cell_id", "cvec")
      .select(col("cell_id"), col("cvec").cast("array<float>"))
  }

  /** K-means corpus clustering as a first-class op: train centroids
    * ([[kmeansCentroids]] — deterministic first-`k`-by-id seeds +
    * `iters` Lloyd rounds over a fixed-size deterministic sample) and
    * assign EVERY corpus vector to its nearest centroid by cosine.
    * Returns (`idCol`, `cell_id`) — the bucketing table a training-data
    * pipeline joins for topic-stratified sampling/mixing, per-cluster
    * dedup scopes, or IVF-style routing.
    *
    * Shape: assignment is the same zero-shuffle broadcast projection the
    * IVF index build uses ([[assignCells]] → native argmax) — the corpus is
    * scanned once and never shuffled; training cost is O(sample). Ties go
    * to the lowest cell_id; a zero-norm vector (no defined cosine) gets a
    * NULL cell_id.
    *
    * `iters = 0` is the deterministic endpoint (centroids ARE the first
    * `k` vectors by id), which makes the full assignment SQL-expressible —
    * q70_cluster_assign runs it under a DuckDB oracle, hash-checking the
    * packed-broadcast + native-argmax machinery row by row.
    */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int, trainSample: Int = 65536): DataFrame = {
    val centroids = kmeansCentroids(corpus, idCol, vecCol, k, iters, trainSample)
    assignCells(corpus, centroids, idCol, vecCol, carryVec = false)
      .select(col("nid").as(idCol), col("cell_id"))
  }


  /** Stateless nearest-centroid routing — the streaming twin of
    * [[kmeansAssign]]'s assignment phase, and the ingest step of a
    * cluster-partitioned corpus: train centroids batch-side
    * ([[kmeansCentroids]]), then route arriving vectors to cells.
    *
    * The centroid table is collected ONCE (EAGER: runs a job — it is
    * `k` rows by construction) and inlined as LITERAL arrays, the same
    * broadcast-a-sketch pattern as the streaming Bloom decontamination:
    * the routed side then needs no join at all — assignment is a pure
    * map-side projection (native argmax), so it runs identically on a
    * batch DataFrame and on a Structured Streaming micro-batch (no
    * stream-static join, no state store, one scan per micro-batch).
    *
    * Same assignment semantics as [[kmeansAssign]]: ties to the lowest
    * cell_id, zero-norm/ragged vectors get a NULL cell_id (filter or
    * dead-letter them downstream). Requires a non-empty centroid table.
    * `carryVec = true` keeps the vector column in the output — for
    * consumers that score the routed vector against per-cell data
    * (streaming semantic dedup) without re-reading the source.
    */
  def routeToCells(vectors: DataFrame, centroids: DataFrame,
                   idCol: String, vecCol: String,
                   carryVec: Boolean = false): DataFrame = {
    val (cids, cvecs) = collectCentroids(centroids)
    require(cids.nonEmpty, "routeToCells needs a non-empty centroid table")
    val cell = get(typedlit(cids),
      NativeFns.nearestIndex(col(vecCol), typedlit(cvecs), "cosine"))
      .as("cell_id")
    val cols = Seq(col(idCol)) ++
      (if (carryVec) Seq(col(vecCol)) else Nil) :+ cell
    vectors.select(cols: _*)
  }

  /** Materializable per-cell corpus index — the static side of streaming
    * semantic dedup (DocsStream.semanticDedupStream) and the artifact form
    * of [[kmeansAssign]]: every corpus vector assigned to its `centroids`
    * cell with the vector carried, (`idCol`, cell_id, `vecCol`). Write it
    * partitioned by cell_id (Writers.partitioned) so per-cell probes prune
    * to the cells they touch; build and routing MUST use the same centroid
    * table or cell membership diverges between index and probe.
    */
  def cellIndex(corpus: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String): DataFrame =
    assignCells(corpus, centroids, idCol, vecCol, carryVec = true)
      .select(col("nid").as(idCol), col("cell_id"), col("v").as(vecCol))

  /** IVF (inverted-file) ANN: partition the corpus into cells around coarse
    * centroids; a query probes only its `nProbe` nearest cells. The classic
    * FAISS-style scale path: assignment is one broadcast pass over the corpus
    * (centroid count is small by construction), search touches
    * ~nProbe/numCells of the corpus instead of all of it.
    *
    * The coarse quantizer is [[kmeansCentroids]] — deterministic first-N
    * seeding refined by `kmeansIters` Lloyd iterations (0 keeps the raw
    * seeds). The operator shape (assign → invert → probe → score) is
    * independent of the quantizer quality; index build and quantizer share
    * [[assignCells]], so cell membership is decided by one code path.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numCells: Int, nProbe: Int, kmeansIters: Int = 0,
              trainSample: Int = 65536): DataFrame = {
    val centroids = kmeansCentroids(corpus, idCol, vecCol, numCells, kmeansIters,
      trainSample)
    // carryVec: assignment is a zero-shuffle projection, so the inverted
    // list IS the assigned corpus — a join back to the corpus would shuffle
    // the full vector payload for nothing
    val inverted = assignCells(corpus, centroids, idCol, vecCol, carryVec = true)
      .select(col("cell_id"), col("nid").as("neighbor_id"), col("v").as("nvec"))
    ivfSearchInverted(inverted, centroids, queries, idCol, vecCol, k, nProbe)
  }

  /** IVF probe-and-score over an ALREADY-INVERTED corpus
    * (cell_id, neighbor_id, nvec) — the search core shared by [[ivfTopK]]
    * (which inverts inline) and the stored-artifact path
    * (graft.sources.AnnIndex, whose inverted list is the cells table read
    * back from parquet — there the cell_id filter implied by the broadcast
    * probe join is additionally pushed as a partition-pruning predicate).
    */
  private[graft] def ivfSearchInverted(inverted: DataFrame, centroids: DataFrame,
                                       queries: DataFrame, idCol: String,
                                       vecCol: String, k: Int,
                                       nProbe: Int): DataFrame =
    ivfSearchWithProbes(inverted,
      probeCells(queries, centroids, idCol, vecCol, nProbe), k)

  /** The probe-join-and-score core over an ALREADY-COMPUTED probe list
    * (query_id, qv, cell_id) — so a caller that also needs the probe list
    * for partition pruning (graft.sources.AnnIndex.searchIvf) computes it
    * ONCE instead of paying the queries × centroids scoring twice.
    */
  private[graft] def ivfSearchWithProbes(inverted: DataFrame, probes: DataFrame,
                                         k: Int): DataFrame = {
    // broadcast the probe list (#queries × nProbe rows): the probe join then
    // never shuffles the inverted corpus either
    val scored = broadcast(probes).join(inverted, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(NativeFns.cosineSim(col("qv"), col("nvec")), 4).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Probe list: the `nProbe` nearest coarse cells per query, emitted as
    * (query_id, qv, cell_id). The window input is #queries × #cells rows —
    * both small by construction (queries are broadcast-sized, the centroid
    * table is the quantizer's output) — so the per-query window here is NOT
    * the corpus-sized-sort shape that [[topKPerQuery]] routes around.
    */
  private[graft] def probeCells(queries: DataFrame, centroids: DataFrame,
                                idCol: String, vecCol: String, nProbe: Int): DataFrame = {
    // r14: centroids inlined as literals (collectCentroids — the model
    // collect), the per-query ranking as a sorted-array slice instead of a
    // queries × cells join + window: sort key (coalesce(−csim, 2), cell_id)
    // ascending reproduces row_number over (csim DESC NULLS LAST, cell_id
    // ASC) exactly — cosines live in [−1, 1], so 2 sorts every undefined
    // similarity (zero-norm/ragged query) after every defined one, as the
    // window's default DESC null ordering did. One exchange-free projection
    // replaces the join + the window's sort exchange.
    val (cids, cvecs) = collectCentroids(centroids)
    // empty centroid table probes nothing (the old inner-join behavior);
    // array() of zero struct columns would not even type-resolve
    if (cids.isEmpty)
      return queries
        .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          lit(null).cast("long").as("cell_id"))
        .limit(0)
    // r15 (advisor r14): nanvl pins a NaN cosine (vector containing NaN
    // floats) to −2.0, which sorts FIRST among negSim ∈ [−1,1] — exactly
    // where the old window ranked it (NaN is GREATEST under csim DESC in
    // Spark's ordering). Without it the ascending struct sort would rank a
    // NaN similarity LAST, silently diverging from the pre-r14 probe set
    // on pathological vectors. NULL (zero-norm/ragged) stays 2.0 = last.
    val ranked = (cids zip cvecs).map { case (cid, cv) =>
      struct(
        coalesce(nanvl(-NativeFns.cosineSim(col(vecCol), typedlit(cv)), lit(-2.0d)),
          lit(2.0d)).as("negSim"),
        lit(cid).as("cell_id"))
    }
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(slice(array_sort(array(ranked: _*)), 1, nProbe)).as("p"))
      .select(col("query_id"), col("qv"), col("p.cell_id").as("cell_id"))
  }

  /** dot(a, b) as a Column over two float/double arrays (codebook-sized
    * relations only — the corpus-side hot path stays in the native
    * [[NativeFns.cosineSim]] expression).
    */
  private def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** IVF-PQ-style product quantization ANN with exact re-rank — the
    * memory-bound 100 TB path: the corpus is represented by `numSub` one-byte
    * codes per vector (64-dim float → 8 bytes at numSub=8, a 32× shrink), a
    * query scans CODES (sum of `numSub` table lookups per vector, no float
    * vectors read), keeps the `candidates` best per query by approximate
    * score, and re-ranks only those few against the true vectors.
    *
    * Shape: (1) train per-subspace codebooks — deterministic first-N seeds +
    * `kmeansIters` Lloyd rounds, ALL subspaces in one joint pass per round
    * (group key (sub, cid), never one job per subspace); (2) encode the
    * corpus: per (vector, subspace) nearest centroid by L2, collected to an
    * ordered code array; (3) per query, a lookup table dot(q_sub, centroid)
    * nested to array[sub][cid] and BROADCAST — scoring is one map-side
    * `aggregate` over the code array, the corpus is never shuffled; (4)
    * exact-cosine re-rank of the surviving candidates.
    *
    * `candidates >= corpus size` keeps every vector through the prescreen,
    * so the result provably equals [[bruteForceTopK]] (spec-asserted) — the
    * PQ approximation can only affect WHICH candidates survive, never their
    * final exact scores or ranking.
    *
    * REQUIRES uniform vector dimensions: the packed codebook is indexed
    * positionally by subspace (gap-free 0..numSub−1), which holds only when
    * every vector has the same length. A vector of a DIFFERENT length
    * yields NULL codes → a NULL approximate score, and is silently absent
    * from the prescreen (and therefore the result) — validate dimensions
    * upstream if the corpus may be ragged.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             numSub: Int, numCentroids: Int, candidates: Int,
             kmeansIters: Int = 1, trainSample: Int = 65536): DataFrame =
    pqCore(corpus, queries, idCol, vecCol, k, numSub, numCentroids, candidates,
      kmeansIters, trainSample, restrict = None)

  /** True IVFPQ (FAISS's composed index): the PQ code scan of [[pqTopK]]
    * restricted to the query's `nProbe` probed coarse cells, so a query
    * touches ~nProbe/numCells of the CODES instead of all of them — on top
    * of the codes already being a ~32× shrink of the vectors. Coarse
    * quantizer and cell assignment are shared with [[ivfTopK]] (one code
    * path decides membership); codebook training, encoding, LUT scoring and
    * the exact re-rank are shared with [[pqTopK]].
    *
    * `nProbe >= numCells` together with `candidates >=` corpus size keeps
    * every vector through both filters, so the result provably equals
    * [[bruteForceTopK]] (spec-asserted) — for corpora WITHOUT zero-norm
    * vectors: a zero-norm corpus vector has no cell (NULL assignment, no
    * defined cosine to any centroid) and drops from the inverted list,
    * while brute force still emits its pairs with NULL cos ranked last —
    * the row sets diverge when a query has fewer than k defined-cosine
    * neighbors. Same caveat for [[ivfTopK]].
    *
    * REQUIRES uniform vector dimensions (see [[pqTopK]]): ragged vectors
    * get NULL PQ codes and are silently excluded from the code scan.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                numCells: Int, nProbe: Int,
                numSub: Int, numCentroids: Int, candidates: Int,
                kmeansIters: Int = 1, trainSample: Int = 65536): DataFrame = {
    require(numCells >= 1, s"numCells must be >= 1, got $numCells")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val centroids = kmeansCentroids(corpus, idCol, vecCol, numCells, kmeansIters,
      trainSample)
    val cells = assignCells(corpus, centroids, idCol, vecCol, carryVec = false)
    // candidate pairs: members of the query's probed cells. The broadcast
    // probe list joins the assigned corpus in place (no shuffle), the join
    // keys are 8-byte ids — the vectors never move; the PQ prescreen below
    // reads only the one-byte-per-subspace codes of these survivors.
    val pairs = broadcast(probeCells(queries, centroids, idCol, vecCol, nProbe)
        .select(col("query_id"), col("cell_id")))
      .join(cells, Seq("cell_id"))
      .select(col("query_id"), col("nid").as("neighbor_id"))
    pqCore(corpus, queries, idCol, vecCol, k, numSub, numCentroids, candidates,
      kmeansIters, trainSample, restrict = Some(pairs))
  }

  /** Split every vector into `numSub` contiguous subvectors — one row per
    * (id, sub). Dims need not divide evenly: the last subspace is shorter
    * (slice clamps past the end), and empty trailing subspaces are dropped.
    */
  private def pqSubs(df: DataFrame, idCol: String, vecCol: String,
                     numSub: Int): DataFrame = {
    val w = ceil(size(col(vecCol)).cast("double") / numSub).cast("int")
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(numSub - 1)),
          s => slice(col(vecCol), s * w + 1, w))).as(Seq("sub", "svec")))
      .filter(size(col("svec")) > 0)
  }

  // subvector s of a vector column — the same slicing arithmetic as pqSubs
  private def pqSubVec(v: Column, numSub: Int, s: Int): Column = {
    val w = ceil(size(v).cast("double") / numSub).cast("int")
    slice(v, lit(s) * w + 1, w)
  }

  /** Every per-subspace codebook packed into ONE broadcast row of parallel
    * arrays: cbCvecs[s][i] = centroid i of subspace s (cid-ordered),
    * cbCids[s][i] its cid. Assignment/encode are then map-side native
    * argmin-L2 lookups ([[NativeFns.nearestIndex]], dot−|c|²/2 form) — no
    * ×numCentroids row expansion and no groupBy exchange. Positional
    * s-indexing relies on subspaces being gap-free 0..m−1, which holds for
    * uniform-dimension vectors (only the TRAILING subspace can be empty,
    * and pqSubs/the seeds skip it on both sides). Shared by the inline
    * operators and the stored-artifact search path (graft.sources.AnnIndex)
    * so a round-tripped codebook encodes identically.
    */
  private[graft] def pqPackBySub(cb: DataFrame): DataFrame = cb
    .groupBy(col("sub"))
    .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("cs"))
    .select(struct(col("sub"), col("cs.cid").as("cids"),
      col("cs.cvec").as("cvecs")).as("e"))
    .agg(array_sort(collect_list(col("e"))).as("bs"))
    .select(col("bs.cids").as("cbCids"), col("bs.cvecs").as("cbCvecs"))

  /** The packed codebook COLLECTED and inlined as a literal cbCvecs column
    * (cbCvecs[s][i] = centroid i of subspace s, cid-ordered — the
    * [[pqPackBySub]] contract; the cids are only ever consumed by training,
    * which packs driver-side). A codebook is ≤ numSub × numCentroids rows
    * by construction — the same model-collect rule as [[collectCentroids]]:
    * encode/LUT consumers then need no aggregate, no broadcast exchange,
    * and no join at all.
    */
  private[graft] def pqPackLit(codebook: DataFrame): Column = {
    val r = pqPackBySub(codebook).head()
    // deep-copy to immutable Vectors (see collectCentroids)
    val packed = r.getSeq[scala.collection.Seq[scala.collection.Seq[Float]]](1)
      .toVector.map(_.toVector.map(v => if (v == null) null else v.toVector))
    // loud size guard (advisor r14; collectCentroids' rationale): a
    // codebook is ≤ numSub × numCentroids rows by construction — reject an
    // oversized one clearly instead of inlining a giant literal. NOTE the
    // returned Column is ONE literal value shared by reference across the
    // numSub get(...) consumers in pqEncode/pqQueryLut — the value is not
    // copied per reference; only explain strings repeat it.
    val rows = packed.map(_.size.toLong).sum
    val elems = packed.map(_.map(v => if (v == null) 0L else v.size.toLong).sum).sum
    require(rows <= ModelLitMaxRows && elems <= ModelLitMaxElems,
      s"pqPackLit: $rows codebook rows / ~$elems floats exceed the " +
        s"model-literal bounds ($ModelLitMaxRows rows / $ModelLitMaxElems " +
        "elements) — this API inlines MODELS, not data")
    typedlit(packed)
  }

  /** Train the per-subspace PQ codebooks: deterministic first-N seeds +
    * `kmeansIters` joint Lloyd rounds over a fixed training sample (ALL
    * subspaces in one job per round — group key (sub, cid), never one job
    * per subspace). Returns the relational codebook (sub, cid, cvec) — the
    * form [[graft.sources.AnnIndex]] materializes as a versioned artifact.
    * EAGER like [[kmeansCentroids]]: training jobs run at call time, and
    * the result is a LocalRelation (so pqPackLit downstream is local).
    */
  private[graft] def trainPqCodebook(corpus: DataFrame, idCol: String,
                                     vecCol: String, numSub: Int,
                                     numCentroids: Int, kmeansIters: Int,
                                     trainSample: Int): DataFrame = {
    // Lloyd rounds see only the deterministic training sample — codebook
    // quality needs a representative draw, not all 100 TB (the full corpus
    // is still encoded separately, one pass). n ≥ corpus ⇒ identical to
    // full-corpus training (see trainSampleOf).
    val trainSubs = pqSubs(trainSampleOf(corpus, idCol, trainSample),
      idCol, vecCol, numSub)
    // r14 (the kmeansCentroids move): the codebook is ≤ numSub×numCentroids
    // rows by construction — a MODEL — so the joint Lloyd loop lives on the
    // driver: seeds are one bounded collect, each round assigns against the
    // LITERAL packed codebook (no broadcast join) and collects the ≤
    // numSub×numCentroids-row means — deleting the per-round checkpoint job
    // and the packing aggregate + broadcast exchange per round. Returned as
    // a LocalRelation, so pqPackLit downstream is a local no-op.
    var codebook: Seq[(Int, Long, Seq[Float])] =
      pqSubs(corpus.orderBy(col(idCol)).limit(numCentroids), idCol, vecCol, numSub)
        .select(col("sub").cast("int"), col(idCol).cast("long").as("cid"),
          col("svec").cast("array<float>").as("cvec"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toVector))
    // joint Lloyd rounds over every subspace at once: assign by min L2
    // (argmin |x-c|² = argmax (dot - |c|²/2)), then per-(sub, cid, pos) mean
    for (_ <- 0 until kmeansIters) {
      val (cbCids, cbCvecs) = packCodebookRows(codebook)
      val assigned = trainSubs
        .select(col("sub"),
          get(get(typedlit(cbCids), col("sub")),
            NativeFns.nearestIndex(col("svec"), get(typedlit(cbCvecs), col("sub")),
              "dot_adj")).as("cid"),
          col("svec"))
      codebook = assigned
        // see kmeansCentroids: no phantom NULL-keyed codebook entries
        .filter(col("cid").isNotNull)
        .select(col("sub"), col("cid"),
          posexplode(col("svec")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e("m").cast("float")).as("cvec"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toVector))
        .sortBy(e => (e._1, e._2))
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    codebook.toDF("sub", "cid", "cvec")
      .select(col("sub").cast("int"), col("cid"),
        col("cvec").cast("array<float>"))
  }

  /** Driver-side twin of [[pqPackBySub]] over collected codebook rows:
    * cbCids(s)(i) = the cid of centroid i of subspace s (cid-ordered),
    * cbCvecs(s)(i) its vector — the same gap-free positional contract.
    */
  private def packCodebookRows(rows: Seq[(Int, Long, Seq[Float])])
      : (Seq[Seq[Long]], Seq[Seq[Seq[Float]]]) = {
    val bySub = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, es) => es.sortBy(_._2) }
    (bySub.map(_.map(_._2)), bySub.map(_.map(_._3)))
  }

  /** Encode a corpus against a PACKED codebook ([[pqPackBySub]]): ONE
    * zero-shuffle projection — per subspace a native argmin-L2 against the
    * broadcast codebook; the dense PQ code IS the position in the
    * cid-ordered packed codebook. The slice drops trailing missing
    * subspaces so codes[i] stays paired with lut[i]. NULL vectors carry no
    * codes (filtered — the exploding formulation dropped them too).
    */
  private[graft] def pqEncode(corpus: DataFrame, cbCvecs: Column,
                              idCol: String, vecCol: String,
                              numSub: Int): DataFrame =
    corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"),
        slice(array((0 until numSub).map(s =>
            NativeFns.nearestIndex(pqSubVec(col(vecCol), numSub, s),
              get(cbCvecs, lit(s)), "dot_adj")): _*),
          lit(1), size(cbCvecs)).as("codes"))

  /** Per-query lookup table against a packed codebook:
    * lut[s][code] = dot(q_sub, centroid) — one projection over the
    * (broadcast-sized) query set.
    */
  private[graft] def pqQueryLut(queries: DataFrame, cbCvecs: Column,
                                idCol: String, vecCol: String,
                                numSub: Int): DataFrame =
    queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        slice(array((0 until numSub).map(s =>
            transform(get(cbCvecs, lit(s)),
              c => dotCol(pqSubVec(col(vecCol), numSub, s), c))): _*),
          lit(1), size(cbCvecs)).as("lut"))

  private def pqCore(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     numSub: Int, numCentroids: Int, candidates: Int,
                     kmeansIters: Int, trainSample: Int,
                     restrict: Option[DataFrame]): DataFrame = {
    require(numSub >= 1, s"numSub must be >= 1, got $numSub")
    require(numCentroids >= 1, s"numCentroids must be >= 1, got $numCentroids")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val codebook = trainPqCodebook(corpus, idCol, vecCol, numSub, numCentroids,
      kmeansIters, trainSample)
    val packedCb = pqPackLit(codebook)
    val codes = pqEncode(corpus, packedCb, idCol, vecCol, numSub)
    val lut = pqQueryLut(queries, packedCb, idCol, vecCol, numSub)
    pqPrescreenRerank(codes, lut,
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv")),
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      k, candidates, restrict)
  }

  /** The PQ code scan + exact re-rank, shared by the inline operators and
    * the stored-artifact search (graft.sources.AnnIndex): prescreen by
    * approximate score = Σ_s lut[s][codes[s]] — map-side over the broadcast
    * LUT, keep `candidates` best per query (ties → lower id) — then re-rank
    * only the survivors against true vectors. With a `restrict` pair set
    * (IVFPQ), only the probed cells' codes are scored; otherwise every
    * (query, code) combination is (plain PQ). `corpusVecs` must be
    * (neighbor_id, nv), `queryVecs` (query_id, qv).
    */
  private[graft] def pqPrescreenRerank(codes: DataFrame, lut: DataFrame,
                                       corpusVecs: DataFrame, queryVecs: DataFrame,
                                       k: Int, candidates: Int,
                                       restrict: Option[DataFrame]): DataFrame = {
    val pairCodes = restrict match {
      case None => codes.join(broadcast(lut),
        col("query_id") =!= col("neighbor_id"))
      case Some(pairs) => pairs
        .join(codes, Seq("neighbor_id"))
        .join(broadcast(lut), Seq("query_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
    }
    val approx = pairCodes
      // native one-pass Σ_s lut[s][codes[s]]: this is the corpus-sized
      // scoring loop of the code scan — the composed aggregate/element_at
      // chain is a higher-order function Spark evaluates interpreted per
      // row (measured 2× end-to-end on a 200k-vector staged corpus)
      .withColumn("approx", NativeFns.pqScore(col("codes"), col("lut")))
      .transform(scoredCodes =>
        Relational.topNPerGroup(scoredCodes, Seq(col("query_id")),
          Seq(col("approx").desc, col("neighbor_id")), candidates))
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank of survivors only
    val scored = approx
      .join(corpusVecs, Seq("neighbor_id"))
      .join(broadcast(queryVecs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(NativeFns.cosineSim(col("qv"), col("nv")), 4).as("cos"))
    topKPerQuery(scored, k)
  }

  /** LSH-bucketed ANN: hash corpus and queries into random-hyperplane
    * buckets; score only within the query's bucket. Probing multiple band
    * tables (numTables) trades recall for fan-out. Returns top-k per query
    * among candidates. `numPlanes = 0` is the knob's exhaustive endpoint
    * (one bucket — provably equals brute force; spec-asserted, and
    * q69_ann_lsh_exact runs it under the driver oracle).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numPlanes: Int, numTables: Int): DataFrame = {
    // numTables=0 would explode an empty array -> zero bucketed rows ->
    // a silently empty top-k; fail loudly like the sibling knobs
    require(numTables >= 1, s"numTables must be >= 1, got $numTables")
    def bucketed(df: DataFrame): DataFrame =
      df.select(col(idCol), col(vecCol),
        explode(array((0 until numTables).map(t =>
          struct(lit(t).as("table"),
            NativeFns.lshKey(col(vecCol), numPlanes, seed = 42L + t).as("key"))): _*))
          .as("bucket"))
    val c = bucketed(corpus).as("c")
    val q = bucketed(queries).as("q")
    // score BEFORE the pair dedup: a pair surfacing in several tables has
    // the identical score in each, so results are unchanged, and the
    // pair-dedup exchange then shuffles three scalars per row instead
    // of two full embedding vectors (which would dominate the exchange
    // payload at scale); the duplicate cosine evaluations are map-side.
    // Dedup is an explicit groupBy/max, NOT dropDuplicates(subset):
    // Deduplicate's rewrite re-uses the original exprId for its first()
    // outputs, and that aliasing breaks column pruning inside
    // RewriteExceptAll's union — `lshResult.exceptAll(x)` dies with
    // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (Spark 4.1). max == first here
    // because duplicates carry identical scores; the plan (partial_max +
    // final max over the same exchange) costs the same.
    val scored = q.join(c,
        col("q.bucket") === col("c.bucket") && col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"),
        round(NativeFns.cosineSim(col(s"q.$vecCol"), col(s"c.$vecCol")), 4).as("cos"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(max(col("cos")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Fixed-point quantization of a float embedding: each component becomes
    * `round_half_up(x * scale)` as a LONG. float→double is exact, one double
    * multiply + `floor(x + 0.5)` is IEEE-deterministic, so ANY engine
    * produces the identical integer vector — the property [[intLshTopK]]
    * builds on. (int8 at scale=127; the LONG carrier costs nothing at rest
    * because it exists only inside the query pipeline.)
    */
  def intQuantize(v: Column, scale: Int): Column =
    transform(v, x => floor(x.cast("double") * lit(scale.toDouble) + lit(0.5d)).cast("long"))

  /** Engine-portable pseudo-random hyperplane weight: the first 8 hex chars
    * of `md5("p:d")` read as an unsigned 32-bit int, mapped to
    * [-span, span] via `% (2·span+1) − span`. SQL engines reproduce it as
    * `CAST(concat('0x', substr(md5(p || ':' || d), 1, 8)) AS BIGINT)
    * % (2*span+1) - span` — the q96/q106 md5 move applied to ANN geometry.
    */
  private[graft] def md5PlaneWeight(p: Int, d: Int, span: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) % (2L * span + 1L) - span
  }

  /** Integer-quantized LSH ANN — the APPROXIMATE sign-LSH configuration with
    * every stage exact-integer reproducible by another SQL engine (q107's
    * contract; the q96/q106 algorithm-level-oracle move applied to the one
    * family that was still rows-only, float-cosine ANN):
    *
    *   1. quantize: [[intQuantize]] → integer vectors, identical everywhere;
    *   2. bucket:   sign bits against [[md5PlaneWeight]] hyperplanes —
    *                `sum(q[d]·w[p][d]) >= 0` is exact LONG arithmetic
    *                (|q|≤scale, |w|≤span, dims≤2^20 stays far under 2^63);
    *                `planesPerTable` bits per key across `numTables` tables;
    *   3. score:    integer dot and integer norms, then ONE double divide +
    *                sqrt on exact integer inputs — order-independent (the
    *                float path's sum-order hazard is gone: integer sums
    *                commute) — rounded via [[graft.functions.NumFns.roundHalfUp]]
    *                (floor(x·10⁴ + 0.5)/10⁴ on the exact binary double;
    *                Spark's `round` rounds the SHORTEST DECIMAL representation
    *                and can differ from an engine rounding the binary value
    *                on a .5 boundary at the 4th decimal — and since rnk
    *                orders by cos, that divergence could flip top-k
    *                membership), with the identical formula mirrored in the
    *                q107 DuckDB oracle;
    *   4. rank:     the shared [[topKPerQuery]] contract.
    *
    * Same shuffle shape as [[lshTopK]] (bucket-key join; scalars not vectors
    * through the pair-dedup exchange) and the same q27 scale posture — this
    * is the algorithm-oracle twin, not a new production path (IVF/IVFPQ
    * remain the 100 TB ANN route). `dims` pins the hyperplane width; rows with
    * a different dimensionality or a zero quantized norm are excluded on
    * BOTH engines (cosine undefined).
    */
  private def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** [[intLshTopK]]'s bucketing stage, split out so specs can measure the
    * candidate structure directly (bucket fan-out, sub-exhaustive candidate
    * counts): emits one (idCol, _qv, _nrm, bk) row per (vector, table).
    */
  private[graft] def intLshBuckets(df: DataFrame, idCol: String, vecCol: String,
                                   planesPerTable: Int, numTables: Int, dims: Int,
                                   scale: Int, span: Int): DataFrame = {
    val weights: IndexedSeq[Seq[Long]] =
      (0 until planesPerTable * numTables).map(p =>
        (0 until dims).map(d => md5PlaneWeight(p, d, span)))
    def bit(p: Int): Column =
      when(intDot(col("_qv"), typedlit(weights(p))) >= 0, lit("1")).otherwise(lit("0"))
    df.filter(size(col(vecCol)) === dims)
      .withColumn("_qv", intQuantize(col(vecCol), scale))
      .withColumn("_nrm", intDot(col("_qv"), col("_qv")))
      .filter(col("_nrm") > 0)
      .select(col(idCol), col("_qv"), col("_nrm"),
        explode(array((0 until numTables).map(t =>
          concat((lit(s"$t:") +: (0 until planesPerTable).map(i =>
            bit(t * planesPerTable + i))): _*)): _*)).as("bk"))
  }

  def intLshTopK(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 planesPerTable: Int, numTables: Int, dims: Int,
                 scale: Int = 127, span: Int = 1000): DataFrame = {
    require(numTables >= 1, s"numTables must be >= 1, got $numTables")
    require(planesPerTable >= 1, s"planesPerTable must be >= 1, got $planesPerTable")
    def bucketed(df: DataFrame): DataFrame =
      intLshBuckets(df, idCol, vecCol, planesPerTable, numTables, dims, scale, span)
    val c = bucketed(corpus).as("c")
    val q = bucketed(queries).as("q")
    // mirror lshTopK: score map-side BEFORE the pair dedup so the exchange
    // carries four scalars per candidate, not two 64-long vectors; dedup via
    // groupBy/max (duplicate table hits carry identical integer scores)
    val scored = q.join(c,
        col("q.bk") === col("c.bk") && col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"),
        intDot(col("q._qv"), col("c._qv")).as("dot"),
        col("q._nrm").as("na"), col("c._nrm").as("nb"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("dot")).as("dot"), max(col("na")).as("na"), max(col("nb")).as("nb"))
      .select(col("query_id"), col("neighbor_id"), col("dot"),
        graft.functions.NumFns.roundHalfUp(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 4).as("cos"))
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("dot"), col("cos"), col("rnk"))
  }
}
