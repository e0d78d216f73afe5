package graft

import graft.functions.{NumFns, TimeFns, TextFns, GeoFns}
import graft.operators._
import graft.plans.NativeFns
import graft.sources.{AnnIndex, Readers, Writers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — SURVEY.md §2 inventory, one `table` row per query.
  * Every query reads the driver's parquet tables from `dir`, and (where
  * SQL-expressible) its row also holds a DuckDB oracle producing identical
  * column names, types (BIGINT for integer aggregates), rounding, and total
  * ordering. `queries` and `oracleSql` are the two views of the table the
  * runners read.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  /** documents row count per (session, sfDir), memoized (advisor r11:
    * q103/q104 ran an eager `docs.count()` inside the query BUILDER, so
    * merely constructing the plan fired a table-scan job — twice across
    * the two queries, and once more per PlanSpec enumeration). The
    * testdata corpus at a directory is immutable for a session's
    * lifetime, so the first count serves every later builder call.
    */
  private val docsCountCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def docsCount(s: SparkSession, dir: String): Long =
    docsCountCache.computeIfAbsent(s"${Sessions.id(s)}|$dir",
      _ => java.lang.Long.valueOf(T(s, dir, "documents").count()))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q18_revenue_join")(spark, "/root/testdata/sf0.001")

  /** Shared by q41/q44: 20-token windows with stride 10, unordered (each
    * consumer applies its own ordering; q44's window would otherwise discard
    * and redo q41's global sort).
    */
  private def chunkDocs(s: SparkSession, dir: String): DataFrame =
    Relational.chunkDocuments(T(s, dir, "documents"), col("doc_id"), col("text"),
      chunkTokens = 20, strideTokens = 10)

  /** Exact top-5 cosine ANN oracle, shared by q26 and its exact twins
    * (q66 uncapped PQ, q67 probe-all IVF, q68 probe-all+uncapped IVFPQ,
    * q69 zero-plane LSH) — each of those configurations computes exactly
    * q26's result by construction, and ONE definition keeps the five
    * oracle entries from drifting apart.
    */
  private val exactAnnTop5Oracle: String =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  q.embedding AS qe, c.embedding AS ce
      | FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
      |ex AS (SELECT query_id, neighbor_id, CAST(unnest(qe) AS DOUBLE) AS x,
      |  CAST(unnest(ce) AS DOUBLE) AS y FROM pairs),
      |s AS (SELECT query_id, neighbor_id,
      |  round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cos
      | FROM ex GROUP BY 1, 2),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
      | FROM s)
      |SELECT query_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** One contract query: the builder of its Spark plan and, where the
    * computation is SQL-expressible, its DuckDB oracle. A rows-only entry
    * (`oracle = None`) is checked for non-empty output instead.
    */
  private final case class Query(build: (SparkSession, String) => DataFrame,
                                 oracle: Option[String])

  private val table: Map[String, Query] = Map(
    // §2a reference-derived relational/ETL -----------------------------------
    "q01_interval_agg" -> Query((s, dir) => {
      // README.md "Availability by Station": 3-min samples → 15-min interval min
      val ev = T(s, dir, "events")
      ev.groupBy(col("user_id"), window(col("ts"), "15 minutes"))
        .agg(min(col("value")).as("min_value"), max(col("value")).as("max_value"),
          count(lit(1)).as("n_samples"))
        .select(col("user_id"), col("window.start").as("bucket_start"),
          col("min_value"), col("max_value"), col("n_samples"))
        .orderBy("user_id", "bucket_start")
    }, oracle = Some(
      """SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS bucket_start,
        | min(value) AS min_value, max(value) AS max_value, count(*) AS n_samples
        |FROM events GROUP BY 1, 2 ORDER BY user_id, bucket_start""".stripMargin)),

    "q02_group_agg" -> Query((s, dir) => {
      // variability CTE aggregates: sum/avg/count + conditional sum(case when)
      val li = T(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          NumFns.roundHalfUp(sum(col("l_quantity")), 2).as("sum_qty"),
          // exactSum: the price product is 4-decimal-grained; double-summing
          // it is partition-order-dependent and the round-2 grain boundary
          // is an exact-oracle hazard (see NumFns.exactSum)
          NumFns.roundHalfUp(
            NumFns.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4), 2)
            .as("revenue"),
          NumFns.roundHalfUp(avg(col("l_quantity")), 4).as("avg_qty"),
          sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).cast("long").as("n_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus,
        | floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty,
        | floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
        | floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
        | CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    "q03_enrich_join" -> Query((s, dir) => {
      // availability ⋈ geocode ⋈ weather flat table → borough/hood rollup
      val agg = T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          NumFns.roundHalfUp(NumFns.exactSum(col("o_totalprice"), 2), 2).as("total_rev"),
          NumFns.roundHalfUp(
            NumFns.exactSum(when(col("o_orderstatus") === "O", col("o_totalprice")).otherwise(0.0), 2), 2)
            .as("open_rev"))
      agg.withColumn("pct_open", NumFns.roundHalfUp(col("open_rev") / col("total_rev"), 6))
        .orderBy("r_name", "n_name")
    }, oracle = Some(
      """SELECT r_name, n_name, n_orders, total_rev, open_rev,
        | floor(open_rev / total_rev * 1000000.0 + 0.5) / 1000000.0 AS pct_open
        |FROM (
        | SELECT r_name, n_name, count(*) AS n_orders,
        |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_rev,
        |  floor(CAST(sum(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END AS DECIMAL(28,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS open_rev
        | FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY 1, 2)
        |ORDER BY r_name, n_name""".stripMargin)),

    "q04_interesting_keys" -> Query((s, dir) => {
      // README.md "Reducing Complexity" CTE: ntile percentiles + rank + join-back
      val perKey = T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey").as("key"), col("n_name").as("grp"))
        .agg(max(col("o_totalprice")).as("m1"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).cast("long").as("m2"),
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).cast("long").as("m3"))
      Relational.interestingKeys(T(s, dir, "orders"), col("o_custkey"), perKey, 40, 50, 50)
        .select(col("o_orderkey"), col("key").as("c_custkey"), col("o_totalprice"),
          col("score"), col("rnk"))
        .orderBy("o_orderkey")
    }, oracle = Some(
      """WITH v AS (
        | SELECT c_custkey AS key, n_name AS grp, max(o_totalprice) AS m1,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS m2,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS m3
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1, 2),
        |p AS (
        | SELECT *,
        |  CAST(ntile(100) OVER (ORDER BY m1, key) AS BIGINT) AS pct1,
        |  CAST(ntile(100) OVER (ORDER BY m2, key) AS BIGINT) AS pct2,
        |  CAST(ntile(100) OVER (ORDER BY m3, key) AS BIGINT) AS pct3
        | FROM v),
        |r AS (
        | SELECT *, pct1 + pct2 + pct3 AS score,
        |  CAST(rank() OVER (PARTITION BY grp ORDER BY (pct1 + pct2 + pct3) DESC, key) AS BIGINT) AS rnk
        | FROM p WHERE pct1 > 40 AND pct2 > 50 AND pct3 > 50)
        |SELECT o.o_orderkey, r.key AS c_custkey, o.o_totalprice, r.score, r.rnk
        |FROM orders o JOIN r ON o.o_custkey = r.key
        |WHERE r.rnk = 1
        |ORDER BY o_orderkey""".stripMargin)),

    "q05_first_per_group" -> Query((s, dir) => {
      // zip→coordinate lookup: rank min per group, keep first (README.md:560)
      Relational.firstPerGroup(T(s, dir, "customer"),
          Seq(col("c_nationkey")), Seq(col("c_acctbal"), col("c_custkey")))
        .select(col("c_nationkey").as("nationkey"), col("c_custkey"), col("c_acctbal"))
        .orderBy("nationkey")
    }, oracle = Some(
      """SELECT c_nationkey AS nationkey, c_custkey, c_acctbal FROM (
        | SELECT c_nationkey, c_custkey, c_acctbal,
        |  row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS rn
        | FROM customer) WHERE rn = 1 ORDER BY nationkey""".stripMargin)),

    "q06_repair_union" -> Query((s, dir) => {
      // README.md "Fixing the missing weather issue": split/fix-join/union/dedup
      val ev = T(s, dir, "events")
      val facts = ev.select(col("event_id"), col("user_id"), col("event_type"),
        graft.functions.TimeFns.hourTrunc(col("ts")).as("hour_ts"), col("value"))
      // impute with the hour's min observed value: min is arithmetic-free, so
      // Spark and the oracle agree bit-for-bit (avg hits round-half boundaries)
      val fix = ev.filter(col("event_type") =!= "error")
        .groupBy(graft.functions.TimeFns.hourTrunc(col("ts")).as("hour_ts"))
        .agg(min(col("value")).as("fixed_value"))
      Relational.repairUnion(facts, col("event_type") === "error",
          fix, Seq("hour_ts"), "value", "fixed_value")
        .select(col("event_id"), col("user_id"), col("hour_ts"), col("value"), col("src"))
        .orderBy("event_id")
    }, oracle = Some(
      """WITH f AS (SELECT event_id, user_id, event_type,
        |  date_trunc('hour', ts) AS hour_ts, value FROM events),
        |fix AS (SELECT date_trunc('hour', ts) AS hour_ts, min(value) AS fixed_value
        | FROM events WHERE event_type <> 'error' GROUP BY 1),
        |clean AS (SELECT event_id, user_id, hour_ts, value, 'observed' AS src
        | FROM f WHERE event_type <> 'error'),
        |rep AS (SELECT f.event_id, f.user_id, f.hour_ts, fix.fixed_value AS value, 'fixed' AS src
        | FROM f LEFT JOIN fix USING (hour_ts) WHERE f.event_type = 'error')
        |SELECT DISTINCT event_id, user_id, hour_ts, value, src
        |FROM (SELECT * FROM clean UNION ALL SELECT * FROM rep)
        |ORDER BY event_id""".stripMargin)),

    "q07_flag_rollup_join" -> Query((s, dir) => {
      // rainy_day: per (station, date) max(flag), merged back (README.md:1640)
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d_date"), col("value"))
      Relational.flagRollupJoin(ev, col("user_id"), col("d_date"),
          col("value") > 150, "high_day")
        .select(col("event_id"), col("user_id"), col("d_date"), col("high_day"))
        .orderBy("event_id")
    }, oracle = Some(
      """WITH r AS (SELECT user_id, CAST(ts AS DATE) AS d_date,
        |  CAST(max(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS BIGINT) AS high_day
        | FROM events GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS d_date, r.high_day
        |FROM events e JOIN r ON e.user_id = r.user_id AND CAST(e.ts AS DATE) = r.d_date
        |ORDER BY e.event_id""".stripMargin)),

    "q08_pivot_hour" -> Query((s, dir) => {
      // pivot_table station × hour_of_day mean (notebooks/citibike_ck.ipynb)
      val ev = T(s, dir, "events")
      // exactAvg, not avg: .01-grained values average EXACTLY onto 4-decimal
      // round boundaries, so a partition-order ulp in a double sum flips the
      // rounded digit vs the oracle (see NumFns.exactSum — q08 was the
      // observed failure when the local fan-out multiplied scan partitions)
      def bucketAvg(lo: Int, hi: Int): org.apache.spark.sql.Column =
        NumFns.roundHalfUp(NumFns.exactAvg(when(hour(col("ts")).between(lo, hi), col("value")), 2), 4)
      ev.groupBy(col("user_id"))
        .agg(bucketAvg(0, 5).as("h00_05"), bucketAvg(6, 11).as("h06_11"),
          bucketAvg(12, 17).as("h12_17"), bucketAvg(18, 23).as("h18_23"))
        .orderBy("user_id")
    }, oracle = Some(
      """SELECT user_id,
        | floor(CAST(sum(CAST(CASE WHEN hour(ts) BETWEEN 0 AND 5 THEN value END AS DECIMAL(28,2))) AS DOUBLE) / count(CASE WHEN hour(ts) BETWEEN 0 AND 5 THEN value END) * 10000.0 + 0.5) / 10000.0 AS h00_05,
        | floor(CAST(sum(CAST(CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN value END AS DECIMAL(28,2))) AS DOUBLE) / count(CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN value END) * 10000.0 + 0.5) / 10000.0 AS h06_11,
        | floor(CAST(sum(CAST(CASE WHEN hour(ts) BETWEEN 12 AND 17 THEN value END AS DECIMAL(28,2))) AS DOUBLE) / count(CASE WHEN hour(ts) BETWEEN 12 AND 17 THEN value END) * 10000.0 + 0.5) / 10000.0 AS h12_17,
        | floor(CAST(sum(CAST(CASE WHEN hour(ts) BETWEEN 18 AND 23 THEN value END AS DECIMAL(28,2))) AS DOUBLE) / count(CASE WHEN hour(ts) BETWEEN 18 AND 23 THEN value END) * 10000.0 + 0.5) / 10000.0 AS h18_23
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    "q09_nearby_selfjoin" -> Query((s, dir) => {
      // nearby stations < 0.5 km (notebooks/CitiBike-1.ipynb → nearby_stations.json)
      // Grid-cell blocked: neighbor cells only, never an unbounded cross join.
      val pts = T(s, dir, "customer").select(col("c_custkey").as("id"),
          GeoFns.synthLat(col("c_custkey")).as("lat"),
          GeoFns.synthLon(col("c_custkey")).as("lon"))
        .withColumn("clat", GeoFns.latCell(col("lat"), 0.01))
        .withColumn("clon", GeoFns.lonCell(col("lon"), 0.01))
      val exploded = pts
        .withColumn("nclat", explode(array(col("clat") - 1, col("clat"), col("clat") + 1)))
        .withColumn("nclon", explode(array(col("clon") - 1, col("clon"), col("clon") + 1)))
      // roundHalfUp, not round(): Spark rounds the shortest decimal
      // repr, DuckDB the exact binary — a distance near a .5 boundary
      // at the 6th decimal would diverge (and near 0.5 km, flip pairs)
      val dist = NumFns.roundHalfUp(
        GeoFns.haversineKm(col("a.lat"), col("a.lon"), col("b.lat"), col("b.lon")), 6)
      // Predicate ORDER is explicit in the join condition (r12, the q25
      // plan lesson applied here): written as a post-join .filter, the
      // dist threshold was pushed into the join condition AHEAD of the
      // one-instruction id test, so the trig kernel ran on every ORDERED
      // candidate. Stated in order — id test, then a provably-lossless
      // bounding-box prescreen (on a sphere the central angle >= the
      // latitude separation, so |dlat| >= 0.0045 deg implies dist >=
      // 0.50038 km, outside the rounded 0.5 km cut with 0.00038 margin
      // over the 5e-7 rounding slack; the 3x3-cell neighborhood spans
      // dlat in (-0.02, 0.02), so ~78% of candidates prune here), then
      // the trig threshold — the haversine runs on ~11% of the ordered
      // candidates it used to.
      exploded.as("a").join(pts.as("b"),
          col("a.nclat") === col("b.clat") && col("a.nclon") === col("b.clon") &&
            col("a.id") < col("b.id") &&
            abs(col("a.lat") - col("b.lat")) < 0.0045 &&
            dist < 0.5)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"), dist.as("dist_km"))
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      // Grid-blocked like the engine (floor(coord/0.01) cells, 3x3 neighbor
      // explode, equi-join) so the oracle stays tractable at every scale
      // factor: the flat O(n^2) formulation is hours at sf1's 150k rows while
      // this one finishes in ~15 s with the IDENTICAL result (0.01 deg ~ 1.1 km
      // lat / 0.85 km lon at NYC latitudes, so adjacent cells cover the 0.5 km
      // radius — any pair the blocking could miss would be > cell width apart).
      """WITH p AS (SELECT c_custkey AS id,
        |  40.0 + (c_custkey % 1000) * 0.001 AS lat,
        |  -74.0 + ((c_custkey * 7) % 1000) * 0.001 AS lon
        | FROM customer),
        |c AS (SELECT *, CAST(floor(lat / 0.01) AS BIGINT) AS clat,
        |  CAST(floor(lon / 0.01) AS BIGINT) AS clon FROM p),
        |e AS (SELECT c.*, clat + dla AS nclat, clon + dlo AS nclon
        | FROM c CROSS JOIN (VALUES (-1),(0),(1)) t1(dla)
        |        CROSS JOIN (VALUES (-1),(0),(1)) t2(dlo))
        |SELECT * FROM (
        | SELECT a.id AS id_a, b.id AS id_b,
        |  floor(2 * 6371.0088 * asin(sqrt(least(1.0,
        |   pow(sin(radians(b.lat - a.lat) / 2), 2) +
        |   cos(radians(a.lat)) * cos(radians(b.lat)) * pow(sin(radians(b.lon - a.lon) / 2), 2)
        |  ))) * 1000000.0 + 0.5) / 1000000.0 AS dist_km
        | FROM e a JOIN c b ON a.nclat = b.clat AND a.nclon = b.clon AND a.id < b.id)
        |WHERE dist_km < 0.5 ORDER BY id_a, id_b""".stripMargin)),

    "q10_time_features" -> Query((s, dir) => {
      // hour / day name / day_type / date / 15-min bucket / hour trunc
      T(s, dir, "events").select(col("event_id"),
          TimeFns.hourOfDay(col("ts")).as("hour_of_day"),
          TimeFns.dayName(col("ts")).as("day_name"),
          TimeFns.dayType(col("ts")).as("day_type"),
          to_date(col("ts")).as("d_date"),
          TimeFns.bucket(col("ts"), 15).as("bucket15"),
          TimeFns.hourTrunc(col("ts")).as("hour_ts"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id, hour(ts) AS hour_of_day, dayname(ts) AS day_name,
        | CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend' ELSE 'weekday' END AS day_type,
        | CAST(ts AS DATE) AS d_date,
        | time_bucket(INTERVAL '15 minutes', ts) AS bucket15,
        | date_trunc('hour', ts) AS hour_ts
        |FROM events ORDER BY event_id""".stripMargin)),

    "q11_topn_per_group" -> Query((s, dir) => {
      // rank=1 per hood / top-N per group
      Relational.topNPerGroup(
          T(s, dir, "customer")
            .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey")),
          Seq(col("n_name")), Seq(col("c_acctbal").desc, col("c_custkey")), 3)
        .select(col("n_name"), col("c_custkey"), col("c_acctbal"), col("rn"))
        .orderBy("n_name", "rn")
    }, oracle = Some(
      """SELECT n_name, c_custkey, c_acctbal, rn FROM (
        | SELECT n_name, c_custkey, c_acctbal,
        |  CAST(row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn
        | FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |WHERE rn <= 3 ORDER BY n_name, rn""".stripMargin)),

    "q12_distinct_worklist" -> Query((s, dir) => {
      // distinct (zip, day) work-list of rows needing repair (README.md:500)
      T(s, dir, "events").filter(col("event_type") === "error")
        .select(col("user_id"), to_date(col("ts")).as("d_date"))
        .distinct()
        .orderBy("user_id", "d_date")
    }, oracle = Some(
      """SELECT DISTINCT user_id, CAST(ts AS DATE) AS d_date
        |FROM events WHERE event_type = 'error' ORDER BY user_id, d_date""".stripMargin)),

    "q13_running_window" -> Query((s, dir) => {
      val ev = T(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"), col("value"))
      TimeSeries.runningWindow(ev, col("user_id"), Seq(col("ts"), col("event_id")),
          col("value"), 4)
        .select(col("event_id"), col("user_id"), col("running_sum"), col("moving_avg"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id, user_id,
        | floor(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100.0 + 0.5) / 100.0 AS running_sum,
        | floor(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) * 10000.0 + 0.5) / 10000.0 AS moving_avg
        |FROM events ORDER BY event_id""".stripMargin)),

    "q14_sessionize" -> Query((s, dir) => {
      TimeSeries.sessionize(
          T(s, dir, "events").select(col("event_id"), col("user_id"), col("ts")),
          col("user_id"), col("ts"), 1800000L)
        .select(col("event_id"), col("user_id"), col("session_id"))
        .orderBy("event_id")
    }, oracle = Some(
      """WITH g AS (SELECT event_id, user_id, ts,
        |  CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS ns
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT event_id, user_id,
        | CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g ORDER BY event_id""".stripMargin)),

    "q15_asof_join" -> Query((s, dir) => {
      // weather-by-most-recent-hour enrichment, generalized as-of join
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value").as("signup_value"))
      TimeSeries.asofJoin(purchases, signups, "user_id", "ts", Seq("signup_value"))
        .select(col("event_id"), col("user_id"), col("signup_value"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT p.event_id, p.user_id, s.value AS signup_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') s
        | ON p.user_id = s.user_id AND s.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin)),

    "q16_anti_join" -> Query((s, dir) => {
      // customers with no finished orders (NOT EXISTS)
      val finished = T(s, dir, "orders").filter(col("o_orderstatus") === "F")
      T(s, dir, "customer")
        .join(finished, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }, oracle = Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)),

    "q17_quality_profile" -> Query((s, dir) => {
      Relational.qualityProfile(T(s, dir, "events"),
          Seq("event_id", "user_id", "event_type", "value"))
        .orderBy("column_name")
    }, oracle = Some(
      """WITH b AS (SELECT count(*) AS n,
        |  count(event_id) AS nn1, count(DISTINCT event_id) AS nd1,
        |  count(user_id) AS nn2, count(DISTINCT user_id) AS nd2,
        |  count(event_type) AS nn3, count(DISTINCT event_type) AS nd3,
        |  count(value) AS nn4, count(DISTINCT value) AS nd4
        | FROM events)
        |SELECT * FROM (
        | SELECT 'event_id' AS column_name, n AS n_rows, n - nn1 AS n_null, nd1 AS n_distinct FROM b
        | UNION ALL
        | SELECT 'user_id', n, n - nn2, nd2 FROM b
        | UNION ALL
        | SELECT 'event_type', n, n - nn3, nd3 FROM b
        | UNION ALL
        | SELECT 'value', n, n - nn4, nd4 FROM b)
        |ORDER BY column_name""".stripMargin)),

    "q18_revenue_join" -> Query((s, dir) => {
      // multi-way star join with broadcast dims
      T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(NumFns.roundHalfUp(
            NumFns.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }, oracle = Some(
      """SELECT n_name,
        | floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    "q19_histogram" -> Query((s, dir) => {
      T(s, dir, "events")
        .groupBy(floor(col("value") / 20).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
        .withColumn("bin_low", (col("bin") * 20).cast("double"))
        .orderBy("bin")
    }, oracle = Some(
      """SELECT CAST(floor(value / 20) AS BIGINT) AS bin, count(*) AS n,
        | CAST(CAST(floor(value / 20) AS BIGINT) * 20 AS DOUBLE) AS bin_low
        |FROM events GROUP BY 1 ORDER BY bin""".stripMargin)),

    "q20_scd_latest" -> Query((s, dir) => {
      // stations_static upsert collapse: latest version per key
      Relational.latestPerKey(
          T(s, dir, "events").select(col("user_id"), col("event_id"), col("event_type"), col("ts")),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    }, oracle = Some(
      """SELECT user_id, event_id, event_type FROM (
        | SELECT user_id, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // §2b LLM-data-pipeline operators ---------------------------------------
    "q21_dedup_exact" -> Query((s, dir) => {
      Dedup.exact(T(s, dir, "documents"), col("doc_id"), col("text"))
        .select(col("keeper_id"), col("n_copies"))
        .orderBy("keeper_id")
    }, oracle = Some(
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin)),

    "q22_dedup_ngram_jaccard" -> Query((s, dir) => {
      // SCALE WARNING (measured, r9 sf10 sweep): this uncapped-exact config
      // is intrinsically Θ(Σ df²) in shingle document frequency and timed
      // out at 100× bench scale on a vocab-degenerate corpus — at scale use
      // the capped sibling (q52, maxDocFreq) or LSH banding (q23), both
      // measured 5–20 s on the same corpus.
      // no persist: with the fused shingle kernel the only branch that
      // cannot ride the join sides' shared exchange (the doc_id size agg)
      // recomputes a cheap one-pass scan, and dropping the persist removes
      // the checkpoint barrier jobs contention amplifies (measured equal or
      // faster at sf0.1; persistIndex stays available for reuse callers)
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), col("doc_id"), col("text"), 3, 0.5)
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b, jaccard FROM (
        | SELECT doc_a, doc_b,
        |  floor(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) * 10000.0 + 0.5) / 10000.0 AS jaccard
        | FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id JOIN sz sb ON pr.doc_b = sb.doc_id)
        |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    "q23_dedup_minhash_lsh" -> Query((s, dir) => {
      // the 100 TB shape, end to end: collapse exact-dup families first (a
      // linear 8-byte-key shuffle) so they cannot form quadratic LSH
      // cliques, then cap any residual band bucket — a bucket wider than
      // the cap is boilerplate, not near-dups. At sf test scale there are no
      // exact dups and no oversized buckets, so the guards pass everything
      // through; they exist to be measured in the driver-visible query.
      val docs = T(s, dir, "documents")
      val keepers = Dedup.exact(docs, col("doc_id"), col("text"))
        .select(col("keeper_id").as("doc_id"))
      // persistIndex=false: with the window-based bucket cap the two join
      // sides share one exchange (reuse), so the whole query is a single
      // job — no persist/checkpoint barrier jobs to serialize, which is
      // what contention amplified in earlier official bench runs
      Dedup.minhashLshPairs(docs.join(keepers, "doc_id"),
          col("doc_id"), col("text"), 3, 32, 4, 0.5,
          maxBucketSize = 100L)
        .orderBy("doc_a", "doc_b")
    }, oracle = None),

    "q24_dedup_simhash" -> Query((s, dir) => {
      // no persist: the two join sides share one exchange via reuse (see
      // q22/q23 rationale)
      Dedup.simhashPairs(T(s, dir, "documents"), col("doc_id"), col("text"), 8)
        .orderBy("doc_a", "doc_b")
    }, oracle = None),

    "q25_dedup_embedding" -> Query((s, dir) => {
      // SCALE NOTE (measured, r9 sf10): label-blocked all-pairs is quadratic
      // per block — the `slices` salting knob (default 16, Dedup.scala) cut
      // the 100× run from a 600 s timeout to 367 s bit-identical; beyond
      // that, block on SEMANTIC cells instead (q71's clusterAssign blocking)
      // so block width tracks true neighborhoods, not label cardinality.
      Dedup.embeddingCosinePairs(T(s, dir, "embeddings"), col("vec_id"), col("embedding"),
          col("label"), 0.3)
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      """WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ae, b.embedding AS be
        | FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id),
        |ex AS (SELECT id_a, id_b, CAST(unnest(ae) AS DOUBLE) AS x, CAST(unnest(be) AS DOUBLE) AS y FROM p),
        |s AS (SELECT id_a, id_b,
        |  round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 3) AS cos
        | FROM ex GROUP BY 1, 2)
        |SELECT id_a, id_b, cos FROM s WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin)),

    "q26_ann_bruteforce" -> Query((s, dir) => {
      val embs = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .orderBy("query_id", "rnk")
    }, oracle = Some(exactAnnTop5Oracle)),

    "q27_ann_lsh" -> Query((s, dir) => {
      // SCALE WARNING (measured, r9 @ 200k vectors): sign-LSH has NO
      // sub-linear scale point on weakly-correlated embeddings —
      // recall-held knobs degenerate to near-brute-force candidate sets,
      // occupancy-held knobs collapse recall to ~0.10 (RecallFloorSpec's
      // sf10 gate records both). Pedagogical at scale; the production ANN
      // path is IVF (q48) / IVFPQ (q65), whose fraction-knob rules are
      // measured to hold at sf0.1, sf1, and sf10.
      // 4 hyperplanes × 16 tables: the r8 retuning — the old 8-plane/1-table
      // config co-bucketed true neighbors of weakly-correlated embeddings
      // with probability (1-θ/π)^8 ≈ 0, measured recall@5 = 0.0 at both
      // driver SFs. Multiple narrow tables are the standard random-projection
      // LSH recall lever; measured 0.94 @ sf0.1 (RecallFloorSpec pins ≥0.8)
      val embs = T(s, dir, "embeddings")
      Similarity.lshTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
          5, 4, 16)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .orderBy("query_id", "rnk")
    }, oracle = None),

    "q49_decontaminate" -> Query((s, dir) => {
      // benchmark decontamination: for every train-split doc (q43's split
      // rule), count distinct 3-grams shared with any held-out test doc
      Dedup.contaminationHits(T(s, dir, "documents"), col("doc_id"), col("text"),
          pmod(pmod(col("doc_id"), lit(100003L)) * 2654435761L, lit(100L)) >= 95, 3)
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words,
        |  ((doc_id % 100003) * 2654435761) % 100 >= 95 AS held FROM documents),
        |sh AS (SELECT DISTINCT doc_id, held, array_to_string(words[i:i+2], ' ') AS g
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |hg AS (SELECT DISTINCT g FROM sh WHERE held)
        |SELECT doc_id, count(*) AS n_hits
        |FROM sh JOIN hg USING (g) WHERE NOT held
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    "q50_mix_epochs" -> Query((s, dir) => {
      // corpus-mix rebalancing: repeat under-represented sources up to 4×
      // toward a uniform mix; one row per (doc, epoch)
      Relational.mixEpochs(T(s, dir, "documents"), col("doc_id"), col("source"), 4)
        .orderBy("doc_id", "epoch")
    }, oracle = Some(
      """WITH c AS (SELECT source, count(*) AS n_grp FROM documents GROUP BY 1),
        |w AS (SELECT source,
        |  LEAST(4, CAST(floor((SELECT max(n_grp) FROM c) / n_grp) AS BIGINT)) AS n_rep
        | FROM c)
        |SELECT doc_id, d.source AS grp, CAST(e AS BIGINT) AS epoch
        |FROM documents d JOIN w ON d.source = w.source,
        | LATERAL (SELECT unnest(range(1, n_rep + 1)) AS e) t
        |ORDER BY doc_id, epoch""".stripMargin)),

    "q48_ann_ivf" -> Query((s, dir) => {
      // inverted-file ANN: the 100 TB similarity-search path — probe 4 of 16
      // coarse cells instead of scanning the corpus (q26 is the exact baseline,
      // q27 the LSH variant; recall-vs-probes tradeoff spec-tested)
      // coarse quantizer = one Lloyd refinement over deterministic seeds
      // (recall ties first-N seeding on the synthetic spec corpus — random
      // embeddings have no cluster structure to exploit — and balances cells
      // on corpora that do; see ScaleOpsSpec's recall assertion)
      val embs = T(s, dir, "embeddings")
      Similarity.ivfTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
          5, 16, 4, kmeansIters = 1)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .orderBy("query_id", "rnk")
    }, oracle = None),

    "q28_langid" -> Query((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextFns.langId(col("text")).as("predicted_lang"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |c AS (SELECT doc_id,
        |  len(list_filter(words, x -> x IN ('the', 'a', 'of'))) AS en,
        |  len(list_filter(words, x -> x IN ('join', 'filter', 'window', 'sort'))) AS sq,
        |  len(list_filter(words, x -> x IN ('data', 'row', 'batch', 'stream'))) AS da
        | FROM w)
        |SELECT doc_id,
        | CASE WHEN en >= sq AND en >= da AND en > 0 THEN 'en'
        |  WHEN sq >= da AND sq > 0 THEN 'sqlish'
        |  WHEN da > 0 THEN 'dataish'
        |  ELSE 'unknown' END AS predicted_lang
        |FROM c ORDER BY doc_id""".stripMargin)),

    "q29_quality_score" -> Query((s, dir) => {
      val d = T(s, dir, "documents")
      val toks = TextFns.tokens(col("text"))
      val punct = TextFns.punctRatio(col("text"))
      val stopr = TextFns.stopwordRatio(col("text"))
      d.select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          NumFns.roundHalfUp(punct, 4).as("punct_ratio"),
          NumFns.roundHalfUp(stopr, 4).as("stopword_ratio"),
          NumFns.roundHalfUp(least(lit(1.0), size(toks).cast("double") / 100.0) *
            (lit(1.0) - punct) * (lit(1.0) - lit(0.5) * stopr), 4).as("quality"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS words FROM documents),
        |m AS (SELECT doc_id, len(words) AS nt,
        |  CASE WHEN length(text) > 0
        |   THEN CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)
        |   ELSE 0.0 END AS punct,
        |  CASE WHEN len(words) > 0
        |   THEN CAST(len(list_filter(words, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(words)
        |   ELSE 0.0 END AS stopr
        | FROM t)
        |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
        | floor(punct * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
        | floor(stopr * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
        | floor(least(1.0, nt / 100.0) * (1 - punct) * (1 - 0.5 * stopr) * 10000.0 + 0.5) / 10000.0 AS quality
        |FROM m ORDER BY doc_id""".stripMargin)),

    "q30_token_count" -> Query((s, dir) => {
      T(s, dir, "documents").select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("ws_tokens"),
          size(TextFns.regexTokens(col("text"))).cast("long").as("re_tokens"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
        | CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    "q31_fingerprint" -> Query((s, dir) => {
      // native one-pass rolling hash: the composed TextFns.fingerprint
      // builds a one-string-per-character array and folds it with an
      // interpreted lambda — per character, on a corpus-sized linear pass.
      // Bit-identical results (spec-asserted, incl. unicode + empty docs).
      T(s, dir, "documents")
        .select(col("doc_id"), NativeFns.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }, oracle = Some(
      // the rolling-hash fold fp = fold(acc*31 + codepoint) mod 1e9+7, spelled
      // as a list_reduce over the string's codepoints ('(?s).' matches every
      // codepoint incl. newlines; the prepended 0 is the fold seed, so the
      // empty string folds to 0 — matching RollingFingerprint exactly)
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list_transform(regexp_extract_all(text, '(?s).'),
        |       c -> CAST(unicode(c) AS BIGINT))),
        |   (acc, cp) -> (acc * 31 + cp) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    "q32_multimodal_meta" -> Query((s, dir) => {
      Multimodal.decode(Multimodal.asMediaTable(T(s, dir, "documents"), "doc_id", "text"))
        .orderBy("doc_id")
    }, oracle = Some(
      // the multimodal stub metadata is the same *31-mod-1e9+7 fold, but over
      // the payload's UTF-8 BYTES (payload = encode(text)): each codepoint is
      // expanded to its UTF-8 byte sequence in SQL so the fold is byte-true
      // for any input, not just ASCII. Text payloads can never carry a
      // PNG/JPEG magic prefix (0x89 / 0xFF are not valid UTF-8 lead bytes),
      // so the header parser always falls through to the stub and `format`
      // is NULL by construction — the oracle states that explicitly.
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
        |    octet_length(encode(text)) AS n_bytes,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        flatten(list_transform(regexp_extract_all(text, '(?s).'),
        |          c -> CASE
        |            WHEN unicode(c) < 128 THEN [CAST(unicode(c) AS BIGINT)]
        |            WHEN unicode(c) < 2048 THEN [
        |              CAST(192 + unicode(c) // 64 AS BIGINT),
        |              CAST(128 + unicode(c) % 64 AS BIGINT)]
        |            WHEN unicode(c) < 65536 THEN [
        |              CAST(224 + unicode(c) // 4096 AS BIGINT),
        |              CAST(128 + (unicode(c) // 64) % 64 AS BIGINT),
        |              CAST(128 + unicode(c) % 64 AS BIGINT)]
        |            ELSE [
        |              CAST(240 + unicode(c) // 262144 AS BIGINT),
        |              CAST(128 + (unicode(c) // 4096) % 64 AS BIGINT),
        |              CAST(128 + (unicode(c) // 64) % 64 AS BIGINT),
        |              CAST(128 + unicode(c) % 64 AS BIGINT)]
        |          END))),
        |      (acc, b) -> (acc * 31 + b) % 1000000007) AS checksum
        |  FROM documents
        |)
        |SELECT doc_id, media_type, n_bytes,
        |  16 + checksum % 1920 AS width,
        |  16 + (checksum // 7) % 1080 AS height,
        |  CAST(NULL AS BIGINT) AS sample_rate,
        |  CAST(NULL AS BIGINT) AS channels,
        |  checksum,
        |  CAST(NULL AS BIGINT) AS content_checksum,
        |  CAST(NULL AS VARCHAR) AS format
        |FROM m ORDER BY doc_id""".stripMargin)),

    "q33_distinct_counts" -> Query((s, dir) => {
      T(s, dir, "events").groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }, oracle = Some(
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    "q34_windowed_events" -> Query((s, dir) => {
      TimeSeries.windowedAgg(T(s, dir, "events"), col("ts"), "1 hour",
          Seq(col("event_type")),
          Seq(count(lit(1)).as("n_events"), NumFns.roundHalfUp(sum(col("value")), 2).as("total_value")))
        .orderBy("window_start", "event_type")
    }, oracle = Some(
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        | count(*) AS n_events, floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

    "q35_eda_timeofday" -> Query((s, dir) => {
      // the reference's core EDA lineplot: mean availability by time-of-day,
      // split weekday/weekend (README.md:1040-1100). Engine-independent
      // rounding (NumFns.roundHalfUp) AND order-independent summation
      // (NumFns.exactAvg) because averages of .01-grained values sit
      // exactly on decimal round boundaries.
      T(s, dir, "events")
        .groupBy(TimeFns.hourOfDay(col("ts")).as("hour_of_day"),
          TimeFns.dayType(col("ts")).as("day_type"))
        .agg(NumFns.roundHalfUp(NumFns.exactAvg(col("value"), 2), 4).as("avg_value"),
          count(lit(1)).as("n"))
        .orderBy("hour_of_day", "day_type")
    }, oracle = Some(
      """SELECT hour(ts) AS hour_of_day,
        | CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend' ELSE 'weekday' END AS day_type,
        | floor(CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / count(value) * 10000.0 + 0.5) / 10000.0 AS avg_value,
        | count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY hour_of_day, day_type""".stripMargin)),

    "q36_asof_native" -> Query((s, dir) => {
      // same as-of semantics as q15, executed by the native
      // AsOfJoinExec (custom LogicalPlan + Strategy + SparkPlan): one
      // sort-merge pass per co-partitioned key, no union/window detour
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value").as("signup_value"))
      graft.plans.AsOf.join(purchases, signups, "user_id", "ts", Seq("signup_value"))
        .select(col("event_id"), col("user_id"), col("signup_value"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT p.event_id, p.user_id, s.value AS signup_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') s
        | ON p.user_id = s.user_id AND s.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin)),

    "q37_vocab_topk" -> Query((s, dir) => {
      // corpus vocabulary: top-k tokens by frequency (tokenizer-training
      // precursor). sort+limit plans as TakeOrderedAndProject — per-partition
      // top-k then a k-row merge, never a full global sort.
      T(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok"))
        .limit(100)
    }, oracle = Some(
      """SELECT tok, count(*) AS c FROM (
        | SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents)
        |GROUP BY 1 ORDER BY c DESC, tok LIMIT 100""".stripMargin)),

    "q38_length_stats" -> Query((s, dir) => {
      // per-language document length profile (min/median/max) — corpus QA
      T(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          expr("percentile(n_chars, 0.5)").as("median_chars"))
        .orderBy("lang")
    }, oracle = Some(
      """SELECT lang, count(*) AS n_docs, min(n_chars) AS min_chars,
        | max(n_chars) AS max_chars, quantile_cont(n_chars, 0.5) AS median_chars
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin)),

    "q39_dedup_clusters" -> Query((s, dir) => {
      // collapse the near-dup pair graph (3-gram jaccard >= 0.5) into
      // components: every doc labeled with the min reachable doc_id
      val pairs = Dedup.ngramJaccardPairs(
        T(s, dir, "documents"), col("doc_id"), col("text"), 3, 0.5)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .orderBy("node")
    }, oracle = Some(
      """WITH RECURSIVE
        |w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM (
        |  SELECT doc_a, doc_b,
        |   floor(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) * 10000.0 + 0.5) / 10000.0 AS jaccard
        |  FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id JOIN sz sb ON pr.doc_b = sb.doc_id)
        | WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        | UNION SELECT doc_b, doc_a FROM pairs),
        |reach(node, label) AS (
        | SELECT DISTINCT src, src FROM edges
        | UNION
        | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT node, min(label) AS component FROM reach GROUP BY node ORDER BY node""".stripMargin)),

    "q40_quality_gopher" -> Query((s, dir) => {
      // Gopher-style quality rules: mean word length, token repetition,
      // digit ratio, pass/fail flag. All ratios via roundHalfUp so the
      // oracle reproduces the arithmetic bit-for-bit.
      val toks = TextFns.tokens(col("text"))
      val n = size(toks).cast("double")
      val meanLen = (length(trim(col("text"))).cast("double") - (n - 1)) / n
      val repetition = (n - size(array_distinct(toks)).cast("double")) / n
      // empty-text guard: Spark 0/0 is NULL but DuckDB float 0/0 is NaN —
      // guard BOTH sides (same pattern as q29's punct_ratio)
      val digitRatio = when(length(col("text")) > 0,
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
          length(col("text")).cast("double"))
      T(s, dir, "documents").select(col("doc_id"),
          NumFns.roundHalfUp(meanLen, 4).as("mean_word_len"),
          NumFns.roundHalfUp(repetition, 4).as("repetition_ratio"),
          NumFns.roundHalfUp(digitRatio, 4).as("digit_ratio"),
          (meanLen.between(3.0, 10.0) && repetition < 0.6).as("passes_gopher"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS words FROM documents),
        |m AS (SELECT doc_id,
        |  (CAST(length(trim(text)) AS DOUBLE) - (len(words) - 1)) / len(words) AS mean_len,
        |  (CAST(len(words) AS DOUBLE) - len(list_distinct(words))) / len(words) AS rep,
        |  CASE WHEN length(text) > 0
        |   THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)
        |  END AS dig
        | FROM t)
        |SELECT doc_id,
        | floor(mean_len * 10000.0 + 0.5) / 10000.0 AS mean_word_len,
        | floor(rep * 10000.0 + 0.5) / 10000.0 AS repetition_ratio,
        | floor(dig * 10000.0 + 0.5) / 10000.0 AS digit_ratio,
        | (mean_len BETWEEN 3.0 AND 10.0) AND rep < 0.6 AS passes_gopher
        |FROM m ORDER BY doc_id""".stripMargin)),

    "q41_chunk_documents" -> Query((s, dir) => {
      // context chunking: 20-token windows, stride 10 (the sequence-prep
      // step before tokenization); one row per chunk
      chunkDocs(s, dir).orderBy("doc_id", "chunk_idx")
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        | array_to_string(words[i*10+1 : i*10+20], ' ') AS chunk_text
        |FROM w, LATERAL (SELECT unnest(range(0, CAST(ceil(len(words) / 10.0) AS BIGINT))) AS i) t
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    "q42_pii_redact" -> Query((s, dir) => {
      // PII scrubbing: mask digit runs, emails, URLs (patterns chosen to be
      // dialect-identical between Java regex and RE2)
      val redacted = regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
          "https?://[^ ]+", "<URL>"),
        "[0-9]+", "<NUM>")
      T(s, dir, "documents")
        .select(col("doc_id"), redacted.as("redacted_text"),
          (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
            .cast("long").as("n_digits_removed"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
        | regexp_replace(
        |  regexp_replace(
        |   regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |   'https?://[^ ]+', '<URL>', 'g'),
        |  '[0-9]+', '<NUM>', 'g') AS redacted_text,
        | CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
        |  AS n_digits_removed
        |FROM documents ORDER BY doc_id""".stripMargin)),

    "q43_train_split" -> Query((s, dir) => {
      // deterministic train/val/test assignment (stable under reruns and
      // engine-independent: pure key arithmetic, no RNG). doc_id is reduced
      // mod a prime BEFORE the Knuth multiplier: the raw product overflows
      // Int64 at doc_id ≈ 3.5e9 (within the design scale), where Spark wraps
      // silently but ANSI engines raise — the reduced form stays in range
      // and is identical for doc_id < 100003 (all test SFs).
      val bucket = pmod(pmod(col("doc_id"), lit(100003L)) * 2654435761L, lit(100L))
      val split = when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
      T(s, dir, "documents")
        .groupBy(split.as("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy("split")
    }, oracle = Some(
      """SELECT CASE WHEN ((doc_id % 100003) * 2654435761) % 100 < 90 THEN 'train'
        |  WHEN ((doc_id % 100003) * 2654435761) % 100 < 95 THEN 'val' ELSE 'test' END AS split,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin)),

    "q44_sequence_packing" -> Query((s, dir) => {
      // contiguous sequence packing: assign 20-token chunks to fixed
      // 100-token context packs via a running token total. Packing is PER
      // SHARD — the window partitions on a deterministic key arithmetic, so
      // the sort is distributed (no single-partition WindowExec) and each
      // shard packs independently, which is exactly how a 1000-executor run
      // would do it. Pack ids are globally unique via shard * 2^40 + local
      // pack — 2^40 local packs ≈ 10^14 tokens per shard before collision,
      // comfortably past the 100 TB design point (a 10^6 offset would alias
      // across shards at ~10^8 tokens); the oracle reproduces the identical
      // shard arithmetic.
      Relational.sequencePack(chunkDocs(s, dir), col("doc_id"), col("chunk_idx"),
          col("chunk_text"), packTokens = 100, numShards = 8L)
        .orderBy("doc_id", "chunk_idx")
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(words[i*10+1 : i*10+20], ' ') AS chunk_text
        | FROM w, LATERAL (SELECT unnest(range(0, CAST(ceil(len(words) / 10.0) AS BIGINT))) AS i) t),
        |tk AS (SELECT doc_id, chunk_idx,
        |  CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(doc_id % 8 AS BIGINT) AS shard FROM c)
        |SELECT doc_id, chunk_idx, n_tok, shard,
        | CAST(shard * 1099511627776 + floor((sum(n_tok) OVER (PARTITION BY shard
        |   ORDER BY doc_id, chunk_idx
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 100.0) AS BIGINT) AS pack_id
        |FROM tk ORDER BY doc_id, chunk_idx""".stripMargin)),

    "q45_bpe_pair_counts" -> Query((s, dir) => {
      // first BPE iteration: adjacent-token pair counts over the corpus
      // (multiset — NOT the distinct shingle set), top 50
      T(s, dir, "documents")
        .select(explode(TextFns.bigrams(col("text"))).as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pair"))
        .limit(50)
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |b AS (SELECT words[i] || ' ' || words[i+1] AS pair
        | FROM w, LATERAL (SELECT unnest(range(1, len(words))) AS i) t)
        |SELECT pair, count(*) AS c FROM b GROUP BY 1 ORDER BY c DESC, pair LIMIT 50""".stripMargin)),

    "q46_stratified_sample" -> Query((s, dir) => {
      // deterministic stratified downsampling: keep 50% of 'en', all others
      // (rebalancing an over-represented language) — keyed arithmetic, no
      // RNG; doc_id reduced mod a prime first (overflow headroom, see q43)
      val bucket = pmod(pmod(col("doc_id"), lit(100003L)) * 1000003L, lit(100L))
      val rate = when(col("lang") === "en", 50L).otherwise(100L)
      T(s, dir, "documents")
        .filter(bucket < rate)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 100003) * 1000003) % 100 < CASE WHEN lang = 'en' THEN 50 ELSE 100 END
        |ORDER BY doc_id""".stripMargin)),

    "q47_range_join" -> Query((s, dir) => {
      // interval join: purchases within 45 minutes after a signup of the
      // same user — bucketed equi-join, not a nested loop
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("s_id"),
          col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 45 MINUTES")).as("win_end"))
      TimeSeries.rangeJoin(purchases, col("ts"),
          windows, col("win_start"), col("win_end"), "user_id", 15)
        .select(col("event_id").as("p_event_id"), col("s_id"))
        .orderBy("p_event_id", "s_id")
    }, oracle = Some(
      """SELECT p.event_id AS p_event_id, s.event_id AS s_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup') s
        | ON p.user_id = s.user_id AND s.ts <= p.ts AND p.ts < s.ts + INTERVAL 45 MINUTE
        |ORDER BY p_event_id, s_id""".stripMargin)),

    "q51_pivot_hours" -> Query((s, dir) => {
      // the reference's true wide pivot (notebooks/citibike_ck.ipynb:419):
      // pivot_table(values='available_bikes', index='hood',
      // columns=['hour_of_day']) → one column per hour, 24 of them. Pivot
      // values are PINNED (0..23) so Spark skips the extra distinct-values
      // job and plans a single-shuffle conditional aggregation.
      // exactAvg (see q08): compound sum/count aggregates are not accepted
      // by pivot().agg(), so the pivot is written as what it compiles to
      // with pinned values anyway — 24 conditional aggregates, one shuffle.
      val ev = T(s, dir, "events").withColumn("_h", hour(col("ts")))
      val hourCols = (0 to 23).map(h =>
        NumFns.roundHalfUp(NumFns.exactAvg(when(col("_h") === h, col("value")), 2), 4)
          .as(f"h$h%02d"))
      ev.groupBy(col("user_id"))
        .agg(hourCols.head, hourCols.tail: _*)
        .orderBy("user_id")
    }, oracle = Some({
      val hourCols = (0 to 23).map(h =>
        f"floor(CAST(sum(CAST(CASE WHEN hour(ts) = $h THEN value END AS DECIMAL(28,2))) AS DOUBLE)" +
          f" / count(CASE WHEN hour(ts) = $h THEN value END) * 10000.0 + 0.5) / 10000.0 AS h$h%02d")
        .mkString(",\n ")
      s"""SELECT user_id,
         | $hourCols
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    })),

    "q52_dedup_jaccard_capped" -> Query((s, dir) => {
      // the df-capped jaccard as a driver-checked contract entry: shingles
      // seen in more than 50 docs are excluded from candidate generation
      // (bounding per-key join fan-out at 100 TB); sizes still count ALL
      // shingles, so the score is a guaranteed lower bound of q22's.
      // r15: one-pass shape — the index is built once and consumed by a
      // single bounded aggregation (DfCappedPairsAgg), so there is nothing
      // left to persist (the r13 persist A/B adjudicated the OLD
      // three-branch shape)
      Dedup.ngramJaccardPairsCapped(T(s, dir, "documents"), col("doc_id"), col("text"),
          3, 0.5, maxDocFreq = 50L)
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        | WHERE df <= 50),
        |bl AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common_rare
        | FROM bl a JOIN bl b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b, jaccard FROM (
        | SELECT doc_a, doc_b,
        |  floor(CAST(n_common_rare AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common_rare) * 10000.0 + 0.5) / 10000.0 AS jaccard
        | FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id JOIN sz sb ON pr.doc_b = sb.doc_id)
        |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    "q53_upsert_scd" -> Query((s, dir) => {
      // write-side upsert driven end to end (reference stations_static
      // insert-or-update): seed a keyed parquet table with half the events,
      // upsert the other half, read the table back. The final state must
      // equal the q20 read-side SCD collapse — the oracle IS q20's SQL.
      val ev = T(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      val version = Seq(col("ts"), col("event_id"))
      // one directory per session, cleared before seeding so the query
      // stays idempotent, deleted when the context stops
      val root = Sessions.scratchDir(s, "q53_upsert")
      val path = root.resolve("events_current").toString
      Writers.upsert(s, path, ev.filter(pmod(col("event_id"), lit(2)) === 0),
        Seq("user_id"), version)
      Writers.upsert(s, path, ev.filter(pmod(col("event_id"), lit(2)) === 1),
        Seq("user_id"), version)
      s.read.parquet(path)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    }, oracle = Some(
      """SELECT user_id, event_id, event_type FROM (
        | SELECT user_id, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    "q54_chunk_dedup" -> Query((s, dir) => {
      // sequence-level exact dedup (Lee et al. 2022 "Deduplicating Training
      // Data Makes Language Models Better"): repeated 20-token spans are
      // removed at CHUNK granularity — boilerplate survives document-level
      // dedup (q21) but not this. Per-doc rollup of kept vs dropped chunks.
      Dedup.firstOccurrenceFlags(chunkDocs(s, dir), col("chunk_text"),
          Seq(col("doc_id"), col("chunk_idx")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("is_first").cast("long")).as("n_kept"),
          sum((!col("is_first")).cast("long")).as("n_dropped"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(words[i*10+1 : i*10+20], ' ') AS chunk_text
        | FROM w, LATERAL (SELECT unnest(range(0, CAST(ceil(len(words) / 10.0) AS BIGINT))) AS i) t),
        |r AS (SELECT doc_id, chunk_idx,
        |  row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) AS rn
        | FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        | CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM r GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    "q55_token_budget" -> Query((s, dir) => {
      // per-source token-budget capping: keep each source's docs in doc_id
      // order until the source's running token total exceeds the budget —
      // the exact-cutoff companion to q46's rate-based sampling. The running
      // total is a distributed two-level prefix scan (Relational.prefixSum),
      // not a one-partition-per-source window.
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      Relational.prefixSum(docs, col("source"), col("doc_id"), col("n_tok"),
          bucketWidth = 64, cumName = "cum_tok")
        .filter(col("cum_tok") <= 800L)
        .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok FROM documents),
        |r AS (SELECT doc_id, source, n_tok,
        |  CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_tok
        | FROM t)
        |SELECT doc_id, source, n_tok, cum_tok FROM r
        |WHERE cum_tok <= 800 ORDER BY doc_id""".stripMargin)),

    "q56_decontaminate_bloom" -> Query((s, dir) => {
      // q49's decontamination via the two-phase 100 TB shape: a distributed
      // Bloom filter over held-out gram hashes prefilters train grams before
      // the exact semi-join. False positives are removed by the exact join,
      // so the result — and the oracle — is IDENTICAL to q49; what changes
      // is the join shuffle volume (~fpp of clean grams instead of all).
      Dedup.contaminationHitsBloom(T(s, dir, "documents"), col("doc_id"), col("text"),
          pmod(pmod(col("doc_id"), lit(100003L)) * 2654435761L, lit(100L)) >= 95, 3,
          expectedItems = 100000L, numBits = 1000000L)
        .orderBy("doc_id")
    }, oracle = Some(
      // identical to q49's oracle by construction: the Bloom prefilter only
      // discards grams the exact join would discard anyway
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words,
        |  ((doc_id % 100003) * 2654435761) % 100 >= 95 AS held FROM documents),
        |sh AS (SELECT DISTINCT doc_id, held, array_to_string(words[i:i+2], ' ') AS g
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |hg AS (SELECT DISTINCT g FROM sh WHERE held)
        |SELECT doc_id, count(*) AS n_hits
        |FROM sh JOIN hg USING (g) WHERE NOT held
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    "q57_incremental_dedup" -> Query((s, dir) => {
      // incremental ingest END TO END: docs with doc_id % 10 == 7 arrive as
      // the new batch; the rest are the standing corpus, whose inverted
      // shingle index is MATERIALIZED to parquet (range-sorted on the
      // 8-byte shingle hash for min/max file pruning) and read back — the
      // artifact a nightly pipeline keeps between ingests, so per-ingest
      // cost follows batch size plus one index scan, never a corpus
      // re-shingle. Cross-set near-dup pairs surface as the hygiene report.
      val docs = T(s, dir, "documents")
      // per-session directory, cleared first: as q53's upsert table
      val root = Sessions.scratchDir(s, "q57_index")
      val path = root.resolve("corpus_shingle_index").toString
      Writers.writeSorted(
        Dedup.shingleIndex(docs.filter(pmod(col("doc_id"), lit(10L)) =!= 7),
          col("doc_id"), col("text"), 3, idName = "corpus_id"),
        path, Seq("sh_h"), numFiles = 8)
      Dedup.ngramJaccardAgainstIndex(s.read.parquet(path),
          docs.filter(pmod(col("doc_id"), lit(10L)) === 7), col("doc_id"), col("text"),
          3, 0.5, persistIndex = true)
        .orderBy("batch_id", "corpus_id")
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pr AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, count(*) AS n_common
        | FROM sh b JOIN sh c ON b.shingle = c.shingle
        | WHERE b.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
        | GROUP BY 1, 2)
        |SELECT batch_id, corpus_id, jaccard FROM (
        | SELECT batch_id, corpus_id,
        |  floor(CAST(n_common AS DOUBLE) / (sb.n_sh + sc.n_sh - n_common) * 10000.0 + 0.5) / 10000.0 AS jaccard
        | FROM pr JOIN sz sb ON pr.batch_id = sb.doc_id JOIN sz sc ON pr.corpus_id = sc.doc_id)
        |WHERE jaccard >= 0.5 ORDER BY batch_id, corpus_id""".stripMargin)),

    "q58_repetition_profile" -> Query((s, dir) => {
      // Gopher-style repetition signal: fraction of a document's adjacent
      // bigrams taken by its single most repeated bigram. Two-level
      // aggregation — (doc, bigram) partial counts collapse map-side before
      // the shuffle, so a degenerate "a a a a ..." doc never concentrates
      // on one reducer. Docs under 2 tokens have no bigrams and drop out.
      T(s, dir, "documents")
        .select(col("doc_id"), explode(TextFns.bigrams(col("text"))).as("pair"))
        .groupBy(col("doc_id"), col("pair"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_bigrams"),
          max(col("c")).cast("long").as("top_bigram_n"))
        .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
          NumFns.roundHalfUp(
            col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"), 4)
            .as("rep_ratio"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |b AS (SELECT doc_id, words[i] || ' ' || words[i+1] AS pair
        | FROM w, LATERAL (SELECT unnest(range(1, len(words))) AS i) t),
        |pc AS (SELECT doc_id, pair, count(*) AS c FROM b GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        | CAST(max(c) AS BIGINT) AS top_bigram_n,
        | floor(CAST(max(c) AS DOUBLE) / sum(c) * 10000.0 + 0.5) / 10000.0 AS rep_ratio
        |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    "q59_weighted_sample" -> Query((s, dir) => {
      // quality-weighted subsampling: keep 5 docs per source, favoring long
      // documents via a deterministic hash-priority (h / n_chars — a bigger
      // doc gets a smaller priority, ranking earlier; no RNG, so reruns and
      // engines agree). doc_id is reduced mod a prime before the Knuth
      // multiplier (overflow headroom, see q43).
      val h = pmod(pmod(col("doc_id"), lit(100003L)) * lit(2654435761L), lit(1000003L))
      Relational.topNPerGroup(
          T(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars"),
              (h.cast("double") / col("n_chars").cast("double")).as("priority")),
          Seq(col("source")), Seq(col("priority"), col("doc_id")), 5)
        .select(col("source"), col("doc_id"), col("n_chars"), col("rn"))
        .orderBy("source", "rn")
    }, oracle = Some(
      """WITH p AS (SELECT source, doc_id, n_chars,
        |  CAST(((doc_id % 100003) * 2654435761) % 1000003 AS DOUBLE) / n_chars AS priority
        | FROM documents),
        |r AS (SELECT source, doc_id, n_chars,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS BIGINT) AS rn
        | FROM p)
        |SELECT source, doc_id, n_chars, rn FROM r WHERE rn <= 5 ORDER BY source, rn""".stripMargin)),

    "q60_corpus_shuffle" -> Query((s, dir) => {
      // deterministic training-order shuffle: every doc gets a global
      // 0-based sequence number ordered by hash-priority — reproducible
      // pseudo-random epoch order with no RNG. The distributed two-level
      // scheme (globalOrderIndex) replaces the single-task
      // `row_number() OVER (ORDER BY …)` window: bucket counts → offsets
      // (tiny table), intra-bucket ranks (bounded partitions).
      val h = pmod(pmod(col("doc_id"), lit(100003L)) * lit(2654435761L), lit(1000003L))
      Relational.globalOrderIndex(
          T(s, dir, "documents").select(col("doc_id"), col("source"), h.as("h")),
          col("h"), Seq(col("doc_id")), bucketWidth = 16384L)
        .select(col("doc_id"), col("source"), col("seq"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH p AS (SELECT doc_id, source,
        |  ((doc_id % 100003) * 2654435761) % 1000003 AS h FROM documents)
        |SELECT doc_id, source,
        | CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS seq
        |FROM p ORDER BY doc_id""".stripMargin)),

    "q61_distinctive_terms" -> Query((s, dir) => {
      // distinctive vocabulary per source (TF-IDF shaped, integer-only so
      // engines agree exactly): term counts per (source, token); the "IDF"
      // cut keeps terms absent from at least one source (source_df below
      // the total source count — a broadcast 1-row threshold, computed not
      // hard-coded); top-5 per source.
      val tf = T(s, dir, "documents")
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("tf"))
      // tf has one row per (source, token) ⇒ count per token = source df
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("source_df"))
      val nSrc = tf.select(col("source")).distinct()
        .agg(count(lit(1)).as("n_src"))
      Relational.topNPerGroup(
          tf.join(df, Seq("token"))
            .join(broadcast(nSrc), col("source_df") < col("n_src"))
            .drop("n_src"),
          Seq(col("source")), Seq(col("tf").desc, col("token")), 5)
        .select(col("source"), col("token"), col("tf"), col("source_df"), col("rn"))
        .orderBy("source", "rn")
    }, oracle = Some(
      """WITH w AS (SELECT source, unnest(string_split(trim(text), ' ')) AS token FROM documents),
        |tf AS (SELECT source, token, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS source_df FROM tf GROUP BY 1),
        |ns AS (SELECT count(DISTINCT source) AS n_src FROM tf),
        |r AS (SELECT source, token, tf, source_df,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY tf DESC, token) AS BIGINT) AS rn
        | FROM tf JOIN df USING (token), ns WHERE source_df < n_src)
        |SELECT source, token, tf, source_df, rn FROM r WHERE rn <= 5
        |ORDER BY source, rn""".stripMargin)),

    "q62_source_overlap" -> Query((s, dir) => {
      // cross-source contamination matrix: distinct shingles per source
      // (map-side collapse before the shuffle), pair sources sharing a
      // shingle via a self-join on the 8-byte shingle hash, count common
      // shingles per source pair + containment vs the smaller side. Output
      // is #sources² rows at most — the corpus never leaves the distinct.
      val sh = T(s, dir, "documents")
        .select(col("source"),
          explode(graft.plans.NativeFns.shingleHashes(col("text"), 3)).as("h"))
        .distinct()
      val sz = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
      sh.as("a").join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(sz.select(col("source").as("source_a"), col("n_sh").as("n_a")), Seq("source_a"))
        .join(sz.select(col("source").as("source_b"), col("n_sh").as("n_b")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("n_common"),
          NumFns.roundHalfUp(
            col("n_common").cast("double") / least(col("n_a"), col("n_b")).cast("double"),
            4).as("containment"))
        .orderBy("source_a", "source_b")
    }, oracle = Some(
      """WITH w AS (SELECT source, string_split(trim(text), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT source, array_to_string(words[i:i+2], ' ') AS shingle
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |sz AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY 1),
        |pr AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
        | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT source_a, source_b, n_common,
        | floor(CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) * 10000.0 + 0.5) / 10000.0 AS containment
        |FROM pr JOIN sz sa ON pr.source_a = sa.source JOIN sz sb ON pr.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin)),

    "q63_ann_pq" -> Query((s, dir) => {
      // product-quantization ANN with exact re-rank: corpus vectors live as
      // 8 one-byte codes (32× smaller than 64 floats), queries scan codes
      // via a broadcast lookup table, and only the top-50 approximate
      // candidates per query are re-ranked against true vectors. With
      // candidates ≥ corpus the result provably equals q26 (spec-asserted).
      // codebooks train on a deterministic 2048-vector hash sample — the
      // quantizer needs a representative draw, not the corpus (the corpus is
      // still encoded, one pass); at 100 TB training cost is O(sample), flat
      // candidates = 200 (r8 retuning, was 50): the prescreen depth is THE
      // PQ recall knob — measured 0.58 → 0.90 recall@5 at sf0.1; re-rank
      // cost stays O(candidates × k) per query (RecallFloorSpec pins ≥0.8)
      val embs = T(s, dir, "embeddings")
      Similarity.pqTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, numSub = 8, numCentroids = 16, candidates = 200, kmeansIters = 1,
          trainSample = 2048)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .orderBy("query_id", "rnk")
    }, oracle = None),

    "q65_ann_ivfpq" -> Query((s, dir) => {
      // composed FAISS-style IVFPQ: the PQ code scan runs only inside the
      // query's 4 probed coarse cells (of 16), so a query reads
      // ~nProbe/numCells of the one-byte codes — the two 100 TB levers
      // (probe pruning × 32-byte-to-1-byte compression) stacked. Probe-all +
      // uncapped candidates provably equals q26 (spec-asserted).
      // candidates = 100 (r8 retuning, was 50): measured 0.74 → 0.88
      // recall@5 at sf0.1 with nProbe unchanged (RecallFloorSpec pins ≥0.8)
      val embs = T(s, dir, "embeddings")
      Similarity.ivfPqTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, numCells = 16, nProbe = 4, numSub = 8, numCentroids = 16,
          candidates = 100, kmeansIters = 1, trainSample = 2048)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .orderBy("query_id", "rnk")
    }, oracle = None),

    "q66_ann_pq_exact" -> Query((s, dir) => {
      // q63's PQ path in its provably-exact configuration: a prescreen cap
      // far above any test corpus keeps every vector, so the exact re-rank
      // IS brute force and the driver hash-checks the whole
      // train/encode/LUT/re-rank pipeline against q26's oracle (the PQ
      // approximation only ever decides WHICH candidates survive — never
      // their final exact scores). The cap is a FINITE literal on purpose:
      // with Int.MaxValue the rank filter is provably always true
      // (row_number is 32-bit), so Catalyst folds it away and prunes the
      // entire PQ scoring pipeline — the query would "pass" while
      // exercising none of the code path it exists to check.
      val embs = T(s, dir, "embeddings")
      Similarity.pqTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, numSub = 8, numCentroids = 16, candidates = 1000000,
          kmeansIters = 1, trainSample = 2048)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .orderBy("query_id", "rnk")
    }, oracle = Some(
      // q66/q67/q68 are q26's computation by construction (uncapped PQ
      // prescreen / probe-ALL IVF / probe-all+uncapped IVFPQ each pass every
      // vector to the exact scoring), so they share q26's oracle — the PQ,
      // IVF, and composed-IVFPQ pipelines are hash-checked, not just
      // spec-checked
      exactAnnTop5Oracle)),

    "q67_ann_ivf_exact" -> Query((s, dir) => {
      // q48's IVF path in its provably-exact configuration: probing every
      // coarse cell keeps the whole corpus in scope, so the result equals
      // brute force REGARDLESS of quantizer quality and the driver
      // hash-checks the entire assign/invert/probe/score pipeline against
      // q26's oracle (the quantizer only ever decides WHICH cells a query
      // skips — probe-all skips none)
      val embs = T(s, dir, "embeddings")
      Similarity.ivfTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
          5, 16, 16, kmeansIters = 1)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .orderBy("query_id", "rnk")
    }, oracle = Some(exactAnnTop5Oracle)),

    "q68_ann_ivfpq_exact" -> Query((s, dir) => {
      // q65's composed IVFPQ path in its provably-exact configuration:
      // probe-all keeps every cell in scope AND the (finite — see q66 on
      // why not Int.MaxValue) prescreen cap far above any test corpus keeps
      // every code, so BOTH filters pass everything and the exact re-rank
      // IS brute force — the driver hash-checks the composed
      // quantizer+cells+codes+LUT+re-rank pipeline against q26's oracle.
      // PRECONDITION: exactness (and the shared q26 oracle) holds only
      // while the corpus stays under candidates = 1,000,000 vectors —
      // beyond that the prescreen truncates and a driver hash mismatch
      // here would be this config's staleness, not an engine bug. Largest
      // driver SF (sf0.1) has 2,000 vectors; ~500× headroom. Same bound
      // applies to q66.
      val embs = T(s, dir, "embeddings")
      Similarity.ivfPqTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, numCells = 16, nProbe = 16, numSub = 8, numCentroids = 16,
          candidates = 1000000, kmeansIters = 1, trainSample = 2048)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .orderBy("query_id", "rnk")
    }, oracle = Some(exactAnnTop5Oracle)),

    "q64_length_buckets" -> Query((s, dir) => {
      // batching-efficiency profile: bucket docs by token length (width 32);
      // per bucket, the padding waste if batched to the bucket max — the
      // length-bucketed batching planner's input. Integer-only math.
      T(s, dir, "documents")
        .select(size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("bucket", (floor(col("n_tok") / lit(32L)) * 32L).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("sum_tok"),
          max(col("n_tok")).cast("long").as("max_tok"))
        .select(col("bucket"), col("n_docs"), col("sum_tok"), col("max_tok"),
          (col("max_tok") * col("n_docs") - col("sum_tok")).as("pad_waste"))
        .orderBy("bucket")
    }, oracle = Some(
      """WITH t AS (SELECT CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok FROM documents),
        |b AS (SELECT (n_tok // 32) * 32 AS bucket, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tok, max(n_tok) AS max_tok
        | FROM t GROUP BY 1)
        |SELECT bucket, n_docs, sum_tok, max_tok,
        | max_tok * n_docs - sum_tok AS pad_waste
        |FROM b ORDER BY bucket""".stripMargin)),

    "q69_ann_lsh_exact" -> Query((s, dir) => {
      // q27's LSH path in its provably-exact configuration: zero hyperplanes
      // key every vector to bucket 0, so the single band table holds the
      // whole corpus and the bucket join scores every (query, neighbor)
      // pair — brute force through the LSH plumbing (bucketing expression,
      // band explode, bucket join, pair dedup, per-query top-k), hash-checked
      // by the driver against q26's oracle. Completes the exact-twin ladder
      // (q66 PQ / q67 IVF / q68 IVFPQ / q69 LSH). No corpus-size
      // precondition: nothing in this path truncates — the degenerate
      // bucket join broadcasts the 10-query side, so the corpus is never
      // shuffled or capped on its way to the exact scorer.
      val embs = T(s, dir, "embeddings")
      Similarity.lshTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, numPlanes = 0, numTables = 1)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .orderBy("query_id", "rnk")
    }, oracle = Some(exactAnnTop5Oracle)),

    "q70_cluster_assign" -> Query((s, dir) => {
      // k-means corpus clustering (topic bucketing / stratified-mix input):
      // every vector assigned to its nearest-by-cosine centroid via the
      // zero-shuffle packed-broadcast + native-argmax path shared with the
      // IVF index build. iters = 0 pins the centroids to the first 16
      // vectors by id, so the full per-row assignment — including argmax
      // tie-breaking to the lowest cell_id — is deterministic and
      // hash-checked by the driver against a DuckDB argmax oracle. The
      // Lloyd-refinement path of the same operator is driver-exercised by
      // the IVF/PQ queries (q48/q63/q65 train with kmeansIters = 1).
      Similarity.kmeansAssign(T(s, dir, "embeddings"), "vec_id", "embedding",
          k = 16, iters = 0)
        .orderBy("vec_id")
    }, oracle = Some(
      // argmax-by-cosine over the 16 lowest-id seed vectors; ties resolve to
      // the lowest cell_id on both sides (row_number orders cos DESC, cell_id).
      // Undefined cosines (a zero-norm vector or centroid → 0/0 = NaN under
      // DuckDB's IEEE float ops) are dropped BEFORE ranking — kmeansAssign
      // skips them in the argmax — and the final LEFT JOIN keeps every vec_id,
      // so a vector with no defined similarity gets NULL cell_id on both
      // sides (without the isfinite filter, NaN sorts ABOVE every real cosine
      // in DuckDB and a zero-norm vector would win rn = 1 with an arbitrary
      // cell while the engine correctly emits NULL).
      """WITH cent AS (SELECT vec_id AS cell_id, embedding AS cvec
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |pairs AS (SELECT v.vec_id, c.cell_id, v.embedding AS ve, c.cvec
        |  FROM embeddings v CROSS JOIN cent c),
        |ex AS (SELECT vec_id, cell_id, CAST(unnest(ve) AS DOUBLE) AS x,
        |  CAST(unnest(cvec) AS DOUBLE) AS y FROM pairs),
        |s AS (SELECT vec_id, cell_id,
        |  sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
        | FROM ex GROUP BY 1, 2),
        |r AS (SELECT vec_id, cell_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell_id) AS rn
        | FROM s WHERE isfinite(cos))
        |SELECT v.vec_id, r.cell_id FROM embeddings v
        | LEFT JOIN r ON v.vec_id = r.vec_id AND r.rn = 1
        | ORDER BY v.vec_id""".stripMargin)),

    "q71_semantic_dedup" -> Query((s, dir) => {
      // SemDeDup: cluster-blocked embedding near-dup pruning. Clusters come
      // from kmeansAssign (iters = 0 pins centroids to the 16 lowest-id
      // vectors, making the WHOLE pipeline — assignment argmax, within-cell
      // pair cosines, lowest-id-keeper verdict — SQL-expressible for the
      // DuckDB oracle); pairs are generated only within a cell, and each
      // near-dup pair keeps its lowest-id member. 0.35 drops a meaningful
      // slice (62/500 at sf0.01) of this near-uniform synthetic corpus;
      // a real corpus runs ~0.95+.
      Dedup.semanticDedup(T(s, dir, "embeddings"), "vec_id", "embedding",
          k = 16, iters = 0, minCos = 0.35)
        .orderBy("vec_id")
    }, oracle = Some(
      // q70's assignment argmax (cent…asg CTEs, identical semantics incl. the
      // isfinite/NULL-cell contract), then within-cell pair cosines rounded
      // to 3 — the same compare q25 pins — and the lowest-id-keeper verdict:
      // dropped iff a lower-id same-cell partner scores >= 0.35
      """WITH cent AS (SELECT vec_id AS cell_id, embedding AS cvec
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |pr AS (SELECT v.vec_id, c.cell_id, v.embedding AS ve, c.cvec
        |  FROM embeddings v CROSS JOIN cent c),
        |ex AS (SELECT vec_id, cell_id, CAST(unnest(ve) AS DOUBLE) AS x,
        |  CAST(unnest(cvec) AS DOUBLE) AS y FROM pr),
        |s AS (SELECT vec_id, cell_id,
        |  sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
        | FROM ex GROUP BY 1, 2),
        |r AS (SELECT vec_id, cell_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell_id) AS rn
        | FROM s WHERE isfinite(cos)),
        |asg AS (SELECT v.vec_id, r.cell_id, v.embedding FROM embeddings v
        | LEFT JOIN r ON v.vec_id = r.vec_id AND r.rn = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  a.embedding AS ae, b.embedding AS be
        | FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id),
        |ex2 AS (SELECT id_a, id_b, CAST(unnest(ae) AS DOUBLE) AS x,
        |  CAST(unnest(be) AS DOUBLE) AS y FROM p),
        |s2 AS (SELECT id_a, id_b,
        |  round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 3) AS cos
        | FROM ex2 GROUP BY 1, 2),
        |drp AS (SELECT DISTINCT id_b FROM s2 WHERE cos >= 0.35)
        |SELECT a.vec_id, a.cell_id, (d.id_b IS NULL) AS is_kept
        |FROM asg a LEFT JOIN drp d ON a.vec_id = d.id_b
        |ORDER BY a.vec_id""".stripMargin)),

    "q72_boilerplate_strip" -> Query((s, dir) => {
      // CCNet/RefinedWeb-style boilerplate removal at chunk granularity:
      // 10-token spans repeated across >= 3 documents are template, not
      // content — strip ALL their instances and rebuild the text (q54
      // flags duplicate chunk INSTANCES and keeps the first; this removes
      // the whole chunk class). 15 chunk classes cross df >= 3 at sf0.01.
      Dedup.boilerplateStrip(T(s, dir, "documents"), col("doc_id"), col("text"),
          chunkTokens = 10, minDf = 3)
        .orderBy("doc_id")
    }, oracle = Some(
      // q41's chunking at stride == chunk (non-overlapping 10-token spans),
      // document frequency per span, strip spans with df >= 3, rebuild
      // single-spaced in chunk order; string_agg skips the NULLed boiler
      // chunks and the LEFT JOIN keeps empty documents with clean_text = ''
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(words[i*10+1 : i*10+10], ' ') AS chunk_text
        | FROM w, LATERAL (SELECT unnest(range(0, CAST(ceil(len(words) / 10.0) AS BIGINT))) AS i) t),
        |f AS (SELECT chunk_text, count(DISTINCT doc_id) AS df FROM c GROUP BY 1),
        |v AS (SELECT c.doc_id, c.chunk_idx, c.chunk_text, (f.df >= 3) AS is_boiler
        |  FROM c JOIN f USING (chunk_text)),
        |r AS (SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN NOT is_boiler THEN chunk_text END,
        |    ' ' ORDER BY chunk_idx), '') AS clean_text
        | FROM v GROUP BY 1)
        |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |  CAST(coalesce(r.n_chunks, 0) AS BIGINT) AS n_chunks,
        |  CAST(coalesce(r.n_dropped, 0) AS BIGINT) AS n_dropped
        |FROM documents d LEFT JOIN r USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    "q73_classifier_score" -> Query((s, dir) => {
      // fastText/DCLM-style model filter: train a hashed bag-of-words
      // linear classifier on a labeled seed (here: lang='en' as the
      // label), then score and threshold the corpus. All-integer per-mille
      // weights so the result is bit-exact under any partitioning. The
      // model is <= 4096 rows; scoring runs the round-7 fused
      // HashedLinearScore kernel (dense weight array inside the
      // expression, one walk per doc), spec-proven bit-identical to the
      // composed explode+join pipeline.
      val docs = T(s, dir, "documents")
      val model = Scoring.trainHashedLinear(
        docs, col("text"), col("lang") === lit("en"), numBuckets = 4096)
      Scoring.scoreHashedLinearFused(docs, col("doc_id"), col("text"), model,
          numBuckets = 4096)
        .withColumnRenamed("_sid", "doc_id")
        .withColumnRenamed("pred", "pred_en")
        .orderBy("doc_id")
    }, oracle = Some(
      // hashed-linear model filter: per-token bucket = the q31 rolling-hash
      // fold mod 4096, per-bucket weight = add-one-smoothed per-mille
      // P(lang='en' | bucket) with integer floor division (`//` == Spark
      // `div` on non-negative operands), score = integer weight sum,
      // prediction = mean weight > 500. All-integer -> hash-exact.
      """WITH tok AS (
        | SELECT doc_id, (lang = 'en') AS y,
        |   unnest(string_split(trim(text), ' ')) AS tok
        | FROM documents),
        |b AS (
        | SELECT doc_id, y,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(regexp_extract_all(tok, '(?s).'),
        |      c -> CAST(unicode(c) AS BIGINT))),
        |   (acc, cp) -> (acc * 31 + cp) % 1000000007) % 4096 AS bucket
        | FROM tok),
        |m AS (
        | SELECT bucket,
        |  (1000 * sum(CASE WHEN y THEN 1 ELSE 0 END)) // (count(*) + 1) AS weight
        | FROM b GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        | CAST(sum(m.weight) AS BIGINT) AS score_sum,
        | CAST(sum(m.weight) AS BIGINT) * 2 > CAST(count(*) AS BIGINT) * 1000 AS pred_en
        |FROM b JOIN m USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    "q74_charlm_score" -> Query((s, dir) => {
      // CCNet/KenLM-shaped perplexity filter: train a char-bigram LM on
      // the corpus, score each document by the integer sum/mean of
      // per-mille bigram probabilities — improbable character sequences
      // score low and get dropped. Model <= |charset|^2 rows -> broadcast.
      // Both halves run the round-7 fused kernels (CharBigramCounts /
      // CharLmScore — one UTF-8 walk per doc instead of a per-position
      // explode), spec-proven bit-identical to the composed pipeline.
      val docs = T(s, dir, "documents")
      val model = Scoring.trainCharBigramLmFused(docs, col("text"))
      Scoring.scoreCharBigramLmFused(docs, col("doc_id"), col("text"), model)
        .withColumnRenamed("_sid", "doc_id")
        .orderBy("doc_id")
    }, oracle = Some(
      // char-bigram LM filter: overlapping bigrams by position, model
      // p(b|a) = (1000 * count(ab)) // (count(a-)+1) per-mille integers,
      // doc score = integer sum and floor-mean. Docs under 2 chars have no
      // bigrams and are excluded on both sides.
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 2),
        |pos AS (SELECT doc_id, text,
        |  unnest(generate_series(1, length(text) - 1)) AS i FROM d),
        |bg AS (SELECT doc_id, substring(text, CAST(i AS INTEGER), 2) AS bg FROM pos),
        |bc AS (SELECT bg, count(*) AS c FROM bg GROUP BY 1),
        |pc AS (SELECT substring(bg, 1, 1) AS a, sum(c) AS pc FROM bc GROUP BY 1),
        |m AS (SELECT bg, (1000 * c) // (pc + 1) AS p
        |  FROM bc JOIN pc ON substring(bc.bg, 1, 1) = pc.a)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_big,
        | CAST(sum(m.p) AS BIGINT) AS lm_sum,
        | CAST(CAST(sum(m.p) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS avg_permille
        |FROM bg JOIN m USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    "q75_bm25_topk" -> Query((s, dir) => {
      // relevance-ranked corpus search: global BM25 top-20 for a 3-term
      // query. logIdf=false (raw Robertson idf ratio) keeps every score a
      // fixed-order rational over integers — bit-exact vs the oracle;
      // production callers flip logIdf=true for the textbook weighting.
      Scoring.bm25TopK(T(s, dir, "documents"), col("doc_id"), col("text"),
          Seq("hash", "join", "vector"), k = 20)
        .orderBy(col("bm25").desc, col("doc_id").asc)
    }, oracle = Some(
      // BM25 with the log-free Robertson idf ratio: every factor is written
      // with the SAME nesting as the Spark expression so both engines apply
      // identical exactly-rounded IEEE ops in identical order (constants are
      // spelled as (1.2 + 1.0), never pre-folded to 2.2 — a decimal literal
      // can round differently than the fold)
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |mt AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN token = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS tf_0,
        |  CAST(sum(CASE WHEN token = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf_1,
        |  CAST(sum(CASE WHEN token = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf_2
        | FROM tok WHERE token IN ('hash', 'join', 'vector') GROUP BY doc_id),
        |dfs AS (SELECT
        |  CAST(count(DISTINCT CASE WHEN token = 'hash' THEN doc_id END) AS BIGINT) AS df_0,
        |  CAST(count(DISTINCT CASE WHEN token = 'join' THEN doc_id END) AS BIGINT) AS df_1,
        |  CAST(count(DISTINCT CASE WHEN token = 'vector' THEN doc_id END) AS BIGINT) AS df_2
        | FROM tok WHERE token IN ('hash', 'join', 'vector'))
        |SELECT doc_id,
        | floor((
        |   ((CAST(n_docs AS DOUBLE) - CAST(df_0 AS DOUBLE) + 0.5) / (CAST(df_0 AS DOUBLE) + 0.5))
        |     * (CAST(tf_0 AS DOUBLE) * (1.2 + 1.0))
        |     / (CAST(tf_0 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        | + ((CAST(n_docs AS DOUBLE) - CAST(df_1 AS DOUBLE) + 0.5) / (CAST(df_1 AS DOUBLE) + 0.5))
        |     * (CAST(tf_1 AS DOUBLE) * (1.2 + 1.0))
        |     / (CAST(tf_1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        | + ((CAST(n_docs AS DOUBLE) - CAST(df_2 AS DOUBLE) + 0.5) / (CAST(df_2 AS DOUBLE) + 0.5))
        |     * (CAST(tf_2 AS DOUBLE) * (1.2 + 1.0))
        |     / (CAST(tf_2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        | ) * 10000.0 + 0.5) / 10000.0 AS bm25
        |FROM mt JOIN dl USING (doc_id), stats, dfs
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    "q76_chargram_dup" -> Query((s, dir) => {
      // ExactSubstr-style duplication profile: per doc, the fraction of its
      // distinct char 20-grams that also occur in another document —
      // char-level, tokenization-blind passage-copy signal
      Dedup.charGramDupProfile(T(s, dir, "documents"), col("doc_id"),
          col("text"), 20)
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 19)) AS i
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INTEGER), 20) AS gram FROM pos),
        |gdf AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(CASE WHEN gdf.gdf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        | floor(CAST(sum(CASE WHEN gdf.gdf > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS shared_ratio
        |FROM g JOIN gdf USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    "q77_dup_stats" -> Query((s, dir) => {
      // per-source duplication report: the first dashboard a curation run
      // produces (doc counts, distinct texts, exact-dup ratio, char volume)
      Dedup.corpusDupStats(T(s, dir, "documents"), col("source"),
          col("doc_id"), col("text"))
        .orderBy("source")
    }, oracle = Some(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
        | CAST(sum(length(text)) AS BIGINT) AS n_chars,
        | floor(CAST(count(*) - count(DISTINCT text) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS dup_ratio
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    "q78_heavy_hitters" -> Query((s, dir) => {
      // exact frequent-token mining with NO vocabulary shuffle: Misra-Gries
      // candidate sketch (custom TypedImperativeAggregate, <= k entries per
      // partial) + broadcast exact recount; output = exactly the tokens
      // with freq*(k+1) > total_tokens, independent of partitioning
      Scoring.heavyHitters(T(s, dir, "documents"), col("text"), 30)
        .orderBy("token")
    }, oracle = Some(
      // exact heavy hitters above the MG threshold: freq*(k+1) > n, k=30
      """WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents),
        |n AS (SELECT count(*) AS n FROM tok)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok, n GROUP BY token, n.n
        |HAVING count(*) * 31 > n.n
        |ORDER BY token""".stripMargin)),

    "q79_length_deciles" -> Query((s, dir) => {
      // exact per-source length deciles via the value-histogram shape: one
      // (source, length) count shuffle; cumulative ranks over the
      // aggregate-sized histogram — no corpus sort, all-integer arithmetic
      Relational.groupedQuantiles(T(s, dir, "documents"),
          col("source"), length(col("text")).cast("long"), (1 to 9).map(_ * 10))
        .select(col("g").as("source"), col("pct"), col("value"))
        .orderBy("source", "pct")
    }, oracle = Some(
      """WITH c AS (SELECT source, CAST(length(text) AS BIGINT) AS v, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |sz AS (SELECT source, sum(cnt) AS n FROM c GROUP BY 1),
        |cum AS (SELECT source, v, sum(cnt) OVER (PARTITION BY source ORDER BY v) AS cum FROM c),
        |t AS (SELECT source, n, unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS pct FROM sz),
        |tr AS (SELECT source, pct, (CAST(pct AS BIGINT) * n + 99) // 100 AS r FROM t)
        |SELECT cum.source, tr.pct, CAST(min(v) AS BIGINT) AS value
        |FROM cum JOIN tr ON cum.source = tr.source AND cum.cum >= tr.r
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    "q80_curation_pipeline" -> Query((s, dir) => {
      // The WHOLE curation run as one driver-checked query: every stage is
      // an operator already verified in isolation, composed here so the
      // hand-offs (which id set feeds which stage) are themselves under the
      // oracle — exact dedup keepers → near-dup component collapse (keep the
      // min-id representative, singletons pass) → decontamination (held-out
      // eval slice removed; train docs sharing ANY 3-gram with it dropped,
      // grams computed over the ORIGINAL corpus so dedup decisions cannot
      // un-contaminate a doc) → Gopher quality gate. Output: the kept corpus.
      // The pair index is persisted (§6: persist wins at sf0.1 AND sf1 — the
      // index feeds three consumers; exchange reuse covers two).
      val docs = T(s, dir, "documents")
      val held = pmod(pmod(col("doc_id"), lit(100003L)) * 2654435761L, lit(100L)) >= 95
      // The contamination branch reads only the raw corpus (its grams are
      // over the ORIGINAL corpus by design), so it runs beside the near-dup
      // stages: its shuffles fill the cores the CC loop's serial checkpoint
      // barriers leave idle. The checkpoint pins the same deterministic rows
      // the lazy plan computes (contaminationHits is a pure hash-join
      // aggregate: no sampling, RNG or row-order dependence).
      val Seq(d2, contaminated) = Par.all(s)(
        () => {
          val k1 = Dedup.exact(docs, col("doc_id"), col("text"))
            .select(col("keeper_id").as("doc_id"))
          val d1 = docs.join(k1, "doc_id")
          val pairs = Dedup.ngramJaccardPairs(d1, col("doc_id"), col("text"), 3, 0.5,
            persistIndex = true)
          val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
          d1.join(comp, d1("doc_id") === comp("node"), "left")
            .filter(col("node").isNull || col("component") === col("doc_id"))
            .drop("node", "component")
        },
        () => Dedup.contaminationHits(docs, col("doc_id"), col("text"), held, 3)
          .filter(col("n_hits") > 0).select(col("doc_id")).localCheckpoint())
      val d3 = d2.filter(!held).join(contaminated, Seq("doc_id"), "left_anti")
      val toks = TextFns.tokens(col("text"))
      val n = size(toks).cast("double")
      val meanLen = (length(trim(col("text"))).cast("double") - (n - 1)) / n
      val repetition = (n - size(array_distinct(toks)).cast("double")) / n
      d3.filter(meanLen.between(3.0, 10.0) && repetition < 0.6)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }, oracle = Some(
      // end-to-end curation: exact keepers → near-dup CC collapse →
      // decontamination (grams over the ORIGINAL corpus) → Gopher gate
      """WITH RECURSIVE
        |k1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |d1 AS (SELECT d.doc_id, d.source, d.text FROM documents d JOIN k1 USING (doc_id)),
        |w1 AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM d1),
        |sh1 AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
        | FROM w1, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh1 GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        | FROM sh1 a JOIN sh1 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM (
        |  SELECT doc_a, doc_b,
        |   floor(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) * 10000.0 + 0.5) / 10000.0 AS jaccard
        |  FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id JOIN sz sb ON pr.doc_b = sb.doc_id)
        | WHERE jaccard >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        | UNION SELECT doc_b, doc_a FROM pairs),
        |reach(node, label) AS (
        | SELECT DISTINCT src, src FROM edges
        | UNION
        | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        |comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
        |d2 AS (SELECT d1.doc_id, d1.source, d1.text FROM d1
        | LEFT JOIN comp ON d1.doc_id = comp.node
        | WHERE comp.node IS NULL OR comp.component = d1.doc_id),
        |wall AS (SELECT doc_id, string_split(trim(text), ' ') AS words,
        |  ((doc_id % 100003) * 2654435761) % 100 >= 95 AS held FROM documents),
        |shall AS (SELECT DISTINCT doc_id, held, array_to_string(words[i:i+2], ' ') AS g
        | FROM wall, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |hg AS (SELECT DISTINCT g FROM shall WHERE held),
        |contaminated AS (SELECT DISTINCT doc_id FROM shall JOIN hg USING (g) WHERE NOT held),
        |d3 AS (SELECT d2.doc_id, d2.source, d2.text FROM d2
        | WHERE NOT (((d2.doc_id % 100003) * 2654435761) % 100 >= 95)
        |  AND d2.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |g AS (SELECT doc_id, source,
        |  (CAST(length(trim(text)) AS DOUBLE) - (len(string_split(trim(text), ' ')) - 1))
        |    / len(string_split(trim(text), ' ')) AS mean_len,
        |  (CAST(len(string_split(trim(text), ' ')) AS DOUBLE)
        |    - len(list_distinct(string_split(trim(text), ' '))))
        |    / len(string_split(trim(text), ' ')) AS rep
        | FROM d3)
        |SELECT doc_id, source FROM g
        |WHERE (mean_len BETWEEN 3.0 AND 10.0) AND rep < 0.6
        |ORDER BY doc_id""".stripMargin)),

    "q81_curriculum_order" -> Query((s, dir) => {
      // curriculum training order: highest LM-quality first, deterministic
      // pseudo-random order inside each quality level. One fine-grained
      // integer key (h - quality·2^20, h < 2^20) encodes (quality DESC,
      // hash ASC), so the distributed two-level globalOrderIndex assigns
      // the global sequence with bounded window partitions — no
      // single-task corpus sort, no RNG.
      val docs = T(s, dir, "documents")
      val model = Scoring.trainCharBigramLmFused(docs, col("text"))
      val scored = Scoring.scoreCharBigramLmFused(docs, col("doc_id"), col("text"), model)
        .select(col("_sid").as("doc_id"), col("avg_permille"))
      val h = pmod(pmod(col("doc_id"), lit(100003L)) * lit(2654435761L), lit(1000003L))
      val keyed = scored.withColumn("_key", h - col("avg_permille") * lit(1048576L))
      Relational.globalOrderIndex(keyed, col("_key"), Seq(col("doc_id")),
          bucketWidth = 16384L)
        .select(col("doc_id"), col("avg_permille"), col("seq"))
        .orderBy("doc_id")
    }, oracle = Some(
      // curriculum: q74's integer LM score, then a global row_number over the
      // fine-grained (quality DESC, hash ASC) integer key
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 2),
        |pos AS (SELECT doc_id, text,
        |  unnest(generate_series(1, length(text) - 1)) AS i FROM d),
        |bg AS (SELECT doc_id, substring(text, CAST(i AS INTEGER), 2) AS bg FROM pos),
        |bc AS (SELECT bg, count(*) AS c FROM bg GROUP BY 1),
        |pc AS (SELECT substring(bg, 1, 1) AS a, sum(c) AS pc FROM bc GROUP BY 1),
        |m AS (SELECT bg, (1000 * c) // (pc + 1) AS p
        |  FROM bc JOIN pc ON substring(bc.bg, 1, 1) = pc.a),
        |scored AS (SELECT doc_id,
        |  CAST(CAST(sum(m.p) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS avg_permille
        | FROM bg JOIN m USING (bg) GROUP BY doc_id),
        |k AS (SELECT doc_id, avg_permille,
        |  ((doc_id % 100003) * 2654435761) % 1000003 - avg_permille * 1048576 AS key
        | FROM scored)
        |SELECT doc_id, avg_permille,
        | CAST(row_number() OVER (ORDER BY key, doc_id) - 1 AS BIGINT) AS seq
        |FROM k ORDER BY doc_id""".stripMargin)),

    "q82_describe" -> Query((s, dir) => {
      // pandas describe() parity (reference CitiBike-1.ipynb df.describe()):
      // count/mean/std/min/quartiles/max per numeric column in ONE query —
      // DECIMAL sum/sumsq moments (partitioning-independent, §5 exactSum
      // rule) + histogram-shaped exact type-1 quartiles (q79's scheme)
      Relational.describeProfile(T(s, dir, "lineitem"), Seq(
          "l_quantity" -> col("l_quantity"),
          "l_extendedprice" -> col("l_extendedprice"),
          "l_discount" -> col("l_discount"),
          "l_tax" -> col("l_tax")))
        .orderBy("column_name")
    }, oracle = Some(
      // describe(): decimal-exact moments (the same sum/sumsq formula over
      // DECIMAL(18,2), cast once to double) + type-1 quartiles via the value
      // histogram — every double op mirrors the Spark expression bit-for-bit
      """WITH m AS (
        | SELECT 'l_quantity' AS c, l_quantity AS v FROM lineitem
        | UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        | UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        | UNION ALL SELECT 'l_tax', l_tax FROM lineitem),
        |mv AS (SELECT c, v FROM m WHERE v IS NOT NULL),
        |mm AS (SELECT c, count(*) AS n,
        |  CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |  CAST(sum(CAST(v AS DECIMAL(18,2)) * CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS ss,
        |  min(v) AS min_value, max(v) AS max_value
        | FROM mv GROUP BY 1),
        |hist AS (SELECT c, v, count(*) AS cnt FROM mv GROUP BY 1, 2),
        |cum AS (SELECT c, v, sum(cnt) OVER (PARTITION BY c ORDER BY v) AS cum FROM hist),
        |t AS (SELECT c, n, unnest([25, 50, 75]) AS pct FROM mm),
        |tr AS (SELECT c, pct, (CAST(pct AS BIGINT) * n + 99) // 100 AS r FROM t),
        |q AS (SELECT cum.c, tr.pct, min(v) AS qv
        | FROM cum JOIN tr ON cum.c = tr.c AND cum.cum >= tr.r GROUP BY 1, 2),
        |qp AS (SELECT c, max(CASE WHEN pct = 25 THEN qv END) AS q25,
        |  max(CASE WHEN pct = 50 THEN qv END) AS median,
        |  max(CASE WHEN pct = 75 THEN qv END) AS q75 FROM q GROUP BY 1)
        |SELECT mm.c AS column_name, n,
        | floor(s / n * 10000.0 + 0.5) / 10000.0 AS mean,
        | CASE WHEN n > 1
        |  THEN floor(sqrt((ss - s * s / n) / (n - 1)) * 10000.0 + 0.5) / 10000.0
        | END AS stddev,
        | min_value, q25, median, q75, max_value
        |FROM mm JOIN qp ON mm.c = qp.c
        |ORDER BY column_name""".stripMargin)),

    "q83_lsh_exact_dup" -> Query((s, dir) => {
      // q23's minhash-LSH plumbing in its provably-exact configuration:
      // rowsPerBand = numPerms ⇒ ONE band whose key is the whole 32-perm
      // signature, so a pair is emitted iff the full signatures agree.
      // Raw text would make that only EMPIRICALLY exact — the corpus holds
      // jaccard ≈ 0.98 near-dups whose 32 mins all collide with
      // probability j³² ≈ 0.5 (measured: 24 such pairs at sf0.01) — so the
      // twin tags every token with md5(text), a transform both engines
      // compute identically: distinct texts then share ZERO shingles, and
      // disjoint shingle sets collide only at the 2⁻⁶⁴ class. Signature
      // equality ⟺ text equality, provably; the DuckDB oracle derives the
      // pair set from text equality (q21's rule) over the id-shifted
      // doubled corpus (one pair per ≥3-token doc, so the checked set is
      // nonempty). Completes the exact-twin ladder for the minhash family
      // (fused signature → band keys → bucket join → agreement → pair
      // dedup, all driver-hash-checked).
      val tag = md5(col("text"))
      val tagged = concat_ws(" ",
        transform(TextFns.tokens(col("text")), t => concat(tag, t)))
      val docs = T(s, dir, "documents").select(col("doc_id"), tagged.as("text"))
      val doubled = docs.unionByName(
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.minhashLshPairs(doubled, col("doc_id"), col("text"), 3, 32, 32, 0.5)
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      // q23's exact twin: md5-tagged tokens make distinct texts share zero
      // shingles, so full-signature agreement ⇔ text equality (q21's rule)
      // over the id-shifted doubled corpus; ≥3-token docs only (the
      // signature's empty-shingle NULL — tagging preserves token count)
      """WITH d AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM documents),
        |e AS (SELECT doc_id, text FROM d
        | WHERE len(string_split(trim(text), ' ')) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(1.0 AS DOUBLE) AS est_jaccard
        |FROM e a JOIN e b ON a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY 1, 2""".stripMargin)),

    "q84_simhash_exact" -> Query((s, dir) => {
      // q24's simhash plumbing in its provably-exact configuration:
      // numBands = 1 ⇒ the blocking key is the whole 64-bit signature, so
      // candidates are pairs with EQUAL simhash, and maxHam = 64 passes
      // every candidate — the emitted set IS the candidate set. As in
      // q83, raw text is only empirically exact (near-identical token
      // multisets perturb the 64 sign counters by ±1 and often keep every
      // sign — measured: 4 cross-text simhash collisions at sf0.01);
      // md5(text)-tagged tokens make distinct texts fully disjoint
      // multisets, whose sign vectors coincide only at the 2⁻⁶⁴ class.
      // Simhash equality ⟺ text equality, provably; oracle = text
      // equality over the doubled corpus (no token-count filter — simhash
      // is defined for every doc), every pair at hamming 0.
      val tag = md5(col("text"))
      val tagged = concat_ws(" ",
        transform(TextFns.tokens(col("text")), t => concat(tag, t)))
      val docs = T(s, dir, "documents").select(col("doc_id"), tagged.as("text"))
      val doubled = docs.unionByName(
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.simhashPairs(doubled, col("doc_id"), col("text"), 64, numBands = 1)
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      // q24's exact twin: md5-tagged tokens make distinct texts fully
      // disjoint multisets, so simhash equality ⇔ text equality; every doc
      // (no token filter) pairs with its doubled copy at hamming 0
      """WITH d AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
        |FROM d a JOIN d b ON a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY 1, 2""".stripMargin)),

    "q85_correlation" -> Query((s, dir) => {
      // pandas df.corr() parity — the EDA opener next to q82's describe():
      // pairwise Pearson correlation over the fact measures in ONE corpus
      // pass (pandas loops column pairs driver-side). DECIMAL-exact
      // sufficient moments cast to double once, then a fixed IEEE tree —
      // bit-exact under any partitioning (§5 exactSum rule).
      Relational.correlationMatrix(T(s, dir, "lineitem"), Seq(
          "l_quantity" -> col("l_quantity"),
          "l_extendedprice" -> col("l_extendedprice"),
          "l_discount" -> col("l_discount"),
          "l_tax" -> col("l_tax")))
        .orderBy("x_col", "y_col")
    }, oracle = Some(
      // Pearson r from DECIMAL-exact moments cast once to double — the same
      // fixed IEEE tree as the Spark expression, term for term; NULL when a
      // side has zero variance
      """WITH m AS (
        | SELECT 'l_quantity' AS x_col, 'l_extendedprice' AS y_col,
        |  l_quantity AS x, l_extendedprice AS y FROM lineitem
        | UNION ALL SELECT 'l_quantity', 'l_discount', l_quantity, l_discount FROM lineitem
        | UNION ALL SELECT 'l_quantity', 'l_tax', l_quantity, l_tax FROM lineitem
        | UNION ALL SELECT 'l_extendedprice', 'l_discount', l_extendedprice, l_discount FROM lineitem
        | UNION ALL SELECT 'l_extendedprice', 'l_tax', l_extendedprice, l_tax FROM lineitem
        | UNION ALL SELECT 'l_discount', 'l_tax', l_discount, l_tax FROM lineitem),
        |mv AS (SELECT * FROM m WHERE x IS NOT NULL AND y IS NOT NULL),
        |s AS (SELECT x_col, y_col, count(*) AS n,
        |  CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS syy
        | FROM mv GROUP BY 1, 2)
        |SELECT x_col, y_col, n,
        | CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
        |  THEN floor((n * sxy - sx * sy)
        |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) * 10000.0 + 0.5)
        |   / 10000.0
        | END AS corr
        |FROM s ORDER BY x_col, y_col""".stripMargin)),

    "q86_semantic_decontaminate" -> Query((s, dir) => {
      // embedding-space decontamination: train vectors too close to the
      // held-out slice (every 20th vec_id) are dropped — catches the
      // paraphrase leakage n-gram overlap (q49/q56) misses. iters = 0
      // pins centroids to the 16 lowest-id TRAIN vectors, so assignment,
      // cross-split cosines, and the verdict are all SQL-expressible
      // (the q71 oracle pattern).
      val embs = T(s, dir, "embeddings")
      val held = embs.filter(pmod(col("vec_id"), lit(20L)) === 0L)
      val train = embs.filter(pmod(col("vec_id"), lit(20L)) =!= 0L)
      Dedup.semanticDecontaminate(train, held, "vec_id", "embedding",
          k = 16, iters = 0, minCos = 0.35)
        .orderBy("vec_id")
    }, oracle = Some(
      // q71's assignment argmax run on BOTH sides of the train/held-out
      // split (centroids = 16 lowest-id TRAIN vectors), then cross-split
      // within-cell cosines at the q25 round-3 compare and the dropped-iff-
      // any-held-out-neighbor verdict
      """WITH tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
        |ho AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
        |cent AS (SELECT vec_id AS cell_id, embedding AS cvec
        |  FROM tr ORDER BY vec_id LIMIT 16),
        |prt AS (SELECT v.vec_id, c.cell_id, v.embedding AS ve, c.cvec
        |  FROM tr v CROSS JOIN cent c),
        |ext AS (SELECT vec_id, cell_id, CAST(unnest(ve) AS DOUBLE) AS x,
        |  CAST(unnest(cvec) AS DOUBLE) AS y FROM prt),
        |st AS (SELECT vec_id, cell_id,
        |  sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
        | FROM ext GROUP BY 1, 2),
        |rt AS (SELECT vec_id, cell_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell_id) AS rn
        | FROM st WHERE isfinite(cos)),
        |asgt AS (SELECT v.vec_id, r.cell_id, v.embedding FROM tr v
        | LEFT JOIN rt r ON v.vec_id = r.vec_id AND r.rn = 1),
        |prh AS (SELECT v.vec_id, c.cell_id, v.embedding AS ve, c.cvec
        |  FROM ho v CROSS JOIN cent c),
        |exh AS (SELECT vec_id, cell_id, CAST(unnest(ve) AS DOUBLE) AS x,
        |  CAST(unnest(cvec) AS DOUBLE) AS y FROM prh),
        |sh AS (SELECT vec_id, cell_id,
        |  sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
        | FROM exh GROUP BY 1, 2),
        |rh AS (SELECT vec_id, cell_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell_id) AS rn
        | FROM sh WHERE isfinite(cos)),
        |asgh AS (SELECT v.vec_id, r.cell_id, v.embedding FROM ho v
        | LEFT JOIN rh r ON v.vec_id = r.vec_id AND r.rn = 1),
        |p AS (SELECT t.vec_id, h.vec_id AS h_id, t.embedding AS te,
        |  h.embedding AS he
        | FROM asgt t JOIN asgh h ON t.cell_id = h.cell_id),
        |ex2 AS (SELECT vec_id, h_id, CAST(unnest(te) AS DOUBLE) AS x,
        |  CAST(unnest(he) AS DOUBLE) AS y FROM p),
        |s2 AS (SELECT vec_id,
        |  round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 3) AS cos
        | FROM ex2 GROUP BY vec_id, h_id),
        |dirty AS (SELECT DISTINCT vec_id FROM s2 WHERE cos >= 0.35)
        |SELECT a.vec_id, a.cell_id, (d.vec_id IS NULL) AS is_kept
        |FROM asgt a LEFT JOIN dirty d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin)),

    "q87_containment_dup" -> Query((s, dir) => {
      // SCALE WARNING (measured, r9 sf10 sweep): shares q22's uncapped
      // Θ(Σ df²) inverted-index join and timed out with it at 100× on the
      // degenerate-vocab corpus — at scale pass maxDocFreq
      // (ngramContainmentPairs' cap knob, measured 5–20 s there) or block
      // with LSH first.
      // asymmetric near-dup: containment |A∩B| / min(|A|,|B|) over 3-gram
      // shingles — the quote/excerpt signal jaccard's union denominator
      // dilutes (a paragraph inside a 100× article scores ~0.01 jaccard
      // but 1.0 containment). Same inverted-index blocking as q22.
      Dedup.ngramContainmentPairs(T(s, dir, "documents"), col("doc_id"),
          col("text"), 3, 0.6)
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      // q22's inverted-index pair CTE with the containment denominator:
      // |A∩B| / min(|A|,|B|) — subset relationships score ~1 regardless of
      // the length ratio
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b, containment FROM (
        | SELECT doc_a, doc_b,
        |  floor(CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) * 10000.0 + 0.5) / 10000.0 AS containment
        | FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id JOIN sz sb ON pr.doc_b = sb.doc_id)
        |WHERE containment >= 0.6 ORDER BY doc_a, doc_b""".stripMargin)),

    "q88_filter_sweep" -> Query((s, dir) => {
      // filter-threshold calibration: for every observed LM-quality score,
      // the docs and tokens surviving "keep score >= s" — the one-pass
      // menu a token-budget decision reads ("the slice above X"). Corpus
      // collapses to a score histogram; the cumulative runs over the
      // histogram, not the corpus.
      val docs = T(s, dir, "documents")
      val model = Scoring.trainCharBigramLmFused(docs, col("text"))
      val scored = Scoring.scoreCharBigramLmFused(docs, col("doc_id"), col("text"), model)
        .select(col("_sid").as("doc_id"), col("avg_permille"))
      val weighted = scored.join(
        docs.select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_toks")),
        "doc_id")
      Scoring.thresholdSweep(weighted, col("avg_permille"), col("n_toks"))
        .orderBy("score")
    }, oracle = Some(
      // q74's LM-score CTE joined to per-doc whitespace token counts, then a
      // score histogram with >=-threshold cumulative docs/tokens
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 2),
        |pos AS (SELECT doc_id, text,
        |  unnest(generate_series(1, length(text) - 1)) AS i FROM d),
        |bg AS (SELECT doc_id, substring(text, CAST(i AS INTEGER), 2) AS bg FROM pos),
        |bc AS (SELECT bg, count(*) AS c FROM bg GROUP BY 1),
        |pc AS (SELECT substring(bg, 1, 1) AS a, sum(c) AS pc FROM bc GROUP BY 1),
        |m AS (SELECT bg, (1000 * c) // (pc + 1) AS p
        |  FROM bc JOIN pc ON substring(bc.bg, 1, 1) = pc.a),
        |sc AS (SELECT doc_id,
        |  CAST(CAST(sum(m.p) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS score
        | FROM bg JOIN m USING (bg) GROUP BY doc_id),
        |wt AS (SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_toks
        | FROM documents),
        |h AS (SELECT score, count(*) AS n_docs_at, sum(n_toks) AS w_at
        | FROM sc JOIN wt USING (doc_id) GROUP BY 1)
        |SELECT score, n_docs_at,
        | CAST(sum(n_docs_at) OVER (ORDER BY score DESC) AS BIGINT) AS n_docs_kept,
        | CAST(sum(w_at) OVER (ORDER BY score DESC) AS BIGINT) AS weight_kept
        |FROM h ORDER BY score""".stripMargin)),

    "q89_blocklist_filter" -> Query((s, dir) => {
      // C4-style blocklist cleaner: one fused codegen'd walk per document
      // (blocklist rides inside the expression, byte-confirmed matches) —
      // no token explode, no join, a pure map pass. Rate threshold 25‰
      // instead of C4's drop-on-any: the synthetic vocab makes blocked
      // words common, and a rate keeps the flag split informative.
      Scoring.blocklistFilter(T(s, dir, "documents"), col("doc_id"),
          col("text"), Seq("slow", "dup", "bogus"), 25)
        .orderBy("doc_id")
    }, oracle = Some(
      // blocked-token occurrences / distinct terms via list lambdas; the keep
      // flag is the same integer per-mille comparison the engine computes
      """SELECT doc_id,
        | CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(list_filter(string_split(trim(text), ' '),
        |   t -> t IN ('slow', 'dup', 'bogus'))) AS BIGINT) AS n_hits,
        | CAST(len(list_distinct(list_filter(string_split(trim(text), ' '),
        |   t -> t IN ('slow', 'dup', 'bogus')))) AS BIGINT) AS n_terms,
        | (CAST(len(list_filter(string_split(trim(text), ' '),
        |    t -> t IN ('slow', 'dup', 'bogus'))) AS BIGINT) * 1000
        |  <= 25 * CAST(len(string_split(trim(text), ' ')) AS BIGINT)) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin)),

    "q90_editdist_dup" -> Query((s, dir) => {
      // fuzzy-dedup confirm stage: shingle blocking proposes (6-token
      // shingles, >= 2 shared), banded threshold-levenshtein confirms —
      // the DP runs only on blocked candidates that survive the
      // char-length prefilter, never all-pairs.
      Dedup.editDistancePairs(T(s, dir, "documents"), col("doc_id"),
          col("text"), 6, 6, minCommon = 2L)
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      // q22's shingle-blocking CTE at n=6 with a >= 2 shared-shingle cut,
      // then the textbook levenshtein on the candidate pairs (DuckDB computes
      // the same char-level edit distance Spark does)
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+5], ' ') AS shingle
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 4)) AS i) t
        | WHERE len(words) >= 6),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        | GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT doc_a, doc_b,
        | CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
        |FROM cand JOIN documents da ON cand.doc_a = da.doc_id
        | JOIN documents db ON cand.doc_b = db.doc_id
        |WHERE abs(length(da.text) - length(db.text)) <= 6
        |  AND levenshtein(da.text, db.text) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin)),

    "q91_describe_object" -> Query((s, dir) => {
      // pandas describe(include='object') parity — the categorical half of
      // q82: n/n_unique/top/top_freq per string column, deterministic
      // lexicographic tie-break on top. text exercises the
      // high-cardinality path (histogram ~ corpus, still one shuffle, no
      // windows); lang/source the categorical one.
      Relational.describeObjectProfile(T(s, dir, "documents"), Seq(
          "lang" -> col("lang"),
          "source" -> col("source"),
          "text" -> col("text")))
        .orderBy("column_name")
    }, oracle = Some(
      // q82's melt shape over string columns: (column, value) histogram →
      // per-column rollup → tied-at-max filter → lexicographic min
      """WITH m AS (SELECT 'lang' AS c, lang AS v FROM documents
        | UNION ALL SELECT 'source', source FROM documents
        | UNION ALL SELECT 'text', text FROM documents),
        |mv AS (SELECT c, v FROM m WHERE v IS NOT NULL),
        |h AS (SELECT c, v, count(*) AS cnt FROM mv GROUP BY 1, 2),
        |s AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_unique, max(cnt) AS mx FROM h GROUP BY 1)
        |SELECT h.c AS column_name, s.n, s.n_unique, min(h.v) AS top,
        | CAST(s.mx AS BIGINT) AS top_freq
        |FROM h JOIN s ON h.c = s.c AND h.cnt = s.mx
        |GROUP BY 1, 2, 3, 5 ORDER BY column_name""".stripMargin)),

    "q92_filter_ensemble" -> Query((s, dir) => {
      // the assembled quality gate — q29 heuristic + q40 gopher + q73
      // classifier + q74 LM as ONE per-doc verdict table with per-filter
      // flags (the q80 composition pattern applied to the scoring
      // family); thresholds split the corpus (heur 0.5, clf 430‰, LM
      // 250‰), docs a model can't score fail that gate conservatively
      Scoring.filterEnsemble(T(s, dir, "documents"), col("doc_id"),
          col("text"), col("lang") === lit("en"),
          minQuality = 0.5, clfMinPermille = 430, lmMinPermille = 250)
        .orderBy("doc_id")
    }, oracle = Some(
      // the four filter oracles (q29/q40/q73/q74) composed: rule flags from
      // the merged heuristic/gopher CTE, model flags via LEFT JOIN with
      // COALESCE(false) — a doc a model cannot score fails that gate
      """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS words FROM documents),
        |r0 AS (SELECT doc_id, len(words) AS nt,
        |  CASE WHEN length(text) > 0
        |   THEN CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)
        |   ELSE 0.0 END AS punct,
        |  CASE WHEN len(words) > 0
        |   THEN CAST(len(list_filter(words, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(words)
        |   ELSE 0.0 END AS stopr,
        |  (CAST(length(trim(text)) AS DOUBLE) - (len(words) - 1)) / len(words) AS mean_len,
        |  (CAST(len(words) AS DOUBLE) - len(list_distinct(words))) / len(words) AS rep
        | FROM t),
        |r AS (SELECT doc_id,
        |  floor(least(1.0, nt / 100.0) * (1 - punct) * (1 - 0.5 * stopr) * 10000.0 + 0.5) / 10000.0 >= 0.5 AS heur_pass,
        |  (mean_len BETWEEN 3.0 AND 10.0) AND rep < 0.6 AS gopher_pass
        | FROM r0),
        |tok AS (SELECT doc_id, (lang = 'en') AS y,
        |   unnest(string_split(trim(text), ' ')) AS tok FROM documents),
        |bkt AS (SELECT doc_id, y,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(regexp_extract_all(tok, '(?s).'),
        |      c -> CAST(unicode(c) AS BIGINT))),
        |   (acc, cp) -> (acc * 31 + cp) % 1000000007) % 4096 AS bucket
        | FROM tok),
        |cm AS (SELECT bucket,
        |  (1000 * sum(CASE WHEN y THEN 1 ELSE 0 END)) // (count(*) + 1) AS weight
        | FROM bkt GROUP BY 1),
        |clf AS (SELECT doc_id,
        |  CAST(sum(cm.weight) AS BIGINT) >= 430 * CAST(count(*) AS BIGINT) AS clf_pass
        | FROM bkt JOIN cm USING (bucket) GROUP BY doc_id),
        |d2 AS (SELECT doc_id, text FROM documents WHERE length(text) >= 2),
        |pos AS (SELECT doc_id, text,
        |  unnest(generate_series(1, length(text) - 1)) AS i FROM d2),
        |bgr AS (SELECT doc_id, substring(text, CAST(i AS INTEGER), 2) AS bg FROM pos),
        |bc AS (SELECT bg, count(*) AS c FROM bgr GROUP BY 1),
        |pc AS (SELECT substring(bg, 1, 1) AS a, sum(c) AS pc FROM bc GROUP BY 1),
        |lmm AS (SELECT bg, (1000 * c) // (pc + 1) AS p
        |  FROM bc JOIN pc ON substring(bc.bg, 1, 1) = pc.a),
        |lm AS (SELECT doc_id,
        |  CAST(CAST(sum(lmm.p) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) >= 250 AS lm_pass
        | FROM bgr JOIN lmm USING (bg) GROUP BY doc_id)
        |SELECT r.doc_id, heur_pass, gopher_pass,
        | COALESCE(clf_pass, false) AS clf_pass,
        | COALESCE(lm_pass, false) AS lm_pass,
        | heur_pass AND gopher_pass AND COALESCE(clf_pass, false)
        |  AND COALESCE(lm_pass, false) AS keep
        |FROM r LEFT JOIN clf USING (doc_id) LEFT JOIN lm USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    "q93_leaked_grams" -> Query((s, dir) => {
      // which grams leak (q49's per-doc view turned per-gram): distinct
      // train/held doc counts per shared 3-gram, top-50 by train reach —
      // wide-reach leaks are boilerplate to strip, narrow ones true
      // benchmark leakage. Hash-grain counting both sides; strings
      // resolved only for held-side leaked grams.
      Dedup.contaminationGramReport(T(s, dir, "documents"), col("doc_id"),
          col("text"),
          pmod(pmod(col("doc_id"), lit(100003L)) * 2654435761L, lit(100L)) >= 95,
          3, 50)
    }, oracle = Some(
      // q49's shingle CTE turned per-gram: distinct doc counts per side,
      // inner join = leaked grams, deterministic top-50 (count desc, gram)
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words,
        |  ((doc_id % 100003) * 2654435761) % 100 >= 95 AS held FROM documents),
        |sh AS (SELECT DISTINCT doc_id, held, array_to_string(words[i:i+2], ' ') AS gram
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |tc AS (SELECT gram, count(*) AS n_train_docs FROM sh WHERE NOT held GROUP BY 1),
        |hc AS (SELECT gram, count(*) AS n_held_docs FROM sh WHERE held GROUP BY 1)
        |SELECT tc.gram, CAST(n_train_docs AS BIGINT) AS n_train_docs,
        | CAST(n_held_docs AS BIGINT) AS n_held_docs
        |FROM tc JOIN hc USING (gram)
        |ORDER BY n_train_docs DESC, gram LIMIT 50""".stripMargin)),

    "q94_source_drift" -> Query((s, dir) => {
      // per-source token-distribution drift vs the corpus as total
      // variation distance — the log-free, integer-numerator divergence
      // (no smoothing, no libm): the mix-audit signal for
      // off-distribution sources. One tokenize pass; vocab-sized math.
      Scoring.sourceDriftTV(T(s, dir, "documents"), col("source"), col("text"))
        .orderBy("source")
    }, oracle = Some(
      // integer TV numerator over present (source, token) pairs + the
      // absent-token tail as two scalars; ONE double division at the end
      // (exact-int casts + a single IEEE op reproduce bit-for-bit)
      """WITH tok AS (SELECT source AS src, unnest(string_split(trim(text), ' ')) AS tok
        | FROM documents),
        |st AS (SELECT src, tok, count(*) AS c_st FROM tok GROUP BY 1, 2),
        |t AS (SELECT tok, sum(c_st) AS c_t FROM st GROUP BY 1),
        |ns AS (SELECT src, sum(c_st) AS n_s FROM st GROUP BY 1),
        |g AS (SELECT sum(c_st) AS n FROM st),
        |p AS (SELECT src, n_s, n,
        |  sum(abs(c_st * n - c_t * n_s)) AS core,
        |  sum(c_t * n_s) AS cover
        | FROM st JOIN t USING (tok) JOIN ns USING (src) CROSS JOIN g
        | GROUP BY 1, 2, 3)
        |SELECT src AS source, CAST(n_s AS BIGINT) AS n_tokens,
        | floor(CAST(core + (n * n_s - cover) AS DOUBLE)
        |   / CAST(2 * n_s * n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS tv
        |FROM p ORDER BY source""".stripMargin)),

    "q95_cluster_balance" -> Query((s, dir) => {
      // per-cluster label balance: q70's deterministic zero-shuffle
      // assignment feeding the q94 TV core — the cluster-quality audit
      // (a cluster whose label distribution drifts far from the corpus
      // is a topic silo; a near-zero TV cluster is unseparated). NULL
      // cells (zero-norm vectors) are unassessable and excluded.
      val embs = T(s, dir, "embeddings")
      val assigned = Similarity.kmeansAssign(embs, "vec_id", "embedding",
        k = 16, iters = 0)
      Scoring.groupDriftTV(
          assigned.filter(col("cell_id").isNotNull)
            .join(embs.select(col("vec_id"), col("label")), "vec_id"),
          col("cell_id"), col("label"))
        .select(col("grp").as("cell_id"), col("n_items").as("n_vecs"), col("tv"))
        .orderBy("cell_id")
    }, oracle = Some(
      // q70's argmax assignment CTE feeding q94's TV arithmetic, per cell
      """WITH cent AS (SELECT vec_id AS cell_id, embedding AS cvec
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |pairs AS (SELECT v.vec_id, c.cell_id, v.embedding AS ve, c.cvec
        |  FROM embeddings v CROSS JOIN cent c),
        |ex AS (SELECT vec_id, cell_id, CAST(unnest(ve) AS DOUBLE) AS x,
        |  CAST(unnest(cvec) AS DOUBLE) AS y FROM pairs),
        |s AS (SELECT vec_id, cell_id,
        |  sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
        | FROM ex GROUP BY 1, 2),
        |r AS (SELECT vec_id, cell_id,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell_id) AS rn
        | FROM s WHERE isfinite(cos)),
        |asg AS (SELECT v.vec_id, r.cell_id, v.label FROM embeddings v
        |  JOIN r ON v.vec_id = r.vec_id AND r.rn = 1),
        |st AS (SELECT cell_id AS grp, label AS item, count(*) AS c_st
        |  FROM asg GROUP BY 1, 2),
        |t AS (SELECT item, sum(c_st) AS c_t FROM st GROUP BY 1),
        |ns AS (SELECT grp, sum(c_st) AS n_s FROM st GROUP BY 1),
        |g AS (SELECT sum(c_st) AS n FROM st),
        |p AS (SELECT grp, n_s, n,
        |  sum(abs(c_st * n - c_t * n_s)) AS core, sum(c_t * n_s) AS cover
        | FROM st JOIN t USING (item) JOIN ns USING (grp) CROSS JOIN g
        | GROUP BY 1, 2, 3)
        |SELECT grp AS cell_id, CAST(n_s AS BIGINT) AS n_vecs,
        | floor(CAST(core + (n * n_s - cover) AS DOUBLE)
        |   / CAST(2 * n_s * n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS tv
        |FROM p ORDER BY cell_id""".stripMargin)),

    "q96_simhash_md5" -> Query((s, dir) => {
      // The APPROXIMATE simhash configuration under a DIRECT oracle (r9).
      // q24's rows-only status is an EXPRESSIBILITY gap, not a
      // scale gap: DuckDB cannot reproduce Spark's xxhash64, so no sampling
      // makes the fused operator oracle-checkable. This variant swaps the
      // token hash for md5 — bit-identical in both engines (the q31
      // reproduce-the-hash-in-SQL precedent) — and runs the full
      // approximate pipeline on 60-bit signatures (15 md5 hex chars):
      // per-bit sign counters → signature → 6×10-bit band blocking →
      // hamming <= 8 confirm. Every STAGE of the approximate algorithm
      // (banding recall included) is hash-checked, not just the q84
      // degenerate-knob plumbing.
      //
      // Scale shape: the signature is ONE wide aggregate (60 sign counters
      // collapse map-side; the shuffle is 60 scalars per doc, never a
      // per-bit row explosion); banding is a per-row projection; the
      // band-bucket self-join is the q23/q24 blocked shape WITH q23's
      // bucket cap — measured necessary at 100×: the key-shifted sf1/sf10
      // copies preserve token multisets, so every copy level multiplies
      // each signature's multiplicity ×10 (max bucket 605 → 6,050 →
      // 60,500; uncapped candidates ≈19G timed out the sf10 sweep budget).
      // Cap 50 binds at EVERY SF (sf0.01 max bucket is 65), so the guard
      // itself is oracle-checked, and bounds candidates at
      // bands·2^bandBits·C(50,2) ≈ 7.5M rows at any corpus size. The cap
      // is a count window over the band key — the same partitioning the
      // self-join needs, so it rides the shared exchange (zero extra
      // shuffles), and it is REPRODUCIBLE IN SQL (count over partition —
      // no ordering), which is what keeps this variant's oracle direct.
      val B = 60; val bands = 6; val bandBits = 10; val maxHam = 8
      val maxBucket = 50
      val th = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      val sums = th.groupBy(col("doc_id"))
        .agg(sum((shiftright(col("h"), 0) % 2) * 2 - 1).as("s0"),
          (1 until B).map(i =>
            sum((shiftright(col("h"), i) % 2) * 2 - 1).as(s"s$i")): _*)
      val sig = sums.select(col("doc_id"),
        (0 until B).map(i =>
            when(col(s"s$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
      val banded = sig.select(col("doc_id"), col("sig"),
          explode(array((0 until bands).map(b =>
            lit(b.toLong * (1L << bandBits)) +
              shiftright(col("sig"), b * bandBits)
                .bitwiseAND(lit((1L << bandBits) - 1))): _*)).as("bk"))
        .withColumn("bc", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("bk"))))
        .filter(col("bc") <= maxBucket)
        .drop("bc")
      // distinct BEFORE the hamming confirm: a pair sharing several bands
      // must be scored once (sigs ride along — functionally dependent on
      // the ids, and carrying them avoids a join back for the confirm)
      val cand = banded.as("a").join(banded.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sig").as("sa"), col("b.sig").as("sb"))
        .distinct()
      cand.select(col("doc_a"), col("doc_b"),
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
        .filter(col("hamming") <= maxHam)
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      // the full approximate simhash algorithm reproduced in SQL under the
      // shared md5 token hash (the q31 precedent): 60-bit signatures from
      // per-bit sign counters, 6×10-bit band blocking, hamming <= 8 confirm —
      // every knob identical to the Spark side
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
        | FROM documents WHERE text IS NOT NULL),
        |th AS (
        | SELECT doc_id,
        |  CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
        | FROM toks),
        |bits AS (
        | SELECT doc_id, i, sum(((h >> CAST(i AS INTEGER)) & 1) * 2 - 1) AS s
        | FROM th CROSS JOIN range(60) r(i) GROUP BY 1, 2),
        |sg AS (
        | SELECT doc_id,
        |  sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
        |      ELSE 0 END) AS sig
        | FROM bits GROUP BY 1),
        |banded0 AS (
        | SELECT doc_id, sig,
        |  b * 1024 + ((sig >> CAST(10 * b AS INTEGER)) & 1023) AS bk
        | FROM sg CROSS JOIN range(6) rb(b)),
        |banded AS (
        | SELECT doc_id, sig, bk FROM (
        |  SELECT doc_id, sig, bk, count(*) OVER (PARTITION BY bk) AS bc
        |  FROM banded0)
        | WHERE bc <= 50),
        |cand AS (
        | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.sig AS sa, b.sig AS sb
        | FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 8
        |ORDER BY 1, 2""".stripMargin)),

    "q97_ann_index_lifecycle" -> Query((s, dir) => {
      // The standing ANN artifact's WHOLE lifecycle under the driver oracle
      // (r10; the q53 Writers.upsert precedent): build a versioned
      // index on part of the corpus, APPEND the rest in two batches through
      // the STORED quantizer, COMPACT the accumulated postings files, read
      // the artifact back, and search it in the provably-exact
      // configuration — probe-all keeps every cell in scope, so the result
      // equals brute force REGARDLESS of quantizer quality (q67's argument)
      // and the oracle is q26's. What this hash-checks that q67 cannot:
      // the artifact round-trip (write/read validation), the
      // append-through-stored-centroids routing, and compact's
      // content-preserving rewrite — a lost or duplicated posting anywhere
      // in that lifecycle changes the exact top-5 and fails the hash.
      // Same zero-norm caveat as q67/q68; same per-session scratch
      // directory as q53.
      val embs = T(s, dir, "embeddings")
      val root = Sessions.scratchDir(s, "q97_annindex")
      val path = root.resolve("ann_index").toString
      // numCells = 4 (r11: 16 → 8; r12: 8 → 4): probe-all
      // exactness is independent of cell count (every cell is probed), and
      // the query's cost is per-DIRECTORY commit/validation protocol
      // overhead (3 partitioned writes + a compact rewrite + validating
      // reads), so fewer cells = fewer fixed-cost FS operations with
      // identical semantics. r12 also trimmed the protocol itself:
      // append() now loads the (immutable, fingerprint-cached) quantizer
      // instead of running the full validating read per batch, partitioned
      // writes are cell-aligned at birth (bounded file count), and the
      // one-round kmeans skips its no-op train-sample checkpoint, write()
      // runs its component writes concurrently and primes the cache for
      // the first append, and searchIvf evaluates the probe list ONCE —
      // measured: solo bench min-of-reps 5.11 → 3.03–3.44 s (two quiet
      // r12 samples; the official in-suite record runs warmer)
      val third = pmod(col("vec_id"), lit(3))
      AnnIndex.write(
        AnnIndex.build(embs.filter(third === 0), "vec_id", "embedding",
          numCells = 4, kmeansIters = 1),
        path, "0001")
      AnnIndex.append(s, path, "0001", embs.filter(third === 1))
      AnnIndex.append(s, path, "0001", embs.filter(third === 2))
      AnnIndex.compact(s, path, "0001")
      val model = AnnIndex.read(s, path, Some("0001"))
      AnnIndex.searchIvf(model, embs.filter(col("vec_id") < 10), k = 5,
          nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
        .orderBy("query_id", "rnk")
    }, oracle = Some(
      // probe-all over the full (build + two appends, compacted) postings is
      // exactly brute force — the artifact lifecycle runs under q26's oracle
      exactAnnTop5Oracle)),

    "q98_dup_span_coverage" -> Query((s, dir) => {
      // Duplicated-span coverage — the ExactSubstr REMOVAL criterion (Lee
      // et al. 2022): the fraction of each document's characters lying
      // inside a char 20-gram that also appears in ANOTHER document. q76
      // counts duplicated gram TYPES (boilerplate tiling and wholesale
      // copying score alike); this merges duplicated gram INSTANCES into
      // maximal spans and measures the merged length — the number a
      // strip-or-drop decision actually thresholds on. Every doc emitted
      // (coverage 0 when nothing is shared).
      Dedup.dupSpanCoverage(T(s, dir, "documents"), col("doc_id"),
          col("text"), 20)
        .orderBy("doc_id")
    }, oracle = Some(
      // the oracle works on the real substrings (q76's pattern), the engine
      // on 8-byte gram hashes — agreement is the documented < n²/2⁶⁴
      // collision class of the chargram family; positions are 0-based gram
      // start codepoints on both sides, interval-merge arithmetic all-integer
      """WITH pos AS (SELECT doc_id, text,
        |  unnest(generate_series(0, length(text) - 20)) AS i FROM documents),
        |inst AS (SELECT doc_id, i,
        |  substring(text, CAST(i + 1 AS INTEGER), 20) AS gram FROM pos),
        |dup AS (SELECT gram FROM (
        |  SELECT gram, count(DISTINCT doc_id) AS dd FROM inst GROUP BY gram)
        |  WHERE dd > 1),
        |sh AS (SELECT doc_id, i FROM inst JOIN dup USING (gram)),
        |m AS (SELECT doc_id, i, max(i + 20) OVER (PARTITION BY doc_id
        |  ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM sh),
        |cov AS (SELECT doc_id, sum(greatest(0,
        |  i + 20 - greatest(coalesce(prev_end, i), i))) AS covered
        |  FROM m GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(length(d.text), 0) AS BIGINT) AS n_cp,
        | CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_cp,
        | CASE WHEN coalesce(length(d.text), 0) > 0
        |   THEN floor(CAST(coalesce(cov.covered, 0) AS DOUBLE)
        |     / CAST(length(d.text) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |   ELSE 0.0 END AS dup_ratio
        |FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    "q99_dedup_normalized" -> Query((s, dir) => {
      // "Fuzzy-exact" dedup (the CCNet normalize-before-hash stage): exact
      // dedup on ASCII-case-folded, whitespace-collapsed text, so reflowed
      // or re-cased copies collapse. n_variants counts DISTINCT raw texts
      // per group — the signal q21's byte-exact grouping cannot see.
      Dedup.exactNormalized(T(s, dir, "documents"), col("doc_id"), col("text"))
        .select(col("keeper_id"), col("n_copies"), col("n_variants"))
        .orderBy("keeper_id")
    }, oracle = Some(
      // normalization is deliberately engine-portable: ASCII translate (no
      // locale-dependent Unicode lowercasing) + an explicit whitespace class
      // (Java \s and RE2 \s disagree on \x0B) + space-only trim
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(translate(text,
        |    'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies,
        | CAST(count(DISTINCT text) AS BIGINT) AS n_variants
        |FROM n GROUP BY norm ORDER BY keeper_id""".stripMargin)),

    "q100_script_profile" -> Query((s, dir) => {
      // Unicode-script gate BEFORE langid (CCNet/ROOTS shape): per-doc
      // counts over a FIXED portable range table + deterministic dominant
      // script — one fused codepoint walk, zero shuffles, no per-class
      // regex passes and no JDK-Unicode-version dependence.
      Scoring.scriptProfile(T(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id")
    }, oracle = Some(
      // the oracle reproduces the fixed range table with one RE2 class per
      // script (\x{...} ranges); the engine walks codepoints once — both are
      // integer counts over the identical table, so they agree exactly.
      // dominant = first letter class attaining the letter maximum.
      """WITH c AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |k AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_cp,
        | CAST(length(t) - length(regexp_replace(t, '[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]', '', 'g')) AS BIGINT) AS latin,
        | CAST(length(t) - length(regexp_replace(t, '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS cyrillic,
        | CAST(length(t) - length(regexp_replace(t, '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS greek,
        | CAST(length(t) - length(regexp_replace(t, '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS arabic,
        | CAST(length(t) - length(regexp_replace(t, '[\x{0590}-\x{05FF}]', '', 'g')) AS BIGINT) AS hebrew,
        | CAST(length(t) - length(regexp_replace(t, '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS cjk,
        | CAST(length(t) - length(regexp_replace(t, '[\x{AC00}-\x{D7A3}]', '', 'g')) AS BIGINT) AS hangul,
        | CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS BIGINT) AS digit,
        | CAST(length(t) - length(regexp_replace(t, '[ \t\n\r\f]', '', 'g')) AS BIGINT) AS space
        | FROM c)
        |SELECT doc_id, n_cp, latin, cyrillic, greek, arabic, hebrew, cjk,
        | hangul, digit, space,
        | n_cp - (latin + cyrillic + greek + arabic + hebrew + cjk + hangul
        |   + digit + space) AS other,
        | CASE WHEN greatest(latin, cyrillic, greek, arabic, hebrew, cjk, hangul) = 0 THEN 'none'
        |  WHEN latin = greatest(latin, cyrillic, greek, arabic, hebrew, cjk, hangul) THEN 'latin'
        |  WHEN cyrillic = greatest(latin, cyrillic, greek, arabic, hebrew, cjk, hangul) THEN 'cyrillic'
        |  WHEN greek = greatest(latin, cyrillic, greek, arabic, hebrew, cjk, hangul) THEN 'greek'
        |  WHEN arabic = greatest(latin, cyrillic, greek, arabic, hebrew, cjk, hangul) THEN 'arabic'
        |  WHEN hebrew = greatest(latin, cyrillic, greek, arabic, hebrew, cjk, hangul) THEN 'hebrew'
        |  WHEN cjk = greatest(latin, cyrillic, greek, arabic, hebrew, cjk, hangul) THEN 'cjk'
        |  ELSE 'hangul' END AS dominant_script
        |FROM k ORDER BY doc_id""".stripMargin)),

    "q101_cms_df" -> Query((s, dir) => {
      // Count-Min document-frequency estimation (round 11): the corpus'
      // 3-gram shingle dfs summarized into ONE depth×width counter grid
      // (CountMinAgg, a mergeable TypedImperativeAggregate — each map task
      // ships 4×8192 longs, 256 KiB, regardless of corpus size), then a
      // deterministic probe set (md5-first-nibble '0', ~1/16 of the vocab)
      // estimated from the grid: est = min over rows of the probed cell.
      // The row hash is the engine-portable md5 bucket (q96 precedent), so
      // the WHOLE sketch — every cell sum and every min — is reproduced by
      // the flat DuckDB oracle: a direct hash-check of an approximate
      // structure, overcounts included. true_df rides along (exact groupBy;
      // at 100 TB you'd recount only the probe set via semi-join) so the
      // oracle also pins est >= true cell by cell.
      val depth = 4; val width = 8192
      val sh = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(TextFns.shingles(col("text"), 3)).as("sh"))
      val sketch = sh.agg(
        graft.plans.CountMin.countMin(col("sh"), depth, width).as("cms"))
      val probes = sh.groupBy(col("sh"))
        .agg(count(lit(1)).as("true_df"))
        .filter(substring(md5(col("sh")), 1, 1) === "0")
      probes.crossJoin(broadcast(sketch))
        .select(col("sh"), col("true_df"),
          least((0 until depth).map(r =>
            element_at(col("cms"),
              (lit(r.toLong * width) +
                conv(substring(md5(col("sh")), 1 + 8 * r, 8), 16, 10)
                  .cast("long") % width + 1L).cast("int"))): _*)
            .as("est_df"))
        .withColumn("overcount", col("est_df") - col("true_df"))
        .orderBy("sh")
    }, oracle = Some(
      // the sketch itself reproduced flat: per-(row, bucket) cell sums over
      // ALL shingles (not just probed ones), then min over rows per probe.
      // Bucket = first 60 bits of md5(shingle ':' row) mod width — the same
      // bytes CountMin.md5Bucket hashes on the Spark side.
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS sh
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |cnt AS (SELECT sh, CAST(count(*) AS BIGINT) AS true_df FROM sh GROUP BY 1),
        |hb AS (SELECT c.sh, c.true_df, r,
        |  CAST(concat('0x', substr(md5(c.sh), CAST(1 + 8 * r AS INTEGER), 8))
        |    AS BIGINT) % 8192 AS b
        | FROM cnt c CROSS JOIN range(4) rr(r)),
        |cell AS (SELECT r, b, sum(true_df) AS cellsum FROM hb GROUP BY 1, 2),
        |est AS (SELECT h.sh, h.true_df, CAST(min(cell.cellsum) AS BIGINT) AS est_df
        | FROM hb h JOIN cell ON cell.r = h.r AND cell.b = h.b GROUP BY 1, 2)
        |SELECT sh, true_df, est_df, est_df - true_df AS overcount
        |FROM est WHERE substr(md5(sh), 1, 1) = '0' ORDER BY sh""".stripMargin)),

    "q102_snapshot_diff" -> Query((s, dir) => {
      // Corpus snapshot diff (round 11): what did the nightly merge DO —
      // classify every doc_id across two corpus versions as added/removed/
      // changed, dropping the unchanged majority. v1 is derived from v0 by
      // a deterministic evolution (doc_id%17==3 removed, ==5 re-texted,
      // ==7 re-keyed +1e9 as new docs), so the oracle can rebuild both
      // sides flat. The operator pre-projects each side to (key, md5 row
      // signature) BEFORE the full-outer join — the shuffle carries 32
      // bytes per row, never document payloads — while the oracle compares
      // payload columns directly (IS DISTINCT FROM): the driver hash-check
      // pins signature-diff ≡ semantic-diff on the whole corpus.
      val v0 = T(s, dir, "documents")
      val payload = Seq("text", "lang", "source", "n_chars")
      val m = pmod(col("doc_id"), lit(17L))
      val v1 = v0.filter(m =!= 3 && m =!= 5)
        .unionByName(v0.filter(m === 5)
          .withColumn("text", concat(col("text"), lit(" v2")))
          .withColumn("n_chars", col("n_chars") + 3L))
        .unionByName(v0.filter(m === 7)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
      Relational.snapshotDiff(v0, v1, Seq("doc_id"), payload)
        .orderBy("doc_id")
    }, oracle = Some(
      // the oracle rebuilds v1 by the same deterministic evolution, then
      // diffs SEMANTICALLY (IS DISTINCT FROM per payload column) — the Spark
      // side diffs md5 row signatures, so a hash-match here proves the
      // signature reduction loses nothing on real data
      """WITH v1 AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 17 = 5 THEN text || ' v2' ELSE text END AS text,
        |  lang, source,
        |  CASE WHEN doc_id % 17 = 5 THEN n_chars + 3 ELSE n_chars END AS n_chars
        | FROM documents WHERE doc_id % 17 <> 3
        | UNION ALL
        | SELECT doc_id + 1000000000, text, lang, source, n_chars
        | FROM documents WHERE doc_id % 17 = 7),
        |d AS (
        | SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |   WHEN b.doc_id IS NULL THEN 'removed'
        |   WHEN (a.text IS DISTINCT FROM b.text)
        |     OR (a.lang IS DISTINCT FROM b.lang)
        |     OR (a.source IS DISTINCT FROM b.source)
        |     OR (a.n_chars IS DISTINCT FROM b.n_chars) THEN 'changed'
        |   ELSE 'unchanged' END AS status
        | FROM documents a FULL OUTER JOIN v1 b ON a.doc_id = b.doc_id)
        |SELECT doc_id, status FROM d WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin)),

    "q103_image_dhash" -> Query((s, dir) => {
      // Multimodal CONTENT loop under a direct oracle (round 11): per-doc
      // real 18×8 greyscale PNGs (Multimodal.encodePng: filter-0 scanlines
      // + one Deflater stream) are pushed through the production path —
      // IDAT inflate, scanline unfilter, luma fold, exact-integer dHash —
      // while the oracle computes the SAME hash analytically from the
      // synthesis formula, never touching a PNG byte. A hash match proves
      // the codec round-trip is lossless and the perceptual-hash
      // arithmetic engine-exact; q32 checked containers, this checks
      // content. groups scales planted-duplicate multiplicity to ~12 per
      // template at every SF (the q104 blocking stays non-degenerate).
      val docs = T(s, dir, "documents")
      val groups = math.max(40L, docsCount(s, dir) / 12L)
      Multimodal.imageHashes(Multimodal.synthImageTable(docs, "doc_id", groups))
        .orderBy("doc_id")
    }, oracle = Some(
      // the oracle never decodes a PNG: the synthesis is CELL-constant (the
      // 2×1-px dHash cells), so it evaluates the md5 cell formula per
      // (doc, gc, y), compares adjacent cells directly (equal cell counts ⇒
      // value comparison ≡ the operator's cross-multiplied average
      // comparison over the decoded pixels), and assembles the 64-bit hash
      // with bit_or — the analytic twin of the decode-side computation
      """WITH g AS (SELECT greatest(40, (SELECT count(*) FROM documents) // 12) AS grp),
        |cells AS (SELECT d.doc_id, y AS gr, gc,
        |  CAST(concat('0x',
        |    substr(md5(concat(d.doc_id % g.grp, ':', gc, ':', y)), 1, 4))
        |   AS BIGINT) % 200
        |   + CASE WHEN d.doc_id % 5 = 0 AND gc = 0 THEN 40 ELSE 0 END AS v
        | FROM documents d CROSS JOIN g
        |  CROSS JOIN range(9) rgc(gc) CROSS JOIN range(8) ry(y)),
        |bits AS (SELECT a.doc_id, CAST(a.gr * 8 + a.gc AS INTEGER) AS bit
        | FROM cells a JOIN cells b
        |  ON a.doc_id = b.doc_id AND a.gr = b.gr AND b.gc = a.gc + 1
        | WHERE a.v > b.v)
        |SELECT d.doc_id,
        | coalesce(bit_or(CASE WHEN bit = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
        |   ELSE CAST(1 AS BIGINT) << bit END), 0) AS dhash,
        | 'png' AS format
        |FROM documents d LEFT JOIN bits USING (doc_id)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    "q104_image_dhash_dup" -> Query((s, dir) => {
      // Image near-dup dedup over q103's hashes: 4×16-bit band blocking +
      // hamming<=8 confirm, with the oracle-checked q96 bucket cap riding
      // the join's own bk exchange. Same-template docs are exact dups
      // (hamming 0); the +40 column-0 bump gives bumped-vs-unbumped pairs
      // of the same template a small nonzero hamming, so the confirm stage
      // is exercised on both sides of the threshold. Every stage — hash,
      // banding, cap, hamming — is reproduced flat by the DuckDB oracle.
      val docs = T(s, dir, "documents")
      val groups = math.max(40L, docsCount(s, dir) / 12L)
      Multimodal.imageNearDups(
          Multimodal.synthImageTable(docs, "doc_id", groups),
          maxHamming = 8, maxBucket = 50)
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      """WITH g AS (SELECT greatest(40, (SELECT count(*) FROM documents) // 12) AS grp),
        |cells AS (SELECT d.doc_id, y AS gr, gc,
        |  CAST(concat('0x',
        |    substr(md5(concat(d.doc_id % g.grp, ':', gc, ':', y)), 1, 4))
        |   AS BIGINT) % 200
        |   + CASE WHEN d.doc_id % 5 = 0 AND gc = 0 THEN 40 ELSE 0 END AS v
        | FROM documents d CROSS JOIN g
        |  CROSS JOIN range(9) rgc(gc) CROSS JOIN range(8) ry(y)),
        |bits AS (SELECT a.doc_id, CAST(a.gr * 8 + a.gc AS INTEGER) AS bit
        | FROM cells a JOIN cells b
        |  ON a.doc_id = b.doc_id AND a.gr = b.gr AND b.gc = a.gc + 1
        | WHERE a.v > b.v),
        |h AS (SELECT d.doc_id,
        |  coalesce(bit_or(CASE WHEN bit = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
        |    ELSE CAST(1 AS BIGINT) << bit END), 0) AS dhash
        | FROM documents d LEFT JOIN bits USING (doc_id) GROUP BY 1),
        |banded0 AS (SELECT doc_id, dhash,
        |  b * 65536 + ((dhash >> CAST(16 * b AS INTEGER)) & 65535) AS bk
        | FROM h CROSS JOIN range(4) rb(b)),
        |banded AS (SELECT doc_id, dhash, bk FROM (
        |  SELECT doc_id, dhash, bk, count(*) OVER (PARTITION BY bk) AS bc
        |  FROM banded0)
        | WHERE bc <= 50),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.dhash AS ha, b.dhash AS hb
        | FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 8
        |ORDER BY 1, 2""".stripMargin)),

    "q105_audio_envelope_hash" -> Query((s, dir) => {
      // Audio CONTENT loop under a direct oracle (round 11): per-doc real
      // 16-bit PCM WAVs (Multimodal.encodeWav) pushed through the
      // production path — range-checked RIFF walk, fmt gate, PCM parse,
      // exact-integer energy-envelope hash (the audio dHash: 65 box
      // segments, cross-multiplied strict comparisons) — while the oracle
      // computes the same 64-bit hash analytically from the segment
      // formula. Completes the modality ladder: q32 containers, q103/q104
      // image pixels, this audio samples. Near-dup blocking over these
      // hashes is q104's already-oracle-checked kernel (shared
      // hashNearDups), so one hash query suffices.
      Multimodal.audioHashes(
          Multimodal.synthAudioTable(T(s, dir, "documents"), "doc_id"))
        .orderBy("doc_id")
    }, oracle = Some(
      // the audio twin of the q103 analytic oracle: segment-constant PCM, so
      // the envelope comparison reduces to the md5 segment values — never a
      // WAV byte touched on the oracle side
      """WITH seg AS (SELECT doc_id, s,
        |  CAST(concat('0x', substr(md5(concat(doc_id, ':', s)), 1, 4))
        |   AS BIGINT) % 16384 AS a
        | FROM documents CROSS JOIN range(65) rs(s)),
        |bits AS (SELECT a.doc_id, CAST(a.s AS INTEGER) AS bit
        | FROM seg a JOIN seg b ON a.doc_id = b.doc_id AND b.s = a.s + 1
        | WHERE a.a > b.a)
        |SELECT d.doc_id,
        | coalesce(bit_or(CASE WHEN bit = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
        |   ELSE CAST(1 AS BIGINT) << bit END), 0) AS ahash,
        | CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels
        |FROM documents d LEFT JOIN bits USING (doc_id)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    "q106_minhash_md5" -> Query((s, dir) => {
      // The approximate MINHASH+LSH algorithm under a DIRECT oracle — the
      // q96 move applied to the q23 family (q96 closed simhash; this
      // closes minhash, the last lexical rows-only asymmetry): q23 stays
      // rows-only because DuckDB can't reproduce xxhash64, so this variant
      // swaps in engine-shared md5 permutation hashes and runs the FULL
      // pipeline — signature, banding, oracle-checked bucket cap,
      // n_agree >= 6 agreement confirm (est jaccard >= 0.5) — with every
      // stage hash-checked flat by DuckDB. Promoted to
      // Dedup.minhashMd5Pairs so ZipfDfCapSpec can measure this exact
      // configuration's banding recall on realistic long-tailed text;
      // q23 keeps the fused-xxhash64 operator for production.
      Dedup.minhashMd5Pairs(T(s, dir, "documents"), col("doc_id"),
          col("text"), shingleN = 3, digests = 3, rowsPerBand = 3,
          minAgree = 6, maxBucket = 50)
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      // the q96 oracle idiom for the minhash family: 12 permutation mins
      // from md5 slices, string band keys, the capped band self-join, and
      // the agreement count — every stage flat SQL
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS sh
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |hh AS (SELECT doc_id, d * 4 + j AS perm,
        |  CAST(concat('0x', substr(md5(concat(sh, ':', d)),
        |    CAST(1 + 8 * j AS INTEGER), 8)) AS BIGINT) AS h
        | FROM sh CROSS JOIN range(3) rd(d) CROSS JOIN range(4) rj(j)),
        |sig AS (SELECT doc_id,
        |  min(CASE WHEN perm = 0 THEN h END) AS m0,
        |  min(CASE WHEN perm = 1 THEN h END) AS m1,
        |  min(CASE WHEN perm = 2 THEN h END) AS m2,
        |  min(CASE WHEN perm = 3 THEN h END) AS m3,
        |  min(CASE WHEN perm = 4 THEN h END) AS m4,
        |  min(CASE WHEN perm = 5 THEN h END) AS m5,
        |  min(CASE WHEN perm = 6 THEN h END) AS m6,
        |  min(CASE WHEN perm = 7 THEN h END) AS m7,
        |  min(CASE WHEN perm = 8 THEN h END) AS m8,
        |  min(CASE WHEN perm = 9 THEN h END) AS m9,
        |  min(CASE WHEN perm = 10 THEN h END) AS m10,
        |  min(CASE WHEN perm = 11 THEN h END) AS m11
        | FROM hh GROUP BY 1),
        |banded0 AS (SELECT doc_id, m0, m1, m2, m3, m4, m5, m6, m7, m8, m9, m10, m11,
        |  CASE b WHEN 0 THEN concat('0:', m0, ':', m1, ':', m2)
        |   WHEN 1 THEN concat('1:', m3, ':', m4, ':', m5)
        |   WHEN 2 THEN concat('2:', m6, ':', m7, ':', m8)
        |   ELSE concat('3:', m9, ':', m10, ':', m11) END AS bk
        | FROM sig CROSS JOIN range(4) rb(b)),
        |banded AS (SELECT * FROM (
        |  SELECT *, count(*) OVER (PARTITION BY bk) AS bc FROM banded0)
        | WHERE bc <= 50),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  (CASE WHEN a.m0 = b.m0 THEN 1 ELSE 0 END) + (CASE WHEN a.m1 = b.m1 THEN 1 ELSE 0 END) + (CASE WHEN a.m2 = b.m2 THEN 1 ELSE 0 END) + (CASE WHEN a.m3 = b.m3 THEN 1 ELSE 0 END) + (CASE WHEN a.m4 = b.m4 THEN 1 ELSE 0 END) + (CASE WHEN a.m5 = b.m5 THEN 1 ELSE 0 END) + (CASE WHEN a.m6 = b.m6 THEN 1 ELSE 0 END) + (CASE WHEN a.m7 = b.m7 THEN 1 ELSE 0 END) + (CASE WHEN a.m8 = b.m8 THEN 1 ELSE 0 END) + (CASE WHEN a.m9 = b.m9 THEN 1 ELSE 0 END) + (CASE WHEN a.m10 = b.m10 THEN 1 ELSE 0 END) + (CASE WHEN a.m11 = b.m11 THEN 1 ELSE 0 END) AS n_agree
        | FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(n_agree AS BIGINT) AS n_agree
        |FROM cand WHERE n_agree >= 6 ORDER BY 1, 2""".stripMargin)),

    "q107_ann_int_lsh" -> Query((s, dir) => {
      // The approximate ANN algorithm under a DIRECT oracle — the q96/q106
      // move applied to the LAST rows-only family (float-cosine ANN:
      // q27/q48/q63/q65 stay rows-only because float sums are
      // accumulation-order-dependent across engines). Fixed-point int8
      // quantization makes every vector identical in any engine;
      // md5-derived hyperplanes make the sign-LSH BUCKETING reproducible
      // (the REAL banding config — 4 bits × 16 tables, q27's
      // recall-validated shape — not probe-all); integer dots/norms make
      // the cosine RANKING exact. Every stage — quantize, bucket,
      // candidate join, score, top-5 — is hash-checked flat by DuckDB.
      // Recall vs the float exact baseline is pinned in IntAnnSpec.
      val embs = T(s, dir, "embeddings")
      Similarity.intLshTopK(embs, embs.filter(col("vec_id") < 10), "vec_id",
          "embedding", 5, planesPerTable = 4, numTables = 16, dims = 64)
        .orderBy("query_id", "rnk")
    }, oracle = Some(
      // q107: the full integer-quantized sign-LSH ANN pipeline, reproduced
      // stage-for-stage — int8 quantize (floor(x·127 + 0.5) on the exact
      // float→double value), md5-derived hyperplane weights (the same
      // "p:d" → first-8-hex-chars map Similarity.md5PlaneWeight computes),
      // 4-bit × 16-table bucket keys, integer dot/norm scoring, one
      // IEEE-deterministic divide+sqrt, shared (cos DESC, neighbor_id) rank.
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE len(embedding) = 64),
        |qv AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT)) AS q
        | FROM e),
        |nz AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm
        | FROM qv WHERE CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) > 0),
        |w AS (SELECT p, d,
        |  CAST(concat('0x', substr(md5(concat(p, ':', d)), 1, 8)) AS BIGINT) % 2001 - 1000 AS wt
        | FROM range(64) rp(p) CROSS JOIN range(64) rd(d)),
        |dims AS (SELECT vec_id, i, q[i + 1] AS qd
        | FROM nz, LATERAL (SELECT unnest(range(64)) AS i) t),
        |bits AS (SELECT vec_id, p, CASE WHEN sum(qd * wt) >= 0 THEN '1' ELSE '0' END AS bit
        | FROM dims JOIN w ON w.d = dims.i GROUP BY vec_id, p),
        |keys AS (SELECT vec_id, concat(p // 4, ':', string_agg(bit, '' ORDER BY p)) AS bk
        | FROM bits GROUP BY vec_id, p // 4),
        |cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
        | FROM keys a JOIN keys b ON a.bk = b.bk AND b.vec_id <> a.vec_id
        | WHERE a.vec_id < 10),
        |pairs AS (SELECT query_id, neighbor_id, a.q AS qa, b.q AS qb, a.nrm AS na, b.nrm AS nb
        | FROM cand JOIN nz a ON a.vec_id = cand.query_id JOIN nz b ON b.vec_id = cand.neighbor_id),
        |ex AS (SELECT query_id, neighbor_id, na, nb, unnest(qa) AS x, unnest(qb) AS y FROM pairs),
        |s AS (SELECT query_id, neighbor_id, CAST(sum(x * y) AS BIGINT) AS dot,
        |  floor(CAST(sum(x * y) AS DOUBLE) /
        |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS cos
        | FROM ex GROUP BY query_id, neighbor_id, na, nb),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
        | FROM s)
        |SELECT query_id, neighbor_id, dot, cos, rnk FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin)),

    "q108_neardup_auto" -> Query((s, dir) => {
      // The corpus-shape ROUTER as a driver-checked contract entry (r12,
      // shipped alongside multi-probe and here hash-checked END TO END): nearDupAuto measures the
      // corpus on a bounded hash sample (cloneRate, dfHeadShare) and
      // dispatches to the §5-prescribed family. The documents corpus
      // measures long-tailed realistic at every SF (SURVEY §2c:
      // cloneRate ≤ 0.001, dfHeadShare ≤ 0.037), so the dispatch lands
      // on the df-capped exact jaccard — which IS SQL-expressible, so
      // the oracle reproduces the routed pipeline flat, method column
      // included. A corpus regeneration that flipped the dispatch would
      // fail the hash LOUDLY (the right failure: the router's verdict is
      // part of the contract). NearDupAutoSpec covers the other two
      // branches on measured reference shapes.
      Dedup.nearDupAuto(T(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      // q108: the routed pipeline on this corpus IS q52's df-capped jaccard
      // (the shape probe lands dfcap on realistic text — see the query's
      // comment), so the oracle is q52's SQL with the router's method tag
      // and unified score column.
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        | WHERE df <= 50),
        |bl AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common_rare
        | FROM bl a JOIN bl b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b, 'dfcap' AS method, score FROM (
        | SELECT doc_a, doc_b,
        |  floor(CAST(n_common_rare AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common_rare) * 10000.0 + 0.5) / 10000.0 AS score
        | FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id JOIN sz sb ON pr.doc_b = sb.doc_id)
        |WHERE score >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    "q109_video_meta" -> Query((s, dir) => {
      // Video CONTAINER under a direct oracle (r12): the modality ladder's
      // fourth rung — q32 image/audio containers, q103/q104 image pixels,
      // q105 audio samples, now a real ISO BMFF (MP4) box walk. Per-doc
      // synthesized-but-structurally-real MP4s (version-0 mvhd/tkhd at
      // their ISO 14496-12 byte layouts, big-endian, md5-derived
      // parameters) are pushed through the production parser — the
      // range-checked box walk, 16.16 fixed-point dimensions, exact
      // integer duration_ms — while the oracle recomputes every column
      // analytically from the same md5 slices (the q103/q105 move). The
      // codec payload (mdat) is the brief's declared stub; the container
      // plumbing is real and hash-checked.
      Multimodal.videoMeta(
          Multimodal.synthVideoTable(T(s, dir, "documents"), "doc_id"))
        .orderBy("doc_id")
    }, oracle = Some(
      // q109: every column recomputed analytically from the synthesis
      // formula's md5 slices — a match proves the MP4 encode → box walk →
      // metadata round trip byte-exact (n_bytes = 164 + 100·tracks is the
      // container's structural size; duration_ms is exact integer
      // arithmetic in both engines).
      """WITH p AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(concat(doc_id, ':vmeta')), 1, 8)) AS BIGINT) AS h0,
        |  CAST(concat('0x', substr(md5(concat(doc_id, ':vmeta')), 9, 8)) AS BIGINT) AS h1,
        |  CAST(concat('0x', substr(md5(concat(doc_id, ':vmeta')), 17, 8)) AS BIGINT) AS h2,
        |  CAST(concat('0x', substr(md5(concat(doc_id, ':vmeta')), 25, 8)) AS BIGINT) AS h3
        | FROM documents),
        |q AS (SELECT doc_id,
        |  CASE h0 % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS timescale,
        |  1000 + h1 % 100000 AS dur_ticks,
        |  1 + h0 % 2 AS n_tracks,
        |  16 * (4 + h2 % 100) AS width,
        |  16 * (3 + h3 % 60) AS height
        | FROM p)
        |SELECT doc_id, CAST(164 + n_tracks * 100 AS BIGINT) AS n_bytes,
        |  CAST(timescale AS BIGINT) AS timescale,
        |  CAST(dur_ticks * 1000 // timescale AS BIGINT) AS duration_ms,
        |  CAST(n_tracks AS BIGINT) AS n_tracks,
        |  CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height
        |FROM q ORDER BY doc_id""".stripMargin)),

    "q110_video_content" -> Query((s, dir) => {
      // Video CONTENT under a direct oracle (r13 — the modality
      // ladder's last rung): per-doc MP4s whose mdat carries REAL encoded
      // frames, located through the ISO sample table (stsz sizes + stco
      // chunk offset — the actual MP4 frame-location mechanism), each
      // frame decoded through the EXISTING production image path (the
      // q103 PNG inflate→unfilter→luma loop), per-frame exact-integer
      // dHash, and a majority-vote temporal fold into one 64-bit video
      // signature — while the oracle recomputes frame count, every
      // per-frame bit, and the fold analytically from the synthesis
      // formula, never touching an MP4 byte. A hash match certifies the
      // whole encode → sample-table walk → frame decode → temporal hash
      // pipeline byte-exact. Near-dup over these signatures is q104's
      // already-oracle-checked hashNearDups kernel (VideoContentSpec).
      val docs = T(s, dir, "documents")
      val groups = math.max(40L, docsCount(s, dir) / 12L)
      Multimodal.videoContentHashes(
          Multimodal.synthVideoContentTable(docs, "doc_id", groups))
        .orderBy("doc_id")
    }, oracle = Some(
      // q110: the video temporal hash recomputed analytically — frame count
      // from md5(tpl ":vframes"), per-frame cell values from
      // md5(tpl ":" f ":" gc ":" y) (the q103 cell formula with the frame
      // index in the salt, +40 bump on column 0 for doc_id%5=0), per-frame
      // dHash bits as strict adjacent-cell comparisons, majority fold
      // 2·cnt >= n — never an MP4 or PNG byte touched on the oracle side.
      """WITH g AS (SELECT greatest(40, (SELECT count(*) FROM documents) // 12) AS grp),
        |nf AS (SELECT d.doc_id, d.doc_id % g.grp AS tpl,
        |  2 + CAST(concat('0x', substr(md5(concat(d.doc_id % g.grp, ':vframes')), 1, 4)) AS BIGINT) % 5 AS n
        | FROM documents d CROSS JOIN g),
        |cells AS (SELECT nf.doc_id, nf.n, f, y AS gr, gc,
        |  CAST(concat('0x',
        |    substr(md5(concat(nf.tpl, ':', f, ':', gc, ':', y)), 1, 4)) AS BIGINT) % 200
        |   + CASE WHEN nf.doc_id % 5 = 0 AND gc = 0 THEN 40 ELSE 0 END AS v
        | FROM nf CROSS JOIN range(6) rf(f)
        |  CROSS JOIN range(9) rgc(gc) CROSS JOIN range(8) ry(y)
        | WHERE f < nf.n),
        |bitcnt AS (SELECT a.doc_id, a.n, CAST(a.gr * 8 + a.gc AS INTEGER) AS bit,
        |  count(*) AS cnt
        | FROM cells a JOIN cells b
        |  ON a.doc_id = b.doc_id AND a.f = b.f AND a.gr = b.gr AND b.gc = a.gc + 1
        | WHERE a.v > b.v GROUP BY 1, 2, 3),
        |setbits AS (SELECT doc_id, bit FROM bitcnt WHERE 2 * cnt >= n)
        |SELECT nf.doc_id, CAST(nf.n AS BIGINT) AS n_frames,
        | coalesce(bit_or(CASE WHEN bit = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
        |   ELSE CAST(1 AS BIGINT) << bit END), 0) AS vhash
        |FROM nf LEFT JOIN setbits USING (doc_id)
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin)),

    "q111_corpus_shape" -> Query((s, dir) => {
      // The corpus-shape probe as a DASHBOARD contract entry (r13):
      // the statistics q108's router dispatches on — clone rate and
      // df-head share — promoted to a one-row report a curation run logs
      // first, next to q77's dup stats. sampleDocs = 0 measures the WHOLE
      // corpus (two linear aggregates), so every value is a deterministic
      // quantity DuckDB recomputes exactly: the bounded-sample mode stays
      // the production probe posture (its xxhash64 sample order is not
      // SQL-replayable), this entry audits the STATISTICS' semantics.
      Dedup.corpusShapeReport(T(s, dir, "documents"),
        col("doc_id"), col("text"), n = 3, sampleDocs = 0)
    }, oracle = Some(
      // q111: the router's shape statistics recomputed whole-corpus —
      // clone_rate as 1 - distinct(normalized text)/docs (Spark distincts
      // xxhash64 of the normalization; string-distinct here, the family's
      // documented 2^-64-class equivalence), df_head_share over per-doc-
      // distinct 3-gram shingles with head cut max(2, ceil(docs*0.01)),
      // dispatch CASE on the UNROUNDED values, ratios rounded half-up on
      // the exact binary double (floor(x*1e6+0.5)/1e6 both engines).
      """WITH c AS (SELECT count(*) AS n, count(DISTINCT trim(regexp_replace(
        |    translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |    '[ \t\n\r\f]+', ' ', 'g'))) AS d
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |h AS (SELECT sum(df) AS total,
        |  coalesce(sum(CASE WHEN df >= greatest(2,
        |    CAST(ceil((SELECT n FROM c) * 0.01) AS BIGINT)) THEN df END), 0) AS head
        | FROM dfs)
        |SELECT CAST(c.n AS BIGINT) AS sample_docs,
        |  floor((1.0 - CAST(c.d AS DOUBLE) / c.n) * 1000000.0 + 0.5) / 1000000.0 AS clone_rate,
        |  floor(CAST(h.head AS DOUBLE) / h.total * 1000000.0 + 0.5) / 1000000.0 AS df_head_share,
        |  CASE WHEN 1.0 - CAST(c.d AS DOUBLE) / c.n >= 0.3 THEN 'minhash'
        |       WHEN CAST(h.head AS DOUBLE) / h.total >= 0.5 THEN 'simhash'
        |       ELSE 'dfcap' END AS method
        |FROM c, h""".stripMargin)),

    "q112_pmi_cooccur" -> Query((s, dir) => {
      // Phrase-pair association mining (r14 head start): which 3-gram
      // phrases co-occur in the same document far above chance — the
      // collocation / topic-seed statistic a curation run derives next to
      // q61's per-source distinctive terms. Integer-exact PMI: instead of
      // log(p_ab/(p_a·p_b)) (libm log differs across engines at the ulp),
      // emit lift = floor(c_ab·N·10⁴ / (c_a·c_b)) — BIGINT arithmetic both
      // engines, exact, and order-isomorphic to PMI (log is monotone).
      // Scale posture: the df WINDOW [3, min(50, N/2)] is the load-bearing
      // bound — rare terms are support noise, head terms boilerplate, and
      // the ABSOLUTE 50-cap bounds every doc's pair fan-out by its
      // distinctive terms at any corpus size (q52's production df cap; the
      // relative N/2 guard alone stops binding as N grows — measured 570 s
      // uncapped vs seconds capped at sf10); c_ab ≥ 2 prunes post-agg; the
      // final top-100 is TakeOrdered (no global sort). BIGINT headroom:
      // c_ab·N·10⁴ stays under 2⁶³ through N ≈ 10⁹ docs; a larger corpus
      // upgrades lift to DECIMAL(38,0). N enters as a LITERAL via the
      // memoized docsCount (r14): the r13 1-row-broadcast shape planned two
      // BroadcastNestedLoopJoins and tripped PlanSpec's nested-loop gate.
      // persistIndex=true (r14 A/B, SURVEY §6 r14): tv (term ⋈ vocab) feeds
      // BOTH self-join sides — persist+checkpoint shingles the corpus ONCE
      // and measured faster at BOTH scales (sf0.1: 1.75 vs 2.38 s min;
      // sf10: 12.05 vs 15.02 s min), unlike the q22/q23 family where the
      // sides share one exchange and persist's barrier jobs cost more.
      Scoring.pmiPairs(T(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, minDf = 3L, maxDf = 50L, minSupport = 2L, topK = 100,
        nDocs = Some(docsCount(s, dir)), persistIndex = true)
    }, oracle = Some(
      // q112: integer-exact lift (PMI without the cross-engine libm log) —
      // same distinct-shingle extraction as q39/q62's oracles, df window
      // [3, min(50, N/2)], support c_ab >= 2, floor division exact in BIGINT
      // both engines; (lift, term_a, term_b) is a total order so LIMIT 100
      // is deterministic
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS term
        | FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        | WHERE len(words) >= 3),
        |df AS (SELECT term, count(*) AS df FROM sh GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |v AS (SELECT term, df FROM df, nd
        | WHERE df >= 3 AND df <= 50 AND df * 2 <= n_docs),
        |tv AS (SELECT doc_id, term, df FROM sh JOIN v USING (term)),
        |pr AS (SELECT a.term AS term_a, b.term AS term_b,
        |  CAST(count(*) AS BIGINT) AS c_ab,
        |  CAST(max(a.df) AS BIGINT) AS c_a, CAST(max(b.df) AS BIGINT) AS c_b
        | FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.term < b.term
        | GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT term_a, term_b, c_ab, c_a, c_b,
        | CAST((c_ab * n_docs * 10000) // (c_a * c_b) AS BIGINT) AS lift
        |FROM pr, nd
        |ORDER BY lift DESC, term_a, term_b LIMIT 100""".stripMargin)),

    "q113_audio_neardup" -> Query((s, dir) => {
      // Audio near-dup as a driver-checked contract entry (r14 —
      // the one modality whose near-dup stage was spec-only):
      // q105's real-WAV decode path feeds the shared hashNearDups kernel
      // (q104's oracle-checked banding + cap + hamming). Template groups
      // plant ~12-way duplicate multiplicity at every SF; the +2048 bump
      // on every 16th segment gives bumped-vs-unbumped same-template
      // pairs a small nonzero hamming, exercising the confirm threshold
      // from both sides. Every stage — analytic segment formula, envelope
      // hash, banding, bucket cap, hamming — is reproduced flat by the
      // DuckDB oracle.
      val docs = T(s, dir, "documents")
      val groups = math.max(40L, docsCount(s, dir) / 12L)
      Multimodal.audioNearDups(
          Multimodal.synthAudioTable(docs, "doc_id", groups),
          maxHamming = 8, maxBucket = 50)
        .orderBy("doc_a", "doc_b")
    }, oracle = Some(
      // q113: the q105 analytic segment formula keyed on the TEMPLATE
      // (doc_id % groups) plus the bump, then q104's banding/cap/hamming
      // verbatim over the resulting 64-bit envelope hashes — never a WAV
      // byte touched on the oracle side
      """WITH g AS (SELECT greatest(40, (SELECT count(*) FROM documents) // 12) AS grp),
        |seg AS (SELECT d.doc_id, s,
        |  CAST(concat('0x', substr(md5(concat(d.doc_id % g.grp, ':', s)), 1, 4))
        |   AS BIGINT) % 16384
        |   + CASE WHEN d.doc_id % 5 = 0 AND s % 16 = 0 THEN 2048 ELSE 0 END AS a
        | FROM documents d CROSS JOIN g CROSS JOIN range(65) rs(s)),
        |bits AS (SELECT a.doc_id, CAST(a.s AS INTEGER) AS bit
        | FROM seg a JOIN seg b ON a.doc_id = b.doc_id AND b.s = a.s + 1
        | WHERE a.a > b.a),
        |h AS (SELECT d.doc_id,
        |  coalesce(bit_or(CASE WHEN bit = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
        |    ELSE CAST(1 AS BIGINT) << bit END), 0) AS ahash
        | FROM documents d LEFT JOIN bits USING (doc_id) GROUP BY 1),
        |banded0 AS (SELECT doc_id, ahash,
        |  b * 65536 + ((ahash >> CAST(16 * b AS INTEGER)) & 65535) AS bk
        | FROM h CROSS JOIN range(4) rb(b)),
        |banded AS (SELECT doc_id, ahash, bk FROM (
        |  SELECT doc_id, ahash, bk, count(*) OVER (PARTITION BY bk) AS bc
        |  FROM banded0)
        | WHERE bc <= 50),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.ahash AS ha, b.ahash AS hb
        | FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 8
        |ORDER BY 1, 2""".stripMargin))
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map { case (name, q) => name -> q.build }

  val oracleSql: Map[String, String] =
    table.collect { case (name, Query(_, Some(sql))) => name -> sql }
}
