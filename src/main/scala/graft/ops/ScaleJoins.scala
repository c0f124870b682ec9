package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-path join techniques: bucketed co-located joins (pre-shuffled at
  * write time, zero exchange at read time) and salted joins (manual skew
  * spreading when one key dominates). Both produce results identical to
  * the plain join — the oracle checks that — while the plan audits check
  * the shuffle structure.
  */
object ScaleJoins {

  /** Write both sides bucketed by the join key into the session warehouse
    * (idempotent per session). At 100 TB this is done once at ingest:
    * every later equi-join/aggregation on the bucket key skips its
    * exchange entirely. Table names are keyed by the SOURCE path
    * ([[graft.Warehouse.srcTag]]) so different scale factors (or a
    * concurrently-running Verify) never collide on one warehouse
    * directory; [[graft.Warehouse.ensure]] builds each side once and
    * refuses to serve it to a different derivation of the same files. */
  def ensureBucketed(spark: SparkSession, orders: DataFrame, lineitem: DataFrame,
                     buckets: Int = 8): (String, String) = {
    def bucketed(prefix: String, df: DataFrame, key: String): String =
      graft.Warehouse.ensure(spark, s"${prefix}_b_${graft.Warehouse.srcTag(df)}", source = df) {
        df.write.bucketBy(buckets, key).sortBy(key).mode("overwrite").saveAsTable(_)
      }
    (bucketed("orders", orders, "o_orderkey"), bucketed("lineitem", lineitem, "l_orderkey"))
  }

  /** Co-located join over the bucketed tables — planner sees matching
    * output partitionings and emits NO Exchange on either side
    * (asserted in PlanAuditSpec). Result == join_sortmerge's shape. */
  def bucketedJoin(spark: SparkSession, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val (on, ln) = ensureBucketed(spark, orders, lineitem)
    // merge hint: at test scale the planner would broadcast the tiny
    // side; the hint pins the shape this op exists to demonstrate (and
    // that a 100 TB planner picks anyway): bucket-aligned SMJ with no
    // exchange and no sort on either side.
    val o = spark.table(on).hint("merge")
    val l = spark.table(ln)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(o("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(l("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** Skew-salted JOIN: when one join key dominates, every row of the hot
    * key lands on one reducer and the stage straggles. Manual spread:
    * the fact side gets a deterministic salt in [0, S) derived from a
    * unique column combination, the dim side is replicated S× (one copy
    * per salt), and the join key becomes (key, salt) — the hot key's rows
    * now split across S reducers. Identical result to the plain join
    * (oracle-checked). AQE's skew-join split covers sort-merge joins
    * after the fact; salting is the write-side/planned answer when the
    * skew is known. Dim replication cost: S× a (small) dim — bounded. */
  def saltedJoin(orders: DataFrame, lineitem: DataFrame, salts: Int = 8): DataFrame = {
    // murmur hash() over the unique column combo directly — no per-row
    // string building (crc32(concat_ws(...)) allocated a string per row)
    val fact = lineitem.withColumn("salt",
      pmod(hash(col("l_orderkey"), col("l_linenumber"), col("l_partkey")), lit(salts)))
    // shuffle_hash hint: Catalyst's size estimate for the dim predates the
    // S-fold explode, so AQE happily BROADCASTS the replicated side —
    // measured 16s vs 1.3s at 6M fact rows, and fatal at real scale. The
    // salted join must shuffle on (key, salt); that IS the technique.
    val dim = orders.withColumn("salt",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
      .hint("shuffle_hash")
    fact.join(dim, col("l_orderkey") === col("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        Det.dsum(col("l_quantity"), 2).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** Runtime bloom-filter pruned join: a selective dim filter reduced to
    * a bloom filter that prunes the FACT side before its shuffle — at
    * 100 TB the difference between shuffling the whole fact table and
    * shuffling the ~1/k of it that can possibly match. Spark 4 injects
    * this automatically (InjectRuntimeFilter) when the thresholds are
    * met; the fixture scan is far below the 10 GB application-side
    * default, so the production behavior is asserted in PlanAuditSpec
    * under a session with the thresholds lowered — THIS query stays
    * declarative (merge hint pins the shuffle join the filter exists to
    * protect; results are threshold-independent and oracle-checked). */
  def runtimeFilteredJoin(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val dim = orders
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 400000.0)
      .hint("merge")
    dim.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        Det.dsum(col("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Skew-salted aggregation: when one group key dominates (heavy-hitter
    * skew), a single reducer drowns. Two-phase: (1) aggregate on
    * (key, salt = crc32(unique_col) % S) — spreads the hot key over S
    * reducers with map-side partials; (2) re-aggregate the S partials per
    * key. Identical result to the direct groupBy (oracle-checked); at
    * scale AQE's skew handling covers joins, this pattern covers
    * aggregations with pathological key distributions. */
  def saltedAgg(lineitem: DataFrame, salts: Int = 8): DataFrame = {
    val salted = lineitem
      .withColumn("salt", pmod(crc32(col("l_orderkey").cast("string")), lit(salts)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).as("part_qty"),
        count(lit(1)).as("part_n"))
    salted
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("part_qty")).cast("double").as("sum_qty"),
        sum(col("part_n")).as("n"))
      .orderBy("l_returnflag")
  }
}
