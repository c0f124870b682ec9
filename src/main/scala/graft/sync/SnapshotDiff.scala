package graft.sync

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Distributed snapshot diff + changeset apply — the Spark-native
  * re-expression of the reference's core (`compare_data`,
  * syncquill.py:109-129, and `update_bigquery`/`upsert_table`,
  * syncquill.py:78-146).
  *
  * The reference walks two driver-resident list-of-lists row by row,
  * single-threaded, then applies one DML round-trip per changed cell
  * (syncquill.py:87) and per deleted row (syncquill.py:105). Here both
  * snapshots stay distributed: the diff is a hash-partitioned full outer
  * join on the key (one shuffle per side, linear in data, parallel in
  * partitions), and apply is ONE set-based job (anti-join deletes +
  * patched updates + unioned inserts) instead of N+1 statements.
  *
  * Changesets are long-form DataFrames with schema
  * `(op: string, slno: long, col: string, old_val: string, new_val: string)`
  * — op ∈ {update, insert, delete} (keyed) or {diff, extra_row, del_row}
  * (positional, matching the reference's vocabulary at
  * syncquill.py:119,123,128). Values are compared in the string domain,
  * exactly like the reference (syncquill.py:112-113). An update is one
  * row per changed cell (`col`, its old and new text); an insert or delete
  * is one row whose `new_val` / `old_val` holds the whole-row image
  * ([[rowImage]]).
  *
  * This object is the only code that knows that format: every consumer
  * (the apply below, the IVM operators, the JDBC DML target, the sync
  * verb's counts) reads a changeset through its decoders —
  * [[imageRows]] (inserted or deleted rows, image decoded),
  * [[patches]] (per-key `col → new_val` map), [[patchedCell]] (a cell
  * after its patch) and [[opCounts]] (rows per op).
  */
object SnapshotDiff {

  /** Whole-row image for insert/delete entries, encoded as a JSON object
    * (`{"name":"x","acctbal":null,...}`). JSON — not a separator-joined
    * string — because the encoding must be unambiguous and null-safe:
    * `concat_ws` silently drops null cells and a cell containing the
    * separator shifts every later field, corrupting the round-trip law
    * `applyChangeset(a, diffKeyed(a,b)) ≡ b`. Cells are stringified first
    * (the reference's comparison domain, syncquill.py:112-113) so the
    * image is stable across input column types. */
  private def rowImage(cols: Seq[String], side: String): Column =
    to_json(
      struct(cols.map(c => col(s"$side.$c").cast("string").as(c)): _*),
      Map("ignoreNullFields" -> "false"))

  /** The absent side of an insert or delete entry. */
  private val noValue: Column = lit(null).cast("string")

  /** One changeset entry, present where `cond` holds (null elsewhere). */
  private def entry(cond: Column, op: String, slno: Column, c: Column, oldVal: Column,
                    newVal: Column): Column =
    when(cond, struct(lit(op).as("op"), slno.cast("long").as("slno"), c.as("col"),
      oldVal.as("old_val"), newVal.as("new_val")))

  /** The `op` rows (`insert` or `delete`) of `changes`, each as `key`
    * (its `slno`) plus the string `valueCols` decoded from its row image,
    * null-safely by field name. */
  def imageRows(changes: DataFrame, op: String, key: String, valueCols: Seq[String]): DataFrame =
    changes.filter(col("op") === op)
      .withColumn("img", from_json(col(if (op == "insert") "new_val" else "old_val"),
        StructType(valueCols.map(StructField(_, StringType)))))
      .select(col("slno").as(key) +: valueCols.map(c => col(s"img.$c").as(c)): _*)

  /** The updates of `changes` folded per key: `slno` and `patch`, the map
    * from each changed column to its new value. */
  def patches(changes: DataFrame): DataFrame =
    changes.filter(col("op") === "update")
      .groupBy(col("slno"))
      .agg(map_from_entries(collect_list(struct(col("col"), col("new_val")))).as("patch"))

  /** Value column `c` after `patch`: the patched value where the map holds
    * `c`, else `old` as a string. A membership test, not coalesce: an
    * update may set a cell to NULL, and coalesce(patch[c], old) would
    * silently resurrect the old value. */
  def patchedCell(patch: Column, c: String, old: Column): Column =
    when(map_contains_key(patch, c), element_at(patch, c)).otherwise(old.cast("string"))

  /** Rows per keyed op, as the count columns `insert`, `delete` and `update`. */
  val opCounts: Seq[Column] =
    Seq("insert", "delete", "update").map(op => count(when(col("op") === op, 1)).as(op))

  /** BUCKET RECONCILE (r8) — the cheap pre-diff a sync engine runs
    * FIRST: per key-range bucket, row count and an order-free content
    * fingerprint (decimal sum of the portable row fingerprint) on each
    * side; a bucket with equal counts and fingerprints needs NO cell
    * diff, so the expensive [[diffKeyed]] runs only over mismatched
    * ranges. At 100 TB this is the difference between diffing 2×10¹¹
    * rows and diffing the ~0.1% of buckets a nightly batch actually
    * touched (the rsync/Merkle idea at table grain — one aggregate
    * pass per side, bucket-grain full outer join, no row ever crosses
    * sides). The bucket grain is the tuning knob and must sit below
    * the change SPACING or every bucket is dirty and nothing prunes:
    * this fixture perturbs every multiple of 7, and a run of 7+
    * consecutive keys always contains one — so the default is 4
    * keys/bucket (measured match rate 23% at sf0.1); a nightly batch
    * with 0.1% churn would run thousands of keys per bucket.
    * Fingerprint collisions: a false "match" needs the SUM of
    * ~10⁹-range fingerprints to collide per bucket — and the law spec
    * pins mismatched buckets ≡ buckets diffKeyed actually touches on
    * this fixture. */
  def bucketReconcile(old: DataFrame, neu: DataFrame, key: String = "slno",
                      bucketSize: Long = 4L): DataFrame = {
    def side(df: DataFrame, p: String): DataFrame = {
      val fp = graft.functions.TextExprs.rollingFingerprint(
        concat_ws("|", df.columns.map(col).toIndexedSeq: _*))
      df.select(expr(s"$key div $bucketSize").as("bucket"),
          fp.cast("decimal(38,0)").as("fp"))
        .groupBy("bucket")
        .agg(count(lit(1)).as(s"n_$p"), sum(col("fp")).as(s"fp_$p"))
    }
    side(old, "old").join(side(neu, "new"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (coalesce(col("n_old"), lit(0L)) === coalesce(col("n_new"), lit(0L))
          && col("fp_old") <=> col("fp_new")).cast("int").as("is_match"))
      .orderBy("bucket")
  }

  /** RECONCILED DIFF (r9) — [[bucketReconcile]] and [[diffKeyed]]
    * composed into the production nightly-sync shape the two keys
    * previously demonstrated separately: compute the bucket-grain
    * count+fingerprint comparison, then run the cell diff ONLY over
    * the mismatched buckets, in one lazy plan. The changeset is
    * EXACTLY the full [[diffKeyed]] output (the reconcile law —
    * a clean bucket has equal counts and an order-free fingerprint
    * match, so it contributes no changeset rows; SnapshotDiffSpec
    * pins mismatched ≡ diff-touched and this operator's output ≡
    * the unpruned diff, and the oracle for `diff_reconciled` IS the
    * `diff_keyed` SQL).
    *
    * Scale shape: one aggregate pass per side at bucket grain (rows
    * never cross sides), then each side is SEMI-JOINED against the
    * dirty-bucket list before the wide full-outer diff join — at
    * 100 TB with 0.1% nightly churn the expensive shuffle carries
    * ~0.1% of the rows instead of all of them. The dirty list is
    * broadcast deliberately: reconcile exists BECAUSE dirty ≪ total
    * (a corpus where most buckets are dirty should skip reconcile
    * and run [[diffKeyed]] directly — the collapse-threshold class
    * of decision), so the list is churn-sized, not corpus-sized. */
  def diffReconciled(old: DataFrame, neu: DataFrame, key: String = "slno",
                     bucketSize: Long = 4L): DataFrame = {
    val dirty = bucketReconcile(old, neu, key, bucketSize)
      .filter(col("is_match") === 0)
      .select(col("bucket"))
    def prune(df: DataFrame): DataFrame =
      df.withColumn("bucket", expr(s"$key div $bucketSize"))
        .join(broadcast(dirty), Seq("bucket"), "left_semi")
        .drop("bucket")
    diffKeyed(prune(old), prune(neu), key)
  }

  /** Keyed snapshot diff: old vs new joined on `key` (hash-partitioned
    * full outer join), cell diffs per value column, whole-row entries for
    * inserts/deletes. Scales: one shuffle each side, no driver
    * materialization, skew handled by AQE. */
  def diffKeyed(old: DataFrame, neu: DataFrame, key: String): DataFrame = {
    val valueCols = old.columns.filterNot(_ == key).toSeq
    require(neu.columns.toSeq == old.columns.toSeq, "snapshots must share a schema")

    val j = old.as("o").join(neu.as("n"), col(s"o.$key") === col(s"n.$key"), "full_outer")
    val inOld = col(s"o.$key").isNotNull
    val inNew = col(s"n.$key").isNotNull

    val insertC = entry(!inOld && inNew, "insert", col(s"n.$key"), lit(""), noValue,
      rowImage(valueCols, "n"))
    val deleteC = entry(inOld && !inNew, "delete", col(s"o.$key"), lit(""),
      rowImage(valueCols, "o"), noValue)
    // null-safe inequality: `=!=` yields NULL (not true) for null->value
    // or value->null transitions, silently swallowing those updates
    val updateCs = valueCols.map { c =>
      entry(inOld && inNew && !(col(s"o.$c") <=> col(s"n.$c")), "update", col(s"o.$key"),
        lit(c), col(s"o.$c").cast("string"), col(s"n.$c").cast("string"))
    }

    j.select(explode(array(insertC +: deleteC +: updateCs: _*)).as("ch"))
      .filter(col("ch.op").isNotNull)
      .select(col("ch.*"))
  }

  /** Faithful positional diff — the reference's exact (and exactly wrong)
    * semantics (syncquill.py:109-129): rows paired by POSITION after
    * sorting only by the order the sides arrived in; adds/deletes detected
    * only as length tails (`del_row` when list1/BQ is longer, `extra_row`
    * when list2/sheet is longer); cell diffs attribute `slno` from the
    * list1/BQ side (syncquill.py:128); del_row keys on the row's first
    * cell (syncquill.py:103). A row dropped mid-snapshot therefore
    * mis-diffs every subsequent row — preserved here on purpose, as
    * `diff_positional` parity is part of the contract.
    *
    * Relational form: row_number over the key order on each side, full
    * outer join on position. The global row_number is a scale liability by
    * design (the reference's semantics are inherently total-order); the
    * keyed variant above is the scalable one. */
  def diffPositional(list1: DataFrame, list2: DataFrame, key: String): DataFrame = {
    // Reference stringifies both snapshots before comparing (syncquill.py:112-113).
    def stringify(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
    val valueCols = list1.columns.toSeq // includes key: cells compared like any other
    // PARTITION-LESS window BY CONTRACT: the reference compares by global
    // row position, so the single-partition WindowExec is the semantics,
    // not an accident — bounded to the snapshot size; diffKeyed is the
    // scale form. One of exactly two allowed sites (HygieneSpec).
    val w = Window.orderBy(col(key).cast("long"))
    val l1 = stringify(list1).withColumn("pos", row_number().over(w)).as("a")
    val l2 = stringify(list2).withColumn("pos", row_number().over(w)).as("b")

    val j = l1.join(l2, col("a.pos") === col("b.pos"), "full_outer")
    val both = col("a.pos").isNotNull && col("b.pos").isNotNull

    val delRow = entry(col("b.pos").isNull, "del_row", col(s"a.$key"), lit(""),
      rowImage(valueCols, "a"), noValue)
    val extraRow = entry(col("a.pos").isNull, "extra_row", col(s"b.$key"), lit(""), noValue,
      rowImage(valueCols, "b"))
    val cellDiffs = valueCols.map { c =>
      entry(both && !(col(s"a.$c") <=> col(s"b.$c")), "diff", col(s"a.$key"), lit(c),
        col(s"a.$c"), col(s"b.$c"))
    }

    j.select(coalesce(col("a.pos"), col("b.pos")).cast("long").as("pos"),
        explode(array(delRow +: extraRow +: cellDiffs: _*)).as("ch"))
      .filter(col("ch.op").isNotNull)
      .select(col("pos"), col("ch.*"))
  }

  /** Apply a keyed changeset to `old`, yielding the new snapshot in ONE
    * set-based job — replaces the reference's per-cell UPDATE loop
    * (syncquill.py:80-89), per-row DELETE loop (syncquill.py:101-107) and
    * append job (syncquill.py:90-99). Law (ScalaCheck-gated):
    * `applyChangeset(old, diffKeyed(old, new), ...) ≡ new`. */
  def applyChangeset(old: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val valueCols = old.columns.filterNot(_ == key).toSeq
    val deletes = changes.filter(col("op") === "delete").select(col("slno"))
    old.as("o")
      .join(deletes.as("d"), col(s"o.$key").cast("long") === col("d.slno"), "left_anti")
      .join(patches(changes).as("u"), col(s"o.$key").cast("long") === col("u.slno"), "left")
      .select(col(s"o.$key").as(key) +:
        valueCols.map(c => patchedCell(col("u.patch"), c, col(s"o.$c")).as(c)): _*)
      .unionByName(imageRows(changes, "insert", key, valueCols))
  }

  /** SCD TYPE-2 history from a snapshot pair — the warehouse-maintenance
    * twin of [[diffKeyed]]: instead of emitting a changeset, emit the
    * VERSIONED dimension rows a type-2 dimension table holds after the
    * new snapshot lands. Per key:
    *  - unchanged → its version-1 row stays current;
    *  - updated   → version 1 closes (is_current=0), version 2 opens with
    *    the new values;
    *  - deleted   → version 1 closes, nothing reopens;
    *  - inserted  → a fresh version-1 row, current.
    * Version numbers stand in for effective timestamps (deterministic —
    * SURVEY §7 bans wall-clock in oracle-checked output). Value columns
    * derive from the old snapshot's schema, like [[diffKeyed]]. Both
    * version streams emit from ONE execution of the full-outer join —
    * the explode(array(v1, v2)) projection (the diffKeyed pattern), not
    * a union of two filters that would run the join twice. */
  def scd2(old: DataFrame, neu: DataFrame, key: String = "slno"): DataFrame = {
    val cols = old.columns.filterNot(_ == key).toSeq
    require(neu.columns.filterNot(_ == key).toSeq == cols,
      s"snapshot schemas must match: old has $cols, new has ${neu.columns.toSeq}")
    val o = old.select(col(key).as("k") +: cols.map(c => col(c).as(s"o_$c")): _*)
    val n = neu.select(col(key).as("nk") +: cols.map(c => col(c).as(s"n_$c")): _*)
    val j = o.join(n, col("k") === col("nk"), "full_outer")
    val same = cols.map(c => col(s"o_$c") <=> col(s"n_$c")).reduce(_ && _)
    val v1 = when(col("k").isNotNull, struct(
      Seq(col("k").as(key), lit(1L).as("version")) ++
        cols.map(c => col(s"o_$c").as(c)) :+
        when(col("nk").isNotNull && same, 1).otherwise(0).cast("int").as("is_current"): _*))
    val v2 = when(col("nk").isNotNull && (col("k").isNull || !same), struct(
      Seq(col("nk").as(key), when(col("k").isNull, 1L).otherwise(2L).as("version")) ++
        cols.map(c => col(s"n_$c").as(c)) :+
        lit(1).cast("int").as("is_current"): _*))
    j.select(explode(array(v1, v2)).as("r"))
      .filter(col("r").isNotNull)
      .select(Seq(col(s"r.$key").as(key), col("r.version").as("version")) ++
        cols.map(c => col(s"r.$c").as(c)) :+
        col("r.is_current").as("is_current"): _*)
      .orderBy(key, "version")
  }

  /** THREE-WAY KEYED MERGE (r8) — the multi-writer sync case the
    * reference's one-directional diff cannot express: two branches
    * (`ours`, `theirs`) both diverged from a common `base`, and the
    * merge must take each side's non-overlapping edits, recognize
    * convergent edits, and flag true conflicts instead of silently
    * last-writer-winning them (the reference's apply path,
    * syncquill.py:78-107, always lets the sheet side win).
    *
    * Cell rule (per value column): untouched → base; changed on one
    * side → that side; changed identically on both → the shared value;
    * changed differently on both → NULL + the column listed in
    * `conflict_cols`. Row rule: deletes beat no-ops, a delete against
    * a modification is `delete_conflict`, keys absent from base are
    * inserts (`insert_both` only when the sides agree cell-for-cell).
    * All comparisons are null-safe (`<=>`), in the string domain like
    * the rest of the diff family.
    *
    * Scale: two hash-partitioned full outer joins on the key — the
    * same one-shuffle-per-side shape as [[diffKeyed]] with a third
    * snapshot, no driver materialization, AQE-handled skew. Output is
    * key-unique so `ORDER BY slno` is a total order. */
  def merge3Way(base: DataFrame, ours: DataFrame, theirs: DataFrame,
      key: String): DataFrame = {
    val cols = base.columns.filterNot(_ == key).toSeq
    require(ours.columns.toSeq == base.columns.toSeq &&
      theirs.columns.toSeq == base.columns.toSeq,
      "merge snapshots must share a schema")
    val b = base.select(col(key).as("bk") +: cols.map(c => col(c).as(s"b_$c")): _*)
    val o = ours.select(col(key).as("ok") +: cols.map(c => col(c).as(s"o_$c")): _*)
    val t = theirs.select(col(key).as("tk") +: cols.map(c => col(c).as(s"t_$c")): _*)
    val j = b.join(o, col("bk") === col("ok"), "full_outer")
      .join(t, coalesce(col("bk"), col("ok")) === col("tk"), "full_outer")
    val inB = col("bk").isNotNull
    val inO = col("ok").isNotNull
    val inT = col("tk").isNotNull
    def oNe(c: String) = !(col(s"o_$c") <=> col(s"b_$c"))
    def tNe(c: String) = !(col(s"t_$c") <=> col(s"b_$c"))
    def sidesNe(c: String) = !(col(s"o_$c") <=> col(s"t_$c"))
    def conflictC(c: String) =
      (inB && inO && inT && oNe(c) && tNe(c) && sidesNe(c)) ||
        (!inB && inO && inT && sidesNe(c))
    val changedO = cols.map(oNe).reduce(_ || _)
    val changedT = cols.map(tNe).reduce(_ || _)
    val sidesEq = cols.map(c => !sidesNe(c)).reduce(_ && _)
    val anyConflict = cols.map(conflictC).reduce(_ || _)
    val surviving = (inO && inT) || (!inB && (inO || inT))
    def mergedC(c: String) = when(!surviving || conflictC(c), lit(null).cast("string"))
      .when(inB && inO && inT,
        when(oNe(c), col(s"o_$c")).when(tNe(c), col(s"t_$c")).otherwise(col(s"b_$c")))
      .when(!inB && inO, col(s"o_$c"))
      .otherwise(col(s"t_$c"))
    val action = when(inB && inO && inT,
        when(anyConflict, "conflict")
          .when(!changedO && !changedT, "keep")
          .when(changedO && !changedT, "ours")
          .when(!changedO && changedT, "theirs")
          .when(sidesEq, "both")
          .otherwise("merged"))
      .when(inB && inO && !inT,
        when(changedO, "delete_conflict").otherwise("delete_theirs"))
      .when(inB && !inO && inT,
        when(changedT, "delete_conflict").otherwise("delete_ours"))
      .when(inB && !inO && !inT, "delete_both")
      .when(!inB && inO && inT,
        when(sidesEq, "insert_both").otherwise("insert_conflict"))
      .when(!inB && inO, "insert_ours")
      .otherwise("insert_theirs")
    val conflictCols = concat_ws(",",
      cols.map(c => when(conflictC(c), lit(c)).otherwise(lit(null).cast("string"))): _*)
    j.select(Seq(
        coalesce(col("bk"), col("ok"), col("tk")).cast("long").as("slno"),
        action.as("action"), conflictCols.as("conflict_cols")) ++
        cols.map(c => mergedC(c).as(c)): _*)
      .orderBy("slno")
  }
}
