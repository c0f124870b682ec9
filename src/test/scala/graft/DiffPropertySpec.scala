package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.sync.SnapshotDiff

/** ScalaCheck algebra of the diff/merge engine on GENERATED snapshots
  * (SURVEY §5.3): identity, round-trip, positional parity vs the literal
  * compare_data port, and set-op complementarity. Deterministic seed;
  * each case runs real (small) Spark jobs.
  */
class DiffPropertySpec extends SparkSpec {

  /** Cell domain deliberately includes NULLs, the old separator char,
    * JSON metacharacters and empty strings — the r1 advisor found the
    * round-trip law was never exercised against exactly the values that
    * broke the `concat_ws("|")` row-image encoding. */
  private val cell: Gen[String] = Gen.frequency(
    6 -> Gen.chooseNum(0, 30).map(i => s"v$i"),
    1 -> Gen.const(null: String),
    1 -> Gen.const("a|b|c"),
    1 -> Gen.const("q\"uo\\te"),
    1 -> Gen.const(""))

  /** Unique-key snapshot: subset of keys 0..25, two value columns. */
  private val genSnapshot: Gen[Seq[(Long, String, String)]] = for {
    keys <- Gen.someOf(0L to 25L)
    vals <- Gen.listOfN(keys.size * 2, cell)
  } yield keys.toSeq.sorted.zipWithIndex.map { case (k, i) =>
    (k, vals(2 * i), vals(2 * i + 1))
  }

  private def check(name: String)(p: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(12)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val res = SCTest.check(params, p)
    assert(res.passed, s"$name: $res")
  }

  test("law: diff(a, a) == empty for arbitrary snapshots") {
    check("identity")(Prop.forAll(genSnapshot) { rows =>
      val a = DiffLaws.toSnapshot(spark, rows)
      SnapshotDiff.diffKeyed(a, a, "slno").count() == 0L
    })
  }

  test("law: apply(a, diff(a, b)) == b for arbitrary snapshot pairs") {
    check("round-trip")(Prop.forAll(genSnapshot, genSnapshot) { (ra, rb) =>
      val a = DiffLaws.toSnapshot(spark, ra)
      val b = DiffLaws.toSnapshot(spark, rb)
      val applied = SnapshotDiff.applyChangeset(a, SnapshotDiff.diffKeyed(a, b, "slno"), "slno")
      applied.exceptAll(b).count() == 0L && b.exceptAll(applied).count() == 0L
    })
  }

  test("law: diffPositional == literal compare_data port") {
    check("positional parity")(Prop.forAll(genSnapshot, genSnapshot) { (ra, rb) =>
      val cols = Seq("slno", "va", "vb")
      val a = DiffLaws.toSnapshot(spark, ra)
      val b = DiffLaws.toSnapshot(spark, rb)
      def lists(rows: Seq[(Long, String, String)]): Seq[Seq[String]] =
        rows.sortBy(_._1).map(r => Seq(r._1.toString, r._2, r._3))
      val expected = DiffLaws.compareDataRef(lists(ra), lists(rb), cols)
        .map { case (op, s, c, o, n) => (op, s.toLong, c, Option(o), Option(n)) }.toSet
      val actual = SnapshotDiff.diffPositional(a, b, "slno").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getString(3),
          Option(r.getString(4)), Option(r.getString(5)))).toSet
      actual == expected
    })
  }

  test("law: JDBC DML merge == applyChangeset for arbitrary snapshot pairs") {
    // the gold parity gate for the DML connector: whatever applyChangeset
    // computes set-based, the batched DELETE/UPDATE/INSERT path must
    // produce row-for-row on a live table — across the same hostile cell
    // domain (NULLs, empty strings, JSON metachars) as the apply law
    val url = "jdbc:derby:memory:diffprop;create=true"
    val tgt = graft.sync.JdbcTarget(url, "PROP_T")
    check("jdbc parity")(Prop.forAll(genSnapshot, genSnapshot) { (ra, rb) =>
      val a = allString(DiffLaws.toSnapshot(spark, ra))
      val b = allString(DiffLaws.toSnapshot(spark, rb))
      // merge contract: the changeset must be materialized (the DML
      // passes are separate actions against the table they mutate)
      val changes = SnapshotDiff.diffKeyed(a, b, "slno").localCheckpoint()
      val merged = SnapshotDiff.applyChangeset(a, changes, "slno")
      tgt.truncateLoad(a)
      tgt.merge(spark, merged, changes, "slno")
      val got = tgt.read(spark)
      got.exceptAll(merged).count() == 0L && merged.exceptAll(got).count() == 0L
    })
  }

  /** Typed snapshot rows: bigint key, then bigint / decimal(12,2) / date /
    * string cells, each nullable, from small domains so unchanged, updated
    * and null-transition cells all occur. Strings are never empty (the
    * sync rejects empty cells). */
  private type TypedRow = (Long, Option[Long], Option[BigDecimal], Option[java.sql.Date],
    Option[String])
  private val genTyped: Gen[Seq[TypedRow]] = for {
    keys <- Gen.someOf(0L to 25L)
    rows <- Gen.listOfN(keys.size, for {
      qty <- Gen.option(Gen.chooseNum(-3L, 3L))
      price <- Gen.option(Gen.chooseNum(-999L, 999L).map(c => BigDecimal(c, 2)))
      day <- Gen.option(Gen.chooseNum(0, 3).map(i => java.sql.Date.valueOf(s"2024-01-0${i + 1}")))
      name <- Gen.option(Gen.oneOf("a", "b", "a|b", "q\"uo\\te"))
    } yield (qty, price, day, name))
  } yield keys.toSeq.sorted.zip(rows).map { case (k, (q, p, d, n)) => (k, q, p, d, n) }

  private def toTyped(rows: Seq[TypedRow]) = {
    import spark.implicits._
    rows.toDF("slno", "qty", "price", "day", "name")
      .withColumn("price", col("price").cast("decimal(12,2)"))
  }

  test("law: sync into a typed parquet target == applyChangeset cast to the target schema") {
    // the sheet arrives all-string; the target keeps its types, holds
    // exactly what the string-domain apply law computes, and the verb's
    // counts are the diff's per-op counts
    import graft.sync.{ParquetSource, ParquetTarget, SyncPipeline}
    import spark.implicits._
    check("typed sync")(Prop.forAll(genTyped, genTyped) { (rt, rs) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_typed_law").toString
      val (t, s) = (toTyped(rt), toTyped(rs))
      val target = ParquetTarget(s"$dir/target")
      target.truncateLoad(t)
      allString(s).write.parquet(s"$dir/sheet")
      val schema = target.read(spark).schema
      val changes = SnapshotDiff.diffKeyed(t, s, "slno")
      val byOp = changes.groupBy("op").count().as[(String, Long)].collect().toMap
        .withDefaultValue(0L)
      val want = SnapshotDiff.applyChangeset(t, changes, "slno")
        .select(t.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      val r = SyncPipeline.sync(spark, ParquetSource(s"$dir/sheet"), target, "slno", preview = false)
      val got = target.read(spark)
      r == SyncPipeline.SyncResult(byOp.values.sum, byOp("insert"), byOp("delete"), byOp("update")) &&
        got.schema == schema && got.exceptAll(want).count() == 0L && want.exceptAll(got).count() == 0L
    })
  }

  /** Snapshot in the IVM fixtures' schema: (slno, name, acctbal, segment)
    * with decimal-string balances (nullable) and a small segment domain
    * so group moves and vanishing groups occur often. */
  private val genIvmSnapshot: Gen[Seq[(Long, String, String, String)]] = for {
    keys <- Gen.someOf(0L to 20L)
    rows <- Gen.listOfN(keys.size, for {
      name <- Gen.chooseNum(0, 9).map(i => s"n$i")
      bal <- Gen.frequency(
        8 -> Gen.chooseNum(-9999, 9999).map(c => f"${c / 100.0}%.2f"),
        1 -> Gen.const(null: String))
      seg <- Gen.oneOf("A", "B", "C")
    } yield (name, bal, seg))
  } yield keys.toSeq.sorted.zip(rows).map { case (k, (n, b, s)) => (k, n, b, s) }

  private def toIvm(rows: Seq[(Long, String, String, String)]) = {
    import spark.implicits._
    rows.toDF("slno", "name", "acctbal", "segment")
  }

  test("law: IVM sum/count — applyToAgg(agg(old), diff) == agg(new)") {
    import graft.sync.IncrementalAgg
    check("ivm sum")(Prop.forAll(genIvmSnapshot, genIvmSnapshot) { (ra, rb) =>
      val (a, b) = (toIvm(ra), toIvm(rb))
      val inc = IncrementalAgg.applyToAgg(
        IncrementalAgg.aggSnapshot(a), SnapshotDiff.diffKeyed(a, b, "slno"), a)
      val direct = IncrementalAgg.aggSnapshot(b)
        .select(col("segment"), col("sum_bal").cast("double").as("sum_bal"), col("n"))
      inc.exceptAll(direct).count() == 0L && direct.exceptAll(inc).count() == 0L
    })
  }

  test("law: IVM min/max — applyToMinMax(agg(old), diff) == agg(new)") {
    import graft.sync.IncrementalAgg
    check("ivm minmax")(Prop.forAll(genIvmSnapshot, genIvmSnapshot) { (ra, rb) =>
      val (a, b) = (toIvm(ra), toIvm(rb))
      val inc = IncrementalAgg.applyToMinMax(
        IncrementalAgg.aggMinMax(a), SnapshotDiff.diffKeyed(a, b, "slno"), a)
      val direct = IncrementalAgg.aggMinMax(b)
      inc.exceptAll(direct).count() == 0L && direct.exceptAll(inc).count() == 0L
    })
  }

  test("law: IVM join — applyToJoin(joinView(old, dim), diff) == joinView(new, dim)") {
    import graft.sync.IncrementalJoin
    import spark.implicits._
    // the dim covers only segments A and B: rows inserted into, updated
    // onto or already on C are absent from the view
    val dim = Seq(("A", 1L), ("B", 1L)).toDF("segment", "seg_len")
    check("ivm join")(Prop.forAll(genIvmSnapshot, genIvmSnapshot) { (ra, rb) =>
      val (a, b) = (toIvm(ra), toIvm(rb))
      val inc = IncrementalJoin.applyToJoin(
        IncrementalJoin.joinView(a, dim), SnapshotDiff.diffKeyed(a, b, "slno"), a, dim)
      val direct = IncrementalJoin.joinView(b, dim)
      inc.exceptAll(direct).count() == 0L && direct.exceptAll(inc).count() == 0L
    })
  }

  test("law: diffReconciled == diffKeyed for arbitrary pairs and bucket grains (r9)") {
    // the composition law under adversarial inputs: whatever the churn
    // pattern (including all-dirty, all-clean, empty sides) and whatever
    // the bucket grain, pruning clean buckets must never change the
    // changeset — the fingerprint screen has no false "match" on this
    // domain and no false mismatch by construction
    val bucketGen = Gen.oneOf(1L, 2L, 4L, 7L, 100L)
    check("reconcile law")(Prop.forAll(genSnapshot, genSnapshot, bucketGen) { (ra, rb, bs) =>
      val a = DiffLaws.toSnapshot(spark, ra)
      val b = DiffLaws.toSnapshot(spark, rb)
      val full = SnapshotDiff.diffKeyed(a, b, "slno")
      val rec = SnapshotDiff.diffReconciled(a, b, "slno", bucketSize = bs)
      rec.exceptAll(full).count() == 0L && full.exceptAll(rec).count() == 0L
    })
  }

  test("law: except and intersect partition the left side") {
    check("set complement")(Prop.forAll(genSnapshot, genSnapshot) { (ra, rb) =>
      val a = DiffLaws.toSnapshot(spark, ra).select("slno").distinct()
      val b = DiffLaws.toSnapshot(spark, rb).select("slno").distinct()
      val ex = a.except(b)
      val in = a.intersect(b)
      ex.union(in).distinct().count() == a.count() && ex.intersect(in).count() == 0L
    })
  }
}
