package graft

import org.apache.spark.sql.functions._

/** Epoch-artifact INTEGRITY + LIFECYCLE laws (r8). The serve-time
  * fingerprint check and the retention GC are the two halves the
  * train-once/serve-many tier was missing: resolve-by-name alone
  * silently served a stale artifact on a srcTag collision (same files,
  * different derivation, unbumped epoch), and old epochs accumulated
  * forever. Laws here:
  *   1. poisoned epoch — same srcTag + same epoch + DIFFERENT derivation
  *      must FAIL the serve, not serve the stale artifact;
  *   2. an independently-constructed frame with the SAME derivation
  *      serves fine (the check keys on canonicalized plans, not object
  *      identity);
  *   3. in-place source-file rewrite fails the serve via the
  *      (path, length, mtime) half of the fingerprint;
  *   4. verifyContent catches artifact content drift against the
  *      build-time (rows, Σxxhash64) in the artifact's stamp;
  *   5. retain(prefix, keepN) drops all tables of older epochs —
  *      companions included — and keeps the newest keepN serving;
  *   6. a serve reads the stamp on the driver and runs no Spark job, and
  *      a table left without a stamp by a dead build is rebuilt. */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("poisoned epoch: same files + same epoch + different derivation fails the serve") {
    val base = Tables.orders(spark, sfDir)
    ops.Aggregates.ensureQuantileHist(spark, base, epoch = 8101L)
    // a DERIVED frame shares srcTag (same input files) — pre-r8 this
    // silently served the stale full-table histogram
    val derived = base.filter(col("o_orderkey") % 2 === 0)
    val e = intercept[IllegalStateException] {
      ops.Aggregates.ensureQuantileHist(spark, derived, epoch = 8101L)
    }
    assert(e.getMessage.contains("epoch collision"), e.getMessage)
    // and the artifact itself is untouched: the ORIGINAL frame still serves
    val again = ops.Aggregates.ensureQuantileHist(spark, base, epoch = 8101L)
    assert(spark.table(again).count() > 0)
  }

  test("same derivation, independently constructed, serves without rebuild") {
    val t1 = ops.Aggregates.ensureQuantileHist(
      spark, Tables.orders(spark, sfDir), epoch = 8102L)
    val before = spark.table(t1).collect().toSet
    // fresh construction of the same plan — canonicalized equality, not
    // object identity, is what the fingerprint keys on
    val t2 = ops.Aggregates.ensureQuantileHist(
      spark, Tables.orders(spark, sfDir), epoch = 8102L)
    assert(t1 === t2)
    assert(spark.table(t2).collect().toSet === before)
  }

  test("in-place source rewrite fails the serve on the file-status fingerprint") {
    val path = "/tmp/graft_wh_spec_src"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(path)
    val name = Warehouse.ensure(spark, "wh_spec_rewrite_e1",
        source = spark.read.parquet(path)) { n =>
      spark.read.parquet(path).groupBy(col("v")).count()
        .write.mode("overwrite").saveAsTable(n)
    }
    // rewrite the SAME path with different content (new part files /
    // lengths / mtimes); the derivation — read parquet at this path —
    // is unchanged, so only the file half of the fingerprint can catch it
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(path)
    spark.catalog.refreshByPath(path)
    val e = intercept[IllegalStateException] {
      Warehouse.ensure(spark, name, source = spark.read.parquet(path)) { n =>
        fail(s"builder must not run on an existing table $n")
      }
    }
    assert(e.getMessage.contains("stale artifact"), e.getMessage)
  }

  test("verifyContent: green after build, loud after artifact content drift") {
    val docs = Tables.documents(spark, sfDir)
    val name = Warehouse.ensure(spark, "wh_spec_content_e1", source = docs) { n =>
      docs.groupBy(col("lang")).count().write.mode("overwrite").saveAsTable(n)
    }
    assert(Warehouse.verifyContent(spark, name))
    // an append keeps the stamp: the (rows, content hash) compare sees it
    Seq(("xx", 999L)).toDF("lang", "count").write.mode("append").saveAsTable(name)
    val appended = intercept[IllegalStateException] { Warehouse.verifyContent(spark, name) }
    assert(appended.getMessage.contains("content drift: built"), appended.getMessage)
    // an overwrite replaces the directory, stamp included — still loud
    Seq(("xx", 999L)).toDF("lang", "count")
      .write.mode("overwrite").saveAsTable(name)
    val e = intercept[IllegalStateException] { Warehouse.verifyContent(spark, name) }
    assert(e.getMessage.contains("content drift"), e.getMessage)
  }

  test("serve path survives an external artifact rewrite behind a live session (r14)") {
    // The r13 driver failure: another JVM rewrote a persisted BPE
    // model's directory mid-session; this session's catalog
    // still held the OLD file listing, so every later read failed
    // FAILED_READ_FILE.FILE_NOT_EXIST for the rest of the session.
    // Simulate the rewrite at the FS level (same bytes, new paths —
    // invisible to this session's cache) and require the serve path to
    // refresh-and-serve instead of dying on the stale listing.
    val docs = Tables.documents(spark, sfDir)
    val name = Warehouse.ensure(spark, "wh_spec_extrewrite_e1", source = docs) { n =>
      docs.groupBy(col("lang")).count().write.mode("overwrite").saveAsTable(n)
    }
    // read once so the session caches the artifact's file listing
    // (the build itself also reads it for the content fingerprint);
    // no serve-path call in between — ensure would refresh the cache,
    // which is exactly the behavior under test below
    assert(spark.table(name).count() > 0)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = warehousePath(name)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-")).foreach { s =>
      fs.rename(s.getPath, new org.apache.hadoop.fs.Path(dir, "rewrite-" + s.getPath.getName))
    }
    // precondition: the stale cached listing really does poison a raw
    // read (the r13 signature) — if Spark ever stops caching listings
    // this assert flags that the scenario no longer exercises anything
    val raw = intercept[Throwable] { spark.table(name).count() }
    assert(isStaleRead(raw), s"expected stale-read failure, got $raw")
    // the hardened serve path refreshes before reading: same source,
    // same content — it must serve cleanly and pass the deep check
    val served = Warehouse.ensure(spark, name, source = docs) { _ =>
      fail("rebuild must not run: the artifact exists and is intact")
    }
    assert(spark.table(served).count() > 0)
    assert(Warehouse.verifyContent(spark, served))
  }

  test("an ensure serve reads its stamp and runs no job") {
    val name = ops.Aggregates.ensureQuantileHist(spark, Tables.orders(spark, sfDir), epoch = 8103L)
    // a frame built apart from the first: the stamp holds no object identity
    val again = Tables.orders(spark, sfDir)
    assert(jobs(assert(ops.Aggregates.ensureQuantileHist(spark, again, epoch = 8103L) === name))
      === Nil)
  }

  test("a build that dies after its table write is rebuilt, not served to another derivation") {
    val events = spark.read.parquet(eventsFile())
    val even = events.filter(col("event_id") % 2 === 0)
    def perUser(df: org.apache.spark.sql.DataFrame, n: String): Unit =
      df.groupBy(col("user_id")).count().write.mode("overwrite").saveAsTable(n)
    val name = "wh_spec_killed_e1"
    try {
      intercept[RuntimeException](Warehouse.ensure(spark, name, source = events) { n =>
        perUser(events, n)
        throw new RuntimeException("build killed after its table write")
      })
      var rebuilt = false
      Warehouse.ensure(spark, name, source = even) { n => rebuilt = true; perUser(even, n) }
      assert(rebuilt, "the unstamped table was served instead of rebuilt")
      assert(spark.table(name).agg(sum(col("count"))).head().getLong(0) === 100L)
      assert(Warehouse.verifyContent(spark, name))
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("retain: older epochs dropped with their companions, newest keepN keep serving") {
    val src = Tables.nation(spark, sfDir)
    def build(epoch: Long): String =
      Warehouse.ensure(spark, s"wh_spec_gc_e$epoch",
          companions = Seq(s"wh_spec_gc_e${epoch}_model"), source = src) { n =>
        src.groupBy(col("n_regionkey")).count().write.mode("overwrite").saveAsTable(n)
        src.limit(1).write.mode("overwrite").saveAsTable(n + "_model")
      }
    val names = Seq(21L, 22L, 23L).map(build)
    val dropped = Warehouse.retain(spark, "wh_spec_gc", keepN = 2)
    assert(dropped === Seq("wh_spec_gc_e21", "wh_spec_gc_e21_model"), s"dropped $dropped")
    assert(!spark.catalog.tableExists("wh_spec_gc_e21"))
    assert(!spark.catalog.tableExists("wh_spec_gc_e21_model"))
    // the kept epochs still serve — table readable AND fingerprint-clean
    Seq(names(1), names(2)).foreach { n =>
      assert(spark.table(n).count() > 0)
      assert(Warehouse.verifyContent(spark, n))
    }
    // the warehouse directory of the dropped epoch is gone too
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/wh_spec_gc_e21")
    assert(!loc.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(loc))
  }

  test("retain: epoch is the LAST _e token; keep-N grouped per name stem (r9)") {
    // Two GC hazards from the r8 advice: (a) a srcTag path segment like
    // '.../e2/...' munges to '_e2_' BEFORE the real epoch — a first-match
    // parse reads it as the epoch and DROP targets the wrong grouping;
    // (b) epochs pooled across every table sharing the prefix let one
    // corpus's newer epochs doom another corpus's only artifact.
    val src = Tables.nation(spark, sfDir).limit(1)
    def mk(name: String): Unit = src.write.mode("overwrite").saveAsTable(name)
    mk("wh_spec_gc2_data_e2_run_e9")
    mk("wh_spec_gc2_data_e2_run_e10")
    mk("wh_spec_gc2_data_e2_run_e11")
    mk("wh_spec_gc2_other_e3") // different corpus, same prefix, sole epoch
    val dropped = Warehouse.retain(spark, "wh_spec_gc2", keepN = 2)
    // corpus A drops only ITS oldest epoch (9 — the trailing token, not the
    // munged '_e2_'); corpus B's only artifact survives despite its older
    // epoch number because keep-N is decided within its own stem
    assert(dropped === Seq("wh_spec_gc2_data_e2_run_e9"), s"dropped $dropped")
    assert(spark.catalog.tableExists("wh_spec_gc2_data_e2_run_e10"))
    assert(spark.catalog.tableExists("wh_spec_gc2_data_e2_run_e11"))
    assert(spark.catalog.tableExists("wh_spec_gc2_other_e3"))
    Seq("wh_spec_gc2_data_e2_run_e10", "wh_spec_gc2_data_e2_run_e11",
      "wh_spec_gc2_other_e3").foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("retain: property sweep over hostile name soups (r10)") {
    // The r9 grammar fix was spec-pinned on two handwritten cases; this
    // sweep generates adversarial pools — epoch-shaped tokens in EVERY
    // path-segment position, multiple corpora sharing the prefix,
    // leading-zero epochs, companion suffixes, tables with no epoch at
    // all, and names outside the prefix — and checks the plan against
    // an INDEPENDENT token-wise reference parse plus the retention laws.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val seg: Gen[String] = Gen.frequency(
      4 -> Gen.oneOf("data", "run", "idx", "m", "x9", "v2a"),
      3 -> Gen.chooseNum(0, 12).map(i => s"e$i"),   // decoy epoch tokens
      1 -> Gen.const("e007"),                        // leading zeros
      1 -> Gen.const("ee5"))                         // near-miss token
    val family: Gen[Seq[String]] = for {
      nSegs <- Gen.chooseNum(0, 3)
      segs <- Gen.listOfN(nSegs, seg)
      epochs <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 20L)).map(_.distinct)
      comp <- Gen.someOf(Seq("_model", "_meta"))
    } yield {
      val stem = ("whp_gc" +: segs).mkString("_")
      epochs.flatMap(e => s"${stem}_e$e" +: comp.map(c => s"${stem}_e$e$c").toSeq)
    }
    val pool: Gen[(Seq[String], Int)] = for {
      fams <- Gen.nonEmptyListOf(family)
      noise <- Gen.someOf(Seq("whp_gc_plain", "whp_gc_e", "whp_gc_exx_7",
        "other_prefix_e1", "whp_gc")) // epoch-free / foreign-prefix noise
      keepN <- Gen.chooseNum(1, 3)
    } yield ((fams.flatten ++ noise).distinct, keepN)
    // independent reference: token-split parse (the regex-free reading
    // of the grammar — epoch = LAST "_"-delimited token of form e<digits>
    // at position > 0; stem = the name with that token spliced out)
    def refPlan(tables: Seq[String], prefix: String, keepN: Int): Seq[String] = {
      val tagged = tables.filter(_.startsWith(prefix)).flatMap { t =>
        val toks = t.split("_", -1)
        val idx = toks.zipWithIndex.lastIndexWhere {
          case (tok, i) => i > 0 && tok.matches("e\\d+")
        }
        if (idx < 0) None
        else Some((t,
          (toks.take(idx) ++ toks.drop(idx + 1)).mkString("_"),
          toks(idx).drop(1).toLong))
      }
      tagged.groupBy(_._2).valuesIterator.flatMap { fam =>
        val keep = fam.map(_._3).distinct.sorted(Ordering[Long].reverse)
          .take(keepN).toSet
        fam.collect { case (t, _, e) if !keep(e) => t }
      }.toSeq.sorted
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(300)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val res = SCTest.check(params, Prop.forAll(pool) { case (tables, keepN) =>
      val planned = Warehouse.retainPlan(tables, "whp_gc", keepN)
      val ref = refPlan(tables, "whp_gc", keepN)
      val survivors = tables.filterNot(planned.toSet)
      // law 1: the regex grammar == the token-wise reference, exactly
      val parity = planned == ref
      // law 2: epoch-free and foreign-prefix names are never dropped
      val noiseSafe = planned.forall(t =>
        t.startsWith("whp_gc") && "_e(\\d+)(?=_|$)".r.findFirstIn(t).isDefined)
      // law 3: every stem keeps at least one epoch (sole epochs survive)
      val keepsOne = {
        def stemOf(t: String) = {
          val m = "_e(\\d+)(?=_|$)".r.findAllMatchIn(t).toList.last
          t.substring(0, m.start) + t.substring(m.end)
        }
        val stems = tables.filter(t => t.startsWith("whp_gc") &&
          "_e(\\d+)(?=_|$)".r.findFirstIn(t).isDefined).groupBy(stemOf)
        stems.forall { case (s, fam) =>
          survivors.exists(t => fam.contains(t))
        }
      }
      parity && noiseSafe && keepsOne
    })
    assert(res.passed, s"retain property sweep: $res")
  }

  private def warehousePath(name: String) =
    new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir") + s"/$name")

  test("a layout build that fails leaves nothing to serve: the next call builds it whole") {
    val good = spark.read.parquet(eventsFile())
    // same input files (so the same layout dir), but the layout's write
    // job hits raise_error on one row
    val bad = good.withColumn("ts", when(col("event_id") === 117L,
      raise_error(lit("layout build failure")).cast("timestamp")).otherwise(col("ts")))
    intercept[Exception](ops.PartitionedLayout.ensurePartitionedEvents(spark, bad))
    val path = ops.PartitionedLayout.ensurePartitionedEvents(spark, good)
    try assert(spark.read.parquet(path).count() === 200L) finally deleted(path)
  }

  /** A 200-row events file of its own, so its layouts are this spec's. */
  private def eventsFile(): String = {
    val src = java.nio.file.Files.createTempDirectory("graft-layout")
      .resolve("events.parquet").toString
    (0L until 200L).map(i => (i, i % 11, s"t${i % 3}", i * 0.5,
        new java.sql.Timestamp(1704067200000L + i * 3600000L)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.parquet(src)
    src
  }

  private def deleted(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  test("a Bloom index built over half the index is not served for the whole index") {
    val corpus = llm.Corpus.docCorpus(Tables.documents(spark, sfDir))
    val epoch = System.currentTimeMillis() + 2000000000L
    val bloomDir = warehousePath(s"bloom_idx_${Warehouse.srcTag(corpus)}/epoch=$epoch")
    try {
      llm.Dedup.ensureBloomIndex(spark, corpus.filter(col("doc_id") % 2 === 0), epoch)
      val e = intercept[IllegalStateException](llm.Dedup.ensureBloomIndex(spark, corpus, epoch))
      assert(e.getMessage.contains("epoch collision"), e.getMessage)
    } finally deleted(bloomDir.toString)
  }

  test("a layout built over filtered events is not served for the whole events") {
    val src = eventsFile()
    val events = spark.read.parquet(src)
    val path = ops.PartitionedLayout.ensurePartitionedEvents(spark,
      events.filter(col("event_id") % 2 === 0))
    try {
      val e = intercept[IllegalStateException](
        ops.PartitionedLayout.ensurePartitionedEvents(spark, events))
      assert(e.getMessage.contains("epoch collision"), e.getMessage)
      assert(spark.read.parquet(path).count() === 100L)
    } finally deleted(path)
  }

  test("the same derivation is served again from its path, with no job") {
    val src = eventsFile()
    val path = ops.PartitionedLayout.ensurePartitionedEvents(spark, spark.read.parquet(src))
    try {
      // a frame built apart from the first: the stamp holds no object identity
      val again = spark.read.parquet(src)
      assert(jobs(assert(ops.PartitionedLayout.ensurePartitionedEvents(spark, again) === path))
        === Nil)
      assert(spark.read.parquet(path).count() === 200L)
    } finally deleted(path)
  }

  /** 50 orders and their lineitems in files of their own, under a
    * mixed-case path, so their bucketed tables are this spec's. */
  private def bucketSources(): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-bucketed").resolve("Data")
    val (o, l) = (root.resolve("Orders.parquet").toString, root.resolve("Lineitem.parquet").toString)
    Tables.orders(spark, sfDir).orderBy("o_orderkey").limit(50).coalesce(1).write.parquet(o)
    Tables.lineitem(spark, sfDir)
      .join(spark.read.parquet(o), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .coalesce(1).write.parquet(l)
    (o, l)
  }

  test("bucketed tables over a mixed-case source path clear the lowercased orphan dir") {
    val (o, l) = bucketSources()
    val orders = spark.read.parquet(o)
    val lineitem = spark.read.parquet(l)
    // what a previous JVM leaves behind: saveAsTable wrote the LOWERCASED
    // directory, and the in-memory catalog forgot the table
    val orphan = warehousePath(s"orders_b_${Warehouse.srcTag(orders)}")
    orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new org.apache.hadoop.fs.Path(orphan, "part-00000-orphan.parquet")).close()
    val (on, ln) = ops.ScaleJoins.ensureBucketed(spark, orders, lineitem)
    try {
      assert(spark.table(on).count() === 50L)
      assert(spark.table(ln).count() === lineitem.count())
    } finally Seq(on, ln).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("bucketed tables are served job-free, and not to a filtered frame of the same files") {
    val (o, l) = bucketSources()
    val (on, ln) = ops.ScaleJoins.ensureBucketed(spark, spark.read.parquet(o), spark.read.parquet(l))
    try {
      // frames built apart from the first (their schema reads run jobs of their own)
      val (orders, lineitem) = (spark.read.parquet(o), spark.read.parquet(l))
      assert(jobs(assert(ops.ScaleJoins.ensureBucketed(spark, orders, lineitem) === ((on, ln))))
        === Nil)
      val e = intercept[IllegalStateException](ops.ScaleJoins.ensureBucketed(spark,
        spark.read.parquet(o).filter(col("o_orderkey") % 2 === 0), spark.read.parquet(l)))
      assert(e.getMessage.contains("epoch collision"), e.getMessage)
    } finally Seq(on, ln).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  /** A stale-listing read failure: the cached file listing named a file
    * that no longer exists (Spark 4 wraps it as error class
    * FAILED_READ_FILE.FILE_NOT_EXIST over a FileNotFoundException). */
  private def isStaleRead(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        Option(t.getMessage).exists(m =>
          m.contains("FAILED_READ_FILE") || m.contains("FileNotFoundException"))
    }
}
