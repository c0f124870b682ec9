package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one home of every DERIVED dataset the engine writes: epoch
  * artifacts, ingest layouts, bucketed tables and scratch dirs. Three
  * decisions live here and nowhere else:
  *  - where it lives: [[srcTag]] names a dataset after its source,
  *    [[dir]] places it under the session warehouse, [[scratch]] under
  *    the JVM temp dir;
  *  - when it is built: [[ensure]] resolves-or-builds a CATALOG table,
  *    [[dir]] a warehouse PATH;
  *  - how it is published: [[promote]] stages a write beside its path
  *    and moves it over the path only once the write has completed.
  *
  * [[ensure]] is the persisted EPOCH-ARTIFACT resolution every `ensure*`
  * builder shares (band index, IVF/PQ indexes, BPE merge model, DSIR
  * counts, quantile histogram, daily HLL, pagerank epochs, bucketed
  * tables): if the table is already in the catalog, serve it; otherwise
  * clear any ORPHANED warehouse directory first (the in-memory catalog
  * forgets tables across JVMs but the warehouse files survive —
  * `saveAsTable` would refuse or, worse, append over the corpse) and run
  * the builder's write.
  *
  * Identifier case: `saveAsTable` lowercases the on-disk directory, so
  * the orphan delete must target the LOWERCASED path or a mixed-case
  * artifact name would clean the wrong (nonexistent) directory and trip
  * over the real corpse at write time. `ensure` normalizes the whole
  * name instead, so catalog name and directory always agree.
  *
  * INTEGRITY (r8): resolve-by-name alone silently serves a STALE
  * artifact when a caller derives a NEW frame from the SAME files
  * without bumping the epoch — the srcTag-collision trap the old
  * scaladoc could only warn about. `ensure` now records a build-time
  * fingerprint of the SOURCE frame in a `<name>_meta` companion —
  * (a) the canonicalized logical plan (catches a different DERIVATION
  * of the same files: filters, column edits, different corpus mix) and
  * (b) the input files' (path, length, mtime) statuses (catches the
  * same path REWRITTEN in place) — and re-derives both at serve time,
  * failing loudly on mismatch. Both fingerprints are metadata-only:
  * zero data scanned on the serve path, so the check is free at 100 TB.
  * The meta row also stores a CONTENT fingerprint of the artifact
  * itself (row count + order-independent decimal-summed xxhash64 —
  * the clustersFromPairs trick) for [[verifyContent]], the on-demand
  * deep check a maintenance job runs against bit-rot; it scans the
  * artifact, so it is not on the serve path by default.
  */
object Warehouse {

  /** First-input-file tag for artifact names: ties the artifact to its
    * source dataset so two datasets at the same epoch can never serve
    * each other's artifact. NOTE: frames DERIVED from the same files
    * (filters, column edits) share a tag — distinct derivations need
    * distinct epochs; since r8 `ensure` FAILS the serve on a srcTag
    * collision instead of silently serving the stale artifact. */
  def srcTag(df: DataFrame): String =
    df.inputFiles.headOption.getOrElse("mem")
      .replaceAll("[^A-Za-z0-9]", "_").toLowerCase(java.util.Locale.ROOT)

  /** Resolve-or-build for a derived dataset that is a warehouse PATH,
    * not a catalog table (ingest layouts, the Bloom epoch file): returns
    * `<spark.sql.warehouse.dir>/<name>`. When that path is absent, `write`
    * builds it through [[promote]], so a build that fails leaves no
    * directory for a later call to serve, and the build stamps the
    * staged directory with `source`'s [[sourceFingerprint]] in a
    * `_`-prefixed file (which Spark's file listing skips). A later call
    * serves the path only if `source` derives the same pair again, and
    * throws [[IllegalStateException]] like [[ensure]] otherwise: a
    * different derivation of the same files (same name) is refused, not
    * answered with the first build's content. Serving is metadata-only.
    * A directory with no stamp was not built here and is rebuilt. */
  def dir(spark: SparkSession, name: String, source: DataFrame)(write: String => Unit): String = {
    val path = warehouse(spark).stripPrefix("file:") + s"/$name"
    val stamp = new org.apache.hadoop.fs.Path(path, StampFile)
    val fs = stamp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = sourceFingerprint(spark, source)
    if (fs.exists(stamp)) {
      val in = fs.open(stamp)
      val stored = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
        finally in.close()
      checkFingerprint(name, (stored.head, stored(1)), now)
    } else promote(spark, path) { staging =>
      write(staging)
      val out = fs.create(new org.apache.hadoop.fs.Path(staging, StampFile), true)
      try out.write(s"${now._1}\n${now._2}\n".getBytes("UTF-8")) finally out.close()
    }
    path
  }

  /** The file in a [[dir]] build holding its source's fingerprint pair. */
  private val StampFile = "_source_fingerprint"

  /** Throws naming `name` when the `now` (plan, files) fingerprint of
    * the caller's source differs from the `built` one. */
  private def checkFingerprint(name: String, built: (String, String),
                               now: (String, String)): Unit = {
    if (built._1 != now._1)
      throw new IllegalStateException(
        s"epoch collision on artifact '$name': the caller's source frame " +
        s"is a DIFFERENT derivation than the one that built it " +
        s"(plan fingerprint ${now._1} != stored ${built._1}). " +
        "Bump the epoch for the new derivation, or pass the original frame.")
    if (built._2 != now._2)
      throw new IllegalStateException(
        s"stale artifact '$name': its source files changed on disk since " +
        "the build (length/mtime mismatch). Rebuild under a new epoch.")
  }

  /** Stage-then-promote publish: the write job completes into
    * `path + ".next"` BEFORE the target is touched, so the non-atomic
    * delete+rename window holds only directory moves, never a
    * partially-written dataset. */
  def promote(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val staging = path + ".next"
    write(staging)
    val tgt = new org.apache.hadoop.fs.Path(path)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tgt, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), tgt),
      s"failed to promote $staging over $path")
  }

  /** Round-trip scratch dir under the JVM temp dir, keyed by a hash of
    * `tag` (pass the source dir) so concurrent sessions and interleaved
    * scale factors never overwrite each other's fixture. */
  def scratch(kind: String, tag: String): String =
    sys.props("java.io.tmpdir") + s"/graft_${kind}_" +
      java.lang.Long.toHexString(scala.util.hashing.MurmurHash3.stringHash(tag).toLong & 0xffffffffL)

  /** Metadata-only source fingerprints: (derivation, file-status).
    * The derivation half hashes the CANONICALIZED analyzed plan —
    * expression ids are normalized, so two independently-built frames
    * with the same derivation agree, while any filter/column/mix change
    * differs. The file half hashes every input file's (path, length,
    * modification time) — an in-place rewrite of the same path changes
    * it without reading a byte of data. Frames with no files (e.g. a
    * localCheckpoint) fingerprint as "mem" + their plan identity. */
  private[graft] def sourceFingerprint(spark: SparkSession, df: DataFrame): (String, String) = {
    val planFp = fp(df.queryExecution.analyzed.canonicalized.toString)
    val files = df.inputFiles.sorted
    val filesFp =
      if (files.isEmpty) "mem"
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        fp(files.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val st = p.getFileSystem(conf).getFileStatus(p)
          s"$f:${st.getLen}:${st.getModificationTime}"
        }.mkString("\n"))
      }
    (planFp, filesFp)
  }

  private def fp(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Order-independent artifact content fingerprint: (row count,
    * Σ xxhash64(all columns cast to string) carried in DECIMAL(38,0) so
    * the sum never wraps differently across partitionings). One scan of
    * the ARTIFACT (bounded: epoch artifacts are parameter- or
    * bucket-sized) — used at build time and by [[verifyContent]]. */
  private[graft] def contentFingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    val r = df
      .select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  /** Resolve-or-build: returns the (normalized) table name; `write`
    * runs only on first resolution and must create `name` (and any
    * `companions`, e.g. an index's `<name>_model` table). When the
    * builder passes its `source` frame, first resolution also writes
    * the `<name>_meta` fingerprint companion, and every LATER
    * resolution re-derives the source fingerprints and throws
    * [[IllegalStateException]] if they differ from what built the
    * artifact — the loud failure that replaces the silent stale-serve
    * of an epoch collision. */
  def ensure(spark: SparkSession, rawName: String, companions: Seq[String] = Nil,
             source: Option[DataFrame] = None)(write: String => Unit): String = {
    val name = rawName.toLowerCase(java.util.Locale.ROOT)
    val metaName = name + "_meta"
    if (!spark.catalog.tableExists(name)) {
      (name +: metaName +: companions.map(_.toLowerCase(java.util.Locale.ROOT)))
        .foreach(dropOrphanDir(spark, _))
      write(name)
      source.foreach { df =>
        val (planFp, filesFp) = sourceFingerprint(spark, df)
        val (rows, contentFp) = contentFingerprint(spark.table(name))
        import spark.implicits._
        Seq((planFp, filesFp, rows, contentFp))
          .toDF("plan_fp", "files_fp", "built_rows", "content_fp")
          .write.mode("overwrite").saveAsTable(metaName)
      }
    } else {
      // SERVE path (r13 hardening): the session caches each catalog
      // table's file listing, so an EXTERNAL rewrite of the artifact
      // directory (another JVM re-running the builder mid-session)
      // poisons every later read with FAILED_READ_FILE — it took down
      // 5 driver tests in r13. Refresh the cached listing for the
      // artifact and every companion before anything reads them; the
      // refresh is metadata-only (drops the cached relation; the next
      // read re-lists a handful of local files), so the serve path
      // stays scan-free.
      (name +: metaName +: companions.map(_.toLowerCase(java.util.Locale.ROOT)))
        .foreach(refreshIfExists(spark, _))
      source.foreach { df =>
      if (spark.catalog.tableExists(metaName)) {
        val m = headWithStaleRetry(spark, metaName)
        checkFingerprint(name, (m.getAs[String]("plan_fp"), m.getAs[String]("files_fp")),
          sourceFingerprint(spark, df))
      }
      }
    }
    name
  }

  /** Refresh a table's cached file listing iff it is in the catalog.
    * Metadata-only — invalidates the session's cached relation so the
    * next read re-lists the warehouse directory. */
  private def refreshIfExists(spark: SparkSession, name: String): Unit =
    if (spark.catalog.tableExists(name)) spark.catalog.refreshTable(name)

  /** A stale-listing read failure: the cached file listing named a file
    * that no longer exists (Spark 4 wraps it as error class
    * FAILED_READ_FILE.FILE_NOT_EXIST over a FileNotFoundException). */
  private[graft] def isStaleRead(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        Option(t.getMessage).exists(m =>
          m.contains("FAILED_READ_FILE") || m.contains("FileNotFoundException"))
    }

  /** Serve-path point read with the refresh-and-retry-once contract:
    * even a just-refreshed listing can go stale between refresh and
    * read if the artifact is rewritten in that window — retry once
    * after a second refresh, then fail LOUDLY (never the bare
    * FAILED_READ_FILE that poisoned the r13 driver session). */
  private def headWithStaleRetry(spark: SparkSession, name: String) =
    try spark.table(name).head()
    catch {
      case e: Throwable if isStaleRead(e) =>
        spark.catalog.refreshTable(name)
        try spark.table(name).head()
        catch {
          case e2: Throwable => throw new IllegalStateException(
            s"artifact '$name' unreadable even after refresh-and-retry: " +
            "its warehouse directory is being rewritten or is gone. " +
            "Rebuild the artifact (drop the table and re-run its ensure*).", e2)
        }
    }

  /** On-demand DEEP integrity check: rescan artifact `name` and compare
    * row count + content hash against the build-time meta row. Throws
    * on mismatch; no-op (false) when the artifact has no meta (built
    * before r8 or without a source). This is the maintenance-job tier —
    * it reads the artifact, so it is deliberately NOT on the serve
    * path. */
  def verifyContent(spark: SparkSession, rawName: String): Boolean = {
    val name = rawName.toLowerCase(java.util.Locale.ROOT)
    val metaName = name + "_meta"
    if (!spark.catalog.tableExists(metaName)) return false
    refreshIfExists(spark, name); refreshIfExists(spark, metaName)
    val m = headWithStaleRetry(spark, metaName)
    val (rows, contentFp) = contentFingerprint(spark.table(name))
    if (rows != m.getAs[Long]("built_rows") || contentFp != m.getAs[String]("content_fp"))
      throw new IllegalStateException(
        s"artifact '$name' content drift: built (rows=${m.getAs[Long]("built_rows")}, " +
        s"fp=${m.getAs[String]("content_fp")}) vs now (rows=$rows, fp=$contentFp)")
    true
  }

  /** Epoch retention GC: among catalog tables starting with `prefix`,
    * parse the epoch from the LAST `_e<digits>` token (followed by `_`
    * or end-of-name — the artifact name grammar puts the epoch after
    * the munged srcTag, so a tag path segment like `.../e2/...` that
    * munges to `_e2_` mid-name must NOT be read as the epoch), group
    * keep-N decisions PER non-epoch name stem (the name with the epoch
    * token removed), keep each stem's `keepN` HIGHEST epochs, and drop
    * every table (and its warehouse directory) from older epochs.
    * Companions (`_model`, `_meta`) carry the same epoch substring and
    * form their own stems with identical epoch sets, so a family's
    * tables live and die together — and one corpus's newer epochs can
    * never doom another corpus's only artifact just because they share
    * the prefix. Returns the dropped table names (sorted), so a
    * maintenance job can log exactly what it reclaimed. */
  def retain(spark: SparkSession, prefix: String, keepN: Int): Seq[String] = {
    val doomed = retainPlan(
      spark.catalog.listTables().collect().map(_.name).toSeq, prefix, keepN)
    doomed.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      dropOrphanDir(spark, t)
    }
    doomed
  }

  /** The pure decision core of [[retain]] — which of `tables` to drop.
    * Extracted (r10) so the name grammar can be PROPERTY-tested against
    * an independent token-wise reference over adversarial name soups
    * (epoch-shaped tokens in every path-segment position, multi-corpus
    * pools, leading-zero epochs) without paying catalog round-trips per
    * generated case — the drop side stays in [[retain]]. */
  private[graft] def retainPlan(tables: Seq[String], prefix: String,
                                keepN: Int): Seq[String] = {
    require(keepN >= 1, s"retain keeps at least one epoch, got $keepN")
    val p = prefix.toLowerCase(java.util.Locale.ROOT)
    val epochRe = "_e(\\d+)(?=_|$)".r
    val tagged = tables
      .filter(_.startsWith(p))
      .flatMap { t =>
        epochRe.findAllMatchIn(t).toList.lastOption.map { m =>
          (t, t.substring(0, m.start) + t.substring(m.end), m.group(1).toLong)
        }
      }
    tagged.groupBy(_._2).valuesIterator.flatMap { fam =>
      val keep = fam.map(_._3).distinct.sorted(Ordering[Long].reverse).take(keepN).toSet
      fam.collect { case (t, _, e) if !keep(e) => t }
    }.toSeq.sorted
  }

  private def warehouse(spark: SparkSession): String =
    spark.conf.get("spark.sql.warehouse.dir")

  private def dropOrphanDir(spark: SparkSession, name: String): Unit = {
    val loc = new org.apache.hadoop.fs.Path(warehouse(spark) + s"/$name")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) { fs.delete(loc, true); () }
  }
}
