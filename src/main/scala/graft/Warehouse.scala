package graft

import org.apache.hadoop.fs.Path
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
  * tables): if the table is in the catalog and stamped, serve it;
  * otherwise drop the table family and clear its warehouse directory
  * first (the in-memory catalog forgets tables across JVMs but the
  * warehouse files survive — `saveAsTable` would refuse or, worse,
  * append over the corpse) and run the builder's write.
  *
  * Identifier case: `saveAsTable` lowercases the on-disk directory, so
  * the orphan delete must target the LOWERCASED path or a mixed-case
  * artifact name would clean the wrong (nonexistent) directory and trip
  * over the real corpse at write time. `ensure` normalizes the whole
  * name instead, so catalog name and directory always agree.
  *
  * INTEGRITY: resolve-by-name alone silently serves a STALE artifact
  * when a caller derives a NEW frame from the SAME files without
  * bumping the epoch. Both resolvers therefore keep one STAMP file,
  * `_source_fingerprint`, inside the dataset's own directory, holding a
  * build-time fingerprint of the SOURCE frame — (a) the canonicalized
  * logical plan (catches a different DERIVATION of the same files:
  * filters, column edits, different corpus mix) and (b) the input
  * files' (path, length, mtime) statuses (catches the same path
  * REWRITTEN in place) — and re-derive both at serve time, failing
  * loudly on mismatch. A serve reads the stamp and the source's file
  * statuses on the driver: no Spark job, no data scanned. A dataset
  * with no stamp did not finish its build here and is rebuilt. An
  * [[ensure]] stamp also stores a CONTENT fingerprint of the table
  * itself (row count + order-independent decimal-summed xxhash64 — the
  * clustersFromPairs trick) for [[verifyContent]], the on-demand deep
  * check a maintenance job runs against bit-rot; it scans the table,
  * so it is not on the serve path.
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
    * `<spark.sql.warehouse.dir>/<name>`. When that path holds no stamp,
    * `write` builds it through [[promote]], so a build that fails leaves
    * no directory for a later call to serve, and the build stamps the
    * staged directory with `source`'s [[sourceFingerprint]]. A later
    * call serves the path only if `source` derives the same pair again,
    * and throws [[IllegalStateException]] like [[ensure]] otherwise: a
    * different derivation of the same files (same name) is refused, not
    * answered with the first build's content. Serving reads one small
    * file on the driver and runs no Spark job. */
  def dir(spark: SparkSession, name: String, source: DataFrame)(write: String => Unit): String = {
    val path = location(spark, name)
    val now = sourceFingerprint(spark, source)
    readStamp(spark, path) match {
      case Some(built) => checkFingerprint(name, built, now)
      case None => promote(spark, path) { staging =>
        write(staging)
        writeStamp(spark, staging, Seq(now._1, now._2))
      }
    }
    path
  }

  /** The file inside a built dataset's directory that holds its stamp:
    * the source's (plan, files) [[sourceFingerprint]], then, for an
    * [[ensure]] table, its built row count and [[contentFingerprint]].
    * Its `_` prefix keeps it out of Spark's file listing. */
  private val StampFile = "_source_fingerprint"

  /** The stamp lines of the dataset at `path`, None when it has none:
    * a driver-side file read, no Spark job. */
  private def readStamp(spark: SparkSession, path: String): Option[IndexedSeq[String]] = {
    val stamp = new Path(path, StampFile)
    val fs = stamp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(stamp)) None
    else {
      val in = fs.open(stamp)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toIndexedSeq)
      finally in.close()
    }
  }

  private def writeStamp(spark: SparkSession, path: String, fields: Seq[Any]): Unit = {
    val stamp = new Path(path, StampFile)
    val out = stamp.getFileSystem(spark.sparkContext.hadoopConfiguration).create(stamp, true)
    try out.write(fields.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
  }

  /** Throws naming `name` when the `now` (plan, files) fingerprint of
    * the caller's source differs from the stamp's `built` one. */
  private def checkFingerprint(name: String, built: IndexedSeq[String],
                               now: (String, String)): Unit = {
    if (built(0) != now._1)
      throw new IllegalStateException(
        s"epoch collision on artifact '$name': the caller's source frame " +
        s"is a DIFFERENT derivation than the one that built it " +
        s"(plan fingerprint ${now._1} != stored ${built(0)}). " +
        "Bump the epoch for the new derivation, or pass the original frame.")
    if (built(1) != now._2)
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
    val tgt = new Path(path)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tgt, true)
    require(fs.rename(new Path(staging), tgt),
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
          val p = new Path(f)
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

  /** Resolve-or-build: returns the (normalized) table name. `write`
    * must create `name` (and any `companions`, e.g. an index's
    * `<name>_model` table); it runs when the catalog has no `name`, or
    * has one with no stamp (a build that died after its table write),
    * after every table of the family and its directory is dropped. The
    * build then stamps the table's directory with `source`'s
    * fingerprints and the table's content fingerprint. Every later call
    * re-derives the source fingerprints and throws
    * [[IllegalStateException]] if they differ from what built the
    * artifact — the loud failure that replaces the silent stale-serve
    * of an epoch collision. */
  def ensure(spark: SparkSession, rawName: String, source: DataFrame,
             companions: Seq[String] = Nil)(write: String => Unit): String = {
    val name = rawName.toLowerCase(java.util.Locale.ROOT)
    val family = name +: companions.map(_.toLowerCase(java.util.Locale.ROOT))
    val now = sourceFingerprint(spark, source)
    val stamp =
      if (spark.catalog.tableExists(name)) readStamp(spark, location(spark, name)) else None
    stamp match {
      case Some(built) =>
        // The session caches each catalog table's file listing, so an
        // EXTERNAL rewrite of the artifact directory (another JVM
        // re-running the builder mid-session) poisons every later read
        // with FAILED_READ_FILE. Refresh the cached listing of the
        // artifact and every companion before anything reads them; the
        // refresh drops the cached relation and runs no job.
        family.foreach(refreshIfExists(spark, _))
        checkFingerprint(name, built, now)
      case None =>
        family.foreach(drop(spark, _))
        write(name)
        val (rows, contentFp) = contentFingerprint(spark.table(name))
        writeStamp(spark, location(spark, name), Seq(now._1, now._2, rows, contentFp))
    }
    name
  }

  /** Refresh a table's cached file listing iff it is in the catalog.
    * Metadata-only — invalidates the session's cached relation so the
    * next read re-lists the warehouse directory. */
  private def refreshIfExists(spark: SparkSession, name: String): Unit =
    if (spark.catalog.tableExists(name)) spark.catalog.refreshTable(name)

  /** On-demand DEEP integrity check: rescan artifact `name` and compare
    * its row count and content hash with its stamp. False when the
    * catalog has no `name`; throws on a mismatch, and on a table whose
    * directory holds no stamp (rewritten after its build, or not built
    * by [[ensure]]). This is the maintenance-job tier — it reads the
    * artifact, so it is deliberately NOT on the serve path. */
  def verifyContent(spark: SparkSession, rawName: String): Boolean = {
    val name = rawName.toLowerCase(java.util.Locale.ROOT)
    spark.catalog.tableExists(name) && {
      val built = readStamp(spark, location(spark, name)).getOrElse(
        throw new IllegalStateException(s"artifact '$name' content drift: its " +
          "directory holds no build stamp, so it was rewritten after its build"))
      spark.catalog.refreshTable(name)
      val (rows, contentFp) = contentFingerprint(spark.table(name))
      if (rows.toString != built(2) || contentFp != built(3))
        throw new IllegalStateException(
          s"artifact '$name' content drift: built (rows=${built(2)}, fp=${built(3)}) " +
          s"vs now (rows=$rows, fp=$contentFp)")
      true
    }
  }

  /** Epoch retention GC: among catalog tables starting with `prefix`,
    * parse the epoch from the LAST `_e<digits>` token (followed by `_`
    * or end-of-name — the artifact name grammar puts the epoch after
    * the munged srcTag, so a tag path segment like `.../e2/...` that
    * munges to `_e2_` mid-name must NOT be read as the epoch), group
    * keep-N decisions PER non-epoch name stem (the name with the epoch
    * token removed), keep each stem's `keepN` HIGHEST epochs, and drop
    * every table (and its warehouse directory) from older epochs.
    * Companions (`_model`) carry the same epoch substring and
    * form their own stems with identical epoch sets, so a family's
    * tables live and die together — and one corpus's newer epochs can
    * never doom another corpus's only artifact just because they share
    * the prefix. Returns the dropped table names (sorted), so a
    * maintenance job can log exactly what it reclaimed. */
  def retain(spark: SparkSession, prefix: String, keepN: Int): Seq[String] = {
    val doomed = retainPlan(
      spark.catalog.listTables().collect().map(_.name).toSeq, prefix, keepN)
    doomed.foreach(drop(spark, _))
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

  /** `<spark.sql.warehouse.dir>/<name>`, where `saveAsTable` writes a
    * managed table and [[dir]] a path. */
  private def location(spark: SparkSession, name: String): String =
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/$name"

  /** Drops table `name` if the catalog has it and deletes its warehouse
    * directory either way, orphaned or not. */
  private def drop(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new Path(location(spark, name))
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    ()
  }
}
