package graft.sync

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental JOIN maintenance — the IVM counterpart of
  * [[IncrementalAgg]] for a materialized `snapshot ⋈ dim` view: given the
  * OLD view and a keyed changeset (SnapshotDiff.diffKeyed), produce the
  * NEW view touching only changeset-sized inputs plus the broadcast dim.
  *
  * Law (oracle-checked): `applyToJoin(old ⋈ dim, diff(old,new), old, dim)
  * ≡ new ⋈ dim`.
  *
  * Why it scales: untouched view rows pass through with ONE anti-join
  * against the (tiny, broadcast) set of touched keys; only rows whose key
  * appears in the changeset are rebuilt and re-joined to the dim. At
  * 100 TB the full view is never re-joined — the rebuild side is
  * |changeset| rows. The dim join is INNER, so an update that moves a row
  * onto a segment absent from the dim drops it from the view — exactly
  * what recomputing from scratch would do (both sides of the law agree).
  */
object IncrementalJoin {

  /** Deterministic demo dimension: one row per known segment with a
    * derived attribute (mirrored in the oracle SQL). */
  def segmentDim(customer: DataFrame): DataFrame =
    customer
      .select(col("c_mktsegment").as("segment")).distinct()
      .withColumn("seg_len", length(col("segment")).cast("long"))

  /** The materialized view: snapshot ⋈ segment dim. */
  def joinView(snapshot: DataFrame, dim: DataFrame): DataFrame =
    snapshot.join(broadcast(dim), "segment")
      .select(col("slno"), col("name"), col("acctbal"), col("segment"), col("seg_len"))

  /** Maintain the view under a changeset. `old` is consulted only for
    * the UPDATED keys (changeset-sized join) to reconstruct unchanged
    * cells of partially-updated rows. */
  def applyToJoin(view: DataFrame, changes: DataFrame, old: DataFrame,
                  dim: DataFrame): DataFrame = {
    // r13: the changeset feeds THREE consumers (touched keys, the patch
    // map, inserts) — without a checkpoint the full-outer diff that
    // produces it ran three times in one plan. Changesets are
    // delta-sized by contract (the persisted artifact in a production
    // nightly), so materializing once is the honest shape at any scale.
    val ch = changes.localCheckpoint(eager = false)
    val valueCols = old.columns.filterNot(_ == "slno").toSeq
    val touched = ch.select(col("slno")).distinct()
    val kept = view.join(broadcast(touched), Seq("slno"), "left_anti")

    // rebuild ONLY the updated keys from the old snapshot + patch map.
    // r13: patches are changeset-sized — broadcast them so the old
    // snapshot is never exchanged for this join.
    val patched = old.as("o")
      .join(broadcast(SnapshotDiff.patches(ch).as("u")), col("o.slno").cast("long") === col("u.slno"))
      .select(col("o.slno").cast("long").as("slno") +: valueCols.map(c =>
        SnapshotDiff.patchedCell(col("u.patch"), c, col(s"o.$c")).as(c)): _*)

    val rebuilt = patched.unionByName(SnapshotDiff.imageRows(ch, "insert", "slno", valueCols))
      .join(broadcast(dim), "segment")
      .select(col("slno"), col("name"), col("acctbal"), col("segment"), col("seg_len"))

    kept.unionByName(rebuilt)
  }
}
