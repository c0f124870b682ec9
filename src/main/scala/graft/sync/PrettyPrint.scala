package graft.sync

import org.apache.spark.sql.{DataFrame, Row}

/** Changeset pretty-printer — the reference's human-in-the-loop preview
  * (R12, syncquill.py:164-215: ASCII table of Old/New rows per change
  * type, column widths from max cell length).
  *
  * Driver-side by design: a preview is for a human, so it materializes at
  * most `maxRows` changes (the reference pulls the WHOLE changeset into
  * the terminal; a distributed engine bounds it). */
object PrettyPrint {

  /** Render a changeset DataFrame (op, slno, col, old_val, new_val) as an
    * ASCII table grouped by op, reference-style: its first `maxRows`
    * changes in (op, slno, col) order. */
  def render(changes: DataFrame, maxRows: Int = 1000): String =
    render(changes.orderBy("op", "slno", "col").limit(maxRows).collect().toSeq)

  /** Render changeset rows already on the driver (the sync verb's diff
    * action collects them, ordered and bounded). */
  def render(rows: Seq[Row]): String = {
    if (rows.isEmpty) return "No changes.\n"
    val header = Seq("op", "slno", "col", "old_value", "new_value")
    val cells = rows.map(r => header.indices.map(i => String.valueOf(r.get(i))))
    val widths = header.indices.map(i =>
      (header(i).length +: cells.map(_(i).length)).max)
    def line(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val sep = widths.map("-" * _).mkString("+-", "-+-", "-+")
    val sb = new StringBuilder
    sb.append(sep).append('\n').append(line(header)).append('\n').append(sep).append('\n')
    cells.foreach(c => sb.append(line(c)).append('\n'))
    sb.append(sep).append('\n')
    sb.toString
  }
}
