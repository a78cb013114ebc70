package graft.lake

import org.apache.spark.sql.functions._

/** D17 — the reference's lost `pii_utils.delete_pii` module
  * (notebooks/utils/__init__.py:8 imports it; the file is gone) restored
  * as a first-class API, composing the lifecycle exactly as the demo
  * walks it (README.md:49-59): erase → compact → expire → sweep orphans,
  * after which the PII is unreachable from any snapshot AND physically
  * gone from storage.
  */
object ErasePii {

  sealed trait Mode
  /** D7 path: keep the row, null the PII columns (demo.py:228-235). */
  final case class NullifyColumns(columns: Seq[String]) extends Mode
  /** D8 path: remove the row entirely (demo.py:177-180). */
  case object DeleteRow extends Mode

  /** Erase one record's PII and, if `permanent`, scrub history so no
    * snapshot / data file / delete file still carries it. `keyValue`
    * takes any literal-able value (String case ids, Long custkeys) so
    * the predicate is TYPED — a string against a numeric key would
    * ride implicit coercion and defeat stats pruning on the erase's
    * discovery scan. A permanent erase on a `gc.enabled=false` table
    * (a snapshot fork) refuses before its first commit: expiry could
    * not finish it, and a half-done erase would leave the PII in
    * history while the table already shows it gone. */
  def run(table: GraftTable, keyColumn: String, keyValue: Any,
      mode: Mode, permanent: Boolean = true): Unit = {
    if (permanent) table.requireGcEnabled("permanently erase PII")
    val pred = col(keyColumn) === lit(keyValue)
    mode match {
      case NullifyColumns(cols) =>
        table.update(pred, cols.map(_ -> lit(null)).toMap)
      case DeleteRow =>
        table.delete(pred)
    }
    if (permanent) {
      // demo.py:419-447: apply MOR deletes + drop rewritten files; the
      // same commit refolds the NDV sketches of the erased columns so
      // the current metadata keeps no hash of the erased values
      val erased = mode match {
        case NullifyColumns(cols) => cols
        case DeleteRow => table.schema.fieldNames.toSeq
      }
      table.rewriteDataFilesErasing(Map("rewrite-all" -> "true",
        "target-file-size-bytes" -> (128L * 1024 * 1024).toString), erased)
      table.rewritePositionDeleteFiles()
      // demo.py:289-296: history must stop resolving pre-erase snapshots
      table.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1)
      // cleanup_utils.py:49-67: force-sweep whatever became unreferenced
      table.removeOrphanFiles(System.currentTimeMillis() + 1, force = true)
    }
  }
}
