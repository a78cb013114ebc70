package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** D17 — the reference's lost `pii_utils.delete_pii` module
  * (notebooks/utils/__init__.py:8 imports it; the file is gone) restored
  * as a first-class API. The demo (README.md:49-59) walks a permanent
  * erase as four separate steps: erase, compact, expire, sweep
  * orphans, and its compaction rewrites every data file. Here the
  * erase is one copy-on-write rewrite of just the files whose bytes
  * hold the subject (plus any file a live delete file masks, since
  * every delete file goes): one `delete`/`overwrite` commit, which
  * also refolds the NDV sketches, so its cost scales with the subject,
  * not the table. One expiry commit then drops every older snapshot
  * and metadata version, and the orphan sweep follows. No delete file
  * is written. Afterwards the PII is unreachable from any snapshot or
  * ref and physically gone from storage, sketch hashes included.
  */
object ErasePii {

  sealed trait Mode
  /** D7 path: keep the row, null the PII columns (demo.py:228-235). */
  final case class NullifyColumns(columns: Seq[String]) extends Mode
  /** D8 path: remove the row entirely (demo.py:177-180). */
  case object DeleteRow extends Mode

  /** Erase one record's PII and, if `permanent`, scrub history so no
    * snapshot / data file / delete file / metadata version still
    * carries it. `keyValue` takes any literal-able value (String case
    * ids, Long custkeys) so the predicate is TYPED — a string against a
    * numeric key would ride implicit coercion and defeat stats pruning.
    * A permanent erase refuses before its first commit when it could
    * not finish: on a `gc.enabled=false` table (a snapshot fork) expiry
    * could not run; a NullifyColumns of an unknown column fails as
    * `update` does; and a branch or tag that expiry would keep (not
    * lapsed under `history.expire.max-ref-age-ms`) and whose snapshot
    * still holds the subject would keep reading it, so the erase names
    * those refs and refuses. A non-permanent erase is plain DML
    * (`delete` / `update`, honoring the table's write modes) and
    * leaves history alone. */
  def run(table: GraftTable, keyColumn: String, keyValue: Any,
      mode: Mode, permanent: Boolean = true): Unit = {
    val pred = col(keyColumn) === lit(keyValue)
    if (!permanent) {
      mode match {
        case NullifyColumns(cols) =>
          table.update(pred, cols.map(_ -> lit(null)).toMap)
        case DeleteRow =>
          table.delete(pred)
      }
      return
    }
    table.requireGcEnabled("permanently erase PII")
    val bind = (_: DataFrame) => pred
    // the same row transforms the COW DML paths write with
    val erase = mode match {
      case NullifyColumns(cols) =>
        GraftTable.Erase(keyColumn, bind, table.updateTransform(bind,
          cols.map(c => c -> ((_: DataFrame) => lit(null))).toMap),
          "overwrite", cols, dropsRows = false)
      case DeleteRow =>
        GraftTable.Erase(keyColumn, bind, table.deleteTransform(bind),
          "delete", table.schema.fieldNames.toSeq, dropsRows = true)
    }
    val pinning = table.refsHolding(erase)
    require(pinning.isEmpty, "Cannot permanently erase the subject: " +
      s"refs ${pinning.mkString(", ")} pin snapshots that hold it, and " +
      "expiry keeps them (drop them, or let them lapse under " +
      "history.expire.max-ref-age-ms)")
    table.eraseSubject(erase)
    // demo.py:289-296: history must stop resolving pre-erase snapshots
    // and pre-erase metadata versions
    table.expireSnapshotsErasing()
    // cleanup_utils.py:49-67: force-sweep whatever became unreferenced
    table.removeOrphanFiles(System.currentTimeMillis() + 1, force = true)
  }
}
