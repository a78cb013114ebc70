package graft.lake

import java.nio.file.{Files, Path, StandardCopyOption}
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

/** GraftLake metadata model — a hand-rolled, Iceberg-shaped snapshot log
  * on local/HDFS-style storage. Re-expresses the table format the
  * reference demo relies on (Iceberg REST catalog + Avro manifests,
  * /root/reference/docker-compose.yml:26-30) as plain JSON:
  *
  *   table/
  *     data/      *.parquet          data (content=0) + delete files (1,2)
  *     metadata/  vN.metadata.json   table metadata (snapshot headers)
  *                snap-<id>.json     manifest LIST: segment references
  *                seg-<id>.json      manifest segment: Seq[ManifestEntry]
  *                version-hint.text  pointer to current N (atomic rename)
  *
  * Scale note: the snapshot header log stays O(snapshots), and each
  * snapshot's file inventory is a manifest LIST referencing immutable
  * entry SEGMENTS (Iceberg's manifest-list → manifest-file two-level
  * structure, the shape file_summary_utils.py:62-79 queries): a commit
  * reuses the parent's segments verbatim wherever every entry in them
  * survives, rewrites only segments that lost entries, and writes one
  * new segment for its added entries — manifest bytes per commit are
  * O(change), never O(table files). `rewrite_manifests` compacts
  * segment sprawl. Per-file min/max column stats ride on the manifest
  * entries and drive pre-plan file pruning (SURVEY.md §4).
  */
final case class ColStat(min: String, max: String, nullCount: Long)

/** Per-FILE KMV NDV sketch riding on a manifest entry (the
  * Iceberg-Puffin-per-file analog, r17): the k smallest DISTINCT
  * 60-bit hashes of the column's non-null values IN THIS FILE's raw
  * bytes (unmasked — the sketch describes the file, not the
  * snapshot). Because bottom-k sketches merge exactly by
  * distinct-union-then-take-k, a file-dropping commit can re-derive
  * the TABLE sketch from surviving entries' sketches alone —
  * file-count-bounded metadata work, no corpus re-scan — closing
  * KMV's subtract-on-delete gap ([[GraftTable.refoldColumnStats]]).
  * `hashes.size < k` means the file held fewer than k distinct
  * values: the sketch is COMPLETE and folds exactly at any target k. */
final case class FileNdv(k: Int,
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(
      contentAs = classOf[java.lang.Long])
    hashes: Seq[Long])

/** content: 0=data, 1=position delete, 2=equality delete (matches the
  * domain queried at /root/reference/notebooks/iceberg_pii_deletion_demo.py:204-216). */
final case class ManifestEntry(
    path: String, // relative to table root
    content: Int,
    recordCount: Long,
    fileSizeBytes: Long,
    addedSnapshotId: Long,
    stats: Map[String, ColStat] = Map.empty,
    // equality deletes: the identity columns the delete file matches on
    equalityColumns: Seq[String] = Nil,
    // per-file NDV sketches keyed by PHYSICAL column name, stamped at
    // write/ANALYZE time on data files of NDV-tracked tables (absent
    // on delete files, pre-sketch entries, and when 'stats.file-ndv'
    // is disabled). See [[FileNdv]].
    ndv: Map[String, FileNdv] = Map.empty)

/** One immutable manifest segment (the Iceberg manifest-file analog):
  * a `metadata/seg-*.json` array of [[ManifestEntry]], referenced —
  * and SHARED — verbatim by every snapshot whose manifest list
  * includes it. The ref carries the aggregates commit summaries and
  * the `manifests` relations need, so neither has to read the segment
  * bytes. `addedSnapshotId` is the snapshot whose commit WROTE the
  * segment file (provenance), not necessarily the one reading it. */
final case class ManifestSegmentRef(
    path: String, // metadata/seg-<id>-<uuid>.json, relative to root
    addedSnapshotId: Long,
    entryCount: Int,
    dataFileCount: Int,
    deleteFileCount: Int,
    recordCount: Long, // data (content=0) record sum
    sizeBytes: Long, // segment file length on disk
    // bounds over the segment's RAW entry.path strings (Iceberg keeps
    // the analogous partition-bound summaries on manifest-list
    // entries): an entry-removing commit reads ONLY segments whose
    // range can contain a removed path — a 1-file COW on a 1000-
    // segment table parses one segment, not all of them. None on
    // refs written before this field existed → those segments are
    // always read (conservative, never wrong).
    minPath: Option[String] = None,
    maxPath: Option[String] = None)

/** The manifest-list document a `snap-*.json` holds. */
final case class ManifestListDoc(segments: Seq[ManifestSegmentRef])

final case class SnapshotMeta(
    snapshotId: Long,
    parentId: Option[Long],
    timestampMs: Long,
    operation: String, // append | delete | overwrite | replace | merge
    manifestList: String, // metadata/snap-<id>.json, relative to root
    summary: Map[String, String] = Map.empty,
    // table schema AS OF this snapshot (Iceberg's schema-id analog):
    // time travel reads with the schema of that time, not today's.
    // Optional for back-compat with pre-evolution metadata.
    schemaDdl: Option[String] = None,
    // logical→physical column names AS OF this snapshot, so time
    // travel across later renames still resolves file columns.
    // Absent (pre-rename metadata) means identity.
    physicalNames: Option[Map[String, String]] = None)

final case class MetadataLogEntry(timestampMs: Long, file: String)

/** A named snapshot pointer (the Iceberg branch/tag analog).
  * refType is "branch" or "tag"; both pin their snapshot against
  * expiration — the difference is intent (branches may be
  * fast-forwarded, tags are immutable labels). `maxRefAgeMs`
  * (Iceberg's per-ref RETAIN) overrides the table-level
  * `history.expire.max-ref-age-ms`: a ref whose snapshot committed
  * longer ago than its cap lapses during expire_snapshots. */
final case class RefMeta(snapshotId: Long, refType: String,
    // contentAs: Jackson would otherwise deserialize small JSON
    // numbers into Option[Integer] and the unbox would CCE at use
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(
      contentAs = classOf[java.lang.Long])
    maxRefAgeMs: Option[Long] = None)

/** Per-column KMV NDV sketch (the `compute_table_stats` / Puffin-NDV
  * analog): the k smallest DISTINCT 60-bit md5 hashes of the column's
  * non-null values, sorted ascending, plus the snapshot whose data the
  * sketch last folded. Hashing is [[graft.rel.Kmv.hash60]] — the one
  * hash source every sketch surface shares — so the estimator is the
  * same integer-exact (k-1)·2^60 div theta form the oracled KMV
  * queries pin. KMV sketches merge by distinct-union-then-take-k,
  * which is exactly how plain MAIN appends fold new files in
  * (O(change)); any other row-changing commit (delete, overwrite,
  * branch append arriving via fast_forward, cherry-pick) flips the
  * `stale` flag the `.stats` relation derives from a lineage walk.
  * Fresh ⇒ exact-merge estimate (an upper bound once rows were
  * masked); stale ⇒ unmaintained, off in either direction until
  * re-analyzed. */
final case class NdvSketch(k: Int,
    // contentAs: like RefMeta.maxRefAgeMs — erasure would otherwise
    // hand small JSON numbers back as Integers inside the Seq and the
    // unbox would CCE at use
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(
      contentAs = classOf[java.lang.Long])
    hashes: Seq[Long],
    analyzedSnapshotId: Long)

final case class TableMeta(
    name: String,
    schemaDdl: String,
    properties: Map[String, String],
    snapshots: Seq[SnapshotMeta],
    currentSnapshotId: Option[Long],
    metadataLog: Seq[MetadataLogEntry] = Nil,
    formatVersion: Int = 1,
    refs: Map[String, RefMeta] = Map.empty,
    // logical→physical column names (Delta column-mapping 'name'-mode
    // analog): a column's physical name is fixed at first write and
    // never changes; RENAME COLUMN moves only the logical name, so
    // files from before and after a rename read under one physical
    // schema. Only non-identity entries are recorded.
    physicalNames: Map[String, String] = Map.empty,
    // physical names of DROPPED columns: their bytes linger in old
    // files, so a later ADD COLUMN with the same name must take a
    // fresh physical name or it would resurrect the dropped values.
    retiredPhysicalNames: Seq[String] = Nil,
    // per-column NDV sketches keyed by PHYSICAL column name (stable
    // across renames, never resurrected by re-added names — the same
    // reasons file stats key physically). Present only after
    // computeTableStats ran; plain main appends fold their new rows in
    // (hashed by the writer as it writes them), and a permanent erase
    // refolds them from the committed files' own sketches in its
    // rewrite commit.
    columnNdv: Map[String, NdvSketch] = Map.empty)

object Json {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  def write(v: Any): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)
  def readTableMeta(s: String): TableMeta =
    mapper.readValue(s, classOf[TableMeta])
  def readManifest(s: String): Seq[ManifestEntry] =
    mapper.readValue(s, classOf[Array[ManifestEntry]]).toSeq
  /** Parse a `snap-*.json` manifest list into its segment refs. A bare
    * entry array there is the pre-segment inline format, which no
    * reader serves: it refuses, naming the file. */
  def readManifestList(p: Path): Seq[ManifestSegmentRef] = {
    val s = Files.readString(p)
    if (s.dropWhile(_.isWhitespace).startsWith("["))
      throw new IllegalStateException(s"$p holds a pre-segment inline " +
        "manifest (a bare entry array), which is no longer readable")
    mapper.readValue(s, classOf[ManifestListDoc]).segments
  }
}

/** The commit boundary of a GraftLake table — the one operation that
  * must be atomic-and-exclusive for optimistic concurrency to hold.
  * `publishNew` publishes an immutable metadata version fail-if-exists;
  * exactly one of N racing writers wins. `overwrite` replaces a mutable
  * pointer (the version hint) and only the publishNew winner calls it.
  *
  * Local FS (this repo's runtime) uses hard links, which POSIX defines
  * as atomic fail-if-exists. An object-store implementation would use
  * conditional writes (S3 `If-None-Match: *`, GCS
  * `x-goog-if-generation-match: 0`, ADLS `If-None-Match`) or delegate
  * the swap to a REST catalog — the pluggable boundary the reference
  * gets from its REST catalog service
  * (/root/reference/docker-compose.yml:28-29). Everything else in the
  * table format is plain immutable-file I/O and needs no coordination.
  */
trait CommitProvider {
  /** Publish `content` at `target` iff absent; false on conflict. */
  def publishNew(target: Path, content: String): Boolean
  /** Atomically replace a mutable pointer file. */
  def overwrite(target: Path, content: String): Unit
}

/** Hard-link-based commits for local/NFS-style filesystems. */
object LocalCommitProvider extends CommitProvider {
  override def publishNew(target: Path, content: String): Boolean =
    Io.atomicPublishNew(target, content)
  override def overwrite(target: Path, content: String): Unit =
    Io.atomicWrite(target, content)
}

object Io {
  /** Durable-enough atomic publish for a single-writer local log: write
    * a temp sibling, then ATOMIC_MOVE over the target. */
  def atomicWrite(target: Path, content: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Atomic publish-if-absent: hard-link the temp file into place —
    * createLink fails atomically if the target exists, unlike rename(2)
    * which silently replaces. Returns false when another writer already
    * published this path (optimistic-concurrency commit conflict).
    */
  def atomicPublishNew(target: Path, content: String): Boolean = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(
      target.getFileName.toString + "." + java.util.UUID.randomUUID() + ".tmp")
    Files.writeString(tmp, content)
    try {
      Files.createLink(target, tmp)
      Files.deleteIfExists(tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        false
    }
  }

  def listRecursive(dir: Path): Seq[Path] = {
    if (!Files.exists(dir)) return Nil
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  /** Normalize a path or file URI ("file:///x", "file:/x", "/x") to a
    * plain filesystem path string — Spark's _metadata.file_path and
    * java.nio paths must compare equal. */
  def normalize(pathOrUri: String): String =
    if (pathOrUri.startsWith("file:")) {
      // URI.getPath also decodes percent-escapes (%20 → space), which
      // is what Spark's _metadata.file_path emits for such paths. A
      // raw unencoded space would make the URI constructor throw, so
      // fall back to scheme-stripping for that spelling.
      try new java.net.URI(pathOrUri).getPath
      catch {
        case _: java.net.URISyntaxException =>
          pathOrUri.stripPrefix("file:").replaceFirst("^/{2,}", "/")
      }
    } else pathOrUri

  /** All spellings `_metadata.file_path` may use for a local path —
    * lets driver-side path sets be normalized ONCE to every URI form
    * and compared with a plain (codegen-friendly) string equality,
    * instead of running a normalizing UDF over the scan column.
    *
    * Includes the URL-encoded URI forms (`Path.toUri`): Spark spells
    * `_metadata.file_path` with URI escaping, so a warehouse path
    * containing a space arrives as `%20` — without these forms the MOR
    * delete filter would find no data sequence for the file and
    * equality-deleted rows would silently resurface. */
  def uriForms(path: String): Seq[String] = {
    val encoded = Path.of(path).toUri.toString // file:///a/b%20c/d.parquet
    val encodedShort = encoded.replaceFirst("^file:///", "file:/")
    val encodedSlashes = encoded.replaceFirst("^file:///", "file://")
    Seq(path, s"file:$path", s"file://$path",
      encoded, encodedShort, encodedSlashes).distinct
  }
}
