package graft.lake

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.graft.{BottomKTracker, SketchedWrite}

/** A GraftLake table: snapshot-versioned Parquet + JSON metadata log.
  *
  * Re-expresses the Iceberg table lifecycle the reference demo drives
  * (/root/reference/notebooks/iceberg_pii_deletion_demo.py) Spark-first:
  *   - append             → D6 INSERT (demo.py:105-110)
  *   - delete             → D8 MOR position deletes (demo.py:177-180) or
  *                          D9 COW, per `write.delete.mode` (demo.py:166-171)
  *   - update             → D7 COW UPDATE (demo.py:228-235) or MOR
  *   - readAt             → S2 time travel (demo.py:261)
  *   - expireSnapshots    → D10 (demo.py:289-296)
  *   - removeOrphanFiles  → D11/D12 w/ safety window (demo.py:341-369)
  *   - rewriteDataFiles   → D13 compaction (demo.py:419-433)
  *   - eraseSubject       → the permanent PII erase's rewrite
  *                          ([[ErasePii]], README.md:49-59)
  *   - rewritePositionDeleteFiles → D14 (demo.py:437-447)
  *   - metadata tables    → S3/D15 (demo.py:120,205; file_summary_utils.py)
  *
  * MOR reads mask deleted rows with one per-task predicate
  * ([[DeleteFilter]]) over the Parquet source's (_metadata.file_path,
  * _metadata.row_index) and equality-key columns, for position deletes
  * and every equality-key shape alike — positions are captured from
  * the same metadata columns at delete time, so they stay consistent
  * (SURVEY.md §7 "hard parts"). The plan carries delete-file paths, not
  * rows, and no join.
  *
  * Scale design: file pruning happens BEFORE plan construction — the
  * manifest's per-file min/max stats select the Parquet file list, then
  * Catalyst handles pushdown inside the scan. All data movement is
  * DataFrame jobs; the only driver-side state is the manifest
  * (O(files), the same scaling assumption Iceberg's planner makes).
  */
class GraftTable(val spark: SparkSession, val root: Path,
    val commit: CommitProvider = LocalCommitProvider)
    extends org.apache.spark.internal.Logging {
  import GraftTable._

  private def metadataDir = root.resolve("metadata")
  private def dataDir = root.resolve("data")
  private def hintFile = metadataDir.resolve("version-hint.text")

  // ---- metadata log ----

  def version: Int = Files.readString(hintFile).trim.toInt

  /** Parse caches over the IMMUTABLE halves of the metadata log:
    * v<N>.metadata.json is published fail-if-exists (one writer ever
    * wins a version) and manifest names are per-attempt UUID-unique,
    * so a parsed value can never go stale — only the mutable
    * version-hint is always re-read. Scenario queries hit `meta`
    * dozens of times per operation; without this every access
    * re-reads and re-parses the full snapshot log. LRU-bounded so a
    * long-lived handle on a many-snapshot table doesn't pin every
    * historical manifest's entry list in driver memory. */
  private val metaCache = GraftTable.lruCache[Int, TableMeta](8)
  private val manifestCache =
    GraftTable.lruCache[String, Seq[ManifestEntry]](64)
  // manifest LIST docs and entry SEGMENTS cache separately: a segment
  // is shared by many snapshots, so its parse is paid once per file,
  // not once per referencing snapshot
  private val listDocCache =
    GraftTable.lruCache[String, Seq[ManifestSegmentRef]](64)
  private val segmentCache =
    GraftTable.lruCache[String, Seq[ManifestEntry]](128)

  private def metaAt(v: Int): TableMeta =
    metaCache.computeIfAbsent(v, _ => Json.readTableMeta(
      Files.readString(metadataDir.resolve(s"v$v.metadata.json"))))

  def meta: TableMeta = captureBase().meta

  /** The metadata version an operation started from. Every write
    * captures one Base up front and publishes `base.version + 1`
    * fail-if-exists, so a commit landing anywhere inside the
    * operation's (possibly multi-minute) Spark jobs is detected as a
    * conflict instead of silently clobbered — the Iceberg
    * commit-conflict model, with the base pinned at READ time, not
    * re-read at commit time. */
  private final case class Base(version: Int, meta: TableMeta) {
    def entries: Seq[ManifestEntry] =
      headOf(meta).map(manifestOf).getOrElse(Nil)
  }

  private def captureBase(): Base = {
    val v = version
    try Base(v, metaAt(v))
    catch {
      // a permanent erase deletes every version below its own right
      // after publishing it, so a hint read just before names a
      // deleted file; the re-read hint names the erase's version
      case _: java.nio.file.NoSuchFileException if version != v =>
        captureBase()
    }
  }

  def schema: StructType = StructType.fromDDL(meta.schemaDdl)
  def properties: Map[String, String] = meta.properties
  def name: String = meta.name

  /** Logical→physical column-name mapping; identity for columns never
    * renamed. See [[Meta.TableMeta.physicalNames]]. */
  def physicalNames: Map[String, String] = meta.physicalNames

  private def physName(m: Map[String, String])(n: String): String =
    m.getOrElse(n, n)

  /** Physical leaf name of a STRUCT column's subfield. Nested mapping
    * keys are '.'-joined LOGICAL paths (any depth: `"a.b.c"`) →
    * physical LEAF name at that level (the path extension of
    * [[physName]]); identity when unmapped. `parent` may itself be a
    * dotted path. */
  private def physSub(m: Map[String, String])(parent: String,
      sub: String): String = m.getOrElse(s"$parent.$sub", sub)

  /** Full '.'-joined PHYSICAL path of a logical path: each segment
    * resolves under the logical path up to and including it. */
  private def physPath(m: Map[String, String])(
      segs: Seq[String]): String =
    segs.indices.map { i =>
      m.getOrElse(segs.take(i + 1).mkString("."), segs(i))
    }.mkString(".")

  /** Physical spelling of a (possibly nested) struct type: every
    * subfield at every depth renames through its logical-path key.
    * `prefix` is the logical path of the value holding `dt`. */
  private def physType(m: Map[String, String], prefix: String,
      dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map { sf =>
      val key = s"$prefix.${sf.name}"
      sf.copy(name = m.getOrElse(key, sf.name),
        dataType = physType(m, key, sf.dataType))
    })
    case other => other
  }

  /** All '.'-joined logical paths UNDER `prefix` (every subfield at
    * every depth) — the schema-driven purge/re-key universe for drops
    * and renames of struct-typed columns. */
  private def descendantKeys(prefix: String, dt: DataType): Seq[String] =
    dt match {
      case st: StructType => st.fields.toSeq.flatMap { sf =>
        val key = s"$prefix.${sf.name}"
        key +: descendantKeys(key, sf.dataType)
      }
      case _ => Nil
    }

  /** Nested mapping keys are '.'-joined logical paths, so a TOP-LEVEL
    * name that itself contains '.' would be indistinguishable from a
    * nested path (top-level "a.b" vs subfield "b" of struct "a") in
    * the mapping, the retire list, and the prefix re-key on struct
    * renames. Dotted top-level names are refused at every point they
    * could enter the schema (create/addColumns) or mint keys
    * (renames, nested evolution) — the keyspace stays unambiguous. */
  private def requireUndotted(n: String, what: String): Unit =
    GraftTable.requireUndotted(n, what)

  /** Whether `f` (a top-level field) carries any nested renames at
    * ANY depth — i.e. its file-side struct spells some subfield
    * differently. */
  private def hasNestedMapping(m: Map[String, String],
      f: StructField): Boolean =
    descendantKeys(f.name, f.dataType).exists(m.contains)

  /** The schema as the data files spell it: logical types, physical
    * column names — including physical SUBFIELD names at every depth
    * for struct columns with nested renames. */
  private def physSchema(logical: StructType,
      m: Map[String, String]): StructType =
    StructType(logical.fields.map { f =>
      f.copy(name = physName(m)(f.name),
        dataType = physType(m, f.name, f.dataType))
    })

  /** Scan parquet files written under physical column names, surfacing
    * the logical schema (with optional (file, position) lineage). Type
    * widening (int→long, float→double) is the parquet reader's own
    * widening promotion — old narrow files read as the current wide
    * type with no rewrite. A struct column with nested renames comes
    * back via a POSITIONAL struct cast (same layout, logical subfield
    * names) — metadata-only, no per-row kernel beyond the rename.
    *
    * Takes (absolute path, file size) pairs — the manifest knows both
    * — so the flat scan plans through [[ManifestRead]] with ZERO
    * filesystem calls (r18, guide §6: `spark.read.parquet(paths)`
    * stats every path twice on the driver and past 32 paths runs a
    * distributed listing job, for metadata the manifest already
    * committed). Hive-adopted files keep the DataFrameReader path:
    * their partition values are parsed from DIRECTORY names, which is
    * Spark's partition-discovery machinery. */
  private def scanParquet(files: Seq[(String, Long)], logical: StructType,
      m: Map[String, String], lineage: Boolean = false): DataFrame = {
    val aliases = logical.fields.toSeq.map { f =>
      val c = col(quoted(physName(m)(f.name)))
      (if (hasNestedMapping(m, f)) c.cast(f.dataType) else c).as(f.name)
    }
    def project(raw: DataFrame): DataFrame =
      if (lineage)
        raw.select(aliases ++ Seq(
          col("_metadata.file_path").as(FileCol),
          col("_metadata.row_index").as(PosCol)): _*)
      else raw.select(aliases: _*)
    def scanFlat(ps: Seq[(String, Long)]): DataFrame = project(
      org.apache.spark.sql.graft.ManifestRead.parquet(
        spark, ps, physSchema(logical, m)))
    def scanHive(ps: Seq[(String, Long)], basePath: String): DataFrame =
      project(spark.read.schema(physSchema(logical, m))
        .option("basePath", basePath).parquet(ps.map(_._1): _*))
    // Hive-adopted files (migrate keep-backup over a partitioned
    // source, r17) carry their former partition columns only in
    // DIRECTORY names: route them through Spark's own partition
    // parsing under `basePath` — the values come back as typed
    // constant vectors (vectorized, zero extra bytes read), exactly
    // Spark's native partitioned read; the explicit schema types them
    // (user-schema partition types win over re-inference). Files the
    // table wrote itself carry real bytes for those columns and scan
    // flat; a mixed snapshot unions the two scans — plan size O(1),
    // never O(files).
    adoptedBasePath match {
      case Some(bp) =>
        val prefix = bp + java.io.File.separator
        val (hive, flat) = files.partition(_._1.startsWith(prefix))
        if (hive.isEmpty) scanFlat(flat)
        else if (flat.isEmpty) scanHive(hive, bp)
        else scanHive(hive, bp).unionByName(scanFlat(flat))
      case None => scanFlat(files)
    }
  }

  /** The hive-adopted base directory, when migrate's keep-backup form
    * adopted a partitioned source rewrite-free: files under it spell
    * their former partition columns only in directory names (values
    * synthesized at scan time; pruning runs off the min=max stats the
    * adopting commit stamped on each manifest entry). */
  private def adoptedBasePath: Option[String] =
    properties.get(GraftTable.AdoptedBaseProp)

  /** User properties plus the synthetic entries Iceberg surfaces in
    * SHOW TBLPROPERTIES (ref .ipynb cell 7/17: current-snapshot-id,
    * format, format-version). */
  def enrichedProperties: Map[String, String] = properties ++ Map(
    "current-snapshot-id" -> currentSnapshot.map(_.snapshotId.toString)
      .getOrElse("none"),
    "format" -> "graft/parquet",
    "format-version" -> meta.formatVersion.toString)

  def setProperties(props: Map[String, String]): Unit = {
    val b = captureBase()
    commitMeta(b, b.meta.copy(properties = b.meta.properties ++ props))
  }

  /** ALTER TABLE ... SET/UNSET TBLPROPERTIES with removals: commit the
    * computed map verbatim instead of merging, so UNSET actually
    * deletes keys (a merge would re-introduce them from the old map).
    * The removes/sets are applied to the base captured here, not to a
    * caller-side read, so a concurrent property commit surfaces as a
    * version conflict rather than a lost update. */
  def updateProperties(removes: Seq[String],
      sets: Map[String, String]): Unit = {
    val b = captureBase()
    commitMeta(b, b.meta.copy(
      properties = b.meta.properties -- removes ++ sets))
  }

  /** ALTER TABLE ADD COLUMNS — metadata-only schema evolution: new
    * columns are forced nullable, and files written before the change
    * read as NULL for them (Spark's missing-column semantics under an
    * explicit read schema; no file rewrite, the Iceberg add-column
    * behavior). */
  def addColumns(cols: Seq[StructField]): Unit = {
    val b = captureBase()
    val cur = StructType.fromDDL(b.meta.schemaDdl)
    val existing = cur.fieldNames.map(_.toLowerCase).toSet
    cols.foreach { f =>
      requireUndotted(f.name, "column")
      require(!existing(f.name.toLowerCase),
        s"column ${f.name} already exists in $name")
    }
    // A new column whose name collides with a physical name still
    // present in data files — either a renamed column's file-side name
    // or a DROPPED column's lingering bytes — takes a fresh physical
    // name instead (the Iceberg field-id re-add semantics): old files
    // read as NULL for it, they never resurrect foreign bytes.
    val physInUse = cur.fieldNames
      .map(n => physName(b.meta.physicalNames)(n).toLowerCase).toSet
    val retired = b.meta.retiredPhysicalNames.map(_.toLowerCase).toSet
    val taken = scala.collection.mutable.Set.empty[String] ++
      physInUse ++ retired ++ existing
    var mapping = b.meta.physicalNames
    cols.foreach { f =>
      if (taken(f.name.toLowerCase)) {
        val fresh = Iterator.from(2).map(k => s"${f.name}_$k")
          .find(c => !taken(c.toLowerCase)).get
        taken += fresh.toLowerCase
        mapping += (f.name -> fresh)
      } else taken += f.name.toLowerCase
    }
    val next = StructType(cur.fields ++ cols.map(_.copy(nullable = true)))
    commitMeta(b, b.meta.copy(schemaDdl = next.toDDL,
      physicalNames = mapping))
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only: the column's physical
    * name (fixed at first write) stays on the files; only the logical
    * name moves, recorded in `physicalNames`. Reads alias physical →
    * logical, writes alias logical → physical, so files from before
    * and after the rename are read under one consistent schema, and
    * time travel resolves names through the mapping recorded on each
    * snapshot. */
  def renameColumn(from: String, to: String): Unit = {
    val b = captureBase()
    val cur = StructType.fromDDL(b.meta.schemaDdl)
    val field = cur.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(s"no such column $from in $name"))
    requireUndotted(field.name, "column")
    requireUndotted(to, "column")
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column $to already exists in $name")
    val phys = physName(b.meta.physicalNames)(field.name)
    val othersPhys = cur.fieldNames.filterNot(_ == field.name)
      .map(n => physName(b.meta.physicalNames)(n).toLowerCase).toSet
    require(!othersPhys(to.toLowerCase),
      s"column name $to collides with the physical name of another " +
        s"column in $name")
    val next = StructType(cur.fields.map(f =>
      if (f.name == field.name) f.copy(name = to) else f))
    // nested mapping keys are LOGICAL paths — a parent rename re-keys
    // its subfield entries so "old.sub" → "new.sub" keeps resolving
    val rekeyed = b.meta.physicalNames.map {
      case (l, p) if l.startsWith(field.name + ".") =>
        (to + l.stripPrefix(field.name), p)
      case kv => kv
    }
    val mapping = (rekeyed - field.name + (to -> phys))
      .filter { case (l, p) => l != p } // renamed back: drop identity
    // renamed clustering columns must follow in the SAME commit, or
    // every later append fails range-clustering on a stale name
    // (transform fields rename their underlying column in place)
    val props = b.meta.properties.get(ClusterProp) match {
      case Some(spec) => b.meta.properties + (ClusterProp ->
        ClusterSpec.render(ClusterSpec.parseList(spec).map(f =>
          if (f.column.equalsIgnoreCase(field.name)) f.withColumn(to)
          else f)))
      case None => b.meta.properties
    }
    commitMeta(b, b.meta.copy(schemaDdl = next.toDDL,
      physicalNames = mapping, properties = props))
  }

  /** ALTER TABLE ALTER COLUMN TYPE — metadata-only widening promotion
    * (int→long, float→double, …): existing narrow files read as the
    * wide type through the parquet reader's widening support; new
    * files write wide. Narrowing or incompatible changes are rejected
    * — they would corrupt reads of existing data. Stats stay
    * comparable because the manifest stat space ("long"/"double"
    * strings) is already wider than the column types. */
  def widenColumn(column: String, to: DataType): Unit = {
    val b = captureBase()
    val cur = StructType.fromDDL(b.meta.schemaDdl)
    val field = cur.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(s"no such column $column in $name"))
    val ok = (field.dataType, to) match {
      case (a, b2) if a == b2 => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
    require(ok, s"unsupported type change for $column: " +
      s"${field.dataType.simpleString} -> ${to.simpleString} " +
      "(only widening promotions are metadata-safe)")
    // bucket(n,col) hashing is TYPE-SENSITIVE (Spark murmur3 hashes
    // int 5 and long 5L differently, unlike Iceberg's spec hash):
    // widening a bucketed column would silently invalidate every
    // file's recorded bucket stat — equality pruning and bucket-local
    // reads would both go wrong on existing data. Refuse; the caller
    // must drop the bucket clustering (and rely on compaction to
    // restat) before widening.
    if (field.dataType != to)
      clusterFields.getOrElse(Nil).collect {
        case bf: BucketField if bf.column.equalsIgnoreCase(column) => bf
      }.foreach(bf => throw new IllegalArgumentException(
        s"cannot widen $column while it is clustered ${bf.spec}: " +
          "bucket hashing is type-sensitive and existing files' " +
          "bucket stats would become wrong; drop the bucket " +
          "clustering first"))
    val next = StructType(cur.fields.map(f =>
      if (f.name == field.name) f.copy(dataType = to) else f))
    commitMeta(b, b.meta.copy(schemaDdl = next.toDDL))
  }

  /** ALTER TABLE DROP COLUMN — metadata-only: the column disappears
    * from the read schema; bytes in existing files are simply never
    * read again (compaction rewrites them away). Refused when an
    * equality delete still matches on the column — dropping it would
    * break delete application. Renames go through [[renameColumn]],
    * which keeps the file-side (physical) name stable. */
  def dropColumns(names: Seq[String]): Unit = {
    val b = captureBase()
    val cur = StructType.fromDDL(b.meta.schemaDdl)
    val lower = names.map(_.toLowerCase).toSet
    names.foreach(n => require(
      cur.fieldNames.exists(_.equalsIgnoreCase(n)),
      s"no such column $n in $name"))
    require(cur.fields.count(f => !lower(f.name.toLowerCase)) > 0,
      s"cannot drop every column of $name")
    // equalityColumns are stored under PHYSICAL names — compare there
    val eqCols = b.entries.filter(_.content == 2)
      .flatMap(_.equalityColumns).map(_.toLowerCase).toSet
    names.foreach(n => require(
      !eqCols(physName(b.meta.physicalNames)(
        cur.fieldNames.find(_.equalsIgnoreCase(n)).getOrElse(n))
        .toLowerCase),
      s"cannot drop $n: an equality-delete file matches on it " +
        "(rewrite data files first)"))
    val next = StructType(cur.fields.filterNot(f =>
      lower(f.name.toLowerCase)))
    // purge the dropped columns' keys INCLUDING their nested
    // "parent.sub" entries — a stale nested key would rebind to a
    // later same-named struct and read the wrong physical leaf.
    // The purge set is built from the SCHEMA (the dropped struct's
    // actual subfields), never by splitting keys on '.' — precise
    // ownership even though dotted top-level names are refused at
    // create/addColumns (belt and braces with requireUndotted).
    val purged: Set[String] = names.flatMap { n =>
      val f = cur.fields.find(_.name.equalsIgnoreCase(n)).get
      f.name.toLowerCase +:
        descendantKeys(f.name, f.dataType).map(_.toLowerCase)
    }.toSet
    val mapping = b.meta.physicalNames.filter { case (l, _) =>
      !purged(l.toLowerCase) }
    // retire the dropped columns' physical names: their bytes linger
    // in old files, so a same-named ADD COLUMN must not rebind to them
    val newlyRetired = cur.fields.toSeq
      .filter(f => lower(f.name.toLowerCase))
      .map(f => physName(b.meta.physicalNames)(f.name))
    // A dropped column must also leave `write.clustered-by` in the SAME
    // metadata commit — otherwise every later append fails trying to
    // range-cluster on a column that no longer exists, and (since UNSET
    // is the only other way out) the table would be wedged.
    val props = b.meta.properties.get(ClusterProp) match {
      case Some(spec) =>
        val kept = ClusterSpec.parseList(spec)
          .filter(f => !lower(f.column.toLowerCase))
        if (kept.isEmpty) b.meta.properties - ClusterProp
        else b.meta.properties + (ClusterProp -> ClusterSpec.render(kept))
      case None => b.meta.properties
    }
    commitMeta(b, b.meta.copy(schemaDdl = next.toDDL,
      physicalNames = mapping, properties = props,
      retiredPhysicalNames =
        (b.meta.retiredPhysicalNames ++ newlyRetired).distinct))
  }

  /** Resolve a STRUCT path ("a", "a.b", "a.b.c", … — any depth) for
    * nested ALTERs: returns the path's CANONICAL segments (schema
    * spelling, for minting mapping keys) and the struct type at the
    * path. Refuses loudly when any segment is missing or non-struct
    * (Iceberg evolves nested structs at arbitrary depth; so do we
    * since r14 — r13 stopped at one level). */
  private def structPath(cur: StructType,
      parent: String): (Seq[String], StructType) = {
    var canonical = Vector.empty[String]
    var st: StructType = cur
    parent.split('.').foreach { seg =>
      val f = st.fields.find(_.name.equalsIgnoreCase(seg)).getOrElse(
        throw new IllegalArgumentException(
          s"no such column ${(canonical :+ seg).mkString(".")} in $name"))
      f.dataType match {
        case s2: StructType => st = s2; canonical :+= f.name
        case other => throw new UnsupportedOperationException(
          "nested ALTER requires a STRUCT column; " +
            s"${(canonical :+ f.name).mkString(".")} is " +
            other.simpleString)
      }
    }
    (canonical, st)
  }

  /** Rebuild the table schema with `nextSt` substituted at struct
    * path `segs` (canonical spellings from [[structPath]]). */
  private def withStructAt(cur: StructType, segs: Seq[String],
      nextSt: StructType): StructType = segs match {
    case head +: rest =>
      StructType(cur.fields.map { f =>
        if (f.name == head) {
          if (rest.isEmpty) f.copy(dataType = nextSt)
          else f.copy(dataType = withStructAt(
            f.dataType.asInstanceOf[StructType], rest, nextSt))
        } else f
      })
    case _ => nextSt
  }

  /** ALTER TABLE ADD COLUMNS (parent.sub TYPE) — metadata-only nested
    * evolution: the subfield joins the struct's read schema; files
    * written before the change read it as NULL (explicit-read-schema
    * missing-subfield semantics, the same deal as top-level ADD). The
    * resurrect guard is per-struct: a re-added subfield whose name
    * matches bytes still present in old files (a DROPPED subfield's
    * physical leaf, or another subfield's file-side name) takes a
    * fresh physical leaf name via the nested mapping. */
  def addNestedColumn(parent: String, field: StructField): Unit = {
    val b = captureBase()
    val cur = StructType.fromDDL(b.meta.schemaDdl)
    val (segs, st) = structPath(cur, parent)
    segs.foreach(requireUndotted(_, "struct column"))
    requireUndotted(field.name, "subfield")
    val path = segs.mkString(".")
    require(!st.fieldNames.exists(_.equalsIgnoreCase(field.name)),
      s"column $path.${field.name} already exists in $name")
    val m = b.meta.physicalNames
    val physParent = physPath(m)(segs)
    val taken = st.fieldNames.flatMap(n0 => Seq(n0.toLowerCase,
        physSub(m)(path, n0).toLowerCase)).toSet ++
      b.meta.retiredPhysicalNames
        .filter(_.startsWith(physParent + "."))
        .map(_.stripPrefix(physParent + ".").toLowerCase)
    val mapping =
      if (taken(field.name.toLowerCase)) {
        val fresh = Iterator.from(2).map(k => s"${field.name}_$k")
          .find(c => !taken(c.toLowerCase)).get
        m + (s"$path.${field.name}" -> fresh)
      } else m
    val nextSt = StructType(st.fields :+ field.copy(nullable = true))
    commitMeta(b, b.meta.copy(
      schemaDdl = withStructAt(cur, segs, nextSt).toDDL,
      physicalNames = mapping))
  }

  /** ALTER TABLE RENAME COLUMN parent.sub TO newName — metadata-only:
    * the physical leaf name stays on the files, the nested mapping
    * records the new logical path, and reads come back through a
    * positional struct cast. Time travel across the rename resolves
    * through the mapping recorded on each snapshot, like top-level
    * renames. */
  def renameNestedColumn(parent: String, from: String, to: String): Unit = {
    val b = captureBase()
    val cur = StructType.fromDDL(b.meta.schemaDdl)
    val (segs, st) = structPath(cur, parent)
    val path = segs.mkString(".")
    val sf = st.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(
        s"no such column $path.$from in $name"))
    segs.foreach(requireUndotted(_, "struct column"))
    requireUndotted(sf.name, "subfield")
    requireUndotted(to, "subfield")
    require(!st.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column $path.$to already exists in $name")
    val m = b.meta.physicalNames
    val phys = physSub(m)(path, sf.name)
    val othersPhys = st.fieldNames.filterNot(_ == sf.name)
      .map(n0 => physSub(m)(path, n0).toLowerCase).toSet
    require(!othersPhys(to.toLowerCase),
      s"column name $to collides with the physical name of another " +
        s"subfield of $path in $name")
    val nextSt = StructType(st.fields.map(f0 =>
      if (f0.name == sf.name) f0.copy(name = to) else f0))
    // a renamed STRUCT subfield re-keys its descendant entries so
    // "path.from.x" → "path.to.x" keeps resolving (same contract as
    // top-level renameColumn's prefix re-key)
    val oldKey = s"$path.${sf.name}"
    val rekeyed = m.map {
      case (l, p) if l.startsWith(oldKey + ".") =>
        (s"$path.$to" + l.stripPrefix(oldKey), p)
      case kv => kv
    }
    val dropped = rekeyed - oldKey
    val mapping = // renamed back to its physical leaf: drop identity
      if (to == phys) dropped
      else dropped + (s"$path.$to" -> phys)
    commitMeta(b, b.meta.copy(
      schemaDdl = withStructAt(cur, segs, nextSt).toDDL,
      physicalNames = mapping))
  }

  /** ALTER TABLE DROP COLUMN parent.sub — metadata-only: the subfield
    * leaves the read schema, its bytes linger in old files, and its
    * physical leaf retires under the parent's physical path so a
    * same-named re-ADD can never resurrect them. */
  def dropNestedColumn(parent: String, sub: String): Unit = {
    val b = captureBase()
    val cur = StructType.fromDDL(b.meta.schemaDdl)
    val (segs, st) = structPath(cur, parent)
    val path = segs.mkString(".")
    val sf = st.fields.find(_.name.equalsIgnoreCase(sub)).getOrElse(
      throw new IllegalArgumentException(
        s"no such column $path.$sub in $name"))
    require(st.fields.length > 1,
      s"cannot drop the only subfield of $path " +
        "(drop the column itself)")
    val m = b.meta.physicalNames
    val physParent = physPath(m)(segs)
    val phys = physSub(m)(path, sf.name)
    val nextSt = StructType(st.fields.filterNot(_.name == sf.name))
    // purge the dropped subfield's key AND its descendants (a dropped
    // nested STRUCT's stale keys would rebind to a later same-named
    // struct) — schema-driven, same contract as dropColumns
    val purged = (s"$path.${sf.name}" +:
      descendantKeys(s"$path.${sf.name}", sf.dataType)).toSet
    commitMeta(b, b.meta.copy(
      schemaDdl = withStructAt(cur, segs, nextSt).toDDL,
      physicalNames = m.filter { case (l, _) => !purged(l) },
      retiredPhysicalNames = (b.meta.retiredPhysicalNames :+
        s"$physParent.$phys").distinct))
  }

  /** ALTER TABLE ALTER COLUMN parent.sub TYPE — the same
    * metadata-only widening matrix as [[widenColumn]], applied to a
    * struct subfield: narrow leaves in old files read wide through
    * the parquet reader's promotion. */
  def widenNestedColumn(parent: String, sub: String, to: DataType): Unit = {
    val b = captureBase()
    val cur = StructType.fromDDL(b.meta.schemaDdl)
    val (segs, st) = structPath(cur, parent)
    val path = segs.mkString(".")
    val sf = st.fields.find(_.name.equalsIgnoreCase(sub)).getOrElse(
      throw new IllegalArgumentException(
        s"no such column $path.$sub in $name"))
    val ok = (sf.dataType, to) match {
      case (a, b2) if a == b2 => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
    require(ok, s"unsupported type change for $path.$sub: " +
      s"${sf.dataType.simpleString} -> ${to.simpleString} " +
      "(only widening promotions are metadata-safe)")
    // same type-sensitive bucket-hash guard as widenColumn: a spec may
    // name the nested path, and stale bucket stats would mis-prune
    if (sf.dataType != to)
      clusterFields.getOrElse(Nil).collect {
        case bf: BucketField
          if bf.column.equalsIgnoreCase(s"$path.${sf.name}") => bf
      }.foreach(bf => throw new IllegalArgumentException(
        s"cannot widen $path.$sub while it is clustered " +
          s"${bf.spec}: bucket hashing is type-sensitive and existing " +
          "files' bucket stats would become wrong; drop the bucket " +
          "clustering first"))
    val nextSt = StructType(st.fields.map(f0 =>
      if (f0.name == sf.name) f0.copy(dataType = to) else f0))
    commitMeta(b, b.meta.copy(
      schemaDdl = withStructAt(cur, segs, nextSt).toDDL))
  }

  /** Iceberg's write-audit-publish session conf: while
    * `spark.wap.branch` is set, plain reads and DML on this table
    * target that branch — unmodified SQL and pipelines stage their
    * writes for audit with zero code changes, then `fastForward`
    * publishes. Explicit `…OnBranch` / time-travel calls override the
    * conf; the branch is auto-created from the current head on the
    * first routed write (Iceberg's wap.branch contract). */
  private def wapBranch: Option[String] =
    Option(spark.conf.get("spark.wap.branch", null))
      .map(_.trim).filter(_.nonEmpty)
      // "main" IS the published head (Iceberg's default branch): wap
      // routing to it is a plain publish, never a staged ref — without
      // this, resolveBranch would auto-create a ref named "main" that
      // SHADOWS the head for every later branch=main read
      .filter(_ != "main")

  /** Effective DML target: an explicit branch wins over the session
    * conf; a conf-routed branch is created on first use. Two racing
    * writers can both observe the branch missing — the auto-create
    * loser (version conflict or "already exists") proceeds as long as
    * the ref now exists as a branch, since either winner created the
    * same thing. An explicit "main" is the published head itself
    * (never a stored ref — createRef reserves it), so writes naming
    * it commit to the head exactly like Iceberg's writable default
    * branch, instead of falling into branchHead's "unknown branch". */
  private def resolveBranch(explicit: Option[String]): Option[String] =
    // explicit Some("main") must NOT fall through to wap routing: it
    // pins the head even while spark.wap.branch is set
    if (explicit.contains("main")) None
    else explicit.orElse(wapBranch.map { br =>
      if (!meta.refs.contains(br)) {
        try createBranch(br)
        catch {
          case e: Exception =>
            val now = meta.refs.get(br)
            if (!now.exists(_.refType == "branch")) throw e
        }
      }
      br
    })

  def currentSnapshot: Option[SnapshotMeta] = headOf(meta)

  /** The head snapshot `m` records, resolved within that ONE metadata
    * version: a second `meta` read could land after a commit plus an
    * expiry and miss the head id the first read returned. */
  private def headOf(m: TableMeta): Option[SnapshotMeta] =
    m.currentSnapshotId.flatMap(id => m.snapshots.find(_.snapshotId == id))

  def snapshotOrFail(id: Long): SnapshotMeta = snapshotIn(meta, id)

  private def snapshotIn(m: TableMeta, id: Long): SnapshotMeta =
    m.snapshots.find(_.snapshotId == id).getOrElse(
      throw new IllegalArgumentException(
        s"Cannot find snapshot with ID $id (expired or never existed)"))

  def manifestOf(s: SnapshotMeta): Seq[ManifestEntry] =
    manifestCache.computeIfAbsent(s.manifestList,
      _ => segmentsOf(s).flatMap(r => segmentEntries(r.path)))

  /** The snapshot's manifest segments (empty for an empty table). */
  private[lake] def segmentsOf(s: SnapshotMeta): Seq[ManifestSegmentRef] =
    listDocCache.computeIfAbsent(s.manifestList, rel =>
      Json.readManifestList(root.resolve(rel)))

  /** Segment-file parses (cache misses) — test instrumentation that
    * lets specs prove an append's commit reads ZERO parent
    * segments (O(delta) driver work, not O(table files)). */
  private[lake] val segmentLoads = new java.util.concurrent.atomic.AtomicLong

  private def segmentEntries(rel: String): Seq[ManifestEntry] =
    segmentCache.computeIfAbsent(rel, r => {
      segmentLoads.incrementAndGet()
      Json.readManifest(Files.readString(root.resolve(r)))
    })

  /** Every metadata file a snapshot's manifest reaches (root-relative):
    * the list itself plus its segments — the unit expiry and orphan
    * scans reason over. */
  private def manifestFilesOf(s: SnapshotMeta): Seq[String] =
    s.manifestList +: segmentsOf(s).map(_.path)

  /** Entries reachable from these snapshots, walked by DISTINCT
    * segment — shared segments parse and traverse once, so the whole-
    * log sweeps (expiry reachability, orphan reference sets, all_files)
    * cost O(unique segments × entries), not O(snapshots × files). */
  private def entriesAcross(snaps: Seq[SnapshotMeta]): Seq[ManifestEntry] =
    snaps.flatMap(s => segmentsOf(s).map(_.path)).distinct
      .flatMap(segmentEntries)

  private def currentEntries: Seq[ManifestEntry] =
    currentSnapshot.map(manifestOf).getOrElse(Nil)

  private def abs(entry: ManifestEntry): String =
    root.resolve(entry.path).toAbsolutePath.toString

  /** (absolute path, size) pair for the manifest-backed scan — the
    * size the manifest committed, so plan time touches no filesystem. */
  private def absSized(entry: ManifestEntry): (String, Long) =
    (abs(entry), entry.fileSizeBytes)

  /** Publish metadata version `base.version + 1` with optimistic
    * concurrency: vN is immutable, so publishing it fail-if-exists
    * (through the pluggable CommitProvider) detects ANY writer that
    * committed after `base` was captured — including one that landed
    * while this operation's Spark write jobs were running. The loser
    * must re-read the table and retry; only the winner advances the
    * pointer. `trimHistory` (the last commit of a permanent erase,
    * [[expireSnapshotsErasing]]) cuts the metadata log down to this
    * version and deletes every older version file: they still carry
    * the erased values' NDV-sketch hashes. */
  private def commitMeta(base: Base, m: TableMeta,
      trimHistory: Boolean = false): Unit = {
    val v = base.version + 1
    val file = s"v$v.metadata.json"
    // Iceberg metadata-version retention: with delete-after-commit
    // enabled, only the newest previous-versions-max version files
    // survive a commit, and the metadata-log is trimmed to match so
    // the published metadata never references a deleted file. Current
    // state is fully self-contained (snapshots + manifests live in
    // the CURRENT metadata), so time travel and the metadata tables
    // are unaffected; only the metadata_log_entries relation shrinks,
    // exactly as in Iceberg.
    val deleteOld = m.properties.getOrElse(
      "write.metadata.delete-after-commit.enabled", "false").toBoolean
    val keep = m.properties.getOrElse(
      "write.metadata.previous-versions-max", "100").toInt.max(1)
    val entry = MetadataLogEntry(now(), s"metadata/$file")
    val fullLog = m.metadataLog :+ entry
    val logged = m.copy(metadataLog =
      if (trimHistory) Seq(entry)
      else if (deleteOld) fullLog.takeRight(keep + 1)
      else fullLog)
    if (!commit.publishNew(metadataDir.resolve(file), Json.write(logged)))
      throw new java.util.ConcurrentModificationException(
        s"commit conflict on $name: metadata v$v was published by " +
          "another writer; re-read the table and retry the operation")
    // Retention RECYCLES commit tokens: once old version files are
    // deleted, a slow writer whose expected v+1 was already swept
    // wins publishNew on a stale token — and overwriting the hint
    // would ROLL THE TABLE BACK to its base. The token win is only
    // valid while the hint still sits at our base version (owning
    // v+1 blocks legitimate writers from advancing past base, so any
    // other hint value proves recycling); otherwise undo the stale
    // publish and surface the conflict.
    if (version != base.version) {
      Files.deleteIfExists(metadataDir.resolve(file))
      throw new java.util.ConcurrentModificationException(
        s"commit conflict on $name: version token v$v was recycled by " +
          "metadata retention while this operation ran; re-read the " +
          "table and retry the operation")
    }
    commit.overwrite(hintFile, v.toString)
    // the hint now names v, so no version below it is current; a slow
    // writer that then wins a deleted token hits the guard above
    if (trimHistory)
      Io.listRecursive(metadataDir).filter(p =>
        metadataVersionOf(p).exists(_ < v)).foreach(Files.deleteIfExists(_))
    else if (deleteOld) {
      // walk down from the newest version that just fell out of the
      // window and stop at the first gap — incremental O(1) per commit
      // once steady, and the walk clears any pre-enable backlog once
      var k = v - keep - 1
      while (k >= 0 && Files.deleteIfExists(
          metadataDir.resolve(s"v$k.metadata.json"))) k -= 1
    }
  }

  /** N of a `vN.metadata.json` version file; None for any other file
    * (the version hint, manifest lists, segments). */
  private def metadataVersionOf(p: Path): Option[Long] = {
    val nm = p.getFileName.toString
    if (nm.matches("v\\d+\\.metadata\\.json"))
      Some(nm.stripPrefix("v").stripSuffix(".metadata.json").toLong)
    else None
  }

  // ---- commit ----

  /** Write one immutable entry segment and return its reference. */
  private def writeSegment(id: Long,
      entries: Seq[ManifestEntry]): ManifestSegmentRef = {
    val rel = s"metadata/seg-$id-${UUID.randomUUID()}.json"
    val target = root.resolve(rel)
    Io.atomicWrite(target, Json.write(entries))
    segmentCache.put(rel, entries)
    ManifestSegmentRef(rel, id, entries.size,
      entries.count(_.content == 0), entries.count(_.content != 0),
      entries.filter(_.content == 0).map(_.recordCount).sum,
      Files.size(target),
      minPath = if (entries.isEmpty) None else Some(entries.map(_.path).min),
      maxPath = if (entries.isEmpty) None else Some(entries.map(_.path).max))
  }

  /** Eagerly delete segment files written DURING this commit attempt
    * that the final ref list does not reference (a merge bin folded
    * them, or the commit refused) — they are unpublished this-attempt
    * files no snapshot can reach, so deleting them saves metadata-dir
    * litter the orphan sweep would otherwise carry until its age
    * window passes. Best-effort: a failed delete just leaves an orphan
    * for the sweep. */
  private def dropUnreferenced(written: Seq[String],
      fin: Seq[ManifestSegmentRef]): Unit = {
    val keep = fin.map(_.path).toSet
    for (rel <- written if !keep(rel))
      try Files.deleteIfExists(root.resolve(rel))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Merge-on-commit (Iceberg's `commit.manifest-merge.enabled`,
    * default true): once a commit's manifest list would reference at
    * least `commit.manifests.min-count-to-merge` segments (default
    * 100), ADJACENT small segments (each under
    * `commit.manifests.target-size-bytes`, default 8 MiB) are binned
    * into merged segments — so a long-lived table bounds its segment
    * count automatically instead of waiting for a scheduler to run
    * rewrite_manifests. Adjacency keeps the entry order; amortized
    * cost is the Iceberg deal: most commits write O(delta), every
    * ~min-count-th commit also folds the accumulated small segments
    * once. */
  private def mergeSmallSegments(id: Long,
      refs: Seq[ManifestSegmentRef],
      written: scala.collection.mutable.Builder[String, Seq[String]])
      : Seq[ManifestSegmentRef] = {
    if (!properties.getOrElse("commit.manifest-merge.enabled", "true")
        .toBoolean) return refs
    val minCount = properties
      .getOrElse("commit.manifests.min-count-to-merge", "100").toInt
    if (refs.size < minCount) return refs
    val target = properties
      .getOrElse("commit.manifests.target-size-bytes",
        (8L * 1024 * 1024).toString).toLong
    val out = Seq.newBuilder[ManifestSegmentRef]
    val bin = Seq.newBuilder[ManifestSegmentRef]
    var binBytes = 0L
    def flush(): Unit = {
      val b = bin.result()
      if (b.size > 1) {
        val m = writeSegment(id, b.flatMap(r => segmentEntries(r.path)))
        written += m.path
        out += m
      } else out ++= b
      bin.clear(); binBytes = 0L
    }
    for (r <- refs) {
      if (r.sizeBytes >= target) { flush(); out += r }
      else {
        if (binBytes + r.sizeBytes > target) flush()
        bin += r; binBytes += r.sizeBytes
      }
    }
    flush()
    out.result()
  }

  /** Post-commit table totals (the Iceberg snapshot-summary keys),
    * computed from segment REFS alone — the refs carry entry/record
    * aggregates precisely so summaries never read segment bytes. */
  private def totalsFromRefs(refs: Seq[ManifestSegmentRef])
      : Map[String, String] = Map(
    "total-records" -> refs.map(_.recordCount).sum.toString,
    "total-data-files" -> refs.map(_.dataFileCount).sum.toString,
    "total-delete-files" -> refs.map(_.deleteFileCount).sum.toString)

  /** The one manifest-commit path, onto `branch` (main when None):
    * the new snapshot's manifest is its parent's segments minus the
    * entries whose absolute path is in `removedAbs` (data or delete
    * files), plus `added` in one fresh trailing segment — Iceberg's
    * filter-parent-manifests-and-add commit. Only the parent segments
    * whose carried path bounds can hold a removed path are read; one
    * that lost entries is rewritten with its survivors, every other
    * one is referenced verbatim, so an append reads no parent segment
    * and a 1-file COW on a many-segment table parses one. Driver work
    * and bytes written are O(touched segments + added files), not
    * O(table files). Survivors keep segment order and additions land
    * last. An entry whose stats change under the same path (an
    * ANALYZE restamp) is removed and re-added; [[rewriteManifests]]
    * removes and re-adds every entry, which compacts the list into
    * one segment. A removed path that no bound-admitted segment holds
    * (it never existed, or a bound is wrong) REFUSES the commit before
    * anything is published: a bounds bug can never produce a wrong
    * manifest. `id` is allocated ONCE per operation
    * (nextSnapshotHint) and shared with the added entries'
    * addedSnapshotId — allocating here again would drift by the write
    * job's duration and break all_entries' ADDED-status attribution.
    * Amortized exception, as in Iceberg: once refs reach
    * `commit.manifests.min-count-to-merge`, [[mergeSmallSegments]]
    * folds adjacent small segments (reading just the ones it bins). */
  private def commitDelta(base: Base, id: Long,
      branch: Option[String], op: String, removedAbs: Set[String],
      added: Seq[ManifestEntry],
      summary: Map[String, String],
      metaTweak: TableMeta => TableMeta = identity): SnapshotMeta = {
    val m = base.meta
    val parent = headSnapshot(base, branch)
    val parentRefs = parent.map(segmentsOf).getOrElse(Nil)
    val written = Seq.newBuilder[String]
    // every raw spelling a removed absolute path can have as an
    // entry.path: the absolute string itself (adopted/foreign files)
    // or root-relative (ordinary writes); sorted, so a segment's
    // bound check is one binary search
    val rootPrefix = root.toAbsolutePath.toString + "/"
    val removedRaw: IndexedSeq[String] = removedAbs.toIndexedSeq.flatMap(a =>
      if (a.startsWith(rootPrefix))
        Seq(a, a.stripPrefix(rootPrefix)) else Seq(a)).sorted
    def mayContainRemoved(r: ManifestSegmentRef): Boolean =
      (r.minPath, r.maxPath) match {
        case (Some(lo), Some(hi)) =>
          val i = removedRaw.search(lo).insertionPoint
          i < removedRaw.size && removedRaw(i) <= hi
        case _ => true // ref without bounds: must read
      }
    val found = Set.newBuilder[String]
    val survivedRefs: Seq[ManifestSegmentRef] =
      if (removedAbs.isEmpty) parentRefs
      else parentRefs.flatMap { r =>
        if (!mayContainRemoved(r)) Some(r)
        else {
          val es = segmentEntries(r.path)
          val (removed, survivors) =
            es.partition(e => removedAbs.contains(abs(e)))
          found ++= removed.map(abs)
          if (removed.isEmpty) Some(r)
          else if (survivors.isEmpty) None
          else {
            val w = writeSegment(id, survivors); written += w.path
            Some(w)
          }
        }
      }
    val missing = removedAbs -- found.result()
    if (missing.nonEmpty) {
      dropUnreferenced(written.result(), Nil)
      throw new IllegalStateException(
        s"refusing to commit $op on $name: ${missing.size} removed " +
          s"file(s) are in no parent segment whose path bounds admit " +
          s"them (e.g. ${missing.min}); nothing was published")
    }
    val addedRefs =
      if (added.isEmpty) Nil
      else {
        val r = writeSegment(id, added); written += r.path; Seq(r)
      }
    val refs = mergeSmallSegments(id, survivedRefs ++ addedRefs, written)
    // a merge bin may have folded the just-written added segment —
    // drop this-attempt files the final list does not reference
    dropUnreferenced(written.result(), refs)
    // per-ATTEMPT unique list name: snapshot ids are time-derived, so
    // two same-millisecond racing writers can allocate the same id —
    // with a deterministic snap-<id>.json the loser's pre-publish
    // write would silently overwrite the winner's list (the winner's
    // metadata then points at the loser's file list: lost data). The
    // UUID suffix makes every attempt's list AND segments immutable;
    // losers leave unreferenced files for orphan cleanup.
    val manifestRel = s"metadata/snap-$id-${UUID.randomUUID()}.json"
    Io.atomicWrite(root.resolve(manifestRel),
      Json.write(ManifestListDoc(refs)))
    listDocCache.put(manifestRel, refs)
    val branchSummary = branch.map(br => Map("branch" -> br))
      .getOrElse(Map.empty)
    val snap = SnapshotMeta(id, parent.map(_.snapshotId), now(),
      op, manifestRel,
      summary ++ branchSummary ++ totalsFromRefs(refs),
      schemaDdl = Some(m.schemaDdl),
      physicalNames =
        if (m.physicalNames.isEmpty) None else Some(m.physicalNames))
    commitMeta(base, metaTweak(branch match {
      case None => m.copy(snapshots = m.snapshots :+ snap,
        currentSnapshotId = Some(id))
      case Some(br) => m.copy(snapshots = m.snapshots :+ snap,
        refs = m.refs + (br -> m.refs(br).copy(snapshotId = id)))
    }))
    snap
  }

  // ---- reads ----

  /** Current-snapshot read (ref demo.py:114 `SELECT * FROM pii_data`). */
  def read(): DataFrame = readIn { m =>
    wapBranch.filter(m.refs.contains) match {
      // audit reads see the staged branch state; a conf naming a branch
      // that no write created yet falls back to main (Iceberg behavior)
      case Some(br) => readSnapshot(m, snapshotIn(m, refIdIn(m, br)))
      case None => readEntries(headOf(m).map(manifestOf).getOrElse(Nil),
        StructType.fromDDL(m.schemaDdl), m.physicalNames)
    }
  }

  /** `read` over ONE captured metadata version: the snapshot, the
    * schema and the physical-name mapping all come from `m`, so a
    * commit plus an expiry landing mid-read cannot resolve the head
    * from one version and its schema or manifest from another. When
    * that expiry deleted a manifest the captured version still names,
    * the read starts over from the version published since. */
  private def readIn[A](read: TableMeta => A): A = {
    val b = captureBase()
    try read(b.meta)
    catch {
      case _: java.nio.file.NoSuchFileException if version != b.version =>
        readIn(read)
    }
  }

  /** The table schema as of `snapshotId` (snapshots commit with the
    * schema that was current; pre-evolution metadata falls back to the
    * current schema). */
  def schemaAt(snapshotId: Long): StructType = {
    val m = meta
    schemaOf(m, snapshotIn(m, snapshotId))
  }

  private def schemaOf(m: TableMeta, s: SnapshotMeta): StructType =
    StructType.fromDDL(s.schemaDdl.getOrElse(m.schemaDdl))

  /** Time travel (ref demo.py:261 option("snapshot-id", id)); throws for
    * expired snapshots exactly like the demo shows (demo.py:300-306).
    * Reads with the schema AS OF the snapshot, so columns added later
    * don't appear and columns dropped later still do. */
  def readAt(snapshotId: Long): DataFrame =
    readIn(m => readSnapshot(m, snapshotIn(m, snapshotId)))

  /** Snapshot `s` of `m` with its own schema, through the mapping AS OF
    * that snapshot, so time travel across later renames still reads the
    * right bytes. */
  private def readSnapshot(m: TableMeta, s: SnapshotMeta): DataFrame =
    readEntries(manifestOf(s), schemaOf(m, s),
      s.physicalNames.getOrElse(Map.empty))

  /** Bucket-local (storage-partitioned) read — the shuffle-free join
    * path for tables clustered `bucket(n, key)`: returns a scan whose
    * i-th partition reads EXACTLY bucket i's data files (the same
    * pre-plan file-group assignment stats pruning uses, applied to
    * layout), declared to Catalyst as `HashPartitioning(key, n)` via
    * [[graft.plans.ClaimHashPartitioned]]. The bucket transform is
    * Spark's own shuffle function (pmod(hash(col), n)), so a join of
    * two co-bucketed reads on `key` satisfies both sides' required
    * distribution as-is: EnsureRequirements inserts NO Exchange, only
    * per-partition local sorts. At 100 TB that removes the full-table
    * shuffle of both sides of a fact-fact equi-join; parallelism is n,
    * so pick the bucket count for the cluster, not the laptop.
    *
    * Opt-in and self-vetting: returns None (caller falls back to the
    * ordinary shuffled [[read]]) unless the layout is provable — no
    * delete files (MOR masks would reshape rows), no foreign/imported
    * files without the derived bucket stat, and `key` actually
    * bucket-clustered. Range-clustered appends cut files by row count,
    * not bucket edges, so a file may STRADDLE adjacent buckets; such a
    * file feeds every partition its stat range covers, behind an exact
    * `pmod(hash(key), n) = i` residual filter — boundary files read
    * once per straddled bucket (~2× for range layouts, 1× after a
    * bucket-aligned rewrite), which at scale is noise next to the two
    * table-sized shuffles this path deletes. Requires GraftExtensions
    * (plans the claim).
    */
  /** `splitFactor` (default 1) is the partially-clustered escape hatch
    * for buckets that outgrew their count (Spark SPJ's
    * partially-clustered analog, re-derived for the claim): the read
    * is declared `HashPartitioning(key, n × f)` — literally true,
    * because n divides n·f, so partition j holds exactly the rows with
    * `pmod(hash(key), n·f) = j`, assembled from bucket (j mod n)'s
    * files behind that exact residual filter. Parallelism becomes
    * n × f tasks; the price is reading each bucket's files f times
    * (column-pruned scans — at 100 TB still far cheaper than the two
    * table-sized shuffles this path deletes, and each task now owns
    * 1/f of a bucket's rows). Join sides must use the SAME factor to
    * stay exchange-free (different partition counts co-satisfy the
    * distribution but not each other — Spark shuffles one side). */
  def bucketLocalRead(key: String,
      splitFactor: Int = 1): Option[DataFrame] = {
    // same spark.wap.branch audit routing as read()/readWhere — an
    // audit session must never silently serve main through this path
    val entries = wapBranch.filter(meta.refs.contains) match {
      case Some(br) => manifestOf(snapshotOrFail(refSnapshotId(br)))
      case None => currentEntries
    }
    bucketLocalReadEntries(entries, key, lineage = false, splitFactor)
  }

  /** The bucket field clustering `key`, if any. */
  private[lake] def bucketFieldOf(key: String): Option[BucketField] =
    clusterFields.getOrElse(Nil).collectFirst {
      case b: BucketField if b.column.equalsIgnoreCase(key) => b
    }

  /** [[bucketLocalRead]] over an explicit entry list (a transaction's
    * captured snapshot, a victim-file subset), optionally carrying the
    * (file, position) lineage columns — the MERGE discovery join reads
    * its target this way so only the SOURCE side shuffles. The extra
    * metadata columns don't disturb the layout claim. */
  private[lake] def bucketLocalReadEntries(entries: Seq[ManifestEntry],
      key: String, lineage: Boolean,
      splitFactor: Int = 1): Option[DataFrame] = {
    require(splitFactor >= 1, s"splitFactor must be >= 1, got $splitFactor")
    val bucket = bucketFieldOf(key).getOrElse(return None)
    if (entries.isEmpty || entries.exists(_.content != 0)) return None
    // operational contract (SURVEY D40): the claim fixes read
    // parallelism at n — partition i reads ALL of bucket i, so a
    // bucket's bytes are one task's input no matter how many
    // executors exist. When manifest stats say buckets outgrew the
    // target task size, the fix is re-clustering with a higher bucket
    // count, not a bigger cluster: warn loudly, or — with
    // `spark.graft.bucketLocalJoin.maxBucketBytes` set — refuse and
    // fall back to the ordinary shuffled read (self-vetting, like
    // every other eligibility gate here).
    val perBucketBytes =
      entries.map(_.fileSizeBytes).sum / math.max(1, bucket.n)
    // unparseable values are ignored (the guard just doesn't engage)
    // rather than failing the read — same never-crash contract as the
    // splitFactor conf
    if (spark.conf.getOption("spark.graft.bucketLocalJoin.maxBucketBytes")
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        .exists(perBucketBytes > _)) {
      logWarning(s"bucket-local read of $name refused: " +
        s"~${perBucketBytes >> 20} MiB per bucket across ${bucket.n} " +
        "buckets exceeds spark.graft.bucketLocalJoin.maxBucketBytes; " +
        "falling back to the shuffled read — re-cluster with a higher " +
        "bucket count to restore the shuffle-free path")
      return None
    }
    if (perBucketBytes > BucketBytesWarn)
      logWarning(s"bucket-local read of $name: " +
        s"~${perBucketBytes >> 30} GiB per bucket across ${bucket.n} " +
        "buckets — each bucket is ONE task; re-cluster with a higher " +
        "bucket count to keep task inputs bounded (or set " +
        "spark.graft.bucketLocalJoin.maxBucketBytes to refuse instead)")
    val m = meta.physicalNames
    val statKey = bucket.statKey(physName(m)(key))
    val ranges = entries.map { e =>
      val st = e.stats.getOrElse(statKey, return None)
      (e, st.min.toInt, st.max.toInt)
    }
    val outSchema =
      if (!lineage) schema
      else StructType(schema.fields ++ Seq(
        StructField(GraftTable.FileCol, StringType),
        StructField(GraftTable.PosCol, LongType)))
    // nParts = n × splitFactor; partition j draws on bucket (j mod n)
    // — sound because n divides nParts, so pmod(hash, nParts) = j
    // implies pmod(hash, n) = j mod n
    val nParts = bucket.n * splitFactor
    val slices = (0 until nParts).map { j =>
      val i = j % bucket.n
      val touching = ranges.filter { case (_, lo, hi) => lo <= i && i <= hi }
      if (touching.isEmpty)
        // empty bucket: a 1-partition RDD-backed frame — deliberately
        // NOT a LocalRelation, which PropagateEmptyRelation would fold
        // away and break the partition-index-is-bucket-id invariant
        spark.createDataFrame(
          spark.sparkContext.parallelize(Seq.empty[Row], 1), outSchema)
      else {
        val scan = scanParquet(touching.map(t => absSized(t._1)), schema,
          m, lineage = lineage)
        // exact files (the whole slice is bucket i) skip the residual
        // — only possible at factor 1, where slice j IS bucket i
        val exact = splitFactor == 1 &&
          touching.forall { case (_, lo, hi) => lo == hi }
        if (exact) scan
        else scan.filter(pmod(hash(col(quoted(key))), lit(nParts))
          === j)
      }
    }
    val plans = slices.map(_.queryExecution.analyzed)
    // the claim tracks its key by ATTRIBUTE (child 0 owns the node's
    // output attributes) so later projections can neither hijack the
    // claim by renaming another column to the key's name nor lose it
    // across a legitimate rename
    val keyAttr = plans.head.output.find(_.name.equalsIgnoreCase(key))
    Some(org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
      graft.plans.ClaimHashPartitioned(key, keyAttr, plans)))
  }

  /** Lineage read through the claimed bucket layout when `claimKey`
    * names a provably-clustered column, else the plain lineage read —
    * the self-vetting physical choice shared by MERGE discovery and
    * the claimed DELETE/UPDATE hit-discovery paths. Identical rows
    * either way. */
  private def claimedOr(entries: Seq[ManifestEntry],
      claimKey: Option[String],
      fallback: Seq[ManifestEntry] => DataFrame =
        es => readWithLineage(es)): DataFrame =
    claimKey.flatMap(k => bucketLocalReadEntries(entries, k,
      lineage = true)).getOrElse(fallback(entries))

  /** Stats-pruned read: min/max manifest stats choose the file list
    * before the scan (the Iceberg manifest-pruning analog, SURVEY §4);
    * the predicate is then applied in full inside the scan. */
  def readWhere(pred: Column): DataFrame = readIn { m =>
    // same spark.wap.branch audit routing as read()
    val snap = wapBranch.filter(m.refs.contains) match {
      case Some(br) => Some(snapshotIn(m, refIdIn(m, br)))
      case None => headOf(m)
    }
    val pruned = snap.map(prunedEntriesOf(m, _, _ => pred)).getOrElse(Nil)
    readEntries(pruned, StructType.fromDDL(m.schemaDdl), m.physicalNames)
      .filter(pred)
  }

  /** Runtime join-driven file pruning — the dynamic-partition-pruning
    * / runtime-filtering analog for graft tables: before planning a
    * fact⋈dim join, collect the dim side's (bounded) distinct key set
    * and prune THIS table's manifest to the files whose min/max range
    * — and bucket stat, when the key is bucket-clustered — can contain
    * one of those keys. The IN filter is then also pushed into the
    * parquet scan, so row-group stats and bloom filters bite on
    * whatever files survive. At 100 TB this turns "join the fact
    * against a filtered dim" from a full fact scan into a
    * metadata-decided scan of just the admissible files — the same
    * trick Spark's DPP plays on hive-partitioned tables, decided here
    * from manifest stats so it works for RANGE- and BUCKET-clustered
    * layouts too, not just partition columns.
    *
    * Contract: the returned frame is equivalent to [[read]] ONLY
    * under a subsequent join that keeps just key-matched fact rows
    * (INNER / LEFT SEMI on `keyCol`); rows whose key is absent from
    * `dim` may or may not be present (the over-`maxKeys` fallback
    * returns them all). Do NOT use it as the preserved side of an
    * outer join.
    *
    * Self-vetting: more than `maxKeys` distinct dim keys abandons the
    * collect and returns the plain scan-all read — the shuffled join
    * stays the 100 TB fallback, mirroring how broadcast joins degrade
    * to shuffles past the size threshold. */
  def readForJoin(keyCol: String, dim: DataFrame, dimKeyCol: String,
      maxKeys: Int = 10000): DataFrame = {
    require(schema.fieldNames.exists(_.equalsIgnoreCase(keyCol)),
      s"unknown join key column: $keyCol")
    val collected = dim.select(col(dimKeyCol)).distinct()
      .limit(maxKeys + 1).collect().map(_.get(0))
    // truncation check BEFORE dropping nulls — a null hiding in a
    // truncated batch must not make the set look complete
    if (collected.length > maxKeys) read()
    else {
      val keys = collected.filter(_ != null) // nulls never equi-match
      if (keys.isEmpty) read().where(lit(false))
      else readWhere(col(quoted(keyCol)).isin(keys.toSeq: _*))
    }
  }

  // ---- column NDV statistics (Iceberg compute_table_stats analog) --

  /** ANALYZE: build per-column KMV NDV sketches over the CURRENT live
    * rows and store them in table metadata (the Puffin-NDV analog).
    * `columns` empty = every NDV-eligible column (atomic types;
    * complex/binary types have no NDV space, mirroring their
    * skip-not-prune file stats). Returns logical column → NDV.
    *
    * One distributed pass: every column's 60-bit [[graft.rel.Kmv]]
    * hash explodes into (column, hash) rows, and one
    * [[graft.rel.Kmv.bottomK]] aggregate per column (map-side
    * combined, one shuffle, no buffer over k) keeps the k smallest
    * distinct hashes — the same hash and bottom-k set the oracled KMV
    * queries pin, so the estimator ((k-1)·2^60 div theta) is
    * integer-exact and mergeable. After the ANALYZE, every plain MAIN
    * append folds its new files' hashes in (O(change): the writer
    * hashes each row as it writes it, no extra Spark job); any other
    * row-changing commit (deletes, overwrites, branch appends landing
    * via fast_forward, cherry-picks) flips the `stale` flag `.stats`
    * surfaces, except a permanent [[ErasePii]] erase: its rewrite (a
    * `delete` or `overwrite` commit) refolds the sketches fresh from
    * the committed files' own sketches, and its expiry deletes every
    * older metadata version, so no stored sketch keeps an erased
    * value's hash. While fresh the
    * estimate is the exact-merge value (an upper bound once rows were
    * masked); while stale it may be off in either direction until
    * re-analyzed. Consumers:
    * [[columnNdv]] and the SQL runtime-prune route, which refuses a
    * dim side whose stored NDV already exceeds maxKeys without
    * scanning it. */
  def computeTableStats(columns: Seq[String] = Nil,
      k: Int = 256): Map[String, Long] = {
    require(k >= 2, s"sketch k must be >= 2, got $k")
    val b = captureBase()
    val cur = StructType.fromDDL(b.meta.schemaDdl)
    val chosen =
      if (columns.isEmpty)
        cur.fields.toSeq.filter(f => ndvEligible(f.dataType)).map(_.name)
      else columns.map { c =>
        val f = cur.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(s"unknown column: $c"))
        require(ndvEligible(f.dataType),
          s"column ${f.name} (${f.dataType.simpleString}) has no NDV " +
            "space: complex/binary columns are skip-not-prune")
        f.name
      }
    require(chosen.nonEmpty, "no NDV-eligible columns to analyze")
    val snapId = b.meta.currentSnapshotId.getOrElse(-1L)
    val pn = b.meta.physicalNames
    val entries = if (snapId < 0) Nil else b.entries
    val noDeletes = entries.forall(_.content == 0)
    if (snapId >= 0 && noDeletes && fileNdvEnabled(b.meta) &&
        entries.nonEmpty) {
      // per-file form (r17): ONE scan grouped by (file, column) —
      // the table sketch is the k-smallest union of the per-file
      // bottom-k sets (exact by closure, identical to the flat job)
      // — and a data-neutral `replace` commit rewrites the manifests
      // with each entry's own sketch stamped on, so a LATER
      // file-dropping commit can refold from surviving entries
      // without re-scanning the corpus ([[refoldColumnStats]]).
      // Manifest bytes rewritten are O(file count) — the same cost
      // class as the ANALYZE scan itself. Skipped when live delete
      // files mask rows (per-file raw-byte sketches would overcount;
      // the flat masked-scan form below still serves the table
      // sketch) or when 'stats.file-ndv' opts out.
      val perFile = ndvFileHashJob(b.meta,
        entries.map(abs), chosen, k)
      val newId = nextSnapshotHint
      val sketches = chosen.map { c =>
        val union = perFile.valuesIterator
          .flatMap(_.getOrElse(c, Nil)).toSeq.distinct.sorted.take(k)
        physName(pn)(c) -> NdvSketch(k, union, newId)
      }.toMap
      val stamped = entries.map(
        ndvStampOf(b.meta, entries.map(abs), chosen, perFile, k))
      // a restamped entry is removed and re-added under its path; one
      // whose stamp did not change keeps its segment
      val restamped = entries.zip(stamped).collect {
        case (e, st) if st != e => st }
      commitDelta(b, newId, None, "replace", restamped.map(abs).toSet,
        restamped, Map("operation-origin" -> "analyze",
          "analyzed-columns" -> chosen.mkString(","),
          "stamped-file-sketches" -> stamped.count(_.ndv.nonEmpty)
            .toString),
        metaTweak =
          mm => mm.copy(columnNdv = mm.columnNdv ++ sketches))
      chosen.map(c => c -> GraftTable.ndvEstimate(
        sketches(physName(pn)(c)))).toMap
    } else {
      val hashes =
        if (snapId < 0) Map.empty[String, Seq[Long]]
        else ndvHashJob(readAt(snapId), chosen, k)
      val sketches = chosen.map(c => physName(pn)(c) ->
        NdvSketch(k, hashes.getOrElse(c, Nil), snapId)).toMap
      commitMeta(b, b.meta.copy(columnNdv = b.meta.columnNdv ++ sketches))
      chosen.map(c => c -> GraftTable.ndvEstimate(
        sketches(physName(pn)(c)))).toMap
    }
  }

  /** One consistent (meta, sketch) read for a logical column — the
    * shared lookup under [[columnNdv]]/[[columnNdvIfFresh]], so the
    * rename-aware resolution lives in exactly one place. */
  private def sketchWithMeta(column: String): Option[(TableMeta, NdvSketch)] = {
    val m = meta
    StructType.fromDDL(m.schemaDdl).fields
      .find(_.name.equalsIgnoreCase(column))
      .flatMap(f => m.columnNdv.get(physName(m.physicalNames)(f.name)))
      .map(s => (m, s))
  }

  /** Stored NDV estimate for a logical column, if analyzed. An upper
    * bound whenever `.stats` would report the sketch stale. */
  def columnNdv(column: String): Option[Long] =
    sketchWithMeta(column).map { case (_, s) => GraftTable.ndvEstimate(s) }

  /** Stored NDV estimate, but only while the sketch is FRESH (the
    * exact-merge value). A STALE sketch may be off in EITHER
    * direction, so consumers acting on the estimate WITHOUT a
    * self-vet — the SQL runtime-prune REFUSE direction, which skips
    * the dim probe entirely — must use this form and fall back to
    * their no-stats path on None. (A dim analyzed at 10k keys then
    * mass-deleted to 50 rows would otherwise refuse the prune route
    * forever; the ROUTE direction keeps using [[columnNdv]] because
    * readForJoin's bounded collect self-vets a stale-low estimate.) */
  def columnNdvIfFresh(column: String): Option[Long] =
    sketchWithMeta(column)
      .filter { case (m, s) =>
        !ndvStaleIn(m, s.analyzedSnapshotId, parentIndex(m)) }
      .map { case (_, s) => GraftTable.ndvEstimate(s) }

  /** The `<table>.stats` metadata relation: one row per analyzed
    * column — NDV estimate, sketch shape, the snapshot whose data the
    * sketch last folded, `stale` (true when a row-removing commit
    * landed since, making the estimate an upper bound), and
    * `commits_since_fold` — the staleness AGE in main-lineage
    * commits, so a fleet cron can rank which tables (and columns) to
    * re-ANALYZE first without walking lineage itself. */
  def statsTable: DataFrame = {
    val m = meta
    val pn = m.physicalNames
    val parents = parentIndex(m)
    val rows = StructType.fromDDL(m.schemaDdl).fields.toSeq.flatMap { f =>
      m.columnNdv.get(physName(pn)(f.name)).map { s =>
        Row(f.name, GraftTable.ndvEstimate(s), s.k, s.hashes.size,
          s.analyzedSnapshotId, ndvStaleIn(m, s.analyzedSnapshotId, parents),
          foldAge(m, s.analyzedSnapshotId, parents)._1)
      }
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("ndv", LongType, nullable = false),
      StructField("sketch_k", IntegerType, nullable = false),
      StructField("retained", IntegerType, nullable = false),
      StructField("analyzed_snapshot_id", LongType, nullable = false),
      StructField("stale", BooleanType, nullable = false),
      StructField("commits_since_fold", LongType, nullable = false))))
  }

  /** Staleness age of a sketch's fold point: (main-lineage commits
    * between the fold point and the head, whether the fold point was
    * actually FOUND in the retained walk). `.stats` surfaces the age;
    * the analyze policy compares it against thresholds, treating a
    * not-found fold point (expired out of the lineage, or the empty-
    * table -1 once commits exist) as "at least retained-depth old" —
    * over any threshold. One walk serves both consumers. */
  private def foldAge(m: TableMeta, analyzedId: Long,
      parents: Map[Long, SnapshotMeta]): (Long, Boolean) = {
    var cursor = m.currentSnapshotId
    var cnt = 0L
    while (cursor.isDefined && !cursor.contains(analyzedId)) {
      cnt += 1
      cursor = parents.get(cursor.get).flatMap(_.parentId)
    }
    (cnt, cursor.isDefined ||
      (analyzedId < 0 && m.currentSnapshotId.isEmpty))
  }

  /** snapshotId → snapshot index, built ONCE per caller so each
    * lineage hop in [[foldAge]] and [[ndvStaleIn]] is O(1) instead of
    * a linear `snapshots.find` — `.stats` on a long-lineage,
    * many-column table was quadratic in snapshot count without it. */
  private def parentIndex(m: TableMeta): Map[Long, SnapshotMeta] =
    m.snapshots.iterator.map(s => s.snapshotId -> s).toMap

  /** NDV-eligible = the atomic types file stats also cover; complex
    * and binary columns have no hashable scalar domain worth a
    * sketch (and their file stats already skip-not-prune). */
  private def ndvEligible(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType | BinaryType => false
    case _ => true
  }

  /** A sketch is stale in `m` when any main-lineage commit since its
    * fold point carried rows the fold discipline did not cover:
    * row-REMOVING ops (anything but append / data-neutral replace),
    * appends made ON A BRANCH (summary `branch` — branch appends are
    * never folded; they enter main lineage via fast_forward), and
    * cherry-picks (replayed entries were never folded) all flip it,
    * as does a fold point that expired out of the walk. While FRESH
    * the estimate is the exact-merge value (an upper bound once rows
    * were masked); while STALE it may be off in EITHER direction —
    * consumers must keep their own self-vet (readForJoin does).
    * Takes the meta EXPLICITLY so one statsTable row reads one
    * consistent version (and no per-row metadata re-parse), and the
    * caller's [[parentIndex]] of it so every hop is O(1). */
  private def ndvStaleIn(m: TableMeta, analyzedId: Long,
      parents: Map[Long, SnapshotMeta]): Boolean = {
    // analyzedId = -1 records an ANALYZE of the EMPTY table (no
    // current snapshot existed). That sketch — zero hashes — is
    // exactly right as long as the table still has no row-changing
    // commit; the first plain append's fold then adopts its snapshot
    // as the fold point (ndvFoldTweak). Reporting it stale here would
    // flag an analyze-empty-then-append-only table stale FOREVER and
    // make maintain() re-ANALYZE it on every trip.
    if (analyzedId < 0) return m.currentSnapshotId.isDefined
    var cursor = m.currentSnapshotId
    while (true) cursor match {
      case None => return true // fold point not an ancestor
      case Some(id) if id == analyzedId => return false
      case Some(id) =>
        parents.get(id) match {
          case None => return true // expired mid-walk
          case Some(s) =>
            if ((s.operation != "append" && s.operation != "replace") ||
                s.summary.contains("branch") ||
                s.summary.contains("cherry-picked-snapshot-id"))
              return true
            cursor = s.parentId
        }
    }
    true // unreachable
  }

  /** (column, hash60) rows of `df`, one per column per row. */
  private def ndvHashes(df: DataFrame, logicalCols: Seq[String],
      keep: Column*): DataFrame = {
    val entries = logicalCols.map(c =>
      struct(lit(c).as("c"), graft.rel.Kmv.hash60(col(quoted(c))).as("h")))
    df.select(keep :+ explode(array(entries: _*)).as("e"): _*)
      .select(col("*"), col("e.c").as("c"), col("e.h").as("h")).drop("e")
  }

  /** One distributed (column, hash60) pass over `df`, k smallest
    * DISTINCT hashes per column via one [[graft.rel.Kmv.bottomK]]
    * aggregate: map-side combined, one shuffle. Columns with no
    * non-null value map to an empty list. */
  private def ndvHashJob(df: DataFrame, logicalCols: Seq[String],
      k: Int): Map[String, Seq[Long]] =
    ndvHashes(df, logicalCols)
      .groupBy("c").agg(graft.rel.Kmv.bottomK(col("h"), k))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1))
      .toMap

  /** One distributed (file, column, hash60) pass over `files`' RAW
    * bytes (unmasked — a per-file sketch describes the FILE), k
    * smallest DISTINCT hashes per (file, column) via one
    * [[graft.rel.Kmv.bottomK]] aggregate. Keys are normalized absolute
    * file paths; inner keys are LOGICAL column names. One shuffle
    * regardless of file or column count — the per-file grouping rides
    * the aggregate's grouping key. For files that already exist
    * (ANALYZE, adopted files); files the table writes carry their
    * sketches from the writer ([[writeDataFiles]]). */
  private[lake] def ndvFileHashJob(m: TableMeta, files: Seq[String],
      logicalCols: Seq[String], k: Int)
      : Map[String, Map[String, Seq[Long]]] = {
    val cur = StructType.fromDDL(m.schemaDdl)
    // callers hand local paths, some with no manifest entry yet: one
    // nio stat per file feeds the manifest-backed scan
    val df = scanParquet(
      files.map(p => (p, Files.size(java.nio.file.Paths.get(p)))),
      cur, m.physicalNames, lineage = true)
    ndvHashes(df, logicalCols, col(FileCol).as("f"))
      .groupBy("f", "c").agg(graft.rel.Kmv.bottomK(col("h"), k))
      .collect()
      .groupBy(r => Io.normalize(r.getString(0)))
      .map { case (f, rs) => f ->
        rs.map(r => r.getString(1) -> r.getSeq[Long](2)).toMap }
  }

  /** Per-file sketch stamping is on unless the table opts out ('a
    * million-file table may prefer lean manifests over refold'). */
  private def fileNdvEnabled(m: TableMeta): Boolean =
    m.properties.getOrElse("stats.file-ndv", "true") != "false"

  /** The two halves of an append-side NDV maintenance pass: the meta
    * tweak folding new files into the TABLE sketches, and the entry
    * stamp attaching each new file's OWN sketch to its manifest entry
    * (fuel for [[refoldColumnStats]]). */
  private final case class NdvFold(
      metaTweak: TableMeta => TableMeta,
      stamp: ManifestEntry => ManifestEntry)
  private val ndvFoldIdentity = NdvFold(identity, identity)

  /** Entry stamp attaching per-file sketches for `perFile` (the
    * writer's own, or [[ndvFileHashJob]]'s over `files`) to data
    * entries, keyed physically. Every data entry among `files` gets a
    * sketch for EVERY tracked column — an EMPTY one when no hash came
    * for it (zero-row rewrite output, or an all-null column in
    * that file): empty is that file's correct bottom-k, and skipping
    * the stamp would make one empty file veto a later refold. */
  private def ndvStampOf(m: TableMeta, files: Seq[String],
      tracked: Seq[String],
      perFile: Map[String, Map[String, Seq[Long]]], k: Int)
      : ManifestEntry => ManifestEntry = {
    val pn = m.physicalNames
    val fileSet = files.map(Io.normalize).toSet
    e => {
      val key = Io.normalize(abs(e))
      if (e.content != 0 || !fileSet.contains(key)) e
      else {
        val byCol = perFile.getOrElse(key, Map.empty)
        e.copy(ndv = e.ndv ++ tracked.map(c =>
          physName(pn)(c) -> FileNdv(k, byCol.getOrElse(c, Nil))))
      }
    }
  }

  /** The NDV-tracked columns of `m` and the max stored sketch k —
    * None when the table has no sketches (or none map to current
    * columns). One resolution shared by the fold and stamp paths so
    * they can never diverge on tracked-column or k selection. */
  private def ndvTracked(m: TableMeta)
      : Option[(Seq[StructField], Int)] = {
    if (m.columnNdv.isEmpty) return None
    val pn = m.physicalNames
    val tracked = StructType.fromDDL(m.schemaDdl).fields.toSeq
      .filter(f => m.columnNdv.contains(physName(pn)(f.name)))
    if (tracked.isEmpty) None
    else Some((tracked,
      tracked.map(f => m.columnNdv(physName(pn)(f.name)).k).max))
  }

  /** NDV maintenance for the `written` files' hashes: fold every
    * stored sketch (KMV merge law: k smallest of a distinct union —
    * the table fold is the union of the per-file bottom-k sets, exact
    * by closure) and stamp each new entry with its own file's sketch.
    * Callers invoke it only for PLAIN MAIN appends (appendRaw main
    * path, file imports, rowDelta's insert-only form) — branch appends
    * never fold (ndvStaleIn flips on their branch-summary snapshots
    * when fast_forward brings them to main). The fold point advances to
    * this commit ONLY when the sketch is still fresh under the base
    * meta: folding hashes is always sound (adds only), but advancing
    * past an un-subtracted delete would silently clear the stale
    * flag the delete earned. Identity when never analyzed. The hashes
    * are `written.sketches`: the writer's own per-file bottom-k sets
    * ([[writeDataFiles]] with `sketch`), or one [[ndvFileHashJob]] over
    * files the table did not write. */
  private def ndvFoldTweak(m: TableMeta, written: Written,
      snapId: Long): NdvFold = {
    val newFiles = written.files
    if (newFiles.isEmpty) return ndvFoldIdentity
    val (tracked, kMax) = ndvTracked(m) match {
      case None => return ndvFoldIdentity
      case Some(tk) => tk
    }
    val pn = m.physicalNames
    val cols = tracked.map(_.name)
    val perFile = written.sketches
    val parents = parentIndex(m)
    val folded = tracked.map { f =>
      val phys = physName(pn)(f.name)
      val old = m.columnNdv(phys)
      val fresh = perFile.valuesIterator
        .flatMap(_.getOrElse(f.name, Nil)).toSeq
      val merged = (old.hashes ++ fresh)
        .distinct.sorted.take(old.k)
      phys -> NdvSketch(old.k, merged,
        if (ndvStaleIn(m, old.analyzedSnapshotId, parents))
          old.analyzedSnapshotId
        else snapId)
    }.toMap
    NdvFold(
      mm => mm.copy(columnNdv = mm.columnNdv ++ folded),
      if (fileNdvEnabled(m)) ndvStampOf(m, newFiles, cols, perFile, kMax)
      else identity)
  }

  /** Stamp-ONLY variant for row-removing writers (COW rewrites,
    * compaction): the table sketch cannot subtract, so no meta fold —
    * but the NEW files' own sketches, as the writer took them
    * ([[writeDataFiles]] with `sketch = fileNdvEnabled`), land on
    * their entries, keeping the table refold-eligible after the
    * commit. Identity when the table has no sketches or opted out. */
  private def ndvStampTweak(m: TableMeta, written: Written)
      : ManifestEntry => ManifestEntry = {
    if (written.files.isEmpty || !fileNdvEnabled(m)) return identity
    ndvTracked(m) match {
      case None => identity
      case Some((tracked, kMax)) =>
        ndvStampOf(m, written.files, tracked.map(_.name),
          written.sketches, kMax)
    }
  }

  /** Re-derive the TABLE NDV sketches from the per-file sketches on
    * the current snapshot's live entries — file-count-bounded
    * DRIVER-side metadata work, ZERO Spark jobs, no data scan. This
    * closes KMV's subtract-on-delete gap: after a mass COW delete the
    * stored sketch is a stale upper bound, but the k-smallest union
    * of the SURVIVING files' sketches is exactly what a fresh ANALYZE
    * would compute (bottom-k closure), so the estimate comes back
    * fresh without touching data. Eligible iff the snapshot has no
    * live delete files (masked rows would make per-file sketches
    * overcount) and every live data entry carries a usable sketch for
    * every requested column — usable means stamped at k ≥ the table
    * sketch's k, or COMPLETE (the file held fewer than its stamp-k
    * distinct values). Returns Some(column → NDV) committed fresh at
    * the current head; None when ineligible (callers — maintain()'s
    * analyze policy first among them — fall back to
    * [[computeTableStats]]'s corpus scan). */
  def refoldColumnStats(columns: Seq[String] = Nil)
      : Option[Map[String, Long]] = {
    val b = captureBase()
    val m = b.meta
    val pn = m.physicalNames
    val tracked = ndvTracked(m).toSeq.flatMap(_._1)
      .filter(f => columns.isEmpty ||
        columns.exists(_.equalsIgnoreCase(f.name)))
    if (tracked.isEmpty) return None
    val refolded = ndvRefold(m, b.entries, tracked,
      m.currentSnapshotId.getOrElse(-1L)).getOrElse(return None)
    commitMeta(b, m.copy(columnNdv = m.columnNdv ++ refolded))
    Some(tracked.map(f => f.name -> GraftTable.ndvEstimate(
      refolded(physName(pn)(f.name)))).toMap)
  }

  /** The refold rule behind [[refoldColumnStats]]: `tracked`'s table
    * sketches (keyed physically) re-derived from `entries`' per-file
    * sketches, folded at snapshot `at`. None when `entries` has a
    * delete file or a data entry without a usable sketch. */
  private def ndvRefold(m: TableMeta, entries: Seq[ManifestEntry],
      tracked: Seq[StructField], at: Long)
      : Option[Map[String, NdvSketch]] = {
    if (entries.exists(_.content != 0)) return None
    // zero-row files are trivially covered: they contribute no hashes
    val data = entries.filter(e => e.content == 0 && e.recordCount > 0)
    if (!data.forall(ndvCovers(m, tracked))) return None
    Some(tracked.map { f =>
      val phys = physName(m.physicalNames)(f.name)
      val old = m.columnNdv(phys)
      phys -> NdvSketch(old.k,
        data.flatMap(_.ndv(phys).hashes).distinct.sorted.take(old.k), at)
    }.toMap)
  }

  /** Whether data entry `e` carries a usable sketch for every `tracked`
    * column: stamped at k ≥ the table sketch's k, or COMPLETE (the file
    * held fewer than its stamp-k distinct values). A zero-row file is
    * covered by its emptiness. */
  private def ndvCovers(m: TableMeta, tracked: Seq[StructField])(
      e: ManifestEntry): Boolean =
    e.recordCount == 0 || tracked.forall { f =>
      val phys = physName(m.physicalNames)(f.name)
      e.ndv.get(phys).exists(fn =>
        fn.k >= m.columnNdv(phys).k || fn.hashes.size < fn.k)
    }

  /** NDV upkeep for a permanent erase ([[ErasePii]]), applied inside
    * the erase's commit: the table sketches may still hold the erased
    * values' hashes, so they refold from `entries` (the committed
    * snapshot: kept files with their stamps, rewritten files freshly
    * stamped, no delete file) at `at`; when a refold is not possible
    * (per-file stamping off), the `erased` columns' sketches are
    * dropped instead. Identity on a table without sketches. */
  private def ndvEraseTweak(m: TableMeta, erased: Seq[String],
      entries: => Seq[ManifestEntry], at: Long): TableMeta => TableMeta =
    ndvTracked(m) match {
      case None => identity
      case Some((tracked, _)) =>
        ndvRefold(m, entries, tracked, at) match {
          case Some(refolded) =>
            mm => mm.copy(columnNdv = mm.columnNdv ++ refolded)
          case None =>
            val drop = tracked
              .filter(f => erased.exists(_.equalsIgnoreCase(f.name)))
              .map(f => physName(m.physicalNames)(f.name))
            mm => mm.copy(columnNdv = mm.columnNdv -- drop)
        }
    }

  /** Incremental changelog (CDC) read — the Iceberg
    * `create_changelog_view` semantics: every row change committed in
    * `(fromExclusive, toInclusive]`, tagged with `_change_type`
    * ('insert' | 'delete'), `_change_ordinal` (position of the commit
    * within the range), and `_commit_snapshot_id`. Like Iceberg's
    * non-net changelog, a copy-on-write rewrite emits delete+insert
    * for every row of the rewritten files (including carried rows),
    * while data-neutral `replace` snapshots (compaction, delete-file
    * rewrite) emit nothing. All reads use the CURRENT table schema.
    *
    * Scale: each commit's slice plans over only the files that commit
    * touched — added files scan directly; removed files scan with the
    * parent's delete masks applied; position-delete commits scan only
    * the data files the delete files reference. Nothing ever reads the
    * whole table, so changelog cost tracks change volume, not table
    * size. */
  /** Main-lineage snapshot ids strictly after `fromExclusive`, oldest
    * first, ending at the current head — the ancestry walk `changes`
    * performs, exposed so a rate-limited streaming reader can cap a
    * micro-batch at its Nth pending commit instead of jumping straight
    * to head. Empty when there is no head or nothing is pending;
    * throws (like `changes`) if `fromExclusive` is not an ancestor. */
  def lineageAfter(fromExclusive: Option[Long]): Seq[Long] = {
    val snaps = meta.snapshots
    val endId = meta.currentSnapshotId.getOrElse(return Nil)
    if (fromExclusive.contains(endId)) return Nil
    var chain = List.empty[Long]
    var cursor: Option[Long] = Some(endId)
    while (true) cursor match {
      case None =>
        if (fromExclusive.isDefined)
          throw new IllegalArgumentException(
            s"snapshot ${fromExclusive.get} is not an ancestor of " +
              s"$endId")
        return chain
      case Some(id) if fromExclusive.contains(id) => return chain
      case Some(id) =>
        val s = snaps.find(_.snapshotId == id).getOrElse(
          throw new IllegalStateException(
            s"cannot walk lineage: snapshot $id expired"))
        chain = id :: chain
        cursor = s.parentId
    }
    chain
  }

  def changes(fromExclusive: Option[Long] = None,
      toInclusive: Option[Long] = None): DataFrame = {
    val snaps = meta.snapshots
    val metaCols = Seq(col("_change_type"), col("_change_ordinal"),
      col("_commit_snapshot_id"))
    val emptyOut = emptyDf
      .withColumn("_change_type", lit(null).cast("string"))
      .withColumn("_change_ordinal", lit(null).cast("int"))
      .withColumn("_commit_snapshot_id", lit(null).cast("long"))
    // Walk the ANCESTRY of the end snapshot (default: the current
    // head), not the raw snapshot list: commits staged on unpublished
    // branches and commits orphaned by a rollback are not lineage and
    // must not emit change rows. After a branch publishes
    // (fastForward), its commits ARE the head's ancestry and appear.
    val endId = toInclusive.orElse(meta.currentSnapshotId)
      .getOrElse(return emptyOut)
    for (id <- fromExclusive ++ toInclusive)
      if (!snaps.exists(_.snapshotId == id))
        throw new IllegalArgumentException(
          s"Cannot find snapshot with ID $id (expired or never existed)")
    var chain = List.empty[SnapshotMeta]
    var cursor: Option[Long] = Some(endId)
    var done = false
    while (!done) cursor match {
      case None =>
        if (fromExclusive.isDefined)
          throw new IllegalArgumentException(
            s"snapshot ${fromExclusive.get} is not an ancestor of " +
              s"$endId")
        done = true
      case Some(id) if fromExclusive.contains(id) => done = true
      case Some(id) =>
        val s = snaps.find(_.snapshotId == id).getOrElse {
          if (id == endId) throw new IllegalArgumentException(
            s"Cannot find snapshot with ID $id (expired or never " +
              "existed)")
          // mid-chain gap: this commit's parent was expired — its adds
          // would be indistinguishable from pre-existing rows. Fail
          // with the bound that works instead of over-reporting.
          throw new IllegalStateException(
            s"cannot compute changelog for snapshot " +
              s"${chain.head.snapshotId}: its parent $id was expired; " +
              s"pass fromExclusive=Some(${chain.head.snapshotId}) " +
              "(or later) to start after the gap")
        }
        chain ::= s
        cursor = s.parentId
    }
    val slices = chain
      .filter(_.operation != "replace")
      .zipWithIndex.flatMap { case (s, ord) =>
        val parentSnap = s.parentId.map(snapshotOrFail)
        // Per-commit file deltas at SEGMENT granularity: a segment
        // referenced by BOTH lists contributes identical paths to both
        // sides, so it cancels in every diff — only the non-shared
        // segments need reading. (Entry paths are unique within a
        // manifest, so a path in a child-only segment cannot also live
        // in a shared one.) For the dominant CDC window shape —
        // add-only commits — the child-only set is the ONE new segment
        // and the parent-only set is empty: a changelog/streaming
        // micro-batch costs O(delta) driver work, never O(table
        // entries). The FULL parent list stays lazy — materialized only
        // by slices that must replay deletes against parent state.
        val cRefs = segmentsOf(s)
        val pRefs = parentSnap.map(segmentsOf).getOrElse(Nil)
        val cSet = cRefs.map(_.path).toSet
        val pSet = pRefs.map(_.path).toSet
        val childSide = cRefs.filterNot(r => pSet(r.path))
          .flatMap(r => segmentEntries(r.path))
        val parentSide = pRefs.filterNot(r => cSet(r.path))
          .flatMap(r => segmentEntries(r.path))
        val childPaths = childSide.map(_.path).toSet
        val parentPaths = parentSide.map(_.path).toSet
        val addedData = childSide.filter(e =>
          e.content == 0 && !parentPaths(e.path))
        val removedData = parentSide.filter(e =>
          e.content == 0 && !childPaths(e.path))
        val added = childSide.filter(e =>
          e.content != 0 && !parentPaths(e.path))
        val addedPosDel = added.filter(_.content == 1)
        lazy val parentEntries =
          parentSnap.map(manifestOf).getOrElse(Nil)
        def tag(df: DataFrame, tpe: String): DataFrame = df
          .select(schema.fieldNames.map(n => col(quoted(n))): _*)
          .withColumn("_change_type", lit(tpe))
          .withColumn("_change_ordinal", lit(ord))
          .withColumn("_commit_snapshot_id", lit(s.snapshotId))
        val inserts =
          if (addedData.isEmpty) Nil
          else Seq(tag(scanParquet(addedData.map(absSized), schema,
            meta.physicalNames), "insert"))
        // rows of removed files that were VISIBLE at the parent — the
        // parent's delete files still mask them, so a COW rewrite after
        // MOR deletes doesn't re-emit already-deleted rows
        val cowDeletes =
          if (removedData.isEmpty) Nil
          else Seq(tag(readEntries(
            removedData ++ parentEntries.filter(_.content != 0)),
            "delete"))
        // rows VISIBLE at the parent that the ADDED delete files mask,
        // by the read's own filter over just those files (every parent
        // row is older than an added equality delete). Position deletes
        // alone name their victims' files: scan only the data files the
        // delete files' file_path bounds admit (all of them when a
        // delete file carries no bounds). Stat truncation only widens a
        // window, so the bound is conservative; no Spark job runs
        // before the read itself.
        val morDeletes =
          if (added.isEmpty) Nil
          else {
            val ranges = addedPosDel.flatMap(_.stats.get("file_path"))
            // stats were ordered by UTF8String bytes — compare the same
            // way (String's UTF-16 order diverges on non-ASCII paths)
            import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
            def leq(a: String, b: String): Boolean = u8(a).compareTo(u8(b)) <= 0
            val victims = parentEntries.filter(e => e.content == 0 &&
              (added.exists(_.content == 2) ||
                ranges.size < addedPosDel.size ||
                Io.uriForms(abs(e)).exists(u =>
                  ranges.exists(r => leq(r.min, u) && leq(u, r.max)))))
            val rows =
              readWithLineage(victims ++ parentEntries.filter(_.content != 0))
            Seq(tag(rows.filter(deletedBy(rows, victims, added,
              meta.physicalNames)), "delete"))
          }
        inserts ++ cowDeletes ++ morDeletes
      }
    if (slices.isEmpty) emptyOut
    else slices.reduce(_ unionByName _)
      .select(schema.fieldNames.map(n => col(quoted(n))) ++ metaCols: _*)
  }

  /** The refined changelog Iceberg's `create_changelog_view` serves:
    * [[changes]] with carryover delete+insert pairs cancelled and —
    * when `identifierCols` is non-empty (Iceberg's
    * `compute_updates => true, identifier_columns => ...`) — same-key
    * delete+insert pairs within a commit window folded into
    * `update_before`/`update_after` images. Computing updates forces
    * carryover removal first (a carried row would pair with itself as
    * a no-op update), matching Iceberg. Signed-weight consumers
    * (incremental aggregate/minhash maintenance) keep reading the raw
    * [[changes]] — ±1 weights absorb update pairs natively.
    * `netChanges` (Iceberg's `net_changes => true`) nets by content
    * across the WHOLE window instead — the final state of every row
    * delta — and refuses update images like Iceberg does (netted rows
    * no longer share a commit window to pair within). */
  def changelogView(identifierCols: Seq[String] = Nil,
      fromExclusive: Option[Long] = None,
      toInclusive: Option[Long] = None,
      netChanges: Boolean = false): DataFrame = {
    val raw = changes(fromExclusive, toInclusive)
    if (netChanges) {
      require(identifierCols.isEmpty,
        "net_changes cannot be combined with compute_updates")
      Changelog.removeNetCarryovers(raw)
    } else {
      val net = Changelog.removeCarryovers(raw)
      if (identifierCols.isEmpty) net
      else Changelog.computeUpdates(net, identifierCols)
    }
  }

  /** Stats-prune data entries that provably contain no row matching
    * the analyzed `conjuncts` of a predicate; delete entries (content !=
    * 0) always survive so MOR masks still apply to whatever remains.
    * Shared by readWhere and every predicate-driven write (DELETE/UPDATE
    * hit discovery) — at 100 TB this is what turns `UPDATE ... WHERE
    * case_id='x'` into a scan of the files whose min/max admit 'x', not
    * a full-table scan. */
  private def pruneByPredicate(m: TableMeta, entries: Seq[ManifestEntry],
      conjuncts: Seq[Expression]): Seq[ManifestEntry] = {
    val sch = StructType.fromDDL(m.schemaDdl)
    val buckets = m.properties.get(ClusterProp)
      .map(ClusterSpec.parseList).getOrElse(Nil)
      .collect { case b: BucketField => b }
    entries.filter { e =>
      e.content != 0 ||
        conjuncts.forall(c => mayMatch(e, c, sch, m.physicalNames, buckets))
    }
  }

  /** Stats-prune a snapshot's manifest for a planned read WITHOUT
    * materializing the full entry list on the driver when the table is
    * big: past `spark.graft.metadata.distributedThreshold` entries
    * (counted from segment refs alone — no segment reads) the per-entry
    * overlap tests run as an executor-side scan of the segment files
    * and only the SURVIVORS come back. Planning a selective read of a
    * million-file table costs the driver O(survivors), not O(table).
    * Below the threshold this is exactly [[pruneByPredicate]] over
    * [[manifestOf]]. */
  private[lake] def prunedEntriesOf(m: TableMeta, s: SnapshotMeta,
      bind: DataFrame => Column): Seq[ManifestEntry] = {
    val refs = segmentsOf(s)
    if (refs.map(_.entryCount.toLong).sum >= metadataDistributedThreshold)
      prunedDistributed(m, refs, bind)
    else pruneByPredicate(m, manifestOf(s), analyzeConjuncts(m, bind))
  }

  /** Executor-side stats pruning: ships the analyzed conjuncts plus the
    * schema/mapping/bucket context to a typed filter over the segment
    * scan and collects the surviving entries. Runs the SAME static
    * [[GraftTable.mayMatch]] the driver path runs — the two paths
    * cannot disagree on a file. Survivors come back sorted by
    * (content, path): entry ORDER is a commit-composition concern, and
    * this path feeds reads only (file sets), never commits. */
  private def prunedDistributed(m: TableMeta, refs: Seq[ManifestSegmentRef],
      bind: DataFrame => Column): Seq[ManifestEntry] = {
    // only the comparison shapes mayMatch can prune on cross the wire:
    // anything else returns true there anyway, and a non-serializable
    // conjunct (a surviving subquery fragment) would otherwise fail
    // Task-not-serializable only past the distributed threshold —
    // i.e. only on large tables, where the driver path is conservative
    val conjuncts = analyzeConjuncts(m, bind).filter(GraftTable.prunable)
    if (conjuncts.isEmpty)
      return entriesDataset(refs.map(_.path))
        .collect().toSeq.sortBy(e => (e.content, e.path))
    val sch = StructType.fromDDL(m.schemaDdl)
    val mapping = m.physicalNames
    val buckets = m.properties.get(ClusterProp)
      .map(ClusterSpec.parseList).getOrElse(Nil)
      .collect { case b: BucketField => b }
    entriesDataset(refs.map(_.path))
      .filter(e => e.content != 0 ||
        conjuncts.forall(c =>
          GraftTable.mayMatch(e, c, sch, mapping, buckets)))
      .collect().toSeq.sortBy(e => (e.content, e.path))
  }

  private def emptyDf: DataFrame = emptyDfOf(schema)

  private def emptyDfOf(sch: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), sch)

  private def readEntries(entries: Seq[ManifestEntry],
      sch: StructType = null,
      mapping: Map[String, String] = null): DataFrame = {
    val s = Option(sch).getOrElse(schema)
    val m = Option(mapping).getOrElse(meta.physicalNames)
    val data = entries.filter(_.content == 0)
    if (data.isEmpty) return emptyDfOf(s)
    // no delete files → plain parquet scan, no _metadata lineage
    // plumbing in the plan at all
    if (entries.forall(_.content == 0))
      return scanParquet(data.map(absSized), s, m)
    readWithLineage(entries, s, m).drop(FileCol, PosCol)
  }

  /** Live rows plus (file, position) lineage columns — the MOR read
    * path; also what delete capture and DML hit discovery use, so
    * positions always round-trip through the same _metadata columns.
    * Deletes of every kind and equality-key shape apply as ONE
    * [[DeleteFilter]] predicate over the scan. */
  private[lake] def readWithLineage(entries: Seq[ManifestEntry],
      sch: StructType = null,
      mapping: Map[String, String] = null): DataFrame = {
    val readSchema = Option(sch).getOrElse(schema)
    val m = Option(mapping).getOrElse(meta.physicalNames)
    val data = entries.filter(_.content == 0)
    if (data.isEmpty)
      return emptyDfOf(readSchema)
        .withColumn(FileCol, lit(null).cast("string"))
        .withColumn(PosCol, lit(null).cast("long"))
    val df = scanParquet(data.map(absSized), readSchema, m, lineage = true)
    val deletes = entries.filter(_.content != 0)
    if (deletes.isEmpty) df else df.filter(!deletedBy(df, data, deletes, m))
  }

  /** `graft_deleted` over `df`'s lineage and key columns: true for a
    * row of `data` that a file among `deletes` masks. */
  private def deletedBy(df: DataFrame, data: Seq[ManifestEntry],
      deletes: Seq[ManifestEntry], mapping: Map[String, String]): Column = {
    // equalityColumns (and the key files) use PHYSICAL names; the
    // data frame surfaces logical names — bridge via the reverse map
    val rev = mapping.map(_.swap)
    val sets = deletes.filter(_.content == 2).groupBy(_.equalityColumns)
      .toSeq
    DeleteFilter(df(FileCol), df(PosCol),
      sets.flatMap(_._1.map(c => df(rev.getOrElse(c, c)))),
      DeleteSet(deletes.filter(_.content == 1).map(abs),
        sets.map(_._2.map(f => abs(f) -> f.addedSnapshotId)), sets.map(_._1),
        // each row's data sequence is its file's addedSnapshotId, under
        // every spelling _metadata.file_path may use (the %20 law)
        if (sets.isEmpty) Map.empty else data.flatMap(e =>
          Io.uriForms(abs(e)).map(_ -> e.addedSnapshotId)).toMap,
        DeleteFilter.sessionConf(spark)))
  }

  // ---- writes ----

  /** D6 append (ref demo.py:105-110 INSERT INTO VALUES). Input columns
    * are matched by NAME and cast to the table types (INSERT-like
    * normalization) — a frame with missing or extra columns is
    * rejected instead of silently writing files the table schema can't
    * read back. */
  def append(df: DataFrame,
      extraSummary: Map[String, String] = Map.empty): SnapshotMeta =
    append(df, extraSummary, explicitBranch = None)

  private def append(df: DataFrame, extraSummary: Map[String, String],
      explicitBranch: Option[String]): SnapshotMeta =
    clusterFields match {
      case Some(fields) => appendRaw(
        clustered(alignToSchema(df), fields, clusterFileCount),
        extraSummary, explicitBranch)
      case None => appendRaw(df, extraSummary, explicitBranch)
    }

  /** Declared clustering (`write.clustered-by`, set by the Scala API or
    * SQL `PARTITIONED BY`): every append range-clusters on these
    * fields — identity columns or partition transforms
    * (`days`/`bucket`/`truncate`, see [[ClusterSpec]]) — so per-file
    * stats prune like partition pruning. */
  private def clusterFields: Option[Seq[ClusterField]] =
    properties.get(ClusterProp)
      .map(ClusterSpec.parseList)
      .filter(_.nonEmpty)

  private def clusterFileCount: Int =
    properties.getOrElse(s"$ClusterProp.files", "8").toInt

  /** Range-partition `aligned` on the transformed clustering values
    * and sort within each file by (transform, raw column) so raw
    * min/max stats stay tight per file. */
  private def clustered(aligned: DataFrame, fields: Seq[ClusterField],
      nFiles: Int): DataFrame = {
    val sch = schema
    def dtOf(f: ClusterField): DataType =
      sch.fields.find(_.name.equalsIgnoreCase(f.column)).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"no such clustering column ${f.column} in $name"))
    val parts = fields.map(f => f.expr(dtOf(f), col(quoted(f.column))))
    val sorts = fields.flatMap {
      case IdentityField(c) => Seq(col(quoted(c)))
      case f => Seq(f.expr(dtOf(f), col(quoted(f.column))),
        col(quoted(f.column)))
    }
    aligned.repartitionByRange(nFiles, parts: _*)
      .sortWithinPartitions(sorts: _*)
  }

  /** Validate and normalize an incoming frame against the table
    * schema: columns matched by NAME, cast to the table types. */
  private def alignToSchema(df: DataFrame): DataFrame = {
    require(df.columns.toSet == schema.fieldNames.toSet,
      s"schema mismatch appending to $name: table columns " +
        s"${schema.fieldNames.mkString(",")}; got ${df.columns.mkString(",")}")
    df.select(schema.fields.toSeq.map(f =>
      col(quoted(f.name)).cast(f.dataType).as(f.name)): _*)
  }

  private def appendRaw(df: DataFrame,
      extraSummary: Map[String, String],
      explicitBranch: Option[String] = None): SnapshotMeta = {
    val aligned = alignToSchema(df)
    // spark.wap.branch session routing; an explicit Some("main") PINS
    // the head (resolveBranch's contract) so appendToBranch("main")
    // cannot be re-routed to a staged branch by the session conf
    val branch = resolveBranch(explicitBranch)
    val b = captureBase()
    branch.foreach(branchHead(b, _)) // validate before writing files
    val snapId = nextSnapshotHint
    val written = writeDataFiles(aligned, b.meta, sketch = branch.isEmpty)
    val newEntries = statEntries(written.files, content = 0, snapId)
    val summary = extraSummary ++
      Map("added-data-files" -> newEntries.size.toString,
        "added-records" -> newEntries.map(_.recordCount).sum.toString)
    // incremental NDV maintenance: fold the new files' hashes, which
    // the writer took as it wrote them, into any stored column
    // sketches (O(change), only for analyzed columns). MAIN appends
    // only: branch rows stay out of the sketch until fast_forward,
    // whose branch-summary snapshots ndvStaleIn flags.
    val ndv: NdvFold =
      if (branch.isEmpty) ndvFoldTweak(b.meta, written, snapId)
      else ndvFoldIdentity
    val stamped = newEntries.map(ndv.stamp)
    // removes nothing, so the commit reads no parent segment
    commitDelta(b, snapId, branch, "append", Set.empty, stamped, summary,
      ndv.metaTweak)
  }

  /** Incremental read for streaming: rows of data files added by
    * APPEND snapshots with id in (fromExclusive, toInclusive]. Snapshot
    * ids are allocated monotonically, so they double as stream offsets
    * (the Iceberg incremental-scan analog). Non-append snapshots
    * (delete/overwrite/replace) are skipped — an append stream reads
    * inserts only, the same restriction Iceberg's incremental read has.
    */
  def appendsBetween(fromExclusive: Long, toInclusive: Long): DataFrame = {
    val m = meta
    // branch-staged appends are NOT main-lineage data: without this
    // filter a stream reading "appends" would emit rows staged on a
    // branch before (or without) their publish. Published branch work
    // arrives via fastForward — a pointer move, not an append — so it
    // is outside the appends-only incremental contract either way
    // (the Iceberg incremental-scan restriction).
    val snaps = m.snapshots.filter(s =>
      s.snapshotId > fromExclusive && s.snapshotId <= toInclusive &&
        s.operation == "append" && !s.summary.contains("branch"))
    val appendIds = snaps.map(_.snapshotId).toSet
    // ref-provenance prune: within snapshot A's own manifest, A's
    // additions live only in segments A itself wrote (the commit's
    // new segment, or a merge-on-commit bin — both carry
    // ref.addedSnapshotId == A), so parent-written segments are never
    // read. A streaming micro-batch over appends costs O(delta)
    // driver work, not O(commits × table entries). The entry-level
    // addedSnapshotId filter still applies after the read (a merged
    // bin also carries older entries).
    val entries = snaps.flatMap(s => segmentsOf(s)
      .filter(r => appendIds(r.addedSnapshotId))
      .flatMap(r => segmentEntries(r.path)))
      .filter(e => e.content == 0 && appendIds(e.addedSnapshotId))
      .distinctBy(_.path)
    if (entries.isEmpty) emptyDf
    else scanParquet(entries.map(absSized), schema, meta.physicalNames)
  }

  /** Append with data files range-clustered on `cols` — plain column
    * names or transform specs (`days(ts)`, `bucket(16,id)`,
    * `truncate(4,s)`): each of the `nFiles` output files covers a
    * narrow transformed-key range, so the per-file stats make
    * `readWhere` prune like Hive/Iceberg partition pruning — without a
    * directory layout, so high-cardinality or skewed keys can't
    * explode into millions of tiny partition dirs. This is the
    * intended ingest path for 100 TB tables: cluster on the dominant
    * filter column, let stats pruning select files.
    */
  def appendClustered(df: DataFrame, cols: Seq[String], nFiles: Int,
      extraSummary: Map[String, String] = Map.empty): SnapshotMeta = {
    require(cols.nonEmpty && nFiles > 0)
    appendRaw(clustered(alignToSchema(df), cols.map(ClusterSpec.parse),
      nFiles), extraSummary)
  }

  /** Zero-rewrite import (Iceberg's `add_files` migration path): take
    * existing parquet files, byte-copy them into the table's data dir
    * (no decode, no Spark job), read their stats from the FOOTERS, and
    * commit one append snapshot. The schema must match the table's by
    * name and type — a silent type drift would corrupt reads later, so
    * it is rejected here, not discovered at query time. */
  /** Zero-copy fork (the commit half of the Iceberg `snapshot`
    * procedure): publish THIS table's current data files into `target`
    * as one append snapshot, bytes staying exactly where they are —
    * entries carry absolute paths into this table's directory, and
    * their stats (min/max AND bucket stats) travel verbatim, so
    * manifest pruning and bucket-local eligibility survive the fork.
    * The fork's future writes land under its own root; its COW
    * rewrites merely dereference borrowed files (physical deletion
    * only ever happens in expiry/orphan paths, which `gc.enabled=
    * false` blocks on the fork).
    *
    * Refuses sources whose head isn't plain data: MOR delete files
    * (the fork would resurrect masked rows) and renamed columns (the
    * fork's identity logical→physical mapping would mis-read the
    * source's physical layout) both say "compact first", loudly. */
  private[lake] def forkInto(target: GraftTable): SnapshotMeta = {
    val entries = currentEntries
    require(entries.forall(_.content == 0),
      s"cannot snapshot $name: merge-on-read delete files present; " +
        "run rewrite_data_files first")
    require(meta.physicalNames.forall { case (l, p) =>
      l.equalsIgnoreCase(p) },
      s"cannot snapshot $name: renamed columns give its files a " +
        "different physical layout; run rewrite_data_files first")
    target.adoptForeign(entries, root)
  }

  private def adoptForeign(entries: Seq[ManifestEntry],
      sourceRoot: Path): SnapshotMeta = {
    val b = captureBase()
    val snapId = nextSnapshotHint
    val adopted = entries.map(e => e.copy(
      path = sourceRoot.resolve(e.path).toAbsolutePath.toString,
      addedSnapshotId = snapId))
    val summary = Map("mode" -> "snapshot-fork",
      "source-table" -> sourceRoot.toString)
    commitDelta(b, snapId, None, "append", Set.empty, adopted, summary)
  }

  def addFiles(sourceDir: Path): SnapshotMeta = {
    val files = Io.listRecursive(sourceDir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.toString)
    require(files.nonEmpty, s"no parquet files under $sourceDir")
    importParquetFiles(files, placement = "copy", origin = "add_files")
  }

  /** Shared zero-rewrite import commit behind [[addFiles]] and the
    * catalog's `migrate` procedure: validate the files' schema
    * against the table's physical layout, place the bytes, stat from
    * the footers, commit one append snapshot. Placement:
    *  - "copy": independent byte copies into the table's data dir
    *    (add_files — the source files stay someone else's);
    *  - "move": same-filesystem RENAMES into the data dir (migrate's
    *    drop-backup form — metadata-only even at 100 TB, the table
    *    owns its bytes afterwards);
    *  - "in-place": entries reference the files where they sit via
    *    absolute paths, exactly like a snapshot fork's borrowed
    *    bytes (migrate's keep-backup form; the caller must disable
    *    gc, since expiry on borrowed bytes would delete data the
    *    backup still owns). */
  private[lake] def importParquetFiles(files: Seq[Path],
      placement: String, origin: String): SnapshotMeta = {
    val inferred = GraftTable.inferParquetSchema(spark, files)
    // imported bytes join the table as-is, so their column names must
    // match the PHYSICAL layout (= logical unless renamed)
    val table = physSchema(schema, meta.physicalNames)
    require(
      inferred.fields.map(f => f.name.toLowerCase).sorted.toSeq ==
        table.fields.map(_.name.toLowerCase).sorted.toSeq,
      s"schema mismatch importing into $name: table columns " +
        s"${table.fieldNames.mkString(",")}; files have " +
        s"${inferred.fieldNames.mkString(",")}")
    for (f <- inferred.fields) {
      val t = table.fields.find(_.name.equalsIgnoreCase(f.name)).get
      require(f.dataType == t.dataType,
        s"type mismatch importing into $name: column ${f.name} is " +
          s"${f.dataType.simpleString} in the files but " +
          s"${t.dataType.simpleString} in the table")
    }
    val b = captureBase()
    val snapId = nextSnapshotHint
    Files.createDirectories(dataDir)
    val moved = placement match {
      case "copy" =>
        // independent byte copies — parallel so a thousand-file import
        // doesn't serialize on the driver
        files.asJava.parallelStream().map[String] { p =>
          val target =
            dataDir.resolve(s"import-${UUID.randomUUID()}.parquet")
          Files.copy(p, target)
          target.toAbsolutePath.toString
        }.collect(java.util.stream.Collectors.toList[String])
          .asScala.toSeq
      case "move" =>
        files.map { p =>
          val target =
            dataDir.resolve(s"import-${UUID.randomUUID()}.parquet")
          Files.move(p, target)
          target.toAbsolutePath.toString
        }
      case "in-place" =>
        files.map(_.toAbsolutePath.toString)
      case other =>
        throw new IllegalArgumentException(s"unknown placement $other")
    }
    val statted = statEntries(moved, content = 0, snapId)
    // in-place entries must carry ABSOLUTE paths (the adoptForeign
    // contract) — statEntries relativizes against the table root,
    // which for foreign files yields a ../-form; normalize back
    val newEntries =
      if (placement == "in-place") statted.map(e => e.copy(
        path = root.resolve(e.path).normalize().toAbsolutePath.toString))
      else statted
    val summary = Map("operation-origin" -> origin,
      "added-data-files" -> newEntries.size.toString,
      "added-records" -> newEntries.map(_.recordCount).sum.toString)
    // adopted files were written elsewhere: hash them where they sit
    val ndv = ndvFoldTweak(b.meta, Written(moved,
      ndvTracked(b.meta).fold(Map.empty[String, Map[String, Seq[Long]]]) {
        case (tracked, k) => ndvFileHashJob(b.meta, moved,
          tracked.map(_.name), k)
      }), snapId)
    val stamped = newEntries.map(ndv.stamp)
    commitDelta(b, snapId, None, "append", Set.empty, stamped, summary,
      ndv.metaTweak)
  }

  /** Rewrite-free adoption of a hive-partitioned directory — migrate's
    * keep-backup form over partitioned sources (r17). Entries
    * reference the files where they sit (absolute paths, the
    * snapshot-fork discipline: the caller sets gc.enabled=false and
    * [[GraftTable.AdoptedBaseProp]]), and each carries its
    * directory-derived partition VALUES as min=max column stats, so
    * partition predicates prune files from the manifest alone — the
    * same place Iceberg's migrate keeps per-file partition tuples.
    * The columns themselves are synthesized at scan time by Spark's
    * own partition parsing under `basePath` (see [[scanParquet]]): no
    * bytes move, copy, or rewrite — on a 100 TB warehouse that
    * one-time rewrite is exactly what migrate exists to avoid.
    * Everything validates UP FRONT (consistent column sequence, no
    * null partitions, every value parses in its inferred type, data
    * bytes spell exactly the non-partition columns), so scan-time
    * synthesis can never surprise. */
  private[lake] def importHivePartitioned(files: Seq[Path],
      base: Path): SnapshotMeta = {
    val m = meta.physicalNames
    val table = physSchema(schema, m)
    val baseAbs = base.toAbsolutePath.normalize()
    def tupleOf(f: Path): Seq[(String, String)] =
      baseAbs.relativize(f.toAbsolutePath.normalize()).iterator().asScala
        .toSeq.init.map(_.toString).filter(_.contains("="))
        .map { d =>
          val Array(k, v) = d.split("=", 2)
          k -> GraftTable.unescapePathName(v)
        }
    val first = tupleOf(files.head).map(_._1)
    require(first.nonEmpty, s"$name: no partition directories under $base")
    val tuples: Map[String, Seq[(String, String)]] = files.map { f =>
      val t = tupleOf(f)
      require(t.map(_._1) == first,
        s"inconsistent partition layout under $base: $f spells " +
          s"${t.map(_._1).mkString("/")}, expected ${first.mkString("/")}")
      f.toAbsolutePath.normalize().toString -> t
    }.toMap
    val partFields = first.map { c =>
      table.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c missing from $name's schema"))
    }
    // every value must parse in its column's declared type BEFORE
    // anything commits; null partitions (__HIVE_DEFAULT_PARTITION__)
    // refuse — a synthesized null would need its own nullCount and
    // is-null pruning story, and real warehouses solve it by not
    // having null partitions
    val statsByFile: Map[String, Map[String, ColStat]] = tuples.map {
      case (p, t) =>
        p -> t.zip(partFields).map { case ((c, raw), f) =>
          require(raw != "__HIVE_DEFAULT_PARTITION__",
            s"$p carries a null partition value for $c; rewrite-free " +
              "adoption refuses null partitions — migrate with " +
              "drop_backup=true")
          val v = try GraftTable.partitionStatValue(f.dataType, raw)
            catch { case scala.util.control.NonFatal(e) =>
              throw new IllegalArgumentException(
                s"partition value $c=$raw under $p does not parse as " +
                  s"${f.dataType.simpleString}", e) }
          val rendered = v.getOrElse(throw new IllegalArgumentException(
            s"partition column $c is ${f.dataType.simpleString}; " +
              "rewrite-free adoption supports int/long/date/string/" +
              "double/boolean partition types — migrate with " +
              "drop_backup=true"))
          physName(m)(f.name) -> ColStat(rendered, rendered, 0L)
        }.toMap
    }
    // data bytes must spell exactly the NON-partition physical
    // columns. ONE footer suffices: hive leaves are homogeneous by
    // construction (the caller's partition-aware inference already
    // proved a consistent layout), every later scan reads under the
    // EXPLICIT table schema (a heterogeneous stray file fails loudly
    // there), and a million-file adoption must not re-list or
    // re-footer the corpus for a check (review r17)
    val inferred = GraftTable.inferParquetSchema(spark,
      Seq(java.nio.file.Paths.get(files.head.toString)))
    val nonPart = table.fields.toSeq.filterNot(f =>
      first.exists(_.equalsIgnoreCase(f.name)))
    require(
      inferred.fields.map(_.name.toLowerCase).sorted.toSeq ==
        nonPart.map(_.name.toLowerCase).sorted,
      s"schema mismatch adopting into $name: data bytes spell " +
        s"${inferred.fieldNames.mkString(",")}; expected non-partition " +
        s"columns ${nonPart.map(_.name).mkString(",")}")
    for (f <- inferred.fields) {
      val t = nonPart.find(_.name.equalsIgnoreCase(f.name)).get
      require(f.dataType == t.dataType,
        s"type mismatch adopting into $name: column ${f.name} is " +
          s"${f.dataType.simpleString} in the files but " +
          s"${t.dataType.simpleString} in the table")
    }
    val b = captureBase()
    val snapId = nextSnapshotHint
    val statted = statEntries(
      files.map(_.toAbsolutePath.normalize().toString),
      content = 0, snapId)
    val entries = statted.map { e =>
      val absPath =
        root.resolve(e.path).toAbsolutePath.normalize().toString
      e.copy(path = absPath, stats = e.stats ++ statsByFile(absPath))
    }
    val summary = Map("operation-origin" -> "migrate",
      "mode" -> "hive-in-place",
      "adopted-base-path" -> baseAbs.toString,
      "added-data-files" -> entries.size.toString,
      "added-records" -> entries.map(_.recordCount).sum.toString)
    commitDelta(b, snapId, None, "append", Set.empty, entries, summary)
  }

  /** INSERT OVERWRITE (truncate + insert) as ONE atomic snapshot: the
    * new data files are staged first, then a single commit replaces
    * every prior entry — data files AND delete files — with the new
    * data entries. Two properties a delete-then-append pair can't give:
    * a crash (or a lost commit race) between the halves can never leave
    * the table durably truncated, and `write.delete.mode=merge-on-read`
    * never writes a whole-table position-delete pass just to truncate.
    * Readers of the previous snapshot are unaffected (time travel keeps
    * working); declared clustering applies to the new files. */
  def overwriteAll(df: DataFrame,
      extraSummary: Map[String, String] = Map.empty): SnapshotMeta = {
    val aligned = alignToSchema(df)
    val toWrite = clusterFields match {
      case Some(fields) => clustered(aligned, fields, clusterFileCount)
      case None => aligned
    }
    val branch = resolveBranch(None) // spark.wap.branch session routing
    val b = captureBase()
    val replaced = branch match {
      case None => b.entries
      case Some(br) => manifestOf(branchHead(b, br))
    }
    val snapId = nextSnapshotHint
    val moved = writeDataFiles(toWrite, b.meta).files
    val newEntries = statEntries(moved, content = 0, snapId)
    val summary = extraSummary ++ Map(
      "replaced-data-files" ->
        replaced.count(_.content == 0).toString,
      "added-data-files" -> newEntries.size.toString,
      "added-records" -> newEntries.map(_.recordCount).sum.toString)
    commitDelta(b, snapId, branch, "overwrite", replaced.map(abs).toSet,
      newEntries, summary)
  }

  /** D8/D9 DELETE WHERE — honors `write.delete.mode` like the demo's
    * ALTER TABLE (demo.py:166-171): merge-on-read emits position-delete
    * files; copy-on-write rewrites the affected data files. */
  def delete(pred: Column): Option[SnapshotMeta] =
    deleteBind(_ => pred, None)

  /** Binder form of DELETE: the predicate re-resolves against the
    * exact frame being filtered, so conditions carrying correlated
    * subqueries (whose outer references must point at THAT frame's
    * attributes) work — the SQL row-level commands route through here.
    * `claimKey`: a bucket-clustered column the condition's subquery
    * equi-correlates on; hit discovery then reads the target through
    * its claimed bucket layout ([[bucketLocalReadEntries]]) so only
    * the subquery side of the semi-join shuffles. Self-vetting: any
    * ineligible layout falls back to the plain lineage read. */
  private[lake] def deleteBind(bind: DataFrame => Column,
      claimKey: Option[String]): Option[SnapshotMeta] =
    if (properties.getOrElse("write.delete.mode", "copy-on-write")
        == "merge-on-read") morDelete(bind, claimKey = claimKey)
    else cowRewrite(bind, deleteTransform(bind), "delete", claimKey)

  /** The rows a DELETE keeps: those where the predicate is NOT TRUE —
    * a bare !pred drops pred-evaluates-to-NULL rows, silently deleting
    * rows the predicate never matched (the MOR path has always kept
    * them: filter(pred) doesn't hit on NULL). */
  private[lake] def deleteTransform(
      bind: DataFrame => Column): DataFrame => DataFrame =
    rows => rows.filter(!(bind(rows) <=> lit(true)))

  /** D7 UPDATE ... SET — honors `write.update.mode` (demo.py:228-235
    * runs copy-on-write). `set` maps column name → new value expression
    * applied only where `pred` holds. */
  def update(pred: Column, set: Map[String, Column]): Option[SnapshotMeta] =
    updateBind(_ => pred,
      set.map { case (k, v) => k -> ((_: DataFrame) => v) }, None)

  /** Binder form of UPDATE (see [[deleteBind]]): condition AND
    * assignment values re-resolve per frame, so both may carry
    * correlated subqueries. */
  private[lake] def updateBind(bind: DataFrame => Column,
      set: Map[String, DataFrame => Column],
      claimKey: Option[String]): Option[SnapshotMeta] = {
    val transform = updateTransform(bind, set)
    if (properties.getOrElse("write.update.mode", "copy-on-write")
        == "merge-on-read") morUpdate(bind, transform, claimKey = claimKey)
    else cowRewrite(bind, transform, "overwrite", claimKey)
  }

  /** The rows an UPDATE writes: `set` applied where `bind` holds,
    * cast to the column types. Unknown columns refuse here, before
    * any read or commit. */
  private[lake] def updateTransform(bind: DataFrame => Column,
      set: Map[String, DataFrame => Column]): DataFrame => DataFrame = {
    require(set.keySet.subsetOf(schema.fieldNames.toSet),
      s"unknown columns: ${set.keySet -- schema.fieldNames}")
    rows => {
      val pred = bind(rows)
      val cols = schema.fieldNames.map { f =>
        set.get(f) match {
          case Some(v) => when(pred, v(rows).cast(schema(f).dataType))
            .otherwise(col(quoted(f))).as(f)
          case None => col(quoted(f))
        }
      }
      rows.select(cols.toSeq: _*)
    }
  }

  /** Branch DML: stage deletes/updates among the BRANCH head's
    * entries, commit branch-parented — the full write-audit-publish
    * loop: stage on a branch, audit via readRef, publish with
    * fastForward("main", …). Honors `write.delete.mode` /
    * `write.update.mode` exactly like the main-branch twins, so a
    * table tuned for merge-on-read stages position-delete files on
    * the branch instead of paying a COW rewrite pre-publish. */
  def deleteOnBranch(branch: String, pred: Column): Option[SnapshotMeta] = {
    val bind = (_: DataFrame) => pred
    if (properties.getOrElse("write.delete.mode", "copy-on-write")
        == "merge-on-read") morDelete(bind, Some(branch))
    else cowRewriteOn(Some(branch), bind, deleteTransform(bind), "delete")
  }

  def updateOnBranch(branch: String, pred: Column,
      set: Map[String, Column]): Option[SnapshotMeta] = {
    val bind = (_: DataFrame) => pred
    val transform = updateTransform(bind,
      set.map { case (k, v) => k -> ((_: DataFrame) => v) })
    if (properties.getOrElse("write.update.mode", "copy-on-write")
        == "merge-on-read") morUpdate(bind, transform, Some(branch))
    else cowRewriteOn(Some(branch), bind, transform, "overwrite")
  }

  /** Target rows per position-delete file; delete-file writes scale
    * their partition count with the hit count so a billion-row MOR
    * delete fans out across executors instead of funnelling through
    * one task. Tunable per table (tests set it low to exercise the
    * multi-file path). */
  private def deleteRowsPerFile: Long =
    properties.getOrElse("write.delete.rows-per-file",
      (4L * 1024 * 1024).toString).toLong

  /** Write `hits` (file_path, pos) as sorted position-delete files,
    * one part per ~deleteRowsPerFile rows. Range partitioning on
    * (file_path, pos) keeps each output file covering a contiguous
    * run, so delete application still scans sequentially per file.
    *
    * Returns (moved paths, exact hit count) from ONE pass: the count
    * is observed from the write job's own metrics instead of a
    * separate count() action (each extra action costs ~60-70 ms of
    * driver-side planning on top of the job — the dominant cost of a
    * small DML op), and the output partition count is sized from
    * `boundRows` — the stats-pruned candidates' manifest record count,
    * an upper bound on hits that needs no job. Over-partitioning from
    * the bound is benign: empty range partitions write no file. When
    * the bound forces multiple partitions the RangePartitioner's
    * sample pass is one extra job reading the caller's persisted
    * frame; the observed count arrives with whichever job finishes
    * first (both evaluate the metrics node over every row). Zero hits
    * drop the staged dir and return (Nil, 0). */
  private def writeDeleteFiles(hits: DataFrame,
      boundRows: Long): (Seq[String], Long) = {
    val nParts = math.max(1,
      math.ceil(boundRows.toDouble / deleteRowsPerFile).toInt)
    val staged = stageDir()
    val obs = new org.apache.spark.sql.Observation()
    hits.observe(obs, count(lit(1)).as("n"))
      .repartitionByRange(nParts, col("file_path"), col("pos"))
      .sortWithinPartitions("file_path", "pos")
      .write.parquet(staged.toString)
    val n = obs.get("n").asInstanceOf[Long]
    if (n == 0) {
      Io.listRecursive(staged).foreach(Files.deleteIfExists(_))
      Files.deleteIfExists(staged)
      (Nil, 0L)
    } else (moveStaged(staged, "delete").map(_._2), n)
  }

  /** MOR position-delete write (D8): capture (file, pos) of matching
    * live rows, write them as content=1 Parquet, commit op=delete.
    * Hit discovery scans only stats-pruned candidate files. With a
    * branch, hits come from the BRANCH head's manifest and the commit
    * is branch-parented (main readers untouched until publish). */
  private def morDelete(bind: DataFrame => Column,
      explicitBranch: Option[String] = None,
      claimKey: Option[String] = None): Option[SnapshotMeta] = {
    val branch = resolveBranch(explicitBranch)
    val b = captureBase()
    // a MOR delete is ADD-ONLY (it only appends position-delete files),
    // so neither planning nor commit needs the full entry list: hit
    // discovery prunes through prunedEntriesOf (executor-side past the
    // distributed threshold) and the commit reads no parent segment —
    // whole-op driver work is O(candidates + new files)
    val headSnap = headSnapshot(b, branch)
    val pruned = headSnap.map(prunedEntriesOf(b.meta, _, bind)).getOrElse(Nil)
    val tgt = claimedOr(pruned, claimKey)
    val hits = tgt.filter(bind(tgt))
      .select(col(FileCol).as("file_path"), col(PosCol).as("pos"))
      .persist()
    try {
      // hit-count action fused into the write: partition bound from
      // the pruned candidates' manifest record counts, exact count
      // observed from the write job itself
      val bound = pruned.filter(_.content == 0).map(_.recordCount).sum
      val (moved, n) = writeDeleteFiles(hits, bound)
      if (n == 0) return None
      val snapId = nextSnapshotHint
      val delEntries = statEntries(moved, content = 1, snapId)
      val summary =
        Map("deleted-records" -> n.toString, "mode" -> "merge-on-read")
      Some(commitDelta(b, snapId, branch, "delete", Set.empty, delEntries,
        summary))
    } finally hits.unpersist()
  }

  /** The snapshot a DML operation reads/commits against: the branch
    * head when routed, else the base's current snapshot. */
  private def headSnapshot(b: Base,
      branch: Option[String]): Option[SnapshotMeta] = branch match {
    case None => headOf(b.meta)
    case Some(br) => Some(branchHead(b, br))
  }

  /** MOR update: position-deletes for the old rows + append of the
    * transformed rows, in one snapshot (branch-parented when `branch`
    * is set, like morDelete). */
  private def morUpdate(bind: DataFrame => Column,
      transform: DataFrame => DataFrame,
      explicitBranch: Option[String] = None,
      claimKey: Option[String] = None): Option[SnapshotMeta] = {
    val branch = resolveBranch(explicitBranch)
    val b = captureBase()
    // add-only like morDelete (position-delete files + new data files):
    // pruned planning + an O(delta) commit
    val headSnap = headSnapshot(b, branch)
    val pruned = headSnap.map(prunedEntriesOf(b.meta, _, bind)).getOrElse(Nil)
    val tgt = claimedOr(pruned, claimKey)
    val hits = tgt.filter(bind(tgt)).cache()
    try {
      val bound = pruned.filter(_.content == 0).map(_.recordCount).sum
      val (delMoved, n) = writeDeleteFiles(
        hits.select(col(FileCol).as("file_path"), col(PosCol).as("pos")),
        bound)
      if (n == 0) return None
      Some(commitRowChange(b, branch, "overwrite", delMoved,
        Some(transform(hits.drop(FileCol, PosCol))),
        Map("mode" -> "merge-on-read")))
    } finally hits.unpersist()
  }

  /** A merge-on-read row-level change planned by `f` against the head
    * of the write branch (MOR MERGE): `f` returns the position-delete
    * hits as a (file_path, pos) frame with their exact count, the rows
    * to append, and the summary. Add-only like [[morUpdate]]: the
    * commit reads no parent segment. */
  private[lake] def morRowChange(operation: String)(
      f: CowSnapshot =>
        Option[(DataFrame, Long, Option[DataFrame], Map[String, String])])
      : Option[SnapshotMeta] = {
    val branch = resolveBranch(None)
    val b = captureBase()
    f(new CowSnapshot(b.meta, headSnapshot(b, branch))).map {
      case (hits, n, rows, summary) =>
        val delMoved = if (n == 0) Nil else writeDeleteFiles(hits, n)._1
        commitRowChange(b, branch, operation, delMoved, rows, summary)
    }
  }

  /** Write `rows` and commit them with the position-delete files
    * `delMoved` as one add-only snapshot on `branch`. */
  private def commitRowChange(b: Base, branch: Option[String], op: String,
      delMoved: Seq[String], rows: Option[DataFrame],
      summary: Map[String, String]): SnapshotMeta = {
    val newMoved = rows.fold(Seq.empty[String])(writeDataFiles(_, b.meta).files)
    val snapId = nextSnapshotHint
    val added = statEntries(delMoved, content = 1, snapId) ++
      statEntries(newMoved, content = 0, snapId)
    commitDelta(b, snapId, branch, op, Set.empty, added, summary)
  }

  /** Equality delete (content=2): any live row matching a key tuple in
    * `keys` (schema must be a subset of the table's) is masked at read. */
  def equalityDelete(keys: DataFrame): Option[SnapshotMeta] =
    equalityDeleteOn(keys, None)

  /** Branch-staged equality delete for the WAP loop: the key file is
    * committed onto the branch head, masking rows only for branch
    * readers until fastForward publishes it. */
  def equalityDeleteOnBranch(branch: String,
      keys: DataFrame): Option[SnapshotMeta] =
    equalityDeleteOn(keys, Some(branch))

  private def equalityDeleteOn(keys: DataFrame,
      explicitBranch: Option[String]): Option[SnapshotMeta] = {
    val branch = resolveBranch(explicitBranch)
    val b = captureBase()
    val (snapId, cols, entries) = writeKeyFile(keys)
    if (entries.isEmpty) return None
    val summary =
      Map("mode" -> "equality", "equality-columns" -> cols.mkString(","))
    // add-only (one equality-delete file): an O(delta) commit
    Some(commitDelta(b, snapId, branch, "delete", Set.empty, entries,
      summary))
  }

  /** Stage `keys` (logical names) as one equality-delete file under
    * PHYSICAL names, like every other file in the table: the commit's
    * snapshot id, the physical key columns and the file's entry (none,
    * and no file, when `keys` is empty). */
  private def writeKeyFile(keys: DataFrame)
      : (Long, Seq[String], Seq[ManifestEntry]) = {
    val logicalCols = keys.schema.fieldNames.toSeq
    require(logicalCols.toSet.subsetOf(schema.fieldNames.toSet),
      s"equality-delete columns $logicalCols not in table schema")
    val cols = logicalCols.map(physName(meta.physicalNames))
    val staged = stageDir()
    keys.distinct()
      .select(logicalCols.zip(cols).map { case (l, p) =>
        col(quoted(l)).as(p) }: _*)
      .coalesce(1).write.parquet(staged.toString)
    val moved = moveStaged(staged, "eqdelete").map(_._2)
    val snapId = nextSnapshotHint
    val es = statEntries(moved, content = 2, snapId)
      .map(_.copy(equalityColumns = cols))
    if (es.map(_.recordCount).sum > 0) return (snapId, cols, es)
    moved.foreach(p => Files.deleteIfExists(Path.of(p)))
    (snapId, cols, Nil)
  }

  /** Single-commit upsert — Iceberg's RowDelta / the Flink
    * upsert-writer commit shape: ONE snapshot carrying an
    * equality-delete file on `keys` plus the data files of `rows`.
    * Because equality deletes mask only rows whose file has a STRICTLY
    * SMALLER data sequence (addedSnapshotId, see the read path above),
    * the rows committed here are visible while every older row
    * matching a key is masked. Equivalent table state to
    * `equalityDelete(keys)` then `append(rows)`, at half the commit
    * cost (one metadata write, one manifest, one optimistic-concurrency
    * window — the difference an index-maintenance loop commits per CDC
    * window at 100 TB). CDC reads fall out right with no special case:
    * the added delete file kills matching PARENT rows, the added data
    * files emit as inserts. Degenerates to a plain append when `keys`
    * is empty (the empty delete file is dropped). */
  def rowDelta(keys: DataFrame, rows: DataFrame,
      extraSummary: Map[String, String] = Map.empty): SnapshotMeta = {
    val aligned = clusterFields match {
      case Some(fields) =>
        clustered(alignToSchema(rows), fields, clusterFileCount)
      case None => alignToSchema(rows)
    }
    val branch = resolveBranch(None)
    val b = captureBase()
    branch.foreach(branchHead(b, _)) // validate before writing files
    val (snapId, cols, delEntries) = writeKeyFile(keys)
    val movedData = writeDataFiles(aligned, b.meta,
      sketch = delEntries.isEmpty && branch.isEmpty)
    val dataEntries = statEntries(movedData.files, content = 0, snapId)
    val summary = extraSummary ++
      Map("added-data-files" -> dataEntries.size.toString,
        "added-records" -> dataEntries.map(_.recordCount).sum.toString) ++
      (if (delEntries.isEmpty) Map.empty[String, String]
       else Map("mode" -> "equality",
         "equality-columns" -> cols.mkString(",")))
    val op = if (delEntries.isEmpty) "append" else "overwrite"
    val added = delEntries ++ dataEntries
    // the degenerate insert-only form IS a main append for the NDV
    // discipline: fold its data files, or the op-"append" snapshot
    // would add rows the stale walk considers covered. The masking
    // form commits op "overwrite", which flips stale by itself.
    val ndv: NdvFold =
      if (op == "append" && branch.isEmpty)
        ndvFoldTweak(b.meta, movedData, snapId)
      else ndvFoldIdentity
    val addedStamped = added.map(ndv.stamp)
    // add-only (delete file + new data files): an O(delta) commit
    commitDelta(b, snapId, branch, op, Set.empty, addedStamped, summary,
      ndv.metaTweak)
  }

  /** Generic COW transaction: `f` receives the base snapshot's entries
    * plus a lineage-read planner, and decides (affected entries,
    * replacement rows, summary); the transaction then commits a
    * snapshot where exactly the affected entries are replaced by the
    * written replacement rows, written as the read partitions them (no
    * repartition). Shared by DELETE/UPDATE (cowRewrite), MERGE and the
    * permanent erase ([[eraseSubject]]) — all of them get the same
    * two-phase scale shape and the same optimistic-concurrency base
    * pinning. Affected entries are data files, and for an erase also
    * delete files; rows None writes nothing (every affected row goes).
    * `erased`: the logical columns a permanent erase removes values
    * of — the commit then refolds the NDV sketches from the entries it
    * commits ([[ndvEraseTweak]]). */
  private[lake] def cowTransaction(operation: String,
      explicitBranch: Option[String] = None,
      erased: Option[Seq[String]] = None)(
      f: CowSnapshot =>
        Option[(Set[String], Option[DataFrame], Map[String, String])])
      : Option[SnapshotMeta] = {
    val branch = resolveBranch(explicitBranch)
    val b = captureBase()
    val snap = new CowSnapshot(b.meta, headSnapshot(b, branch))
    f(snap) match {
      case None => None
      case Some((affected, outRows, summary)) =>
        val snapId = nextSnapshotHint
        val written = outRows.fold(Written(Nil))(
          writeDataFiles(_, b.meta, sketch = fileNdvEnabled(b.meta)))
        // row-removing rewrite: the table sketch cannot subtract (the
        // op flips stale), but stamping the NEW files' own sketches
        // keeps the table refold-eligible — refoldColumnStats then
        // restores freshness from metadata alone
        val newEntries = statEntries(written.files, content = 0, snapId)
          .map(ndvStampTweak(b.meta, written))
        lazy val committed =
          snap.entries.filterNot(e => affected(abs(e))) ++ newEntries
        val metaTweak = erased.fold[TableMeta => TableMeta](identity)(
          ndvEraseTweak(b.meta, _, committed, snapId))
        // segment-narrowed commit: only parent segments whose path
        // bounds can hold an affected file are read; commit driver
        // work is O(touched segments + new files), not O(table)
        Some(commitDelta(b, snapId, branch, operation, affected,
          newEntries, summary, metaTweak))
    }
  }

  /** The snapshot view a COW transaction (and the MOR MERGE's
    * [[morRowChange]]) plans against: `meta` is the base it commits on;
    * `entries` materializes the FULL head manifest (MERGE's discovery
    * join and an erase's victim choice need it); `pruned` plans through
    * [[prunedEntriesOf]] — stats-narrowed, executor-side past the
    * distributed threshold — so predicate DML never materializes the
    * table's entry list on the driver. */
  private[lake] final class CowSnapshot(val meta: TableMeta,
      head: Option[SnapshotMeta]) {
    lazy val entries: Seq[ManifestEntry] =
      head.map(manifestOf).getOrElse(Nil)
    def pruned(bind: DataFrame => Column): Seq[ManifestEntry] =
      head.map(prunedEntriesOf(meta, _, bind)).getOrElse(Nil)
    def readLineage(es: Seq[ManifestEntry]): DataFrame =
      readWithLineage(es)
  }

  /** A permanent erase's rewrite ([[ErasePii]]): one copy-on-write
    * transaction on main over just the victim files, so its cost
    * scales with the subject, not the table. The victims are:
    *   - the data files whose PHYSICAL rows hold the subject
    *     ([[subjectFiles]]; a tiny file that may hold it is rewritten
    *     unprobed);
    *   - every data file a live delete file applies to
    *     ([[deleteTouched]]): every delete file goes, so its masks
    *     must be applied into the rewrite;
    *   - on a table stamping per-file sketches, every data file
    *     without a usable stamp, so the commit's refold covers the
    *     table.
    * A victim all of whose rows are the subject's leaves no row under
    * a row-removing erase, and is dropped unread. The table's tiny
    * files (fewer rows than the parquet writer's first page-size
    * check, so mostly footer) ride along into the same output when it
    * merges at least two files: each costs a file open on every scan
    * and a manifest entry, and rewriting one costs a handful of rows.
    * The output is coalesced, not shuffled, to one file per target
    * size. The commit carries `erase.operation` and refolds the NDV
    * sketches. With nothing to rewrite, the sketches still refold — a
    * COW delete that removed the subject's rows earlier left their
    * hashes in them — in a metadata-only commit. */
  private[lake] def eraseSubject(erase: Erase): Unit = {
    val rewritten = cowTransaction(erase.operation, Some("main"),
        Some(erase.columns)) { snap =>
      val m = snap.meta
      val (data, deletes) = snap.entries.partition(_.content == 0)
      val tiny = (e: ManifestEntry) => e.recordCount < GraftTable.TinyFileRows
      val (holding, whole) =
        subjectFiles(m, data, erase.keyColumn, erase.bind, unread = tiny)
      val touched = deleteTouched(data, deletes)
      val unstamped: ManifestEntry => Boolean = ndvTracked(m) match {
        case Some((tracked, _)) if fileNdvEnabled(m) =>
          e => !ndvCovers(m, tracked)(e)
        case _ => _ => false
      }
      val victims = data.filter(e =>
        holding(abs(e)) || touched(abs(e)) || unstamped(e))
      if (victims.isEmpty && deletes.isEmpty) None
      else {
        val rewrite =
          victims.filterNot(e => erase.dropsRows && whole(abs(e)))
        val victimSet = victims.map(abs).toSet
        val riders = data.filter(e => tiny(e) && !victimSet(abs(e)))
        val read =
          if (rewrite.size + riders.size >= 2) rewrite ++ riders else rewrite
        val nParts = math.max(1, math.ceil(read.map(_.fileSizeBytes).sum
          .toDouble / GraftTable.TargetFileBytes).toInt)
        Some((victimSet ++ read.map(abs) ++ deletes.map(abs),
          if (read.isEmpty) None
          else Some(erase.rows(readWithLineage(read ++ deletes)
            .drop(FileCol, PosCol)).coalesce(nParts)),
          Map("rewritten-data-files" -> read.size.toString,
            "removed-data-files" -> (victims.size - rewrite.size).toString,
            "removed-delete-files" -> deletes.size.toString,
            "mode" -> "copy-on-write")))
      }
    }
    if (rewritten.isEmpty) {
      val b = captureBase()
      if (ndvTracked(b.meta).isDefined)
        commitMeta(b, ndvEraseTweak(b.meta, erase.columns, b.entries,
          b.meta.currentSnapshotId.getOrElse(-1L))(b.meta))
    }
  }

  /** Physical subject discovery for a permanent erase: the files among
    * `data` whose ROWS hold a match for `bind` (`keyColumn` against a
    * literal), and the subset all of whose rows match. It judges the
    * bytes, not the live rows: a row a MOR delete hid still sits in
    * its file. Manifest min/max prunes first. A file whose exact stats
    * prove the match (min = max = the key) is not read; with no nulls
    * every row of it matches. A surviving `unread` file is counted as
    * holding the subject without a read: the caller rewrites it, which
    * costs what probing it would. The rest are probed in one job with
    * no shuffle that reads only the key column and collects the
    * matching rows' file paths (a subject has few rows). */
  private def subjectFiles(m: TableMeta, data: Seq[ManifestEntry],
      keyColumn: String, bind: DataFrame => Column,
      unread: ManifestEntry => Boolean = _ => false)
      : (Set[String], Set[String]) = {
    val sch = StructType.fromDDL(m.schemaDdl)
    val pn = m.physicalNames
    val key = sch.fields.find(_.name.equalsIgnoreCase(keyColumn))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown column: $keyColumn"))
    val conjuncts = analyzeConjuncts(m, bind)
    val survivors = pruneByPredicate(m, data, conjuncts)
    val proven: ManifestEntry => Boolean = conjuncts match {
      case Seq(EqualTo(a: AttributeReference, l: Literal))
          if GraftTable.exactStats(a.dataType) && l.value != null =>
        e => !mayMatch(e, LessThan(a, l), sch, pn) &&
          !mayMatch(e, GreaterThan(a, l), sch, pn)
      case _ => _ => false
    }
    val (pinned, rest) = survivors.partition(proven)
    val (assumed, probe) = rest.partition(unread)
    val probed =
      if (probe.isEmpty) Set.empty[String]
      else {
        val keys = scanParquet(probe.map(absSized), StructType(Seq(key)),
          pn, lineage = true)
        keys.filter(bind(keys)).select(FileCol).collect()
          .map(r => Io.normalize(r.getString(0))).toSet
      }
    ((pinned ++ assumed).map(abs).toSet ++ probed,
      pinned.filter(_.stats.get(physName(pn)(key.name))
        .exists(_.nullCount == 0)).map(abs).toSet)
  }

  /** The files among `data` that a live delete file among `deletes`
    * applies to: the files a position-delete file names (read on the
    * driver through the delete-file cache the scans share), and every
    * file older than the newest equality delete (the sequence law
    * [[DeleteFilter]] applies; a superset of the files it masks). */
  private def deleteTouched(data: Seq[ManifestEntry],
      deletes: Seq[ManifestEntry]): Set[String] = {
    if (deletes.isEmpty) return Set.empty
    val conf = DeleteFilter.sessionConf(spark)
    val named = deletes.filter(_.content == 1)
      .flatMap(d => DeleteFilter.positions(abs(d), conf).keys).toSet
    val eqSeq = deletes.filter(_.content == 2).map(_.addedSnapshotId)
      .maxOption
    data.filter(e => eqSeq.exists(e.addedSnapshotId < _) ||
      Io.uriForms(abs(e)).exists(named)).map(abs).toSet
  }

  /** The refs besides main that an expiry would keep (not lapsed under
    * their own cap or `history.expire.max-ref-age-ms`) whose snapshot
    * still holds a permanent erase's subject, by [[subjectFiles]]. An
    * erase would leave them reading it. No Spark job when no such ref
    * exists. */
  private[lake] def refsHolding(erase: Erase): Seq[String] = {
    val m = meta
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    val kept = (liveAndLapsedRefs(m)._1 - "main").toSeq.flatMap {
      case (name, r) => byId.get(r.snapshotId).map(s =>
        name -> manifestOf(s).filter(_.content == 0))
    }
    if (kept.isEmpty) return Nil
    val holding = subjectFiles(m, kept.flatMap(_._2).distinctBy(abs),
      erase.keyColumn, erase.bind)._1
    kept.collect { case (name, es) if es.exists(e => holding(abs(e))) =>
      name }.sorted
  }

  /** Resolve a branch's head snapshot from a captured base, rejecting
    * tags (immutable) and dangling refs. */
  private def branchHead(b: Base, branch: String): SnapshotMeta = {
    val ref = b.meta.refs.getOrElse(branch,
      throw new IllegalArgumentException(s"unknown branch $branch"))
    require(ref.refType == "branch", s"cannot write to tag $branch")
    b.meta.snapshots.find(_.snapshotId == ref.snapshotId)
      .getOrElse(throw new IllegalStateException(
        s"branch $branch points at expired snapshot ${ref.snapshotId}"))
  }

  /** Entries whose data files survive only if not in `affected` —
    * helper for cowTransaction callers planning phase-2 reads. */
  private[lake] def victimEntries(entries: Seq[ManifestEntry],
      affected: Set[String]): Seq[ManifestEntry] =
    entries.filter(e => e.content != 0 || affected.contains(abs(e)))

  /** COW rewrite shared by delete/update: replace exactly the data files
    * holding matching live rows. Two bounded scans, never a full-table
    * read: (1) hit discovery over stats-pruned candidates only, (2) the
    * rewrite read re-plans over JUST the affected data files (plus
    * delete files so MOR masks apply) — the file list is chosen
    * pre-plan, so no post-scan path filter exists at all. */
  private def cowRewrite(bind: DataFrame => Column,
      transform: DataFrame => DataFrame, operation: String,
      claimKey: Option[String] = None): Option[SnapshotMeta] =
    cowRewriteOn(None, bind, transform, operation, claimKey)

  private def cowRewriteOn(branch: Option[String],
      bind: DataFrame => Column, transform: DataFrame => DataFrame,
      operation: String,
      claimKey: Option[String] = None): Option[SnapshotMeta] =
    cowTransaction(operation, branch) { snap =>
      // discovery over stats-pruned candidates only — planned through
      // prunedEntriesOf, so a big table's entry list never
      // materializes on the driver (executor-side past the threshold)
      val pruned = snap.pruned(bind)
      val tgt = claimedOr(pruned, claimKey, snap.readLineage)
      val affected = tgt.filter(bind(tgt)).select(FileCol).distinct()
        .collect().map(r => Io.normalize(r.getString(0))).toSet
      if (affected.isEmpty) None
      else Some((affected,
        // victims ⊆ pruned candidates (affected files came from the
        // pruned read), plus every delete file so MOR masks apply —
        // both already in `pruned` (it keeps all content != 0)
        Some(transform(claimedOr(victimEntries(pruned, affected), claimKey,
          snap.readLineage).drop(FileCol, PosCol))),
        Map("rewritten-files" -> affected.size.toString,
          "mode" -> "copy-on-write")))
    }

  // ---- maintenance ----

  /** Policy-driven maintenance runner — the scheduler hook a
    * production deployment wires to a cron: ONE call inspects the
    * table against per-table policy properties and runs whichever
    * maintenance actions have tripped, compaction first (so join
    * eligibility and read amplification recover before anything else),
    * then snapshot expiry, then orphan cleanup. Policies travel WITH
    * the table (TBLPROPERTIES), not with the caller, so a single
    * fleet-wide scheduler loop services heterogeneous tables.
    *
    *  - `maintenance.compact.min-delete-files` (default 1): compact
    *    when at least this many MOR delete files exist — the action
    *    that restores bucket-local (storage-partitioned) join
    *    eligibility after merge-on-read DML, and caps per-read
    *    delete-mask cost.
    *  - `maintenance.compact.min-small-files` (default 8): bin-pack
    *    when at least this many data files sit under half of
    *    `maintenance.compact.target-file-size-bytes` (default 128 MiB)
    *    AND compacting would actually shrink the file count — the
    *    guard that makes a quiet table a no-op (a clustered table
    *    compacts into `write.clustered-by.files` outputs, so small
    *    counts at or below that are already optimal).
    *  - `maintenance.bucket.max-bytes-per-bucket` (default 4 GiB):
    *    advisory row (no commit) when a bucket-clustered table's
    *    per-bucket bytes exceed the cap — bucket-local reads would
    *    hand each task a bucket-sized input; re-cluster to fix.
    *  - `maintenance.manifests.min-count` (unset = never): compact
    *    the manifest-segment list ([[rewriteManifests]]) when the
    *    current snapshot references at least this many segments —
    *    bounds planning-time metadata reads after long runs of
    *    O(delta) commits.
    *  - `maintenance.expire.max-age-ms` (unset = never): expire
    *    snapshots older than now − maxAge, retaining
    *    `maintenance.expire.retain-last` (default 1) — bounds
    *    metadata growth and makes GDPR erasure durable on schedule.
    *  - `maintenance.orphans.older-than-ms` (unset = never): remove
    *    orphan files older than the horizon (safety refusal below 3
    *    days still applies — a misconfigured horizon fails loudly).
    *  - `maintenance.analyze.stale-commits` (unset = never):
    *    re-ANALYZE stored NDV sketches once stale for at least this
    *    many main-lineage commits. Override per column with
    *    `maintenance.analyze.stale-commits.<col>`; scope the
    *    refreshed set with `maintenance.analyze.columns` (comma
    *    list). `.stats`'s `commits_since_fold` surfaces the age these
    *    thresholds compare against.
    *
    * Returns one (action, detail) row per action RUN; empty = healthy.
    * Idempotent on a quiet table: an immediate second call does
    * nothing. Each action is its own snapshot/commit wrapped in
    * [[GraftTable.retryOnConflict]] — a scheduler loop racing live
    * ingest writers loses the occasional CAS and simply recomputes
    * from the winner's state, never failing the sweep. */
  def maintain(): Seq[(String, String)] = {
    val report = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val props = properties
    // Every numeric `maintenance.*` policy is validated UP FRONT, so
    // a malformed value fails the sweep BEFORE any action committed —
    // never halfway through (actions already ran) and never silently
    // (a skipped policy reads as a healthy table). Validation covers
    // ONLY the policy keys this sweep consumes (plus the per-column
    // stale-commits prefix) — a foreign or future string-valued
    // `maintenance.*` key on the table must not block unrelated
    // compact/expire/orphan actions. The one non-numeric policy key
    // is `maintenance.analyze.columns`.
    val nums: Map[String, Long] = props.collect {
      case (k, v) if GraftTable.MaintenanceNumericKeys.contains(k) ||
          k.startsWith("maintenance.analyze.stale-commits.") =>
        k -> (try v.trim.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"table property $k must be an integer, got '$v'")
        })
    }
    // Int-consumed policies refuse out-of-range values instead of
    // silently wrapping (4294967297.toInt == 1 would re-ANALYZE every
    // sweep where the user meant "practically never")
    def checkedInt(k: String, v: Long): Int = {
      require(v >= Int.MinValue && v <= Int.MaxValue,
        s"table property $k out of int range: $v")
      v.toInt
    }
    def intProp(k: String, d: Int): Int =
      nums.get(k).map(checkedInt(k, _)).getOrElse(d)
    val target = nums.getOrElse(
      "maintenance.compact.target-file-size-bytes", GraftTable.TargetFileBytes)
    val entries = currentEntries
    val delFiles = entries.count(_.content != 0)
    val small = entries.filter(e =>
      e.content == 0 && e.fileSizeBytes < target / 2)
    // expected bin-pack output count: size-driven, floored at the
    // declared clustering fan-out (clustered rewrites land there)
    val sizeParts = math.max(1, math.ceil(
      small.map(_.fileSizeBytes).sum.toDouble / target).toInt)
    val expectedOut = clusterFields match {
      case Some(_) => math.max(sizeParts, clusterFileCount)
      case None => sizeParts
    }
    if (delFiles >= intProp("maintenance.compact.min-delete-files", 1)) {
      GraftTable.retryOnConflict()(rewriteDataFiles(
        Map("target-file-size-bytes" -> target.toString))).foreach { s =>
        report += ("compact-deletes" ->
          (s"applied $delFiles delete file(s); rewrote " +
            s"${s.summary.getOrElse("rewritten-data-files", "?")} data " +
            s"file(s) in snapshot ${s.snapshotId}"))
      }
    } else if (small.size >=
        intProp("maintenance.compact.min-small-files", 8) &&
        small.size > expectedOut) {
      GraftTable.retryOnConflict()(rewriteDataFiles(
        Map("target-file-size-bytes" -> target.toString))).foreach { s =>
        report += ("compact-small-files" ->
          (s"bin-packed ${small.size} small file(s) into " +
            s"~$expectedOut in snapshot ${s.snapshotId}"))
      }
    }
    // under-bucketing advisory (report-only, no commit): a
    // bucket-clustered table whose per-bucket bytes exceed
    // `maintenance.bucket.max-bytes-per-bucket` (default 4 GiB) has
    // outgrown its bucket count — bucket-local joins would hand each
    // task a bucket-sized input. The fleet sweep is where an operator
    // hears this; the fix is a re-cluster, which only they can size.
    clusterFields.getOrElse(Nil).collectFirst {
      case b: BucketField => b
    }.foreach { b =>
      val cap = nums.getOrElse("maintenance.bucket.max-bytes-per-bucket",
        GraftTable.BucketBytesWarn)
      val perBucket = entries.filter(_.content == 0)
        .map(_.fileSizeBytes).sum / math.max(1, b.n)
      if (perBucket > cap)
        report += ("bucket-load-warning" ->
          (s"~$perBucket bytes per bucket across ${b.n} buckets " +
            s"exceeds $cap; re-cluster with a higher bucket count to " +
            "keep bucket-local task inputs bounded"))
    }
    // segment sprawl: many O(delta) commits each left a small manifest
    // segment; compact the current snapshot's list when it references
    // at least min-count segments (metadata-only — data untouched)
    nums.get("maintenance.manifests.min-count").foreach { n =>
      GraftTable.retryOnConflict()(rewriteManifests(math.max(1,
        checkedInt("maintenance.manifests.min-count", n)))).foreach { s =>
        report += ("rewrite-manifests" ->
          (s"compacted ${s.summary.getOrElse("manifests-replaced", "?")} " +
            s"manifest segment(s) into 1 in snapshot ${s.snapshotId}"))
      }
    }
    // a snapshot fork inherits the source's policies but owns none of
    // its bytes (gc.enabled=false): the scheduler SKIPS expiry there
    // instead of crashing the whole fleet sweep on the gc refusal
    nums.get("maintenance.expire.max-age-ms")
      .filter(_ => props.getOrElse("gc.enabled", "true").toBoolean)
      .foreach { age =>
        val retain = intProp("maintenance.expire.retain-last", 1)
        val expired = GraftTable.retryOnConflict()(
          expireSnapshots(now() - age, retain))
        if (expired.nonEmpty)
          report += ("expire-snapshots" ->
            s"expired ${expired.size} snapshot(s): ${expired.mkString(",")}")
      }
    nums.get("maintenance.orphans.older-than-ms").foreach { h =>
      // orphan removal is FS-side only (no table commit) — no CAS race
      val removed = removeOrphanFiles(now() - h)
      if (removed.nonEmpty)
        report += ("remove-orphans" -> s"removed ${removed.size} file(s)")
    }
    // stored-NDV refresh (closes the D50 staleness loop without a
    // human re-running compute_table_stats): once a sketch went STALE
    // (a row-removing / branch-landing commit) AND enough
    // main-lineage commits sit between its fold point and the head,
    // re-ANALYZE. Per-column policies (r16): the table-level
    // `maintenance.analyze.stale-commits` threshold can be overridden
    // per column via `maintenance.analyze.stale-commits.<col>`, and
    // `maintenance.analyze.columns` (comma list) scopes which tracked
    // columns the auto-refresh covers at all — a hot join key can
    // refresh on every stale commit while a wide text column never
    // burns a scan. Deciding "nothing to do" reads only metadata (one
    // lineage walk); the ONE data scan (covering the whole scoped
    // set — an extra column in a running scan is ~free) runs only
    // when at least one scoped column tripped its own threshold.
    val PerColPrefix = "maintenance.analyze.stale-commits."
    if (nums.contains("maintenance.analyze.stale-commits") ||
        nums.keys.exists(_.startsWith(PerColPrefix)) ||
        props.contains("maintenance.analyze.columns")) {
      val defaultMin = nums.get("maintenance.analyze.stale-commits")
      val m = meta
      val cur = StructType.fromDDL(m.schemaDdl)
      // a mistyped per-column key must refuse like analyze.columns
      // does — an inert policy reads as a healthy table
      nums.keys.filter(_.startsWith(PerColPrefix)).foreach { k =>
        val c = k.stripPrefix(PerColPrefix)
        require(cur.fields.exists(_.name.equalsIgnoreCase(c)),
          s"table property $k names unknown column: $c")
      }
      // analyze.columns validates UNCONDITIONALLY, like the per-column
      // key above — a mistyped name on a never-analyzed table must
      // refuse, not sit silently inert until the first ANALYZE
      val scopeNames = props.get("maintenance.analyze.columns").map {
        list =>
          val names = list.split(",").map(_.trim).filter(_.nonEmpty)
          names.foreach(n => require(
            cur.fields.exists(_.name.equalsIgnoreCase(n)),
            s"maintenance.analyze.columns names unknown column: $n"))
          names.toSeq
      }
      if (m.columnNdv.nonEmpty) {
        val pn = m.physicalNames
        val tracked = cur.fields.toSeq
          .filter(f => m.columnNdv.contains(physName(pn)(f.name)))
        val scoped = scopeNames match {
          case Some(names) =>
            tracked.filter(f => names.exists(_.equalsIgnoreCase(f.name)))
          case None => tracked
        }
        // a column with neither its own threshold nor a table default
        // never auto-refreshes (columns-only scoping still needs SOME
        // threshold to mean anything); the per-column key matches the
        // logical name case-insensitively like every other column ref
        def thresholdFor(col: String): Option[Long] =
          nums.collectFirst {
            case (k, v) if k.startsWith(PerColPrefix) &&
              k.stripPrefix(PerColPrefix).equalsIgnoreCase(col) => v
          }.orElse(defaultMin).map(math.max(1L, _))
        val parents = parentIndex(m)
        val tripped = scoped.filter { f =>
          val s = m.columnNdv(physName(pn)(f.name))
          thresholdFor(f.name).exists { min =>
            val (age, foldInLineage) =
              foldAge(m, s.analyzedSnapshotId, parents)
            // a fold point that expired out of the retained lineage
            // is "at least retained-depth old" — over any threshold
            ndvStaleIn(m, s.analyzedSnapshotId, parents) &&
              (!foldInLineage || age >= min)
          }
        }
        if (tripped.nonEmpty) {
          val k = scoped.map(f => m.columnNdv(physName(pn)(f.name)).k).max
          // cheapest repair first: when every surviving entry carries
          // its own file sketch (and no delete files mask rows), the
          // table sketch refolds from metadata alone — zero Spark
          // jobs, no corpus re-scan. Ineligible tables fall back to
          // the full ANALYZE.
          val refolded = GraftTable.retryOnConflict()(
            refoldColumnStats(scoped.map(_.name)))
          if (refolded.isDefined)
            report += ("analyze" ->
              (s"${tripped.size} stale sketch(es); re-folded " +
                s"${scoped.map(_.name).mkString(",")} from file " +
                "sketches (no data scan)"))
          else {
            GraftTable.retryOnConflict()(
              computeTableStats(scoped.map(_.name), k))
            report += ("analyze" ->
              (s"${tripped.size} stale sketch(es); re-analyzed " +
                s"${scoped.map(_.name).mkString(",")} (k=$k)"))
          }
        }
      }
    }
    report.toSeq
  }

  /** D10 expire_snapshots (ref demo.py:289-296): drop snapshots older
    * than the cutoff (always keeping the current one and the newest
    * `retainLast`), delete files only they referenced. Time travel to
    * an expired snapshot then fails, as demo.py:300-306 demonstrates.
    * `olderThanMs` defaults to "now", so the retain-last-only form
    * (README.md:88-93's companion signature) expires everything except
    * the newest `retainLast` plus the current head and ref-pinned
    * snapshots: `expireSnapshots(retainLast = n)`. */
  /** `gc.enabled=false` (set automatically on snapshot-fork tables)
    * refuses every operation that physically deletes referenced data
    * files — a fork references bytes it does NOT own (they live under
    * the source's directory), so expiry here could destroy the
    * source's history. Iceberg's snapshot procedure makes the same
    * promise the same way. */
  private[lake] def requireGcEnabled(op: String): Unit =
    require(properties.getOrElse("gc.enabled", "true").toBoolean,
      s"Cannot $op on $name: gc.enabled=false (this table references " +
        "data files it does not own — a snapshot fork's source would " +
        "lose history)")

  def expireSnapshots(olderThanMs: Long = now(), retainLast: Int = 1)
      : Seq[Long] = expire(olderThanMs, retainLast, trimHistory = false)

  /** [[expireSnapshots]] as the last commit of a permanent erase
    * ([[ErasePii]]): every snapshot but the head (and ref-pinned ones)
    * expires, and the same commit deletes every older metadata
    * version (see [[commitMeta]]), so no `vN.metadata.json` written
    * before the erase keeps the erased values' sketch hashes. It
    * commits even when no snapshot expires: the trim is the point. */
  private[lake] def expireSnapshotsErasing(): Seq[Long] =
    expire(now() + 1, retainLast = 1, trimHistory = true)

  private def expire(olderThanMs: Long, retainLast: Int,
      trimHistory: Boolean): Seq[Long] = {
    requireGcEnabled("expire snapshots")
    val b = captureBase()
    val m = b.meta
    // ref age retention (Iceberg's `history.expire.max-ref-age-ms`):
    // a branch/tag whose snapshot committed more than max-ref-age ago
    // LAPSES during expiry instead of pinning its snapshot forever —
    // without this, one forgotten tag quietly pins PII history against
    // every future erase+expire (the GDPR-durability hole). Fresh refs
    // keep pinning; unset (the default) keeps refs immortal, exactly
    // like Iceberg. Age is measured from the referenced snapshot's
    // commit time, matching Iceberg's RemoveSnapshots.
    val (liveRefs, lapsedRefs) = liveAndLapsedRefs(m)
    val keepIds = (m.snapshots.filter(_.timestampMs >= olderThanMs)
      .map(_.snapshotId)
      ++ m.currentSnapshotId.toSeq
      ++ liveRefs.values.map(_.snapshotId) // branches/tags pin snapshots
      ++ m.snapshots.sortBy(_.timestampMs).takeRight(retainLast)
        .map(_.snapshotId)).toSet
    val (retained, removed) = m.snapshots.partition(s => keepIds(s.snapshotId))
    if (removed.isEmpty && lapsedRefs.isEmpty && !trimHistory) return Nil
    // Iceberg's ordering: swap the metadata FIRST, physically delete
    // only after the trimmed snapshot list is durably published. A
    // crash (or losing the commit race) in between leaves unreferenced
    // files for remove_orphan_files — never published metadata that
    // points at deleted manifests, which would wedge every whole-log
    // operation (allEntries, orphan scans, file summaries).
    commitMeta(b, m.copy(snapshots = retained, refs = liveRefs), trimHistory)
    if (removed.nonEmpty) sweepExpired(retained, removed)
    removed.map(_.snapshotId)
  }

  /** `m`'s refs split into (live, lapsed) by ref age retention — see
    * [[expire]]; [[refsHolding]] asks which refs an expiry keeps. */
  private def liveAndLapsedRefs(m: TableMeta)
      : (Map[String, RefMeta], Map[String, RefMeta]) = {
    val tableRefAge = m.properties.get("history.expire.max-ref-age-ms")
      .map(_.toLong)
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    val (lapsed, live) = m.refs.partition { case (_, r) =>
      // per-ref RETAIN overrides the table default; no cap = immortal
      r.maxRefAgeMs.orElse(tableRefAge).exists(age =>
        byId.get(r.snapshotId).exists(_.timestampMs < now() - age))
    }
    (live, lapsed)
  }

  /** Physically delete everything `removed` reaches that `retained`
    * does not — shared by both expire forms. Metadata files (manifest
    * lists + segments) are decided from the refs alone. DATA-file
    * reachability past the distributed threshold runs as an
    * executor-side anti-join over the segment scan — candidates come
    * only from removed-EXCLUSIVE segments (a segment shared with a
    * retained snapshot is reachable by definition), checked against
    * the full retained segment scan — so expiring history on a
    * million-file table costs the driver O(actually-deleted files),
    * never an O(table files) reachable-set. Below the threshold the
    * original driver walk runs. */
  private def sweepExpired(retained: Seq[SnapshotMeta],
      removed: Seq[SnapshotMeta]): Unit = {
    // segments are SHARED across snapshots: only metadata files no
    // retained snapshot's manifest list still reaches may be deleted
    val retainedMeta = retained.flatMap(manifestFilesOf).toSet
    if (serveDistributed(retained ++ removed)) {
      val retainedSegs = retained.flatMap(s => segmentsOf(s).map(_.path))
        .distinct
      val retainedSegSet = retainedSegs.toSet
      val removedExcl = removed.flatMap(s => segmentsOf(s).map(_.path))
        .distinct.filterNot(retainedSegSet)
      if (removedExcl.nonEmpty) {
        val cand = segmentEntriesDf(removedExcl)
          .select(absCol(col("path")).as("p")).distinct()
        val doomed =
          if (retainedSegs.isEmpty) cand
          else cand.join(segmentEntriesDf(retainedSegs)
            .select(absCol(col("path")).as("p")), Seq("p"), "left_anti")
        doomed.collect().foreach(r =>
          Files.deleteIfExists(Path.of(r.getString(0))))
      }
      for (s <- removed; rel <- manifestFilesOf(s) if !retainedMeta(rel))
        Files.deleteIfExists(root.resolve(rel))
    } else {
      val removedManifests = removed.map(s =>
        (manifestFilesOf(s), manifestOf(s)))
      val reachable = entriesAcross(retained).map(abs).toSet
      for ((metaFiles, entries) <- removedManifests) {
        for (e <- entries if !reachable(abs(e)))
          Files.deleteIfExists(Path.of(abs(e)))
        for (rel <- metaFiles if !retainedMeta(rel))
          Files.deleteIfExists(root.resolve(rel))
      }
    }
  }

  /** Targeted expiry — Iceberg's `expire_snapshots(snapshot_ids =>
    * …)`: remove exactly the named snapshots instead of a time
    * horizon. Protected snapshots REFUSE loudly (Iceberg's
    * RemoveSnapshots likewise refuses the current snapshot; we extend
    * the refusal to branch/tag-pinned ones rather than silently
    * skipping — a GDPR workflow that thinks it purged a pinned
    * snapshot must hear otherwise). Same publish-then-delete ordering
    * as the time-based [[expireSnapshots]]: metadata first, physical
    * file removal only for files no retained snapshot still reaches.
    */
  def expireSnapshotsByIds(ids: Seq[Long]): Seq[Long] = {
    if (ids.isEmpty) return Nil
    requireGcEnabled("expire snapshots")
    val b = captureBase()
    val m = b.meta
    val known = m.snapshots.map(_.snapshotId).toSet
    ids.foreach(id => require(known(id),
      s"Cannot expire unknown snapshot $id"))
    m.currentSnapshotId.filter(ids.contains).foreach(id =>
      throw new IllegalArgumentException(
        s"Cannot expire the current snapshot $id " +
          "(roll back or set_current first)"))
    for ((refName, ref) <- m.refs if ids.contains(ref.snapshotId))
      throw new IllegalArgumentException(
        s"Cannot expire snapshot ${ref.snapshotId}: pinned by " +
          s"${ref.refType} '$refName' (drop the ref first)")
    val drop = ids.toSet
    val (removed, retained) = m.snapshots.partition(s =>
      drop(s.snapshotId))
    commitMeta(b, m.copy(snapshots = retained))
    sweepExpired(retained, removed)
    removed.map(_.snapshotId)
  }

  /** Ancestry walk — Iceberg's `ancestors_of` metadata procedure: the
    * chain of snapshots from `snapshotId` (default: current) back
    * through parent links, newest first. Stops gracefully where the
    * chain leaves the retained log (an expired ancestor ends the
    * walk, exactly like Iceberg's SnapshotUtil.ancestorsOf). */
  def ancestorsOf(snapshotId: Option[Long] = None): Seq[SnapshotMeta] = {
    val m = meta
    val start = snapshotId.orElse(m.currentSnapshotId)
      .getOrElse(return Nil)
    require(m.snapshots.exists(_.snapshotId == start),
      s"Cannot find snapshot with ID $start (expired or never existed)")
    var chain = Vector.empty[SnapshotMeta]
    var cursor: Option[Long] = Some(start)
    while (cursor.isDefined) {
      m.snapshots.find(_.snapshotId == cursor.get) match {
        case Some(s) => chain :+= s; cursor = s.parentId
        case None => cursor = None // expired ancestor: end of walk
      }
    }
    chain
  }

  /** Roll the current pointer back to an ANCESTOR of the current
    * state — Iceberg's rollback_to_snapshot (its SetSnapshotOperation
    * refuses non-ancestors; arbitrary jumps are set_current_snapshot's
    * job). Nothing is deleted: later snapshots stay in the log (and
    * remain expirable), so the demo's forensic point holds — a MOR
    * "delete" is undone by a rollback until expire+rewrite make it
    * permanent. */
  def rollbackTo(snapshotId: Long): SnapshotMeta = {
    val b = captureBase()
    val snap = b.meta.snapshots.find(_.snapshotId == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"Cannot roll back to unknown snapshot $snapshotId"))
    var cursor = b.meta.currentSnapshotId
    var ancestor = false
    while (!ancestor && cursor.isDefined) {
      if (cursor.contains(snapshotId)) ancestor = true
      else cursor = b.meta.snapshots
        .find(_.snapshotId == cursor.get).flatMap(_.parentId)
    }
    require(ancestor, s"Cannot roll back to snapshot $snapshotId: " +
      "not an ancestor of the current state " +
      "(use set_current_snapshot for arbitrary jumps)")
    commitMeta(b, b.meta.copy(currentSnapshotId = Some(snapshotId)))
    snap
  }

  /** Set the current pointer to ANY retained snapshot — Iceberg's
    * set_current_snapshot: unlike rollback this can jump FORWARD again
    * (undo the undo) or sideways onto a branch/WAP snapshot, making it
    * the general escape hatch of the snapshot-management trio. */
  def setCurrentSnapshot(snapshotId: Long): SnapshotMeta = {
    val b = captureBase()
    val snap = b.meta.snapshots.find(_.snapshotId == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"Cannot set current snapshot to unknown snapshot $snapshotId"))
    commitMeta(b, b.meta.copy(currentSnapshotId = Some(snapshotId)))
    snap
  }

  /** Cherry-pick one snapshot's CHANGES onto the current head as a NEW
    * commit (Iceberg's cherrypick_snapshot) — the other half of the
    * WAP publish story: fast_forward moves the pointer onto the staged
    * branch wholesale; cherry-pick replays just one staged commit's
    * file delta while main keeps its own lineage. The delta is a
    * manifest diff against the picked snapshot's parent; it applies
    * cleanly only if every file it removes is still present (and none
    * of its added files already are) at the head — otherwise this
    * conflicts instead of silently double-applying. Picked entries
    * keep their original addedSnapshotId, preserving the data-sequence
    * rule equality deletes rely on (Iceberg likewise keeps sequence
    * numbers on cherry-pick). Like Iceberg, only APPEND snapshots are
    * pickable: a delete snapshot's added delete files reference victim
    * data files by path/key, and the path-set conflict check cannot
    * see that a victim was meanwhile compacted away on main — the
    * pick would commit a delete file that silently no-ops. Iceberg's
    * CherryPickOperation refuses non-append snapshots for exactly
    * this reason. */
  def cherrypickSnapshot(snapshotId: Long): SnapshotMeta = {
    val b = captureBase()
    val m = b.meta
    val snap = m.snapshots.find(_.snapshotId == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"Cannot cherry-pick unknown snapshot $snapshotId"))
    require(snap.operation == "append",
      s"cannot cherry-pick snapshot $snapshotId: only append " +
        s"snapshots can be cherry-picked, got '${snap.operation}' " +
        "(delete/overwrite/replace file deltas may reference data " +
        "files rewritten on the target branch)")
    val target = manifestOf(snap)
    val parentEntries: Seq[ManifestEntry] = snap.parentId match {
      case None => Nil
      case Some(pid) => m.snapshots.find(_.snapshotId == pid) match {
        case Some(p) => manifestOf(p)
        case None => throw new IllegalStateException(
          s"cannot cherry-pick snapshot $snapshotId: its parent $pid " +
            "was expired, so its file delta is unrecoverable")
      }
    }
    val parentPaths = parentEntries.map(_.path).toSet
    val targetPaths = target.map(_.path).toSet
    val added = target.filterNot(e => parentPaths.contains(e.path))
    val removed = parentPaths -- targetPaths
    val headPaths = b.entries.map(_.path).toSet
    require(removed.subsetOf(headPaths),
      s"cannot cherry-pick snapshot $snapshotId: it removes files " +
        "no longer present at the current head")
    require(!added.exists(e => headPaths.contains(e.path)),
      s"cannot cherry-pick snapshot $snapshotId: its added files are " +
        "already present at the current head")
    commitDelta(b, nextSnapshotHint, None, snap.operation,
      b.entries.filter(e => removed(e.path)).map(abs).toSet, added,
      Map("cherry-picked-snapshot-id" -> snapshotId.toString))
  }

  // ---- refs (branches / tags) ----

  def refs: Map[String, RefMeta] = meta.refs

  /** Create a branch or tag at `snapshotId` (default: current head).
    * Both pin the snapshot against expireSnapshots; a tag is an
    * immutable label, a branch can be fast-forwarded. */
  /** `maxRefAgeMs` is Iceberg's per-ref RETAIN: this ref lapses during
    * expire_snapshots once its snapshot is older than the cap,
    * overriding the table-level `history.expire.max-ref-age-ms`. */
  def createRef(name: String, refType: String,
      snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): RefMeta = {
    require(refType == "branch" || refType == "tag",
      s"ref type must be branch or tag, got $refType")
    // reserved: "main" is the table head itself (currentSnapshotId),
    // resolved specially by fastForward/refSnapshotId/branch reads. A
    // ref NAMED main would shadow the head and serve stale data to
    // every later branch=main read — refuse it at the source.
    require(name != "main",
      "main is the table head — it always exists and cannot be " +
        "created as a ref")
    val b = captureBase()
    require(!b.meta.refs.contains(name), s"ref $name already exists")
    val id = snapshotId.orElse(b.meta.currentSnapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"cannot create ref $name: table has no snapshots"))
    require(b.meta.snapshots.exists(_.snapshotId == id),
      s"Cannot find snapshot with ID $id (expired or never existed)")
    val ref = RefMeta(id, refType, maxRefAgeMs)
    commitMeta(b, b.meta.copy(refs = b.meta.refs + (name -> ref)))
    ref
  }

  def createBranch(name: String, snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): RefMeta =
    createRef(name, "branch", snapshotId, maxRefAgeMs)

  def createTag(name: String, snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): RefMeta =
    createRef(name, "tag", snapshotId, maxRefAgeMs)

  def dropRef(name: String): Unit = {
    val b = captureBase()
    require(b.meta.refs.contains(name), s"unknown ref $name")
    commitMeta(b, b.meta.copy(refs = b.meta.refs - name))
  }

  /** Advance a branch pointer to a newer snapshot (tags are
    * immutable, like Iceberg's fast_forward). "main" is the table
    * head itself — fast-forwarding it publishes a branch's work to
    * readers (the write-audit-publish promotion step). */
  def fastForward(name: String, toSnapshotId: Long): RefMeta = {
    val b = captureBase()
    require(b.meta.snapshots.exists(_.snapshotId == toSnapshotId),
      s"Cannot find snapshot with ID $toSnapshotId " +
        "(expired or never existed)")
    if (name == "main") {
      commitMeta(b, b.meta.copy(currentSnapshotId = Some(toSnapshotId)))
      return RefMeta(toSnapshotId, "branch")
    }
    val ref = b.meta.refs.getOrElse(name,
      throw new UnknownRefException(name))
    require(ref.refType == "branch", s"cannot fast-forward tag $name")
    val updated = ref.copy(snapshotId = toSnapshotId)
    commitMeta(b, b.meta.copy(refs = b.meta.refs + (name -> updated)))
    updated
  }

  /** Append to a BRANCH head (Iceberg's write-audit-publish shape):
    * the new snapshot's parent is the branch head and only the branch
    * pointer advances — `main` readers never see the rows until
    * `fastForward("main", refSnapshotId(branch))` publishes them.
    * Stats/clustering behave exactly like a main append. */
  def appendToBranch(branch: String, df: DataFrame,
      extraSummary: Map[String, String] = Map.empty): SnapshotMeta = {
    // "main" IS the head (writable default branch, Iceberg semantics);
    // the explicit branch pins the head even while spark.wap.branch is
    // set — routing through plain append() would let the session conf
    // re-route the write to the staged branch
    if (branch == "main")
      return append(df, extraSummary, explicitBranch = Some("main"))
    val aligned = alignToSchema(df)
    val b = captureBase()
    branchHead(b, branch) // validate the ref before writing data files
    val snapId = nextSnapshotHint
    val toWrite = clusterFields match {
      case Some(fields) => clustered(aligned, fields, clusterFileCount)
      case None => aligned
    }
    val moved = writeDataFiles(toWrite, b.meta).files
    val newEntries = statEntries(moved, content = 0, snapId)
    val summary = extraSummary ++ Map(
      "added-data-files" -> newEntries.size.toString,
      "added-records" -> newEntries.map(_.recordCount).sum.toString)
    commitDelta(b, snapId, Some(branch), "append", Set.empty, newEntries,
      summary)
  }

  /** Read at a named ref — `SELECT ... VERSION AS OF 'ref-name'`. */
  def readRef(name: String): DataFrame =
    readIn(m => readSnapshot(m, snapshotIn(m, refIdIn(m, name))))

  /** The PUBLISHED main-branch state, ignoring `spark.wap.branch` —
    * what an explicit `branch=main` read must serve: re-routing it to
    * staged data would be the silent-wrong-answer the option exists
    * to rule out. */
  def readMainBranch(): DataFrame = readIn(m => headOf(m)
    .map(readSnapshot(m, _))
    .getOrElse(emptyDfOf(StructType.fromDDL(m.schemaDdl))))

  /** Latest MAIN-ancestry snapshot committed at or before `ms` — the
    * Iceberg snapshot-log semantics behind `TIMESTAMP AS OF` and the
    * `as-of-timestamp` read option. Branch/WAP-staged snapshots share
    * the snapshot LIST but are not ancestors of the published head, so
    * a timestamp read can never surface unpublished data; rollbacks
    * re-root the walk at the rolled-back head, like Iceberg. */
  def snapshotAsOfMs(ms: Long): Option[SnapshotMeta] =
    ancestorsOf(None).filter(_.timestampMs <= ms)
      .sortBy(s => (s.timestampMs, s.snapshotId)).lastOption

  def refSnapshotId(name: String): Long = refIdIn(meta, name)

  private def refIdIn(m: TableMeta, name: String): Long = {
    // "main" resolves to the published head (it is never a stored
    // ref — createRef reserves the name), so VERSION AS OF 'main'
    // and branch plumbing treat it exactly like fastForward does
    if (name == "main")
      return m.currentSnapshotId.getOrElse(
        throw new IllegalArgumentException(
          "branch main has no snapshots yet"))
    m.refs.getOrElse(name, throw new UnknownRefException(name))
      .snapshotId
  }

  /** D11/D12 remove_orphan_files: delete files under data/ that no
    * snapshot references and that are older than the cutoff. Mirrors
    * the reference's two paths: the SQL CALL refuses cutoffs inside the
    * 3-day safety window (demonstrated failing, demo.py:341-358); the
    * Action API bypasses it (`force`, cleanup_utils.py:49-67). */
  def removeOrphanFiles(olderThanMs: Long, force: Boolean = false,
      location: Option[Path] = None): Seq[String] = {
    val safetyMs = 3L * 24 * 3600 * 1000
    if (!force && olderThanMs > now() - safetyMs)
      throw new IllegalArgumentException(
        "Cannot remove orphan files with an interval less than 3 days " +
        "(pass force=true to override, matching the reference's " +
        "Action-API bypass)")
    val m = meta
    val dir = location.getOrElse(dataDir)
    val aged = Io.listRecursive(dir).filter(p =>
      Files.getLastModifiedTime(p).toMillis < olderThanMs)
    // reference check: past the distributed threshold the aged listing
    // anti-joins the executor-side segment scan — the driver holds the
    // (age-bounded) listing and the surviving orphans, never an
    // O(table files) referenced-path set
    val orphans: Seq[Path] =
      if (aged.isEmpty) Nil
      else if (serveDistributed(m.snapshots)) {
        val segs = m.snapshots.flatMap(s => segmentsOf(s).map(_.path))
          .distinct
        val listDf = spark.createDataset(
          aged.map(_.toAbsolutePath.toString))(
          org.apache.spark.sql.Encoders.STRING).toDF("p")
        val survivors =
          if (segs.isEmpty) listDf
          else listDf.join(segmentEntriesDf(segs)
            .select(absCol(col("path")).as("p")), Seq("p"), "left_anti")
        survivors.collect().map(r => Path.of(r.getString(0))).toSeq
          .sortBy(_.toString)
      } else {
        val referenced = entriesAcross(m.snapshots).map(abs).toSet
        aged.filterNot(p => referenced(p.toAbsolutePath.toString))
      }
    // Losing commit attempts leave unreferenced snap-*.json manifest
    // lists AND seg-*.json segments (names are per-attempt unique, so
    // they can never alias a live one). They are metadata orphans
    // under the same age rule — the cutoff also protects a concurrent
    // writer's manifest written but not yet published.
    val liveManifests = m.snapshots
      .flatMap(manifestFilesOf)
      .map(rel => root.resolve(rel).toAbsolutePath.toString)
      .toSet
    // swept regardless of the (data-)location parameter: loser
    // manifests live in metadata/ either way
    val manifestOrphans =
      Io.listRecursive(metadataDir).filter { p =>
        val nm = p.getFileName.toString
        (nm.startsWith("snap-") || nm.startsWith("seg-")) &&
          nm.endsWith(".json") &&
          !liveManifests(p.toAbsolutePath.toString) &&
          Files.getLastModifiedTime(p).toMillis < olderThanMs
      }
    // Metadata VERSION files: live = everything the current metadata
    // log retains (the log always includes the current version).
    // Anything BELOW the hint version, outside the log, and past the
    // cutoff is retention/crash debris — e.g. a crash between the
    // delete-after-commit trim-publish and its file deletes, or a
    // pre-enable backlog stranded beyond a numbering gap (the
    // incremental retention walk stops at the first gap by design).
    // Files AT or ABOVE the hint version are never candidates: one
    // may be a racing writer's just-published commit whose hint
    // update is in flight. The version hint itself is never swept.
    // Gated on retention being enabled: without it the log legit
    // omits v0 (create() predates the log) and history is expected
    // to stay on disk in full.
    val retentionOn = m.properties.getOrElse(
      "write.metadata.delete-after-commit.enabled", "false").toBoolean
    val curV = version
    val loggedVersions = m.metadataLog
      .map(e => root.resolve(e.file).toAbsolutePath.toString).toSet
    val versionOrphans = if (!retentionOn) Nil else
      Io.listRecursive(metadataDir).filter { p =>
        metadataVersionOf(p).exists(_ < curV) &&
          !loggedVersions(p.toAbsolutePath.toString) &&
          Files.getLastModifiedTime(p).toMillis < olderThanMs
      }
    val all = orphans ++ manifestOrphans ++ versionOrphans
    all.foreach(Files.deleteIfExists(_))
    all.map(_.toAbsolutePath.toString)
  }

  /** D13 rewrite_data_files (ref demo.py:419-433): compact to the
    * target file size, applying accumulated deletes. rewrite-all=true
    * (the demo's setting) rewrites everything and drops all delete
    * files; otherwise only undersized or delete-carrying files move. */
  def rewriteDataFiles(options: Map[String, String] = Map.empty)
      : Option[SnapshotMeta] = {
    val b = captureBase()
    val entries = b.entries
    val data = entries.filter(_.content == 0)
    if (data.isEmpty) return None
    val rewriteAll = options.getOrElse("rewrite-all", "false").toBoolean
    val target = options.getOrElse("target-file-size-bytes",
      GraftTable.TargetFileBytes.toString).toLong
    val hasDeletes = entries.exists(_.content != 0)
    val candidates =
      // deletes may touch any file; a sort is a whole-layout change
      if (rewriteAll || hasDeletes || options.contains("sort-order")) data
      else data.filter(_.fileSizeBytes < target / 2)
    if (candidates.isEmpty) return None
    val candidateSet = candidates.map(abs).toSet
    // plan the rewrite read over ONLY the candidate files (plus delete
    // files so their masks apply) — the file list is chosen pre-plan,
    // no post-scan path filter, so compacting 10 small files out of a
    // 100 TB table scans 10 files
    val victims = entries.filter(e =>
      e.content != 0 || candidateSet(abs(e)))
    val rows = readWithLineage(victims).drop(FileCol, PosCol)
    val nParts = math.max(1,
      math.ceil(candidates.map(_.fileSizeBytes).sum.toDouble / target).toInt)
    val snapId = nextSnapshotHint
    val toWrite = options.get("sort-order") match {
      case Some(spec) => layoutForRewrite(rows, spec, nParts, candidates)
      // a clustered table compacts INTO the current clustering, not
      // into random files: after partition-spec evolution this is what
      // restores pruning for pre-evolution files (their old layout
      // gave the new spec's derived stats nothing to prune on — the
      // rewrite re-buckets them and statEntries records tight stats
      // under the CURRENT spec). Plain tables keep the size-balanced
      // repartition.
      case None => clusterFields match {
        case Some(fields) =>
          clustered(rows, fields, math.max(nParts, clusterFileCount))
        case None => rows.repartition(nParts)
      }
    }
    val written = writeDataFiles(toWrite, b.meta,
      sketch = fileNdvEnabled(b.meta))
    // compaction is the path that UNMASKS rows (deletes applied into
    // the rewrite): stamping the compacted files' sketches is what
    // makes a MOR-deleted table refold-eligible again
    val newEntries = statEntries(written.files, content = 0, snapId)
      .map(ndvStampTweak(b.meta, written))
    // the victims go: the candidates, and every delete file, all of
    // them applied while reading the candidates (any delete file makes
    // every data file a candidate)
    Some(commitDelta(b, snapId, None, "replace", victims.map(abs).toSet,
      newEntries, Map("rewritten-data-files" -> candidates.size.toString,
        "target-file-size-bytes" -> target.toString)))
  }

  /** Rewrite layout strategies (the Iceberg `rewrite_data_files`
    * `strategy => 'sort'` analog): `sort-order = "c1,c2"` range-clusters
    * on the columns (disjoint per-file ranges on the leading column);
    * `sort-order = "zorder(c1,c2)"` interleaves the columns' bits so
    * EVERY zorder column gets narrow per-file min/max windows and
    * stats pruning works on all of them, not just the leading one. */
  private def layoutForRewrite(rows: DataFrame, spec: String,
      nParts: Int, candidates: Seq[ManifestEntry]): DataFrame = {
    val zPat = "(?i)zorder\\s*\\(([^)]*)\\)".r
    def split(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    spec.trim match {
      case zPat(colsStr) =>
        val cols = split(colsStr)
        require(cols.size >= 2, s"zorder needs >= 2 columns, got $spec")
        val zTmp = "__graft_zvalue"
        rows.withColumn(zTmp, zValue(rows, cols, candidates))
          .repartitionByRange(nParts, col(zTmp))
          .sortWithinPartitions(zTmp)
          .drop(zTmp)
      case plain =>
        val cols = split(plain)
        require(cols.nonEmpty, "empty sort-order")
        rows.repartitionByRange(nParts, cols.map(c => col(quoted(c))): _*)
          .sortWithinPartitions(cols.map(c => col(quoted(c))): _*)
    }
  }

  /** Morton code over the given columns, 16 bits each, bit-interleaved
    * round-robin so each column contributes equally to the sort key.
    * Numeric columns scale linearly between the GLOBAL min/max taken
    * from the manifest column stats of the files being rewritten — no
    * extra pass over the data (the 100 TB version would sample range
    * boundaries instead of assuming uniformity, same call shape).
    * Non-numeric columns fall back to a 16-bit hash: correct but
    * locality-free, so they bucket rather than range-cluster. */
  private def zValue(rows: DataFrame, cols: Seq[String],
      candidates: Seq[ManifestEntry]): Column = {
    val bits = 16
    val scaled: Seq[Column] = cols.map { c =>
      val f = rows.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"zorder column $c not in table"))
      val isNumeric = f.dataType match {
        case _: NumericType => true
        case _ => false
      }
      if (isNumeric) {
        val vals = candidates.flatMap(_.stats.get(c))
          .flatMap(s => Seq(s.min, s.max)).map(_.toDouble)
        val (mn, mx) =
          if (vals.nonEmpty) (vals.min, vals.max)
          else (0.0, 1.0)
        val range = if (mx > mn) mx - mn else 1.0
        coalesce(least(lit(65535), greatest(lit(0),
          ((col(quoted(c)).cast("double") - mn) / range * 65535)
            .cast("int"))), lit(0))
      } else {
        coalesce(pmod(xxhash64(col(quoted(c))), lit(65536)).cast("int"),
          lit(0))
      }
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, bit) =>
      scaled.zipWithIndex.foldLeft(acc) { case (a, (s, ci)) =>
        a.bitwiseOR(shiftleft(
          shiftright(s, bit).bitwiseAND(lit(1)).cast("long"),
          bit * cols.size + (cols.size - 1 - ci)))
      }
    }
  }

  /** D14 rewrite_position_delete_files (ref demo.py:437-447): drop
    * delete files whose referenced data files left the manifest; compact
    * what survives. */
  def rewritePositionDeleteFiles(options: Map[String, String] = Map.empty)
      : Option[SnapshotMeta] = {
    val b = captureBase()
    val entries = b.entries
    val posDel = entries.filter(_.content == 1)
    if (posDel.isEmpty) return None
    // every URI spelling of each live path, normalized ONCE driver-side
    // — the semi-join below is a plain broadcast equi-join on the
    // stored file_path strings, no normalizing UDF in the plan
    val livePaths = entries.filter(_.content == 0).map(abs)
      .flatMap(Io.uriForms)
    val liveDf = spark.createDataFrame(
      livePaths.map(Row(_)).asJava,
      StructType(Seq(StructField("live_path", StringType))))
    // manifest-backed scan with the fixed delete layout — no
    // footer-inference Spark job or per-path stats per compaction pass
    val delRows = org.apache.spark.sql.graft.ManifestRead.parquet(
      spark, posDel.map(absSized),
      StructType.fromDDL("file_path STRING, pos BIGINT"))
    val stillValid = delRows.join(broadcast(liveDf),
      col("file_path") === col("live_path"), "left_semi")
    val snapId = nextSnapshotHint
    // survivors are bounded by the existing delete records — size the
    // write from the manifest counts, no extra count job; zero
    // survivors leave nothing staged (fused write handles it)
    val bound = posDel.map(_.recordCount).sum
    val (moved, n) = writeDeleteFiles(stillValid, math.max(1L, bound))
    val newEntries = statEntries(moved, content = 1, snapId)
    Some(commitDelta(b, snapId, None, "replace", posDel.map(abs).toSet,
      newEntries, Map("removed-delete-files" -> posDel.size.toString,
        "surviving-delete-records" -> n.toString)))
  }

  /** rewrite_manifests (Iceberg's procedure of the same name): compact
    * the CURRENT snapshot's manifest segments into one freshly written
    * segment when at least `minSegments` exist. Data files are
    * untouched — the commit is a `replace` snapshot whose entry list is
    * bit-identical to its parent's, so reads, time travel, changelogs
    * (no adds/removes to emit) and incremental scans are unaffected;
    * only subsequent planning reads one segment instead of many. The
    * segment-sprawl antidote for long-lived tables where thousands of
    * O(delta) commits each left a small segment behind. The commit
    * removes every entry and re-adds them all, in order, so
    * [[commitDelta]] drops every parent segment and writes the one
    * fresh segment. */
  def rewriteManifests(minSegments: Int = 2): Option[SnapshotMeta] = {
    require(minSegments >= 1, s"minSegments must be >= 1")
    val b = captureBase()
    val cur = headOf(b.meta).getOrElse(return None)
    val segs = segmentsOf(cur)
    // a single-segment list is already compact: rewriting it would
    // commit a pointless replace snapshot FOREVER on a scheduler loop
    // whose policy says min-count=1 — floor the trigger at 2
    if (segs.size < math.max(2, minSegments)) return None
    val entries = manifestOf(cur)
    Some(commitDelta(b, nextSnapshotHint, None, "replace",
      entries.map(abs).toSet, entries,
      Map("manifests-replaced" -> segs.size.toString,
        "manifests-created" -> "1")))
  }

  // ---- metadata tables (S3/D15) ----

  def history: DataFrame = {
    import spark.implicits._
    val m = meta
    val ancestors = Iterator.iterate(headOf(m))(s =>
      s.flatMap(_.parentId).flatMap(id => m.snapshots.find(_.snapshotId == id)))
      .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSet
    m.snapshots.map(s => (tsMs(s.timestampMs), s.snapshotId, s.parentId,
      ancestors(s.snapshotId)))
      .toDF("made_current_at", "snapshot_id", "parent_id",
        "is_current_ancestor")
  }

  def snapshots: DataFrame = {
    import spark.implicits._
    meta.snapshots.map(s => (tsMs(s.timestampMs), s.snapshotId, s.parentId,
      s.operation, root.resolve(s.manifestList).toString, s.summary))
      .toDF("committed_at", "snapshot_id", "parent_id", "operation",
        "manifest_list", "summary")
  }

  def files: DataFrame = currentSnapshot match {
    case Some(s) if serveDistributed(Seq(s)) =>
      filesDistributed(segmentsOf(s).map(_.path))
    case _ => filesOf(currentEntries)
  }

  /** `<t>.partitions` stand-in: GraftLake clusters appends into sorted
    * key RANGES (appendClustered) rather than partition tuples, so the
    * relation summarizes the current data files per distinct clustered
    * range — min/max bounds, file count, row count, bytes — answering
    * the operator question SHOW PARTITIONS answers on a partitioned
    * table ("how is the data laid out, how big is each bucket").
    * Unclustered tables get a single all-null-bounds summary row, like
    * Iceberg's partitions table on an unpartitioned table. Driver-side
    * over manifest entries — bounded metadata, no file IO. */
  def partitionsTable: DataFrame = {
    import spark.implicits._
    val fields = clusterFields.getOrElse(Nil)
    val m = meta.physicalNames
    val sch = schema
    // (lo, hi, files, records, bytes) per distinct clustered range —
    // past the distributed threshold the per-entry bound rendering and
    // the rollup run executor-side over the segment files (the driver
    // sees only the range summaries, metadata-sized by construction);
    // below it, driver-side over the manifest. Both run the SAME
    // static ClusterSpec.rangeBound, so the rows are bit-identical.
    val ranges: Seq[(Option[String], Option[String], Long, Long, Long)] =
      currentSnapshot match {
        case None => Nil
        case Some(s) if serveDistributed(Seq(s)) =>
          entriesDataset(segmentsOf(s).map(_.path))
            .filter(_.content == 0)
            .map(e => (ClusterSpec.rangeBound(fields, sch, m)(e, _.min),
              ClusterSpec.rangeBound(fields, sch, m)(e, _.max),
              1L, e.recordCount, e.fileSizeBytes))
            .groupByKey(t => (t._1, t._2))
            .reduceGroups((a, b) =>
              (a._1, a._2, a._3 + b._3, a._4 + b._4, a._5 + b._5))
            .map(_._2).collect().toSeq
        case Some(s) =>
          manifestOf(s).filter(_.content == 0)
            .groupBy(e => (ClusterSpec.rangeBound(fields, sch, m)(e, _.min),
              ClusterSpec.rangeBound(fields, sch, m)(e, _.max))).toSeq
            .map { case ((lo, hi), es) => (lo, hi, es.size.toLong,
              es.map(_.recordCount).sum, es.map(_.fileSizeBytes).sum) }
      }
    val rows: Seq[(String, String, String, Long, Long, Long)] = ranges
      .map { case (lo, hi, nf, nr, nb) =>
        (if (fields.isEmpty) null else ClusterSpec.render(fields),
          lo.orNull, hi.orNull, nf, nr, nb)
      }
      .sortBy(r => (Option(r._2).getOrElse(""), Option(r._3).getOrElse("")))
    rows.toDF("cluster_columns", "range_min", "range_max",
      "file_count", "record_count", "total_size_in_bytes")
  }

  private def filesOf(entries: Seq[ManifestEntry]): DataFrame = {
    import spark.implicits._
    entries.map(e => (e.content, abs(e), "PARQUET", e.recordCount,
      e.fileSizeBytes))
      .toDF("content", "file_path", "file_format", "record_count",
        "file_size_in_bytes")
  }

  // ---- distributed metadata serving ----
  // The entries-family relations (files / all_files / all_entries and
  // their splits) default to driver-built frames — O(manifest) driver
  // work, right for interactive tables and the per-query scenarios.
  // Past `spark.graft.metadata.distributedThreshold` total entries
  // (counted from segment REFS alone, no segment reads) they switch to
  // `spark.read.json` over the segment files themselves, so a
  // million-file table's metadata analytics run as executor-side scans
  // the way Iceberg reads its manifests — the driver never
  // materializes the entry list at all.

  /** Manifest-entry shape as a Spark read schema (segments are JSON
    * arrays of [[ManifestEntry]]). */
  private val entryJsonSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("content", IntegerType),
    StructField("recordCount", LongType),
    StructField("fileSizeBytes", LongType),
    StructField("addedSnapshotId", LongType),
    StructField("stats", MapType(StringType, StructType(Seq(
      StructField("min", StringType), StructField("max", StringType),
      StructField("nullCount", LongType))))),
    StructField("equalityColumns", ArrayType(StringType)),
    StructField("ndv", MapType(StringType, StructType(Seq(
      StructField("k", IntegerType),
      StructField("hashes", ArrayType(LongType))))))))

  /** The `ndv` field's Spark type, for null-coalescing segments
    * written before per-file sketches existed (their JSON has no
    * `ndv` key → the read yields null, but [[ManifestEntry.ndv]] is
    * a non-null Map with an empty default). */
  private val entryNdvType =
    entryJsonSchema("ndv").dataType

  /** Executor-side scan of manifest segments: one row per entry,
    * tagged with the segment FILE NAME (globally unique by
    * construction, so membership joins need no URI-form
    * normalization). multiLine JSON: each top-level array element
    * becomes a row. */
  private def segmentEntriesDf(segRels: Seq[String]): DataFrame =
    spark.read.schema(entryJsonSchema).option("multiLine", "true")
      .json(segRels.map(r => root.resolve(r).toString): _*)
      .withColumn("__seg",
        element_at(split(input_file_name(), "/"), -1))

  /** Typed executor-side segment scan: the same rows as
    * [[segmentEntriesDf]] decoded to [[ManifestEntry]], for paths that
    * run DRIVER logic (stat pruning, partition-bound rendering) on the
    * executors unchanged. Jackson always writes `stats`/
    * `equalityColumns` (as `{}`/`[]` when empty), so the decode is
    * total. */
  private def entriesDataset(segRels: Seq[String])
      : org.apache.spark.sql.Dataset[ManifestEntry] = {
    import spark.implicits._
    spark.read.schema(entryJsonSchema).option("multiLine", "true")
      .json(segRels.map(r => root.resolve(r).toString): _*)
      // pre-r17 segments carry no `ndv` key: decode those as the
      // empty map the case-class default promises, never null
      .withColumn("ndv", coalesce(col("ndv"),
        from_json(lit("{}"), entryNdvType)))
      .as[ManifestEntry]
  }

  /** abs() as a column expression (absolute entry paths pass through,
    * relative ones resolve against the table root). */
  private def absCol(path: Column): Column =
    when(path.startsWith("/"), path)
      .otherwise(concat(
        lit(root.toAbsolutePath.toString + "/"), path))

  private def metadataDistributedThreshold: Long =
    spark.conf.getOption("spark.graft.metadata.distributedThreshold")
      // defensive like splitFactor/maxBucketBytes: a typo'd session
      // conf degrades to the default, never crashes a read or DML
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(100000L)

  /** Whether these snapshots' manifests reach the distributed
    * threshold, counted from segment refs alone. */
  private def serveDistributed(snaps: Seq[SnapshotMeta]): Boolean =
    snaps.map(s => segmentsOf(s).map(_.entryCount.toLong).sum).sum >=
      metadataDistributedThreshold

  private def filesDistributed(segRels: Seq[String]): DataFrame =
    if (segRels.isEmpty) filesOf(Nil)
    else segmentEntriesDf(segRels).select(col("content"),
      absCol(col("path")).as("file_path"),
      lit("PARQUET").as("file_format"),
      col("recordCount").as("record_count"),
      col("fileSizeBytes").as("file_size_in_bytes"))

  private def allEntriesDistributed(m: TableMeta): DataFrame = {
    import spark.implicits._
    val segRels = m.snapshots.flatMap(s => segmentsOf(s).map(_.path))
      .distinct
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    def segName(rel: String): String = rel.split("/").last
    // membership is metadata-sized (snapshots × segments): each row
    // binds one segment's entries to one snapshot, either as its OWN
    // manifest (__parent = false) or as its PARENT's (__parent = true,
    // used only to derive DELETED rows)
    val memb = m.snapshots.flatMap { s =>
      val own = segmentsOf(s).map(r =>
        (s.snapshotId, segName(r.path), false))
      val par = s.parentId.flatMap(byId.get).toSeq.flatMap(p =>
        segmentsOf(p).map(r => (s.snapshotId, segName(r.path), true)))
      own ++ par
    }.toDF("snapshot_id", "__seg", "__parent")
    val joined = segmentEntriesDf(segRels)
      .join(broadcast(memb), "__seg")
    val fileStruct = struct(absCol(col("path")).as("file_path"),
      col("content"),
      col("recordCount").as("record_count"),
      col("fileSizeBytes").as("file_size_in_bytes")).as("data_file")
    val cur = joined.filter(!col("__parent"))
    val addedOrExisting = cur.select(
      when(col("addedSnapshotId") === col("snapshot_id"), 1)
        .otherwise(3).as("status"),
      col("snapshot_id"), fileStruct)
    val deleted = joined.filter(col("__parent"))
      .join(cur.select(col("snapshot_id").as("__sid"),
        col("path").as("__path")),
        col("snapshot_id") === col("__sid") &&
          col("path") === col("__path"), "left_anti")
      .select(lit(2).as("status"), col("snapshot_id"), fileStruct)
    addedOrExisting.unionByName(deleted)
  }

  /** `<t>.position_deletes` metadata table (Iceberg's relation of the
    * same name): every live position-delete row with the delete file
    * that carries it. */
  def positionDeletes: DataFrame = {
    val delPaths: Seq[(String, Long)] = currentSnapshot match {
      case None => Nil
      case Some(s) if serveDistributed(Seq(s)) =>
        // ref-level prune first (segments whose ref says they carry no
        // delete files are never read), then an executor-side scan of
        // the carriers — the driver receives only the delete-file
        // paths, never the table's entry list
        val carrying = segmentsOf(s).filter(_.deleteFileCount > 0)
        if (carrying.isEmpty) Nil
        else {
          import spark.implicits._
          entriesDataset(carrying.map(_.path)).filter(_.content == 1)
            .map(e => (e.path, e.fileSizeBytes)).collect().toSeq.sorted
            .map { case (p, sz) =>
              (root.resolve(p).toAbsolutePath.toString, sz) }
        }
      case Some(s) => manifestOf(s).filter(_.content == 1).map(absSized)
    }
    if (delPaths.isEmpty)
      return emptyDfOf(StructType.fromDDL(
        "file_path STRING, pos BIGINT, delete_file_path STRING"))
    org.apache.spark.sql.graft.ManifestRead.parquet(spark, delPaths,
      StructType.fromDDL("file_path STRING, pos BIGINT"))
      .select(col("file_path"), col("pos"),
        col("_metadata.file_path").as("delete_file_path"))
  }

  /** `<t>.refs` metadata table (Iceberg's refs relation): one row per
    * branch/tag, plus the implicit `main` branch at the current head. */
  def refsTable: DataFrame = {
    import spark.implicits._
    val m = meta
    val main = m.currentSnapshotId.map(id =>
      ("main", "BRANCH", id)).toSeq
    val named = m.refs.toSeq.sortBy(_._1).map { case (n, r) =>
      (n, r.refType.toUpperCase, r.snapshotId)
    }
    (main ++ named).toDF("name", "type", "snapshot_id")
  }

  /** all_manifests: every manifest SEGMENT any retained snapshot's
    * manifest list references, one row per distinct file with the
    * snapshot that wrote it (Iceberg's all_manifests; the manifest
    * LISTS themselves surface as `snapshots.manifest_list`, exactly
    * the two-level split file_summary_utils.py:45-79 queries). */
  def allManifests: DataFrame = {
    import spark.implicits._
    meta.snapshots.flatMap(segmentRows).distinct
      .toDF("path", "added_snapshot_id", "length", "entry_count",
        "data_file_count", "delete_file_count", "record_count")
  }

  private def segmentRows(s: SnapshotMeta)
      : Seq[(String, Long, Long, Int, Int, Int, Long)] =
    segmentsOf(s).map(r =>
      (root.resolve(r.path).toString, r.addedSnapshotId, r.sizeBytes,
        r.entryCount, r.dataFileCount, r.deleteFileCount, r.recordCount))

  def metadataLogEntries: DataFrame = {
    import spark.implicits._
    val m = meta
    m.metadataLog.map(e => (tsMs(e.timestampMs),
      root.resolve(e.file).toString, m.currentSnapshotId))
      .toDF("timestamp", "file", "latest_snapshot_id")
  }

  /** entries: the CURRENT snapshot's manifest entries with status —
    * the per-snapshot slice of [[allEntries]] (Iceberg's `entries`
    * metadata table). */
  def entries: DataFrame = {
    val cur: Long = meta.currentSnapshotId.getOrElse(-1L)
    allEntries.filter(org.apache.spark.sql.functions.col("snapshot_id")
      === cur)
  }

  /** manifests: the segments the CURRENT snapshot's manifest list
    * references (Iceberg's `manifests` table). */
  def manifests: DataFrame = {
    import spark.implicits._
    val m = meta
    m.snapshots.filter(s => m.currentSnapshotId.contains(s.snapshotId))
      .flatMap(segmentRows)
      .toDF("path", "added_snapshot_id", "length", "entry_count",
        "data_file_count", "delete_file_count", "record_count")
  }

  /** data_files / delete_files: the content split of [[files]]
    * (Iceberg's tables of the same names): 0 = data, 1/2 = position /
    * equality deletes. */
  def dataFiles: DataFrame =
    files.filter(org.apache.spark.sql.functions.col("content") === 0)
  def deleteFiles: DataFrame =
    files.filter(org.apache.spark.sql.functions.col("content") =!= 0)

  /** all_files and its content splits: every file referenced by ANY
    * retained snapshot, one row per path (Iceberg's all_files /
    * all_data_files / all_delete_files). Metadata-only — built from
    * the manifests, no data scan. */
  def allFiles: DataFrame = {
    val m = meta
    if (serveDistributed(m.snapshots))
      // distinct SEGMENTS can still repeat a path (an entry carried
      // into a rewritten segment) — dedup rows like the driver path
      // (identical per path, so any survivor is the right one)
      filesDistributed(
        m.snapshots.flatMap(s => segmentsOf(s).map(_.path)).distinct)
        .dropDuplicates("file_path")
    else filesOf(entriesAcross(m.snapshots).distinctBy(_.path))
  }
  def allDataFiles: DataFrame =
    allFiles.filter(org.apache.spark.sql.functions.col("content") === 0)
  def allDeleteFiles: DataFrame =
    allFiles.filter(org.apache.spark.sql.functions.col("content") =!= 0)

  /** all_entries: per snapshot, each file with status
    * 1=ADDED / 2=DELETED / 3=EXISTING (FIXTURES.md encoding) and the
    * nested data_file struct accessed with dotted paths in the reference
    * (file_summary_utils.py:118,133-135). */
  def allEntries: DataFrame = {
    import spark.implicits._
    val m = meta
    if (serveDistributed(m.snapshots)) return allEntriesDistributed(m)
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    val rows = m.snapshots.flatMap { s =>
      val cur = manifestOf(s)
      val parent = s.parentId.flatMap(byId.get).map(manifestOf).getOrElse(Nil)
      val curPaths = cur.map(_.path).toSet
      val addedOrExisting = cur.map { e =>
        val status = if (e.addedSnapshotId == s.snapshotId) 1 else 3
        (status, s.snapshotId, DataFileInfo(abs(e), e.content, e.recordCount,
          e.fileSizeBytes))
      }
      val deleted = parent.filterNot(e => curPaths(e.path)).map(e =>
        (2, s.snapshotId, DataFileInfo(abs(e), e.content, e.recordCount,
          e.fileSizeBytes)))
      addedOrExisting ++ deleted
    }
    rows.toDF("status", "snapshot_id", "data_file")
  }

  // ---- internals ----

  private def now(): Long = System.currentTimeMillis()
  private def tsMs(ms: Long) = new java.sql.Timestamp(ms)
  private def nextSnapshotHint: Long = now() * 1000 + meta.snapshots.size % 1000

  // not pre-created: DataFrameWriter insists on creating the dir itself
  private def stageDir(): Path = root.resolve(s"stage-${UUID.randomUUID()}")

  /** Files one [[writeDataFiles]] call produced (absolute paths), and
    * — when the call asked for them — each file's per-column bottom-k
    * hash60 sets as the writer took them, in [[ndvFileHashJob]]'s
    * shape (normalized path → logical column → hashes). */
  private final case class Written(files: Seq[String],
      sketches: Map[String, Map[String, Seq[Long]]] = Map.empty)

  /** Write `df` as parquet via a staging dir, move the part files into
    * data/ under fresh UUID names. `m` is the base the caller commits
    * against. With `sketch` set and NDV-tracked columns in `m`, every
    * written file's bottom-k sets ride along ([[BottomKTracker]]): the
    * writer hashes each row as it writes it, so no job re-reads the
    * new files. */
  private def writeDataFiles(df: DataFrame, m: TableMeta,
      sketch: Boolean = false): Written = {
    val staged = stageDir()
    // files always spell columns by PHYSICAL name, so data written
    // before and after a RENAME COLUMN reads under one schema; nested
    // renames cast the struct to its physical subfield names
    // (positional — same layout)
    val pn = m.physicalNames
    val sch = StructType.fromDDL(m.schemaDdl)
    val physical =
      if (pn.isEmpty) df
      else df.select(df.columns.toSeq.map { c =>
        val cast = sch.fields.find(_.name.equalsIgnoreCase(c)) match {
          case Some(f) if hasNestedMapping(pn, f) =>
            col(quoted(c)).cast(physType(pn, f.name, f.dataType))
          case _ => col(quoted(c))
        }
        cast.as(physName(pn)(c))
      }: _*)
    val tracked = if (!sketch) None else ndvTracked(m).map {
      case (fields, k) =>
        val cols = fields.map(_.name)
        (cols, BottomKTracker(physical, cols.map(c =>
          graft.rel.Kmv.hash60(col(quoted(physName(pn)(c))))), k))
    }
    // `write.bloom-columns`: parquet bloom filters on the named
    // columns (logical names; stored under physical). Point lookups on
    // high-cardinality keys then skip row groups that min/max ranges
    // cannot exclude — the 100 TB lever for needle-in-haystack reads:
    // the skipping happens inside every executor's parquet reader
    // under normal predicate pushdown, no planner or driver work.
    val bloomCols = m.properties.get("write.bloom-columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(physName(pn)).filter(physical.columns.contains)
    val ndv = m.properties.get("write.bloom-columns.ndv")
    val options = bloomCols.flatMap(c =>
      (s"parquet.bloom.filter.enabled#$c" -> "true") +:
        ndv.map(s"parquet.bloom.filter.expected.ndv#$c" -> _).toSeq).toMap
    // Metadata-sized local frames (INSERT VALUES, catalog seeds, CALL
    // outputs) skip the distributed writer: a Spark write job + Hadoop
    // committer costs ~150 ms of pure overhead for a 3-row file. The
    // optimizer folds alignToSchema's projection into the
    // LocalRelation, so the rows are already on the driver in internal
    // format; write them through Spark's own ParquetWriteSupport (bit-
    // identical encoding to the distributed path — footer stats, NTZ,
    // rebase modes all match) and feed them through the same tracker.
    // Anything distributed, clustered, empty, or bloom-filtered takes
    // the normal job path.
    physical.queryExecution.optimizedPlan match {
      case lr: logical.LocalRelation
          if bloomCols.isEmpty && lr.data.nonEmpty &&
            lr.data.length <= 10000 =>
        Files.createDirectories(staged)
        val target = staged.resolve("part-00000-local.parquet")
        writeLocalParquet(lr.data,
          org.apache.spark.sql.catalyst.types.DataTypeUtils
            .fromAttributes(lr.output), target)
        tracked.foreach { case (_, t) =>
          BottomKTracker.observe(t, target.toString, lr.data.iterator) }
      case _ =>
        SketchedWrite.parquet(physical, staged.toString, options,
          tracked.map(_._2).toSeq)
    }
    val moved = moveStaged(staged, "data")
    Written(moved.map(_._2), tracked.fold(Map.empty[String,
        Map[String, Seq[Long]]]) { case (cols, t) =>
      val byName = t.sketches
      moved.map { case (name, path) =>
        val hashes = byName.getOrElse(name, throw new IllegalStateException(
          s"the writer tracked no sketch for $name"))
        Io.normalize(path) -> cols.zip(hashes.map(_.toSeq)).toMap
      }.toMap
    })
  }

  /** Driver-side parquet write for a metadata-sized row set — the same
    * ParquetWriteSupport the distributed writer uses, so readers and
    * footer stats see identical files. */
  private def writeLocalParquet(
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      sch: StructType, target: Path): Unit = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    import org.apache.spark.sql.internal.SQLConf
    val conf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    ParquetWriteSupport.setSchema(sch, conf)
    // the keys ParquetFileFormat.prepareWrite sets for the job path
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sql.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled",
      spark.conf.get(
        "spark.sql.parquet.variant.annotateLogicalType.enabled", "true"))
    val w = new GraftTable.LocalParquetBuilder(
      new org.apache.hadoop.fs.Path(target.toString))
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach(w.write) finally w.close()
  }

  /** Move the staged part files into data/ under fresh names: (staged
    * file name, moved absolute path) per file. */
  private def moveStaged(staged: Path, prefix: String)
      : Seq[(String, String)] = {
    Files.createDirectories(dataDir)
    val parts = Io.listRecursive(staged)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    val moved = parts.map { p =>
      val target = dataDir.resolve(s"$prefix-${UUID.randomUUID()}.parquet")
      Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
      p.getFileName.toString -> target.toAbsolutePath.toString
    }
    // best-effort staging cleanup (left-over dirs become orphan fodder)
    Io.listRecursive(staged).foreach(Files.deleteIfExists(_))
    Files.deleteIfExists(staged)
    moved
  }

  /** One distributed pass computing per-file record counts and per-column
    * min/max/null stats for freshly written files. */
  private def statEntries(absPaths: Seq[String], content: Int,
      snapshotId: Long): Seq[ManifestEntry] = {
    if (absPaths.isEmpty) return Nil
    // Stats come from the parquet FOOTERS the write just produced — a
    // metadata-only pass, like Iceberg's write-time metrics. The
    // Spark-job fallback below re-scans the written bytes; at 100 TB
    // that second full data pass per write is the difference between
    // write cost 1x and 2x.
    val base =
      try statEntriesViaFooters(absPaths, content, snapshotId)
      catch { case scala.util.control.NonFatal(_) =>
        statEntriesViaScan(absPaths, content, snapshotId)
      }
    if (content == 0) augmentBucketStats(base) else base
  }

  /** Derived stats for `bucket(n,col)` clustering: hashing destroys
    * the raw column's min/max, so each data file additionally records
    * its bucket-id range under [[BucketField.statKey]] and equality/IN
    * predicates prune against it (see `mayMatch`). One extra scan of
    * just the NEWLY WRITTEN files per commit, only when bucket fields
    * are declared — commit-bounded, never table-sized. */
  private def augmentBucketStats(entries: Seq[ManifestEntry])
      : Seq[ManifestEntry] = {
    val buckets = clusterFields.getOrElse(Nil)
      .collect { case b: BucketField => b }
    if (buckets.isEmpty || entries.isEmpty) return entries
    val m = meta.physicalNames
    val aggs = buckets.flatMap { f =>
      val phys = physName(m)(f.column)
      val e = pmod(hash(col(quoted(phys))), lit(f.n))
      Seq(min(e).cast("string").as(s"bmin::${f.spec}"),
        max(e).cast("string").as(s"bmax::${f.spec}"))
    }
    val rows = spark.read.schema(physSchema(schema, m))
      .parquet(entries.map(abs): _*)
      .groupBy(col("_metadata.file_path").as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val byFile = rows.map(r =>
      Io.normalize(r.getAs[String]("__file")) -> r).toMap
    entries.map { e =>
      byFile.get(Io.normalize(abs(e))).map { r =>
        val extra = buckets.flatMap { f =>
          val mi = Option(r.getAs[String](s"bmin::${f.spec}"))
          val ma = Option(r.getAs[String](s"bmax::${f.spec}"))
          (mi, ma) match {
            case (Some(a), Some(b)) =>
              Some(f.statKey(physName(m)(f.column)) -> ColStat(a, b, 0L))
            case _ => None
          }
        }.toMap
        e.copy(stats = e.stats ++ extra)
      }.getOrElse(e)
    }
  }

  /** Per-file record counts and column min/max/null stats read from
    * parquet footers (no data scan). Values are rendered into the same
    * stat spaces the scan path produces (ints/dates as long strings —
    * days for dates, micros for timestamps — doubles as double strings,
    * strings raw, booleans as 0/1), so `mayMatch` comparisons are
    * unchanged. Columns whose footer carries no usable statistics
    * (e.g. INT96 timestamps) simply get no entry — pruning degrades to
    * "may match", never to wrong answers. */
  private[lake] def statEntriesViaFooters(absPaths: Seq[String], content: Int,
      snapshotId: Long): Seq[ManifestEntry] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sessionState.newHadoopConf()
    // footer reads are independent driver-side IO — do them in
    // parallel so a wide write (thousands of files) doesn't serialize
    absPaths.asJava.parallelStream().map[ManifestEntry] { p =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p), conf))
      try {
        val footer = reader.getFooter
        val blocks = footer.getBlocks.asScala.toSeq
        val rowCount = blocks.map(_.getRowCount).sum
        val fileSchema = footer.getFileMetaData.getSchema
        // (statKind, isString): how to render this column's stat values
        def statSpace(f: StructField): Option[String] = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               DateType | BooleanType => Some("long")
          case FloatType | DoubleType => Some("double")
          case StringType => Some("string")
          case TimestampType | TimestampNTZType => Some("micros")
          // decimal stats render as plain scaled strings ("123.40",
          // "0.00000001" — the same form Spark's decimal→string cast
          // produces); mayMatch compares them through BigDecimal, so
          // DECIMAL predicates prune files like any numeric column
          case d: DecimalType => Some(s"dec${d.scale}")
          case _ => None
        }
        val tableFields: Seq[StructField] =
          // data files spell columns by PHYSICAL name; stats are keyed
          // the same way (pruning translates predicates to physical)
          if (content == 0) physSchema(schema, meta.physicalNames)
            .fields.toSeq
          else fileSchema.getFields.asScala.toSeq.flatMap { t =>
            // delete files: derive a flat frame of the primitive cols
            t.asPrimitiveType().getPrimitiveTypeName match {
              case INT64 => Some(StructField(t.getName, LongType))
              case INT32 => Some(StructField(t.getName, IntegerType))
              case BINARY => Some(StructField(t.getName, StringType))
              case _ => None
            }
          }
        val stats = tableFields.flatMap { f =>
          statSpace(f).flatMap { space =>
            val idx = (0 until fileSchema.getFieldCount)
              .find(i => fileSchema.getType(i).getName == f.name)
            idx.flatMap { i =>
              val chunks = blocks.flatMap(_.getColumns.asScala.find(
                _.getPath.toDotString == f.name))
              val sts = chunks.map(_.getStatistics)
              // every chunk must carry usable stats, else skip column
              if (sts.isEmpty || sts.exists(s => s == null || s.isEmpty)) None
              else {
                val prim = fileSchema.getType(i).asPrimitiveType()
                  .getPrimitiveTypeName
                val usable = sts.filter(_.hasNonNullValue)
                val nulls = sts.map(s => math.max(0L, s.getNumNulls)).sum
                def render(v: AnyRef): Option[String] = (space, prim) match {
                  case ("long", INT32 | INT64) => Some(v.toString)
                  case ("long", BOOLEAN) =>
                    Some(if (v.asInstanceOf[Boolean]) "1" else "0")
                  case ("double", FLOAT) =>
                    Some(v.asInstanceOf[Float].toDouble.toString)
                  case ("double", DOUBLE) => Some(v.toString)
                  case ("string", BINARY) => Some(v.asInstanceOf[
                    org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                  case ("micros", INT64) => Some(v.toString)
                  // parquet spells DECIMAL(p,s) as an unscaled INT32
                  // (p≤9), INT64 (p≤18), or big-endian FLBA (p>18);
                  // all three render via toPlainString — the SAME
                  // form Spark's decimal→string cast produces on the
                  // scan path (plain '0.00000001', never scientific;
                  // pinned by the footer≡scan spec's scale-8 column)
                  case (sp, INT32 | INT64) if sp.startsWith("dec") =>
                    Some(java.math.BigDecimal.valueOf(
                      v.toString.toLong, sp.drop(3).toInt).toPlainString)
                  case (sp, FIXED_LEN_BYTE_ARRAY | BINARY)
                      if sp.startsWith("dec") =>
                    Some(new java.math.BigDecimal(
                      new java.math.BigInteger(v.asInstanceOf[
                        org.apache.parquet.io.api.Binary].getBytes),
                      sp.drop(3).toInt).toPlainString)
                  case _ => None // INT96 timestamps etc: no stats
                }
                if (usable.isEmpty) None // all-null column: no bounds
                else {
                  val mins = usable.flatMap(s =>
                    render(s.genericGetMin.asInstanceOf[AnyRef]))
                  val maxs = usable.flatMap(s =>
                    render(s.genericGetMax.asInstanceOf[AnyRef]))
                  if (mins.size != usable.size || maxs.size != usable.size)
                    None
                  else {
                    def lt(a: String, b: String): Boolean =
                      if (space == "string")
                        org.apache.spark.unsafe.types.UTF8String
                          .fromString(a).compareTo(
                            org.apache.spark.unsafe.types.UTF8String
                              .fromString(b)) < 0
                      else BigDecimal(a) < BigDecimal(b)
                    Some(f.name -> ColStat(
                      mins.reduce((a, b) => if (lt(a, b)) a else b),
                      maxs.reduce((a, b) => if (lt(a, b)) b else a),
                      nulls))
                  }
                }
              }
            }
          }
        }.toMap
        ManifestEntry(
          path = root.relativize(Path.of(p)).toString,
          content = content,
          recordCount = rowCount,
          fileSizeBytes = Files.size(Path.of(p)),
          addedSnapshotId = snapshotId,
          stats = stats)
      } finally reader.close()
    }.collect(java.util.stream.Collectors.toList[ManifestEntry])
      .asScala.toSeq
  }

  /** Fallback stats pass: one distributed scan of the written files
    * (the pre-round-3 path). */
  private[lake] def statEntriesViaScan(absPaths: Seq[String], content: Int,
      snapshotId: Long): Seq[ManifestEntry] = {
    val fileSchema =
      if (content == 0) physSchema(schema, meta.physicalNames)
      else if (content == 1) // our own delete files: fixed layout
        StructType.fromDDL("file_path STRING, pos BIGINT")
      else spark.read.parquet(absPaths: _*).schema
    val statCols = fileSchema.fields.toSeq.flatMap { f =>
      statExpr(f).toSeq.flatMap { c => Seq(
        min(c).cast("string").as(s"min::${f.name}"),
        max(c).cast("string").as(s"max::${f.name}"),
        sum(when(col(quoted(f.name)).isNull, 1L).otherwise(0L))
          .as(s"nulls::${f.name}"))
      }
    }
    val agged = spark.read.schema(fileSchema).parquet(absPaths: _*)
      .groupBy(col("_metadata.file_path").as("__file"))
      .agg(count(lit(1)).as("__cnt"), statCols: _*)
      .collect()
    val byFile = agged.map { r =>
      val present = r.schema.fieldNames.toSet
      val stats = fileSchema.fields.flatMap { f =>
        if (!present(s"min::${f.name}")) None
        else {
          val mi = Option(r.getAs[String](s"min::${f.name}"))
          val ma = Option(r.getAs[String](s"max::${f.name}"))
          val nu = r.getAs[Long](s"nulls::${f.name}")
          (mi, ma) match {
            case (Some(a), Some(b)) => Some(f.name -> ColStat(a, b, nu))
            case _ => None
          }
        }
      }.toMap
      Io.normalize(r.getAs[String]("__file")) ->
        (r.getAs[Long]("__cnt"), stats)
    }.toMap
    absPaths.map { p =>
      val (cnt, stats) = byFile.getOrElse(Io.normalize(p), (0L, Map.empty[String, ColStat]))
      ManifestEntry(
        path = root.relativize(Path.of(p)).toString,
        content = content,
        recordCount = cnt,
        fileSizeBytes = Files.size(Path.of(p)),
        addedSnapshotId = snapshotId,
        stats = stats)
    }
  }

  private def quoted(name: String): String = s"`$name`"

  /** Canonical orderable value per type for stats (numbers → long/double
    * space, timestamps → epoch micros, dates → epoch days). */
  private def statExpr(f: StructField): Option[Column] = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(col(quoted(f.name)).cast("long"))
    case FloatType | DoubleType => Some(col(quoted(f.name)).cast("double"))
    case StringType => Some(col(quoted(f.name)))
    case BooleanType => Some(col(quoted(f.name)).cast("int").cast("long"))
    case DateType => Some(unix_date(col(quoted(f.name))).cast("long"))
    case TimestampType => Some(unix_micros(col(quoted(f.name))))
    case TimestampNTZType =>
      Some(unix_micros(col(quoted(f.name)).cast("timestamp")))
    // decimal min/max aggregate in decimal space; the enclosing
    // .cast("string") renders the scaled PLAIN form ("0.00000001",
    // never scientific) that the footer path's unscaled-int
    // toPlainString decode also produces (spec-pinned incl. scale 8)
    case _: DecimalType => Some(col(quoted(f.name)))
    case _ => None
  }

  /** Resolve the predicate against the table schema (via an empty local
    * relation) and split the analyzed condition into conjuncts.
    * Casts between TIMESTAMP and TIMESTAMP_NTZ are stripped: the
    * session is pinned to UTC, so both flavors share the same
    * epoch-micros value space as the manifest stats — and the analyzer
    * inserts exactly this cast when an NTZ column (Spark 4's parquet
    * inference) meets an LTZ literal, which would otherwise defeat the
    * AttributeReference patterns in mayMatch. */
  private def analyzeConjuncts(m: TableMeta, bind: DataFrame => Column)
      : Seq[Expression] = {
    val df = emptyDfOf(StructType.fromDDL(m.schemaDdl))
    val analyzed = df.filter(bind(df)).queryExecution.analyzed
    val conds = analyzed.collect { case f: logical.Filter => f.condition }
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    def stripTsCasts(e: Expression): Expression = e.transformUp {
      case c: org.apache.spark.sql.catalyst.expressions.Cast
        if (c.child.dataType == TimestampNTZType && c.dataType == TimestampType) ||
          (c.child.dataType == TimestampType && c.dataType == TimestampNTZType) =>
        c.child
    }
    // constant-fold cast-wrapped literals (lit("2024-02-05").cast(ntz),
    // lit(5).cast(dec)) into plain Literals: this runs on the ANALYZED
    // plan, before Catalyst's own ConstantFolding, and mayMatch prunes
    // only bare attribute-vs-Literal shapes. Evaluation failures (e.g.
    // an invalid constant cast under ANSI) leave the node unfolded —
    // pruning degrades to "may match" and the error still surfaces at
    // execution, exactly as without pruning.
    def foldConstants(e: Expression): Expression = e.transformUp {
      case f if f.foldable && f.deterministic &&
          !f.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        try org.apache.spark.sql.catalyst.expressions.Literal
          .create(f.eval(null), f.dataType)
        catch { case scala.util.control.NonFatal(_) => f }
    }
    conds.flatMap(split).map(stripTsCasts).map(foldConstants)
  }

}

/** A branch/tag name that resolves to no stored ref. A dedicated type
  * so callers (e.g. VERSION AS OF resolution in GraftSqlCatalog) can
  * branch on it without coupling to the message text. */
final class UnknownRefException(val refName: String)
  extends IllegalArgumentException(s"unknown ref $refName")

object GraftTable {
  /** A permanent erase as [[GraftTable.eraseSubject]] applies it:
    * `bind` selects the subject's rows (`keyColumn` against a literal),
    * `rows` maps a victim file's rows to the erased rows, `operation`
    * labels the commit, `columns` are the logical columns whose values
    * the erase removes (their NDV sketches lose them), and `dropsRows`
    * says whole rows go (a file holding only the subject is then
    * dropped unread). */
  private[lake] final case class Erase(keyColumn: String,
      bind: DataFrame => Column, rows: DataFrame => DataFrame,
      operation: String, columns: Seq[String], dropsRows: Boolean)

  /** The rewrite target size ([[GraftTable.rewriteDataFiles]]'s
    * default `target-file-size-bytes`). */
  private[lake] val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Rows below which a data file is tiny: the parquet writer has not
    * yet checked its page size once, so the file is one page per column
    * plus a footer. */
  private[lake] val TinyFileRows: Int = org.apache.parquet.column
    .ParquetProperties.DEFAULT_MINIMUM_RECORD_COUNT_FOR_CHECK

  /** Types whose manifest min = max pins every non-null value: the
    * stats are exact, and a string pair truncated by the writer could
    * only be equal if untruncated. Floats are out: -0.0 = 0.0 and NaN
    * are not told apart by the bounds. */
  private[lake] def exactStats(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         StringType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The KMV estimator over a stored sketch: exact passthrough below
    * k, else (k-1)·2^60 div theta — the same integer form
    * [[graft.rel.Kmv.estimate]] pins against the DuckDB oracle.
    * STATIC like mayMatch: pure metadata math, no table state. */
  private[lake] def ndvEstimate(s: NdvSketch): Long =
    if (s.hashes.isEmpty) 0L
    else if (s.hashes.size < s.k) s.hashes.size.toLong
    else ((BigInt(s.k - 1) * BigInt(graft.rel.Kmv.Dom)) /
      BigInt(s.hashes.max)).toLong

  val FileCol = "__graft_file"
  val PosCol = "__graft_pos"
  val ClusterProp = "write.clustered-by"

  /** Table property recording the base directory of a rewrite-free
    * hive-partitioned adoption (migrate keep-backup, r17): data files
    * under it synthesize their former partition columns from directory
    * names at scan time. Set once by the adopting migrate; never
    * user-edited. */
  val AdoptedBaseProp = "graft.adopted.base-path"

  /** Render a directory-encoded partition value into the stat space
    * [[GraftTable.mayMatch]] compares in (the same spaces statEntries
    * produces: ints/dates/booleans → long strings, doubles → double
    * strings, strings raw). None = type unsupported for rewrite-free
    * adoption; throws when the value does not parse in the type —
    * the adopting migrate validates every value up front so the
    * scan-time cast can never produce a surprise null. */
  private[lake] def partitionStatValue(dt: DataType,
      raw: String): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(raw.trim.toLong.toString)
    case DateType =>
      Some(java.time.LocalDate.parse(raw.trim).toEpochDay.toString)
    case StringType => Some(raw)
    case FloatType | DoubleType => Some(raw.trim.toDouble.toString)
    case BooleanType => Some(if (raw.trim.toBoolean) "1" else "0")
    case _ => None
  }

  /** Hive percent-escaping in partition directory names ("a%2Fb" →
    * "a/b") — the inverse of the escapePathName hive-layout writers
    * apply to special characters in partition values. */
  private[lake] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val code =
        if (c == '%' && i + 2 < s.length)
          try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        else -1
      if (code >= 0) { sb.append(code.toChar); i += 3 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Per-bucket byte load above which bucket-local reads warn that the
    * table is under-bucketed (each bucket is ONE task). */
  private[lake] val BucketBytesWarn = 4L * 1024 * 1024 * 1024

  /** The integer-valued policy keys [[GraftTable.maintain]] consumes —
    * the up-front numeric validation is restricted to exactly this set
    * (plus the `maintenance.analyze.stale-commits.<col>` prefix) so a
    * foreign string-valued `maintenance.*` property never blocks an
    * unrelated sweep. */
  private[lake] val MaintenanceNumericKeys: Set[String] = Set(
    "maintenance.compact.target-file-size-bytes",
    "maintenance.compact.min-delete-files",
    "maintenance.compact.min-small-files",
    "maintenance.bucket.max-bytes-per-bucket",
    "maintenance.manifests.min-count",
    "maintenance.expire.max-age-ms",
    "maintenance.expire.retain-last",
    "maintenance.orphans.older-than-ms",
    "maintenance.analyze.stale-commits")

  /** Per-ref RETAIN cap meaning "never lapses": a cap no snapshot age
    * can exceed (`ts < now - MaxValue` is always false — no overflow:
    * now ≥ 0 keeps the difference inside Long range). The SQL
    * create_branch/create_tag procedures translate their
    * `max_ref_age_ms => 0` RETAIN-FOREVER sentinel to this value; note
    * the deliberate asymmetry with the TABLE property
    * `history.expire.max-ref-age-ms`, where 0 follows Iceberg's
    * positive-milliseconds contract and lapses refs immediately. */
  val RetainForever: Long = Long.MaxValue

  private[lake] def isNumericStat(dt: DataType): Boolean = dt match {
    case StringType => false
    case _ => true
  }

  /** The conjunct shapes [[mayMatch]] actually prunes on. Everything
    * else returns true there, so callers that SHIP conjuncts to
    * executors drop the rest driver-side — they never prune, and only
    * these literal-vs-attribute comparison trees are trivially
    * serializable. */
  private[lake] def prunable(c: Expression): Boolean = c match {
    case EqualTo(_: AttributeReference, _: Literal) => true
    case EqualTo(_: Literal, _: AttributeReference) => true
    case LessThan(_: AttributeReference, _: Literal) => true
    case LessThanOrEqual(_: AttributeReference, _: Literal) => true
    case GreaterThan(_: AttributeReference, _: Literal) => true
    case GreaterThanOrEqual(_: AttributeReference, _: Literal) => true
    case In(_: AttributeReference, vs) =>
      vs.forall(_.isInstanceOf[Literal])
    case _ => false
  }

  /** Conservative overlap test: only prunes when the conjunct is a
    * simple comparison on a stats-tracked column; anything else keeps
    * the file. Equality/IN conjuncts additionally test the derived
    * bucket-id range when the column has `bucket(n,col)` clustering
    * (raw min/max can't prune hashed layouts). STATIC — no table
    * state — so executor-side planning (`prunedDistributed`) evaluates
    * the EXACT same test the driver path does: the two paths can never
    * disagree on a file. */
  private[lake] def mayMatch(e: ManifestEntry, conjunct: Expression,
      sch: StructType, mapping: Map[String, String],
      buckets: Seq[BucketField] = Nil): Boolean = {
    def physName(n: String): String = mapping.getOrElse(n, n)
    def bucketBound(name: String, v: Any, dt: DataType): Boolean =
      v == null || buckets.filter(_.column.equalsIgnoreCase(name))
        .forall { bf =>
          val phys = sch.fields.find(_.name.equalsIgnoreCase(name))
            .map(f => physName(f.name)).getOrElse(name)
          e.stats.get(bf.statKey(phys)) match {
            case Some(st) =>
              val b = ClusterSpec.bucketOfLiteral(bf.n, v, dt)
              try st.min.toDouble <= b && b <= st.max.toDouble
              catch { case _: NumberFormatException => true }
            case None => true
          }
        }
    def key(name: String): Option[(ColStat, DataType)] = for {
      f <- sch.fields.find(_.name.equalsIgnoreCase(name))
      // stats are keyed by the file-side (physical) column name
      st <- e.stats.get(physName(f.name))
    } yield (st, f.dataType)
    // string stats were computed by Spark min/max over UTF8String
    // (UTF-8 byte order), so compare in the SAME order — Java
    // String.compareTo (UTF-16 code units) disagrees for supplementary
    // code points vs U+E000..U+FFFF and could prune a matching file
    def cmp(statVal: String, v: Any, dt: DataType): Int =
      if (isNumericStat(dt)) BigDecimal(statVal).compare(BigDecimal(v.toString))
      else org.apache.spark.unsafe.types.UTF8String.fromString(statVal)
        .compareTo(
          org.apache.spark.unsafe.types.UTF8String.fromString(v.toString))
    def bound(name: String, v: Any, test: (Int, Int) => Boolean): Boolean =
      key(name) match {
        case Some((st, dt)) if v != null =>
          try test(cmp(st.min, v, dt), cmp(st.max, v, dt))
          catch { case _: NumberFormatException => true }
        case _ => true
      }
    conjunct match {
      case EqualTo(a: AttributeReference, Literal(v, dt)) =>
        bound(a.name, litExternal(v), (lo, hi) => lo <= 0 && hi >= 0) &&
          bucketBound(a.name, v, dt)
      case EqualTo(Literal(v, dt), a: AttributeReference) =>
        bound(a.name, litExternal(v), (lo, hi) => lo <= 0 && hi >= 0) &&
          bucketBound(a.name, v, dt)
      case LessThan(a: AttributeReference, Literal(v, _)) =>
        bound(a.name, litExternal(v), (lo, _) => lo < 0)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        bound(a.name, litExternal(v), (lo, _) => lo <= 0)
      case GreaterThan(a: AttributeReference, Literal(v, _)) =>
        bound(a.name, litExternal(v), (_, hi) => hi > 0)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        bound(a.name, litExternal(v), (_, hi) => hi >= 0)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, dt) =>
          bound(a.name, litExternal(v), (lo, hi) => lo <= 0 && hi >= 0) &&
            bucketBound(a.name, v, dt)
        }
      case _ => true
    }
  }

  /** Catalyst internal literal → comparable external value (UTF8String
    * → String; numerics stay numeric — stat space already matches:
    * micros for timestamps, days for dates). */
  private def litExternal(v: Any): Any = v match {
    case null => null
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case d: org.apache.spark.sql.types.Decimal => d.toBigDecimal
    case other => other
  }

  /** Tiny synchronized LRU for immutable-file parse results: evicts
    * the least recently used entries while their total `weigh`t tops
    * `budget`. A computation may itself use the cache. */
  private[lake] final class LruCache[K, V](val budget: Long,
      weigh: V => Long) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
    private var total = 0L
    def weight: Long = synchronized(total)
    def computeIfAbsent(k: K, f: K => V): V = synchronized {
      Option(m.get(k)).getOrElse { val v = f(k); put(k, v); v }
    }
    /** Prime a just-written immutable file's parse result. */
    def put(k: K, v: V): Unit = synchronized {
      total += weigh(v) - Option(m.put(k, v)).map(weigh).getOrElse(0L)
      val it = m.values.iterator
      while (total > budget && it.hasNext) { total -= weigh(it.next()); it.remove() }
    }
  }

  private[lake] def lruCache[K, V](maxEntries: Int): LruCache[K, V] =
    new LruCache[K, V](maxEntries, _ => 1L)

  /** parquet-java builder over Spark's InternalRow write support, for
    * the driver-side small-commit fast path in `writeLocalParquet`. */
  private[lake] class LocalParquetBuilder(path: org.apache.hadoop.fs.Path)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        org.apache.spark.sql.catalyst.InternalRow, LocalParquetBuilder](
        path) {
    override def self(): LocalParquetBuilder = this
    override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[
          org.apache.spark.sql.catalyst.InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetWriteSupport()
  }

  /** Optimistic-concurrency retry loop, the Iceberg-client behavior:
    * each attempt re-reads the table (operations capture their base at
    * read time), so a loser's retry is computed against the winner's
    * committed state — not a blind re-publish of stale results.
    * Exponential backoff with jitter desynchronizes N racing writers. */
  def retryOnConflict[A](maxAttempts: Int = 4,
      firstBackoffMs: Long = 50)(op: => A): A = {
    var attempt = 1
    while (true) {
      try return op
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxAttempts) throw e
          val backoff = firstBackoffMs << (attempt - 1)
          Thread.sleep(backoff / 2 +
            scala.util.Random.nextLong(math.max(1L, backoff / 2)))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[lake] def requireUndotted(n: String, what: String): Unit =
    require(!n.contains('.'),
      s"$what '$n' contains '.': dotted top-level column names are " +
        "not supported (the nested-evolution mapping keys logical " +
        "paths by '.')")

  /** Schema of a flat (non-hive-partitioned) parquet file set, read
    * DRIVER-SIDE from the first file's footer (r18, guide §1.2):
    * Spark stamps the exact StructType JSON it would infer into every
    * file it writes (`org.apache.spark.sql.parquet.row.metadata`), so
    * import/migrate paths — whose sources are Spark-written — skip
    * the footer-inference Spark JOB `spark.read.parquet` runs per
    * call (~30 ms job + ~60 ms planning gap, several times per
    * migrate walk). Mirrors Spark's own no-mergeSchema rule (one
    * footer, first data file wins); files without the key (foreign
    * writers) fall back to the real reader, and every caller
    * re-validates the result against the table schema before any
    * byte moves. */
  private[lake] def inferParquetSchema(spark: SparkSession,
      files: Seq[Path]): StructType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val viaKey =
      try {
        val conf = spark.sessionState.newHadoopConf()
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(files.head.toString), conf))
        try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata"))
          .flatMap(j => scala.util.Try(
            org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[StructType]).toOption)
        finally r.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    viaKey.getOrElse(
      spark.read.parquet(files.map(_.toString): _*).schema)
  }

  /** Create a new table directory with v0 metadata (no snapshot). */
  def create(spark: SparkSession, root: Path, name: String,
      schema: StructType, properties: Map[String, String] = Map.empty,
      commit: CommitProvider = LocalCommitProvider): GraftTable = {
    require(!Files.exists(root.resolve("metadata/version-hint.text")),
      s"table already exists at $root")
    schema.fieldNames.foreach(requireUndotted(_, "column"))
    val meta = TableMeta(name, schema.toDDL, properties, Nil, None)
    Io.atomicWrite(root.resolve("metadata/v0.metadata.json"), Json.write(meta))
    Io.atomicWrite(root.resolve("metadata/version-hint.text"), "0")
    Files.createDirectories(root.resolve("data"))
    new GraftTable(spark, root, commit)
  }

  def load(spark: SparkSession, root: Path,
      commit: CommitProvider = LocalCommitProvider): GraftTable = {
    require(Files.exists(root.resolve("metadata/version-hint.text")),
      s"no GraftLake table at $root")
    new GraftTable(spark, root, commit)
  }
}

/** Nested struct for all_entries.data_file — dotted access like
  * `data_file.file_path` works as in the reference
  * (file_summary_utils.py:133-135). */
final case class DataFileInfo(file_path: String, content: Int,
    record_count: Long, file_size_in_bytes: Long)
