package perfbench

import java.util.SplittableRandom

/** Seeded inputs for every workload. Everything the program receives is
  * generated here from `--seed`, together with the driver-side model the
  * harness checks outputs against; nothing reads the clock or the table.
  */
object Gen {
  /** splitmix64 finaliser: a stable per-(seed, key, salt) pseudo-random
    * value, so a row's content never depends on generation order. */
  def mix(seed: Long, key: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + key * 0xBF58476D1CE4E5B9L +
      salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def uniform(seed: Long, key: Long, salt: Long, n: Long): Long =
    java.lang.Math.floorMod(mix(seed, key, salt), n)

  // ---- lake_cdc: orders ----

  final case class Order(key: Long, cust: Long, status: String,
      cents: Long, dateDays: Int, priority: String) {
    def price: Double = cents / 100.0
  }
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  val Customers = 15000L

  def order(seed: Long, key: Long): Order = Order(key,
    uniform(seed, key, 1, Customers), "OFP".charAt(
      uniform(seed, key, 2, 3).toInt).toString,
    100000L + uniform(seed, key, 3, 49900000L),
    9131 + uniform(seed, key, 4, 2405).toInt,
    Priorities(uniform(seed, key, 5, 5).toInt))

  /** Count, key sum and price sum (in cents) of a row set: exact in long
    * arithmetic, so a read's result either matches the model or not. */
  final case class Totals(count: Long, sumKey: Long, sumCents: Long)

  /** Live orders by key. Keys are dense (base rows, then appends and
    * merge inserts take the next free keys), so the model is a few arrays. */
  final class CdcModel(seed: Long, baseRows: Int) {
    private var cust = new Array[Long](baseRows * 2)
    private var cents = new Array[Long](baseRows * 2)
    private val live = new java.util.BitSet()
    var nextKey: Long = 0
    private var count, sumKey, sumCents = 0L
    (0 until baseRows).foreach(k => add(order(seed, k)))

    def add(o: Order): Unit = {
      val k = o.key.toInt
      if (k >= cust.length) {
        cust = java.util.Arrays.copyOf(cust, k * 2)
        cents = java.util.Arrays.copyOf(cents, k * 2)
      }
      require(!live.get(k), s"key $k is already live")
      cust(k) = o.cust; cents(k) = o.cents; live.set(k)
      count += 1; sumKey += k; sumCents += o.cents
      nextKey = math.max(nextKey, o.key + 1)
    }
    def remove(k: Long): Unit = if (isLive(k)) {
      live.clear(k.toInt); count -= 1; sumKey -= k; sumCents -= cents(k.toInt)
    }
    def setCents(k: Long, c: Long): Unit = if (isLive(k)) {
      sumCents += c - cents(k.toInt); cents(k.toInt) = c
    }
    def isLive(k: Long): Boolean = k >= 0 && k < nextKey && live.get(k.toInt)
    def centsOf(k: Long): Long = cents(k.toInt)
    def custOf(k: Long): Long = cust(k.toInt)
    def totals: Totals = Totals(count, sumKey, sumCents)
    def rangeTotals(lo: Long, hi: Long): Totals = {
      var c, sk, sc = 0L
      var k = live.nextSetBit(lo.toInt)
      while (k >= 0 && k <= hi) {
        c += 1; sk += k; sc += cents(k); k = live.nextSetBit(k + 1)
      }
      Totals(c, sk, sc)
    }
    def liveKeysOf(customer: Long): Seq[Long] = {
      val b = Seq.newBuilder[Long]
      var k = live.nextSetBit(0)
      while (k >= 0) { if (cust(k) == customer) b += k; k = live.nextSetBit(k + 1) }
      b.result()
    }
    /** The first live key at or after `k` (wrapping), or -1. */
    def liveAtOrAfter(k: Long): Long = {
      val a = live.nextSetBit(math.max(0, k.toInt))
      if (a >= 0 && a < nextKey) a else live.nextSetBit(0).toLong
    }
  }

  sealed trait CdcOp { def kind: String }
  sealed trait CdcCommit extends CdcOp { def kind = "commit" }
  sealed trait CdcRead extends CdcOp { def kind = "read" }
  final case class Append(rows: Seq[Order]) extends CdcCommit
  final case class Delete(lo: Long, hi: Long) extends CdcCommit
  final case class Update(lo: Long, hi: Long, deltaCents: Long)
      extends CdcCommit
  final case class EqDelete(keys: Seq[Long]) extends CdcCommit
  /** MERGE INTO upsert: matched keys take the row, new keys insert. */
  final case class Merge(rows: Seq[Order]) extends CdcCommit
  /** A customer's erasure request; history is purged by maintenance. */
  final case class Erase(cust: Long) extends CdcOp { def kind = "erase" }
  final case class ReadAgg(expect: Totals) extends CdcRead
  final case class ReadWhere(lo: Long, hi: Long, expect: Totals)
      extends CdcRead
  /** Time travel to the retained snapshot at fraction `pick` of the
    * retained list (the list itself is known only to the table). */
  final case class TimeTravel(pick: Double) extends CdcRead
  final case class Meta(table: String) extends CdcRead
  case object Maint extends CdcOp { def kind = "maint" }

  /** One lake_cdc block, in a fixed order with fixed sizes; the seed picks
    * the keys. Fourteen commits: nine micro-batch appends (the commonest
    * CDC write), a point delete, an update, an equality delete, a range
    * delete and a MERGE upsert; five erasure requests; eleven reads, seven
    * of them point lookups. The range delete can leave more position
    * deletes than the MOR read's inline delete filter takes (4,096), so
    * the reads before it see the inline form and the reads after it can
    * see the anti-join form. The commit median falls inside the appends
    * and the read median inside the five point lookups before the range
    * delete. */
  val Block: Seq[String] = Seq(
    "append", "point_delete", "read_point", "erase", "append", "read_point",
    "update", "append", "read_agg", "read_point", "erase", "append",
    "eq_delete", "read_point", "append", "erase", "read_point",
    "range_delete", "append", "read_range", "read_point", "merge", "erase",
    "append", "time_travel", "append", "erase", "read_point", "append", "meta")

  /** The lake_cdc operation stream, in blocks: every block is the same
    * operations with seeded keys, so any whole number of blocks is the
    * same mix and seeds differ only in which rows they touch. A maintenance cycle
    * follows every `maintEvery` blocks. Every op is applied to `model` as
    * it is generated, so the model always holds the state the table must
    * show after that op. */
  final class CdcPlan(seed: Long, val model: CdcModel, val maintEvery: Int) {
    private val rng = new SplittableRandom(mix(seed, 0, 99))
    private val pending = scala.collection.mutable.Queue[String]()
    private var blocks = 0

    /** Keys skew towards recent ones: the offset back from the newest
      * key is the key space times u^3. */
    private def recentKey(): Long =
      math.max(0L, model.nextKey - 1 -
        (model.nextKey * math.pow(rng.nextDouble(), 3)).toLong)
    private def between(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)
    private def freshRows(n: Int): Seq[Order] = {
      val first = model.nextKey
      (0 until n).map(i => order(seed, first + i))
    }
    private def liveRecent(): Long = model.liveAtOrAfter(recentKey())

    /** Whether the next op starts a new block. */
    def atBlockStart: Boolean = pending.isEmpty

    /** Queue `appends` appends, then one operation of each kind a block
      * holds, in block order, and a maintenance cycle: a warm-up that
      * soaks the commit path with its cheapest operation and then reaches
      * every code path once without the block's repeats. */
    def queueWarmup(appends: Int): Unit = {
      require(pending.isEmpty, "warm-up must start a block")
      pending ++= Seq.fill(appends)("append") ++ Block.distinct :+ "maint"
    }

    def next(): CdcOp = {
      if (pending.isEmpty) {
        pending ++= Block
        blocks += 1
        if (blocks % maintEvery == 0) pending += "maint"
      }
      val op: CdcOp = pending.dequeue() match {
        case "append" => Append(freshRows(50))
        case "point_delete" => val k = liveRecent(); Delete(k, k)
        case "range_delete" =>
          val hi = recentKey(); Delete(math.max(0, hi - 6000), hi)
        case "update" =>
          val hi = recentKey(); Update(math.max(0, hi - 60), hi, between(1, 5000).toLong)
        case "eq_delete" =>
          val keys = scala.collection.mutable.LinkedHashSet[Long]()
          while (keys.size < 100) keys += recentKey()
          EqDelete(keys.toSeq.sorted)
        case "merge" =>
          val old = scala.collection.mutable.LinkedHashSet[Long]()
          while (old.size < 30) old += liveRecent()
          Merge(old.toSeq.map(k => order(seed, k).copy(cust = model.custOf(k),
            cents = model.centsOf(k) + between(1, 9999))) ++ freshRows(30))
        case "erase" => Erase(model.custOf(liveRecent()))
        case "read_agg" => ReadAgg(model.totals)
        case "read_point" =>
          val k = liveRecent(); ReadWhere(k, k, model.rangeTotals(k, k))
        case "read_range" =>
          val hi = recentKey(); val lo = math.max(0, hi - 1500)
          ReadWhere(lo, hi, model.rangeTotals(lo, hi))
        case "time_travel" => TimeTravel(rng.nextDouble())
        case "meta" => Meta(Vector("files", "snapshots", "entries")(blocks % 3))
        case "maint" => Maint
      }
      applyToModel(op)
      op
    }

    private def applyToModel(op: CdcOp): Unit = op match {
      case Append(rows) => rows.foreach(model.add)
      case Delete(lo, hi) => (lo to hi).foreach(model.remove)
      case Update(lo, hi, d) =>
        (lo to hi).foreach(k => if (model.isLive(k))
          model.setCents(k, model.centsOf(k) + d))
      case EqDelete(keys) => keys.foreach(model.remove)
      case Merge(rows) => rows.foreach(o =>
        if (model.isLive(o.key)) model.setCents(o.key, o.cents)
        else model.add(o))
      case Erase(c) => model.liveKeysOf(c).foreach(model.remove)
      case _ => ()
    }
  }

  // ---- pii_erase: the demo's pii_data table ----

  final case class Subject(caseId: String, firstName: String, email: String,
      keyNm: String, secureTxt: String, secureKey: String, updateDays: Int)
  val PiiCopies = 2
  val CopyShift = 1000000L
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")

  /** One subject of copy `copy` of customer `cust`. Every PII value
    * carries the subject's id and copy suffix, so it occurs in no other
    * row and a byte search for it is exact. */
  def subject(seed: Long, cust: Long, copy: Int): Subject = {
    val id = cust + copy * CopyShift
    val tag = f"${uniform(seed, id, 11, 1L << 40)}%010x"
    Subject(s"C$id", s"Name$id~$tag", s"user$id.$tag@mail.test",
      Segments(uniform(seed, id, 12, 5).toInt),
      s"note-$tag-${uniform(seed, id, 13, 1000000)}",
      s"k${uniform(seed, id, 14, 1L << 30)}", 18000 + uniform(seed, id, 15, 1500).toInt)
  }

  sealed trait EraseMode
  case object DeleteRow extends EraseMode
  case object Nullify extends EraseMode

  /** One pii_erase request: ingest `batch`, erase `victim` with `mode`,
    * then read back `victim` and the still-live `probes`. */
  final case class PiiRequest(batch: Seq[Subject], victim: Subject,
      mode: EraseMode, probes: Seq[Subject])

  /** The table's NDV sketch size: the k smallest distinct hash60 values
    * of each analyzed column. */
  val SketchK = 256

  /** `graft.rel.Kmv.hash60` on the driver: the first 15 hex digits of the
    * value's md5, as a long. */
  def hash60(v: String): Long = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(md5.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  /** Every `sketchEvery`-th request erases a subject whose email or first
    * name hash is among the `SketchK / 2` smallest of the base table's
    * column, so it is still in the table's NDV sketch however many
    * subjects a run ingests; the others erase a random live subject. */
  final class PiiPlan(seed: Long, baseCustomers: Int, batchSize: Int,
      sketchEvery: Int) {
    private val rng = new SplittableRandom(mix(seed, 0, 98))
    private val liveIds = scala.collection.mutable.ArrayBuffer[Subject]()
    (0 until PiiCopies).foreach(c => (0 until baseCustomers)
      .foreach(k => liveIds += subject(seed, k, c)))
    val base: Seq[Subject] = liveIds.toVector
    /** Base subjects with a PII hash the sketch retains. */
    val inSketch: Seq[Subject] = {
      def smallest(f: Subject => String) =
        base.map(s => (hash60(f(s)), s)).sortBy(_._1).take(SketchK / 2).map(_._2)
      (smallest(_.email) ++ smallest(_.firstName)).distinct
    }
    private val erased = scala.collection.mutable.Set[String]()
    private var nextCust = baseCustomers.toLong
    private var n = 0

    /** The next ingest batch of new subjects, live from now on. */
    def ingest(): Seq[Subject] = {
      val batch = (0 until batchSize).map(i => subject(seed, nextCust + i, 0))
      nextCust += batchSize
      liveIds ++= batch
      batch
    }

    def next(): PiiRequest = {
      val batch = ingest()
      n += 1
      val victim = take(
        if (n % sketchEvery == 0) {
          val live = inSketch.filterNot(s => erased(s.caseId))
          liveIds.indexOf(live(rng.nextInt(live.size)))
        } else rng.nextInt(liveIds.size))
      val probes = Seq.fill(2)(liveIds(rng.nextInt(liveIds.size)))
      PiiRequest(batch, victim, if (n % 2 == 1) DeleteRow else Nullify, probes)
    }
    private def take(i: Int): Subject = {
      val s = liveIds(i)
      liveIds(i) = liveIds.last
      liveIds.remove(liveIds.size - 1)
      erased += s.caseId
      s
    }
  }

  // ---- query_mix ----

  /** The seed only permutes the fixed query list. */
  def permutation[A](seed: Long, pass: Int, xs: Seq[A]): Seq[A] = {
    val rng = new SplittableRandom(mix(seed, pass, 97))
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
