package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Gen._

/** The generated inputs are the only thing the program receives, so the
  * benchmark is repeatable exactly when the generators are. */
class GenSpec extends AnyFunSuite {
  private def cdc(seed: Long, ops: Int): Seq[(CdcOp, Totals)] = {
    val model = new CdcModel(seed, 150000)
    val plan = new CdcPlan(seed, model, maintEvery = 2)
    Seq.fill(ops) { val op = plan.next(); (op, model.totals) }
  }

  test("lake_cdc: the same seed gives the same operations and model outcomes") {
    assert(cdc(7, 200) == cdc(7, 200))
  }

  test("lake_cdc: a different seed gives a different operation sequence") {
    assert(cdc(7, 200).map(_._1) != cdc(8, 200).map(_._1))
  }

  test("lake_cdc: every block is the same mix, with maintenance every 2 blocks") {
    val model = new CdcModel(3, 150000)
    val plan = new CdcPlan(3, model, maintEvery = 2)
    for (b <- 1 to 6) {
      val block = Iterator.continually(plan.next())
        .take(Block.size + (if (b % 2 == 0) 1 else 0)).toSeq
      assert(plan.atBlockStart)
      assert(block.count(_.kind == "commit") == 14)
      assert(block.count(_.kind == "erase") == 5)
      assert(block.count(_.kind == "read") == 11)
      assert(block.count(_ == Maint) == (if (b % 2 == 0) 1 else 0))
    }
  }

  test("lake_cdc: the warm-up holds appends, then every kind of operation once") {
    val model = new CdcModel(3, 150000)
    val plan = new CdcPlan(3, model, maintEvery = 1)
    plan.queueWarmup(appends = 4)
    val warm = Iterator.continually(plan.next()).take(4 + Block.distinct.size + 1).toSeq
    assert(plan.atBlockStart)
    assert(warm.take(4).forall(_.isInstanceOf[Append]))
    val kinds = warm.drop(4)
    assert(kinds.map(_.getClass).distinct.size == kinds.size - 2) // Delete and ReadWhere twice
    assert(warm.last == Maint)
  }

  test("lake_cdc: the model applies each write to the live key set") {
    val model = new CdcModel(1, 100)
    val before = model.totals
    model.remove(5)
    model.setCents(6, model.centsOf(6) + 10)
    val after = model.totals
    assert(after.count == before.count - 1)
    assert(after.sumKey == before.sumKey - 5)
    assert(after.sumCents == before.sumCents - order(1, 5).cents + 10)
    assert(model.rangeTotals(5, 6) == Totals(1, 6, order(1, 6).cents + 10))
  }

  private def pii(seed: Long, n: Int): Seq[PiiRequest] = {
    val plan = new PiiPlan(seed, 500, 10, sketchEvery = 3)
    Seq.fill(n)(plan.next())
  }

  test("pii_erase: the same seed gives the same requests") {
    assert(pii(11, 50) == pii(11, 50))
  }

  test("pii_erase: a different seed gives different requests") {
    assert(pii(11, 50).map(_.victim) != pii(12, 50).map(_.victim))
  }

  test("pii_erase: a subject is erased at most once and probes stay live") {
    val reqs = pii(5, 200)
    val erased = reqs.map(_.victim.caseId)
    assert(erased.distinct.size == erased.size)
    reqs.zipWithIndex.foreach { case (r, i) =>
      r.probes.foreach(p => assert(!erased.take(i + 1).contains(p.caseId)))
    }
    assert(reqs.map(_.mode).distinct.toSet == Set(DeleteRow, Nullify))
  }

  test("pii_erase: every third victim has a PII hash the NDV sketch retains") {
    val base = new PiiPlan(5, 500, 10, sketchEvery = 3).base
    def sketch(f: Subject => String) = base.map(s => hash60(f(s))).sorted.take(SketchK).toSet
    val (emails, names) = (sketch(_.email), sketch(_.firstName))
    pii(5, 60).zipWithIndex.collect { case (r, i) if (i + 1) % 3 == 0 => r.victim }
      .foreach(v => assert(emails(hash60(v.email)) || names(hash60(v.firstName))))
  }

  test("pii_erase: every subject's PII values are unique") {
    val subjects = for (c <- 0 until 2000; k <- 0 until PiiCopies)
      yield subject(3, c, k)
    assert(subjects.map(_.email).distinct.size == subjects.size)
    assert(subjects.map(_.firstName).distinct.size == subjects.size)
  }

  test("query_mix: the seed only permutes the fixed query list") {
    val qs = QueryMix.Queries
    assert(permutation(1, 0, qs) == permutation(1, 0, qs))
    assert(permutation(1, 0, qs) != permutation(2, 0, qs))
    assert(permutation(1, 0, qs).sorted == qs.sorted)
  }
}
