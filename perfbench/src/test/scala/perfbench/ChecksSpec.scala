package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.{DocGen, ReferenceOracle}

class ChecksSpec extends AnyFunSuite {

  private val docs = (0L until 50L).map(DocGen.docFor)
  private val good = docs.map(d => d.doc_id -> Checks.spansOf(ReferenceOracle.extract(d))).toMap

  test("committed rows must equal the staged docs") {
    assert(Checks.committedRows(50, 50).isEmpty)
    assert(Checks.committedRows(49, 50).nonEmpty)
    assert(Checks.committedRows(51, 50).nonEmpty)
  }

  test("the oracle sample passes on the oracle's own output") {
    assert(Checks.oracleSample(docs, good).isEmpty)
  }

  test("a dropped row fails the oracle sample") {
    val dropped = good - docs(7).doc_id
    assert(Checks.oracleSample(docs, dropped).map(_.take(11)) == Seq(docs(7).doc_id))
  }

  test("a dropped or reordered span fails the oracle sample") {
    val d = docs.find(x => good(x.doc_id).length >= 2).get
    val spans = good(d.doc_id)
    assert(Checks.oracleSample(docs, good.updated(d.doc_id, spans.tail)).nonEmpty)
    assert(Checks.oracleSample(docs, good.updated(d.doc_id, spans.reverse)).nonEmpty)
  }

  test("a backfill that leaves an old-shape ref, or applies nothing, fails") {
    assert(Checks.backfillShapes(0, 12).isEmpty)
    assert(Checks.backfillShapes(1, 12).nonEmpty)
    assert(Checks.backfillShapes(0, 0).nonEmpty)
  }

  private val funnel = Map("extracted" -> 100L, "with_text" -> 99L, "cleaned" -> 80L,
    "lang_en" -> 80L, "exact_deduped" -> 78L, "near_deduped" -> 78L, "substr" -> 77L,
    "lm_kept" -> 70L)

  test("the corpus funnel may only shrink") {
    assert(Checks.funnelMonotone(100, funnel).isEmpty)
    assert(Checks.funnelMonotone(100, funnel.updated("substr", 79L)).nonEmpty)
    assert(Checks.funnelMonotone(101, funnel).nonEmpty)
    assert(Checks.funnelMonotone(100, funnel - "cleaned").nonEmpty)
  }

  test("test plus train must equal the split, and the holdout the test side") {
    assert(Checks.splitPartition(4, 66, 70, 70, 4).isEmpty)
    assert(Checks.splitPartition(4, 65, 70, 70, 4).nonEmpty)
    assert(Checks.splitPartition(4, 66, 70, 71, 4).nonEmpty)
    assert(Checks.splitPartition(4, 66, 70, 70, 3).nonEmpty)
  }

  test("every admission row must account for each input row once") {
    val ok = Checks.Admission(1, 500, 300, 70, 100, 30)
    assert(Checks.admissionBalance(Seq(ok)).isEmpty)
    assert(Checks.admissionBalance(Seq(ok, ok.copy(batchId = 2, admitted = 299))).size == 1)
  }

  test("an id admitted twice fails") {
    assert(Checks.uniqueIds(Map("d1" -> 1L)).isEmpty)
    assert(Checks.uniqueIds(Map("d1" -> 1L, "d2" -> 2L)) == Seq("d2 admitted 2 times"))
  }

  test("packed rows must equal admitted rows per increment") {
    assert(Checks.packedEqualsAdmitted(Map(1L -> 300L), Map(1L -> 300L)).isEmpty)
    assert(Checks.packedEqualsAdmitted(Map(1L -> 299L), Map(1L -> 300L)).nonEmpty)
    assert(Checks.packedEqualsAdmitted(Map(1L -> 300L), Map.empty).nonEmpty)
  }
}
