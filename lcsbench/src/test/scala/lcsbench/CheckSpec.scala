package lcsbench

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {
  private val expected = Seq(11L, 12L, 13L, 14L)

  test("id sets: order is ignored, a dropped row or a swapped id is rejected") {
    assert(Check.sameIds("box", expected, expected.reverse).isEmpty)
    assert(Check.sameIds("box", expected, expected.drop(1)).nonEmpty)
    assert(Check.sameIds("box", expected, Seq(11L, 12L, 13L, 15L)).nonEmpty)
    assert(Check.sameIds("box", expected, expected :+ 14L).nonEmpty)
  }

  test("rankings: a swapped id or a swapped position is rejected") {
    assert(Check.sameRanking("phrase", expected, expected).isEmpty)
    assert(Check.sameRanking("phrase", expected, Seq(11L, 12L, 14L, 13L)).nonEmpty)
    assert(Check.sameRanking("phrase", expected, Seq(11L, 12L, 13L, 99L)).nonEmpty)
  }

  test("rows: a dropped row or a changed value is rejected") {
    val rows = Map(1 -> (3L, 2.5), 2 -> (4L, 1.0))
    assert(Check.sameRows("report", rows, rows).isEmpty)
    assert(Check.sameRows("report", rows, rows - 2).nonEmpty)
    assert(Check.sameRows("report", rows, rows.updated(2, (4L, 1.5))).nonEmpty)
  }

  test("ANN answers: the true top-k passes, a swapped neighbor is rejected") {
    val r = new java.util.SplittableRandom(7)
    val vecs = (0L until 50L).map(i => i -> Array.fill(8)(r.nextDouble().toFloat)).toMap
    val q = Array.fill(8)(r.nextDouble().toFloat)
    val top = vecs.toSeq.map { case (id, v) => id -> Gen.Srv.cosine(q, v) }
      .sortBy { case (id, c) => (-c, id) }.take(Serve.K)
    assert(Serve.checkAnn(top, vecs, q).isEmpty)
    val outsider = vecs.keys.find(id => !top.exists(_._1 == id)).get
    val swapped = top.updated(3, (outsider, top(3)._2))
    assert(Serve.checkAnn(swapped, vecs, q).nonEmpty)
    assert(Serve.checkAnn(top.dropRight(1), vecs, q).nonEmpty)
    assert(Check.recall(top.map(_._1), swapped.map(_._1)) == 0.9)
  }
}
