package perfbench

import org.scalatest.funsuite.AnyFunSuite
import Stats._

class StatsSpec extends AnyFunSuite {

  test("a tail percentile needs ten samples beyond it") {
    val xs199 = (1 to 199).map(_.toDouble)
    val xs200 = (1 to 200).map(_.toDouble)
    assert(quantile(xs199, 0.95).isEmpty)
    assert(quantile(xs200, 0.95).contains(190.0)) // ten samples, 191..200, lie beyond
    assert(quantile((1 to 19).map(_.toDouble), 0.5).contains(10.0))
    assert(quantile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(quantile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(quantile(Nil, 0.5).isEmpty)
  }

  test("files map to the batch whose cumulative input rows cover them") {
    // five 20-line files; batches read 40, 0 (idle), 20 and 40 rows
    val fileEnds = Seq(20L, 40L, 60L, 80L, 100L)
    val batches = Seq(Batch(7, 40), Batch(8, 20), Batch(9, 40))
    assert(containingBatch(fileEnds, batches) == Seq(Some(7L), Some(7L), Some(8L), Some(9L), Some(9L)))
    assert(containingBatch(Seq(20L, 140L), batches) == Seq(Some(7L), None))
  }

  test("freshness is first visibility of a covering version minus due time") {
    val due = Seq(0L, 10L, 20L, 30L)
    val batchOf = Seq(Some(7L), Some(7L), Some(9L), None)
    // version 8 was never seen by the poller: version 9 covers batch 8 and 9
    val visible = Seq(7L -> 25L, 9L -> 70L)
    assert(freshness(due, batchOf, visible) == Seq(Some(25L), Some(15L), Some(50L), None))
    val visibleAt = Seq(Some(25L), Some(25L), Some(70L), Some(70L))
    // at t=20 files 0..2 are due and none visible; at t=30 files 2 and 3 wait
    assert(maxLagFiles(due, visibleAt) == 3)
  }
}
