package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median((1 to 10).map(_.toDouble)) == 5.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }
}
