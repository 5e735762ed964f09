package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's measurement rule and its JSON, without a SparkSession:
  * the forward/reverse pass order, the per-gate summary, and the
  * rendering of non-finite numbers and error messages.
  */
class BenchSpec extends AnyFunSuite {

  /** Runs the passes with `run`, returning the gate calls in order, the
    * number of `beforePass` calls and the per-gate readings. */
  private def record(gates: Seq[String], reps: Int)(run: (String, Int) => Bench.Reading) = {
    val calls = Seq.newBuilder[String]
    val count = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var passes = 0
    val readings = Bench.runPasses(gates, reps, () => passes += 1) { g =>
      calls += g
      count(g) += 1
      run(g, count(g))
    }
    (calls.result(), passes, readings)
  }

  private def fields(summaries: Seq[(String, Bench.Summary)]): JValue =
    parse("{" + Bench.gateFields(summaries) + "}")

  test("passes run registry order forward, then reversed, alternating") {
    val gates = SparkEntry.queries.keys.toSeq
      .filter(g => Seq("a12_", "a13_", "g05_").exists(g.startsWith))
    val Seq(a12, a13, g05) = gates
    val forward = Seq(a12, a13, g05)
    val reverse = Seq(g05, a13, a12)
    for ((reps, order) <- Seq(
        1 -> forward,
        2 -> (forward ++ reverse),
        3 -> (forward ++ reverse ++ forward))) {
      val (calls, passes, readings) = record(gates, reps)((_, n) => (n.toDouble, None))
      assert(calls == order, s"reps = $reps")
      assert(passes == reps, s"reps = $reps: one beforePass per pass")
      assert(readings.map(_._1) == gates, "readings keep registry order")
      assert(readings.forall(_._2.map(_._1) == (1 to reps).map(_.toDouble)),
        "each gate's readings are in pass order")
    }
  }

  test("a gate that fails in pass 2 reads -1, keeps its error and is not run again") {
    val gates = Seq("x", "y", "z")
    val (calls, _, readings) = record(gates, 3) {
      case ("y", 2) => (-1.0, Some("boom"))
      case (g, n) => (if (g == "x") 3.0 - n else n.toDouble, None)
    }
    assert(calls == Seq("x", "y", "z", "z", "y", "x", "x", "z"))
    val summaries = readings.map { case (g, rs) => g -> Bench.summarize(rs) }.toMap
    assert(summaries("y") == Bench.Summary(-1.0, Seq(1.0, -1.0), Some("boom")))
    assert(summaries("x") == Bench.Summary(0.0, Seq(2.0, 1.0, 0.0), None))
    assert(summaries("z") == Bench.Summary(1.0, Seq(1.0, 2.0, 3.0), None))

    val json = fields(readings.map { case (g, rs) => g -> Bench.summarize(rs) })
    assert((json \ "queries") == JObject(
      "x" -> JDouble(0.0), "y" -> JDouble(-1.0), "z" -> JDouble(1.0)))
    assert((json \ "runs" \ "y") == JArray(List(JDouble(1.0), JDouble(-1.0))))
    assert((json \ "errors") == JObject("y" -> JString("boom")))
    // x's spread (2 - 0) and z's (3 - 1) exceed their mins; y failed
    assert((json \ "noisy") == JArray(List(JString("x"), JString("z"))))
  }

  test("noisy: a gate whose max - min exceeds its min") {
    assert(Bench.summarize(Seq((1.0, None), (2.5, None))).noisy)
    assert(!Bench.summarize(Seq((1.0, None), (1.9, None))).noisy)
    assert(!Bench.summarize(Seq((4.0, None))).noisy, "one reading has no spread")
  }

  test("jnum renders NaN and infinities as null") {
    assert(Bench.jnum(1.5) == "1.5")
    for (d <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
      assert(Bench.jnum(d) == "null")
    val json = fields(Seq(
      "g" -> Bench.Summary(Double.NaN, Seq(Double.PositiveInfinity, Double.NaN), None)))
    assert((json \ "queries" \ "g") == JNull)
    assert((json \ "runs" \ "g") == JArray(List(JNull, JNull)))
  }

  test("an error message with a quote, a backslash, a newline and ESC round-trips") {
    val msg = "AnalysisException: \"col\" at C:\\data\nline 2 \u001b[31mred\u001b[0m\ttab\r"
    val json = fields(Seq("g" -> Bench.summarize(Seq((-1.0, Some(msg))))))
    assert((json \ "errors" \ "g") == JString(msg))
  }
}
