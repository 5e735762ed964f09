package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gate results must not depend on which gate ran before them. Two
  * process-global consume-once memos hand one producer's work to its
  * consumers: GraphQueries.statsMemo (g05 → g06/g07/g08) and
  * DedupOps.canonicalMapFor (d06 → d13/d16). Each family runs in one
  * session three ways — registry order (memo path), each consumer alone
  * (fresh path), and reverse order (a consumer produces, the registry
  * producer consumes) — and every gate's schema and sorted rows must be
  * identical across the three.
  */
class MemoOrderSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  private def snap(gate: String): (Seq[String], Seq[String]) = {
    val df = SparkEntry.queries(gate)(spark, dir)
    (df.schema.map(f => s"${f.name}:${f.dataType.sql}"),
      df.collect().map(_.toString).sorted.toSeq)
  }

  private def runAll(gates: Seq[String]): Map[String, (Seq[String], Seq[String])] =
    gates.map(g => g -> snap(g)).toMap

  private def assertOrderFree(registryOrder: Seq[String]): Unit = {
    val inRegistry = runAll(registryOrder)
    val alone = runAll(registryOrder.tail)
    val reversed = runAll(registryOrder.reverse)
    for (g <- registryOrder) {
      val (schema, rows) = inRegistry(g)
      assert(rows.nonEmpty, s"$g returned no rows")
      val others = Seq("reverse" -> reversed(g)) ++
        alone.get(g).map("alone" -> _)
      for ((how, (s, r)) <- others) {
        assert(s == schema, s"$g schema differs ($how vs registry order)")
        assert(r == rows, s"$g rows differ ($how vs registry order)")
      }
    }
  }

  test("Louvain memo: g05-g08 give identical results in registry order, alone and reversed") {
    assertOrderFree(Seq("g05_communities", "g06_louvain_histogram",
      "g07_triangles", "g08_louvain_weighted"))
  }

  test("canonical-map memo: d06/d13/d16 give identical results in registry order, alone and reversed") {
    assertOrderFree(Seq("d06_dedup_resolve", "d13_leakage_safe_split",
      "d16_soft_dedup_weights"))
  }
}
