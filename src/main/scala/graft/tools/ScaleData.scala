package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Load-rehearsal corpus scaler: materialize an N× copy of a testdata
  * scale-factor directory so the suite can be driven at a scale the driver
  * does not ship (round-6 VERDICT item 1: the 100 TB claims are
  * design-verified but never load-tested; a 10× run catches hidden
  * driver/broadcast cliffs — e.g. the 1M-row broadcast guards flipping to
  * their shuffle fallbacks — empirically).
  *
  * Scaling model — N disjoint key-shifted copies, not row duplication:
  *
  *  - Fact/entity tables get every key column shifted by `copy × stride`
  *    (stride = max key + 1, computed once per table), so each copy joins
  *    only within itself: join fan-outs and group sizes stay exactly those
  *    of the base scale while row counts grow ×N. This is the same shape a
  *    real 10× corpus has (more entities, same per-entity degree), which is
  *    what makes per-gate scaling factors interpretable: near-linear time
  *    growth ⇒ the plan scales; super-linear ⇒ a real defect, not an
  *    artifact of the synthetic copy process.
  *  - `region`/`nation` are fixed dimension tables (as in TPC-H, they do
  *    not grow with SF); copies keep their original nation/region keys so
  *    the dimension join cardinality is preserved.
  *  - `documents.text` gets a per-copy suffix appended to every
  *    whitespace token, making each copy's token/shingle space disjoint
  *    from every other copy's. Plain duplication would hand the near-dup
  *    gates N-way cross-copy duplicate clusters — a quadratic pair blow-up
  *    baked into the data, which would read as a plan regression when it is
  *    not one. Disjoint token spaces keep the duplicate structure of the
  *    base corpus exactly, ×N.
  *  - `embeddings` copies shift `vec_id` only; identical vectors across
  *    copies are fine for the rehearsal gates (ANN gates bound their
  *    candidate sets by construction regardless of vector multiplicity).
  *
  * Usage: ScaleData <srcDir> <dstDir> <copies> [tables]
  * `tables` (comma-separated, optional) restricts the copy to a subset —
  * the guard-flip rehearsals only need the graph tables at 80×, and
  * materializing 80× documents/lineitem siblings would waste the disk.
  * (idempotent overwrite)
  */
object ScaleData {
  /** Key columns to shift per table; first element of each pair is the
    * table whose own max key defines the stride for that column family.
    */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Which table owns the stride for each foreign-key column. */
  private val strideOwner: Map[String, String] = Map(
    "c_custkey" -> "customer", "s_suppkey" -> "supplier",
    "p_partkey" -> "part", "o_orderkey" -> "orders",
    "o_custkey" -> "customer", "l_orderkey" -> "orders",
    "l_partkey" -> "part", "l_suppkey" -> "supplier",
    "event_id" -> "events", "user_id" -> "events",
    "doc_id" -> "documents", "vec_id" -> "embeddings")

  private def scaleTable(spark: SparkSession, srcDir: String, name: String,
                 copies: Int, strides: String => Long): DataFrame = {
    val base = Tables.load(spark, srcDir, name)
    if (name == "region" || name == "nation") return base
    val shifted = (0 until copies).map { i =>
      val keyed = keyCols(name).foldLeft(base) { (df, k) =>
        df.withColumn(k, col(k) + lit(i * strides(strideOwner(k))))
      }
      if (name == "documents" && i > 0) {
        // disjoint token space per copy; token count per doc unchanged
        val t = regexp_replace(col("text"), "(\\S+)", "$1" + f"c$i%02d")
        keyed.withColumn("text", t).withColumn("n_chars", length(t))
      } else keyed
    }
    shifted.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val tableSubset: Option[Set[String]] =
      args.lift(3).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = ToolSession.local()

    // one stride per key-owning table: max key + 1, so copies are
    // disjoint. Computed LAZILY and memoized — a subset run must not pay
    // max-scans over tables it never copies. The key is cast to long
    // first: the generator's physical key types drift (SchemaDriftSpec
    // accepts int32/int64), and getLong on a boxed Integer throws.
    val strideCache = scala.collection.mutable.Map.empty[String, Long]
    def stride(t: String): Long = strideCache.getOrElseUpdate(t, {
      val k = keyCols(t).head
      val r = Tables.load(spark, srcDir, t).agg(max(col(k).cast("long"))).head()
      if (r.isNullAt(0)) 1L else r.getLong(0) + 1L // empty table: any stride works
    })

    Tables.names.filter(n => tableSubset.forall(_.contains(n))).foreach { name =>
      scaleTable(spark, srcDir, name, copies, stride)
        .write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
      println(s"scaled $name -> $dstDir/$name.parquet")
    }
    spark.stop()
  }
}
