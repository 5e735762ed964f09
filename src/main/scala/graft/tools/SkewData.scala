package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables

/** Adversarial-skew corpus generator (round-11 VERDICT item 1): the load
  * rehearsals' ScaleData copies are WELL-BEHAVED (disjoint token spaces,
  * uniform keys), so nothing ever measured the LSH/banded dedup family on
  * the distribution that actually hurts it — boilerplate-heavy crawl
  * data. This tool materializes that distribution from any testdata dir:
  *
  *  - `doc_id % 5 == 1` (20% of docs): text replaced by ONE byte-identical
  *    passage — the exact-duplicate mass. Every LSH band then carries one
  *    bucket holding 20% of the corpus, the degenerate-bucket blowup
  *    [[graft.operators.DedupOps.bandBucketCap]] guards (candidate pairs
  *    within the bucket are quadratic: 0.04·N²/2 per band uncapped).
  *  - remaining `doc_id % 2 == 0` (~40%): a fixed boilerplate sentence
  *    prefixed to the original text — hot shingles spanning half the
  *    corpus without byte equality, the d01 stop-shingle (`shingleDfCap`)
  *    stress case and, combined with the mass, >50% of docs sharing a
  *    hot shingle.
  *  - everything else: unchanged. Other tables are copied verbatim so
  *    the full Verify/Bench surface can run against the dir.
  *
  * The "one hot join key" of the brief IS the degenerate band bucket:
  * every banded/bucketed dedup operator joins on (band, sig), and the
  * identical mass makes one value of that key hold 20% of the corpus.
  *
  * Usage: SkewData <srcDir> <dstDir>   (idempotent overwrite)
  */
object SkewData {
  /** ~30 tokens so the mass is shingle-rich (the degenerate bucket must
    * come from REAL signatures, not a degenerate too-short-to-shingle
    * carve-out).
    */
  val identicalPassage: String =
    "breaking news update click here to subscribe now for the best daily " +
      "offers and exclusive content from our network partners around the " +
      "world wide web available today in your region"

  /** 8 tokens → 6 hot 3-shingles at df ≈ 0.4·N. */
  private val boilerPrefix: String =
    "all rights reserved terms of service apply everywhere"

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir) = args.take(2)
    val spark = ToolSession.local()
    Tables.names.foreach { name =>
      val base = Tables.load(spark, srcDir, name)
      val out = name match {
        case "documents" =>
          val t = when(pmod(col("doc_id"), lit(5)) === 1, lit(identicalPassage))
            .when(pmod(col("doc_id"), lit(2)) === 0,
              concat(lit(boilerPrefix), lit(" "), col("text")))
            .otherwise(col("text"))
          val withText = base.withColumn("text", t)
          if (base.columns.contains("n_chars"))
            withText.withColumn("n_chars", length(col("text")))
          else withText
        case "embeddings" =>
          // the d04/d20 stress twin: 20% of corpus vectors byte-identical
          // (one fixed source vector broadcast onto the mass) — every
          // copy lands in the SAME bucket of every hyperplane band. The
          // query panel (vec_id < 5) is left untouched.
          val src7Rows = base.filter(col("vec_id") === 7)
            .select(col("embedding").as("mass_emb"))
          // a missing vec_id 7 would make the crossJoin EMPTY and silently
          // write an empty embeddings table — fail loudly instead
          require(src7Rows.count() == 1,
            s"SkewData: expected exactly one vec_id=7 row in $srcDir/embeddings " +
              "(the identical-mass source vector); refusing to write an empty table")
          val src7 = broadcast(src7Rows)
          base.crossJoin(src7)
            .withColumn("embedding",
              when(pmod(col("vec_id"), lit(5)) === 1 && col("vec_id") >= 5,
                col("mass_emb")).otherwise(col("embedding")))
            .drop("mass_emb")
        case _ => base
      }
      out.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
      println(s"skewed $name -> $dstDir/$name.parquet")
    }
    spark.stop()
  }
}
