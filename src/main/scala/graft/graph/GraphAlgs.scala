package graft.graph

import org.apache.spark.SparkException
import org.apache.spark.graphx._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX algorithm layer — the Spark-native replacement for the
  * reference's Neo4j GDS calls (Writeup.pdf §Queries: gds.articleRank,
  * gds.louvain, gds.graph.project with orientation:'undirected').
  *
  * DataFrame edge tables in, DataFrame results out; GraphX only inside.
  * All algorithms are deterministic (fixed iteration counts, explicit
  * tie-breaks) so results are stable under re-partitioning — required for
  * the golden tests and for reproducible runs on a real cluster.
  */
object GraphAlgs {

  /** Edge-row ceiling under which the iterative algorithms run their
    * driver-local replay instead of distributed supersteps. At gate scale
    * the filtered graphs are a few thousand edges, and a superstep loop's
    * cost there is pure job-dispatch overhead (30–40 Spark jobs ≈ 10 s
    * for the g05/g06 Louvain at sf0.1 — none of it data); the
    * driver replay is milliseconds and produces IDENTICAL labels (see
    * [[louvainLocal]] / the union-find in [[connectedComponents]]).
    * The hybrids: Louvain ([[louvainDF]], [[louvainUnd]]), connected
    * components ([[connectedComponents]] — the entry of ER's `cluster`,
    * the d06/d13/d16 near-dup closures, g03 and the g05/g06/g08 Louvain
    * invariants), [[GraphQueries.triangleStats]] and
    * ArticleRank ([[articleRankDF]]: above the limit it runs
    * [[articleRankPull]], whose ranks agree with the driver path to
    * float-summation noise).
    * 200k edge rows ≈ a few MB collected — far below driver pressure —
    * while any corpus-proportional graph sails past it onto the
    * distributed path. The [[graft.er.EntityResolution]] elbow sweep
    * calls [[connectedComponents]] with its own, larger driverCcLimit.
    * Tests pin local/distributed agreement by forcing the limit to 0.
    */
  val DefaultDriverGraphLimit: Int = 200000

  /** Driver union-find over an edge array: component = min reachable id,
    * the same label [[org.apache.spark.graphx.lib.ConnectedComponents]]
    * converges to (roots merge toward the smaller id, so the final root
    * of every set is its minimum).
    */
  private[graft] def unionFindMin(edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.map(n => n -> find(n)).toMap
  }

  /** Build a GraphX graph from an edge DataFrame with long src/dst cols.
    * `undirected = true` reproduces gds.graph.project's
    * orientation:'undirected' by emitting each edge both ways.
    */
  def buildGraph(edges: DataFrame, src: String, dst: String,
                 undirected: Boolean = false): Graph[Unit, Unit] = {
    val e0: RDD[Edge[Unit]] = edges
      .select(col(src).cast("long"), col(dst).cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val e = if (undirected) e0.flatMap(x => Iterator(x, Edge(x.dstId, x.srcId, ()))) else e0
    Graph.fromEdges(e, (), StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
  }

  /** Vertex-side tables produced by localCheckpoint have no Catalyst
    * stats, so AQE would sort-merge them against the (much larger) edge
    * table every superstep. Below ~1M vertices Louvain's community tables
    * are broadcast explicitly and [[articleRankPull]] broadcasts its
    * V-sized rank vector; above, the Louvain joins fall back to shuffles
    * against edges pre-partitioned on src and ArticleRank to
    * [[articleRankGraphX]] (the co-partitioned plans a 100 TB graph
    * needs — broadcast of V rows would not survive there).
    */
  private val broadcastVertexLimit = 1000000L

  /** Partition count for the iterative loops: proportional to the edge
    * count (~2M edge rows per partition) and ceilinged by the session's
    * configured shuffle partitions — a cluster's sizing still governs at
    * 100 TB, while a small graph stops paying a full-width set of
    * near-empty task barriers per superstep (the r5 bench: the gate-SF
    * Q7 graph is ~2k edges, and 32-partition sweeps made Louvain+CC ~4x
    * slower than the same loops at their natural width).
    */
  private[graft] def loopParts(spark: SparkSession, nEdges: Long): Int = {
    val ceil = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(ceil.toLong, nEdges / 2000000L + 1L).toInt)
  }

  /** Rebuild a (small-schema, checkpoint-materialized) DataFrame as a
    * fresh Row-RDD-backed one, severing Catalyst's STATISTICS lineage:
    * localCheckpoint propagates the origin plan's estimated sizeInBytes,
    * and an iterative plan that references its previous iteration k
    * times raises that estimate to the k-th power per iteration — the
    * BigInt's digit count grows geometrically and the stats visitor
    * freezes in Toom-Cook multiplication within ~10 iterations. The
    * narrow Row round-trip costs one map over the persisted checkpoint
    * blocks per consumer and resets the estimate to the session default.
    */
  private def statsReset(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Run `f` with spark.sql.shuffle.partitions scoped to `n`, restoring
    * the session value after. Safe for the iterative loops because every
    * shuffle they plan executes eagerly inside the scope (localCheckpoint
    * / count / broadcast builds); only the small final projection of each
    * algorithm escapes, where AQE coalescing already applies.
    */
  private[graft] def withShufflePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    if (old == n.toString) f
    else {
      spark.conf.set(key, n.toString)
      try f finally spark.conf.set(key, old)
    }
  }

  /** ArticleRank (Neo4j GDS variant of PageRank, Writeup.pdf §Queries Q6)
    * over an (src, dst) edge table: the neighbour contribution is damped
    * by (outDeg(u) + avgOutDeg) instead of outDeg(u), so low-degree
    * neighbours count less.
    *
    *   AR(v) <- (1 - d) + d * sum_{u->v} AR(u) / (outDeg(u) + avgOutDeg)
    *
    * Vertices are the distinct endpoints; edge multiplicities and
    * self-loops count in out-degree, in avgDeg = E / V and in messages.
    *
    * Path choice: one `limit(driverLimit + 1)` collect probes the edge
    * rows. At or under `driverLimit` (default [[DefaultDriverGraphLimit]])
    * the supersteps run on the driver over one (dst, src)-sorted CSR
    * ([[articleRankLocal]]) — the probe is the only Spark job. Above it,
    * or with `driverLimit = 0` (which tests use to pin the paths
    * together), [[articleRankPull]] runs with `dedupeEdges = false`, and
    * above its vertex guard that hands over to [[articleRankGraphX]].
    *
    * A null `src` or `dst` has no vertex to rank: every path rejects it
    * with an IllegalArgumentException naming the column.
    */
  def articleRankDF(edges: DataFrame, iters: Int = 20, damping: Double = 0.85,
                    driverLimit: Int = DefaultDriverGraphLimit): DataFrame = {
    if (driverLimit > 0) {
      val probe = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .limit(driverLimit + 1).collect()
      probe.find(r => r.isNullAt(0) || r.isNullAt(1)).foreach { r =>
        throw nullEndpoint(if (r.isNullAt(0)) "src" else "dst")
      }
      if (probe.length <= driverLimit)
        return articleRankLocal(probe.map(_.getLong(0)), probe.map(_.getLong(1)),
          iters, damping)
    }
    articleRankPull(edges.select(col("src"), col("dst")), iters, damping,
      dedupeEdges = false)
  }

  private def nullEndpoint(column: String): IllegalArgumentException =
    new IllegalArgumentException(s"ArticleRank: null vertex id in edge column $column")

  /** Driver-local ArticleRank over collected edge endpoints — the
    * under-limit path of [[articleRankDF]], with its semantics. The edges
    * become one (dst, src)-sorted CSR over dense sorted-id indices, and
    * the supersteps are [[articleRankPull]]'s own recurrence
    * ([[articleRankSteps]]) over that single slice, so two runs are
    * bit-identical.
    */
  private def articleRankLocal(src: Array[Long], dst: Array[Long], iters: Int,
                               damping: Double): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val ids = (src ++ dst).distinct.sorted
    val nV = ids.length
    if (nV == 0) return Seq.empty[(Long, Double)].toDF("node_id", "rank")
    // (dst index << 32 | src index) sorts as (dst, src): indices are < 2^31
    val keys = Array.tabulate(src.length) { j =>
      (java.util.Arrays.binarySearch(ids, dst(j)).toLong << 32) |
        java.util.Arrays.binarySearch(ids, src(j)).toLong
    }
    java.util.Arrays.sort(keys)
    val dArr = keys.map(k => (k >>> 32).toInt)
    val sArr = keys.map(_.toInt)
    val outDeg = new Array[Int](nV)
    sArr.foreach(s => outDeg(s) += 1)
    val avgDeg = keys.length.toDouble / nV
    val rank = articleRankSteps(outDeg.map(_.toDouble + avgDeg), iters, damping) {
      contrib => Array(dstRunSums(dArr, sArr, contrib))
    }
    ids.indices.map(j => (ids(j), rank(j))).toDF("node_id", "rank")
  }

  /** Per-dst message sums over one (dst, src)-sorted CSR slice: each dst
    * run sums `contrib(src)` in src order into one (dst, msg) pair. The
    * sorted runs fix the summation order, so a slice's sums are
    * bit-reproducible.
    */
  private def dstRunSums(dArr: Array[Int], sArr: Array[Int],
                         contrib: Array[Double]): (Array[Int], Array[Double]) = {
    val outD = Array.newBuilder[Int]
    val outM = Array.newBuilder[Double]
    var j = 0
    while (j < dArr.length) {
      val d = dArr(j)
      var s = 0.0
      while (j < dArr.length && dArr(j) == d) { s += contrib(sArr(j)); j += 1 }
      outD += d
      outM += s
    }
    (outD.result(), outM.result())
  }

  /** The ArticleRank superstep loop over dense vertex indices, shared by
    * [[articleRankPull]] and [[articleRankLocal]]: per superstep the
    * driver forms contrib = rank / denom, `runSums` turns it into
    * [[dstRunSums]] slices (on executors or on the driver), and
    *
    *   rank(v) <- (1 - d) + d * msg(v)
    *
    * with `1 - d` for vertices no slice names (no in-edges).
    */
  private def articleRankSteps(denom: Array[Double], iters: Int, damping: Double)(
      runSums: Array[Double] => Array[(Array[Int], Array[Double])]): Array[Double] = {
    val nV = denom.length
    var rank = Array.fill(nV)(1.0)
    var i = 0
    while (i < iters) {
      val contrib = new Array[Double](nV)
      var c = 0
      while (c < nV) { contrib(c) = rank(c) / denom(c); c += 1 }
      val next = new Array[Double](nV)
      java.util.Arrays.fill(next, 1.0 - damping)
      runSums(contrib).foreach { case (dArr, mArr) =>
        var j = 0
        while (j < dArr.length) {
          next(dArr(j)) = (1.0 - damping) + damping * mArr(j)
          j += 1
        }
      }
      rank = next
      i += 1
    }
    rank
  }

  /** ArticleRank on the GraphX runtime — the path above
    * [[articleRankPull]]'s vertex guard, where a V-sized driver vector no
    * longer fits. The supersteps run executor-side over RDDs that GraphX
    * keeps co-partitioned via its routing tables, the same loop shape as
    * GraphX's own staticPageRank (aggregateMessages + outerJoinVertices,
    * materialize then unpersist the parent). It computes the recurrence
    * of [[articleRankDF]]
    *
    *   AR(v) <- (1 - d) + d * sum_{u->v} AR(u) / (outDeg(u) + avgOutDeg)
    *
    * with one IEEE rounding per op in the same order as the other paths,
    * so they agree to float-summation noise (~1e-13) — pinned by the
    * parity tests in GraphAlgsSpec and, rounded to 6 dp, by g04's
    * unrolled-CTE oracle.
    */
  def articleRankGraphX(g: Graph[Unit, Unit], iters: Int = 20,
                        damping: Double = 0.85): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val avgDeg = g.numEdges.toDouble / g.numVertices
    // STATIC damping denominator moves to the edge attribute (built once
    // by mapTriplets, never touched again); the vertex attribute is the
    // bare rank Double. Both then live in primitive Array[Double] columns
    // inside GraphX's vertex/edge partitions, and the per-superstep
    // replicated-vertex view ships 8-byte ranks instead of (rank, denom)
    // tuple objects — at 10× gate scale the superstep cost was GC churn,
    // not capacity, and the tuple boxes were most of it.
    var rg: Graph[Double, Double] = g
      .outerJoinVertices(g.outDegrees) {
        (_, _, deg) => deg.getOrElse(0).toDouble + avgDeg
      }
      .mapTriplets(t => t.srcAttr, TripletFields.Src)
      .mapVertices((_, _) => 1.0)
      .cache()
    var i = 0
    while (i < iters) {
      // same IEEE op as the other ArticleRank paths: one DIVISION
      // rank/denom per edge (not multiply-by-reciprocal, which rounds
      // differently), so the parity pins hold
      val msgs = rg.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr / ctx.attr), _ + _,
        TripletFields.Src) // dst attrs not read: halves the shipped bytes
      val prev = rg
      rg = rg.outerJoinVertices(msgs) { (_, _, m) =>
        (1.0 - damping) + damping * m.getOrElse(0.0)
      }.cache()
      // materialize children before releasing the parent: edges first (the
      // expensive replicated-vertex view), then vertices
      rg.edges.foreachPartition(_ => ())
      prev.vertices.unpersist(blocking = false)
      prev.edges.unpersist(blocking = false)
      i += 1
    }
    rg.vertices.map { case (id, r) => (id, r) }.toDF("node_id", "rank")
  }

  /** ArticleRank via BROADCAST-PULL supersteps — the distributed path
    * while the vertex set fits a driver vector (V <= `vertexLimit`,
    * default [[broadcastVertexLimit]]). [[articleRankDF]] runs it above
    * [[DefaultDriverGraphLimit]] edges; g04 calls it directly.
    *
    * A superstep that shuffles is the scale bottleneck of a distributed
    * ArticleRank: [[articleRankGraphX]] ships a replicated vertex view
    * per superstep. Here the EDGES shuffle exactly ONCE — DataFrame
    * `repartition(dst)` + `sortWithinPartitions(dst, src)`, which stays
    * in Tungsten — into cached per-partition CSR-style int arrays. Every
    * superstep is then ONE narrow job: broadcast the V-sized
    * contribution vector (rank/denom, computed on the driver in O(V)),
    * each partition scans its static edge arrays accumulating per-dst
    * sums (dst-contiguous because sorted), and collects |its dsts|
    * (dst, msg) pairs — vertex-proportional driver traffic, never
    * edge-proportional. 20 supersteps = 20 shuffle-free jobs.
    *
    * Determinism: the sorted CSR fixes the per-dst summation order, and
    * partitions own disjoint dst ranges so collect order is irrelevant —
    * bit-identical across runs. The float ops per edge/vertex are the
    * SAME division/multiply-add sequence as the other paths, so the
    * cross-engine 6-dp oracle argument (float summation order only,
    * ~1e-13) carries over unchanged.
    *
    * Above the vertex guard the method falls back to
    * [[articleRankGraphX]] — V-sized driver vectors are exactly what a
    * 100 TB-scale billion-vertex graph forbids.
    *
    * A null endpoint is rejected in the pack step (no extra job) with an
    * IllegalArgumentException naming the column; read as a long it would
    * become id 0 and merge into a real vertex 0.
    */
  def articleRankPull(edges: DataFrame, iters: Int = 20,
                      damping: Double = 0.85, undirected: Boolean = false,
                      vertexLimit: Long = broadcastVertexLimit,
                      dedupeEdges: Boolean = true): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val sc = spark.sparkContext
    val srcCol = edges.columns(0)
    val dstCol = edges.columns(1)
    val e0 = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d"))
    val sym =
      if (undirected) e0.union(e0.select(col("d").as("s"), col("s").as("d")))
      else e0
    // ONE shuffle for the whole algorithm — the (usually expensive) edge
    // build pipelines straight into it, uncached. repartition(dst) +
    // sortWithinPartitions(dst, src) stay in Tungsten (radix sort on
    // longs, no boxed tuple ordering); the pack step reads the sorted
    // InternalRows directly into primitive long arrays, dropping
    // consecutive duplicates — so `dedupeEdges = true` (the gds distinct-
    // edge projection) costs ZERO extra shuffles even when the caller
    // hands over a raw join output.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = sym.repartition(parts, col("d"))
      .sortWithinPartitions(col("d"), col("s"))
    val rawCsr: RDD[(Array[Long], Array[Long])] = sorted
      .queryExecution.toRdd
      .mapPartitions { it =>
        val dB = Array.newBuilder[Long]
        val sB = Array.newBuilder[Long]
        var lastD = 0L
        var lastS = 0L
        var first = true
        it.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1))
            throw nullEndpoint(if (undirected) s"$srcCol or $dstCol"
              else if (r.isNullAt(0)) srcCol else dstCol)
          val s = r.getLong(0)
          val d = r.getLong(1)
          if (first || !dedupeEdges || d != lastD || s != lastS) {
            dB += d; sB += s
            lastD = d; lastS = s; first = false
          }
        }
        Iterator.single((dB.result(), sB.result()))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    try rawCsr.foreachPartition(_ => ())
    catch {
      case e: SparkException if e.getCause.isInstanceOf[IllegalArgumentException] =>
        rawCsr.unpersist(blocking = false)
        throw e.getCause
    }

    // vertex guard BEFORE any vertex-proportional collect: per-partition
    // distinct-dst counts are exact and disjoint (dst-partitioned); the
    // src side adds a per-partition distinct upper bound for directed
    // graphs (undirected graphs are symmetric: src set == dst set)
    val sizes = rawCsr.map { case (dArr, sArr) =>
      var dDistinct = 0L
      var j = 0
      while (j < dArr.length) {
        val d = dArr(j)
        while (j < dArr.length && dArr(j) == d) j += 1
        dDistinct += 1
      }
      val sDistinct = if (dArr.length == 0) 0L else {
        val c = sArr.clone()
        java.util.Arrays.sort(c)
        var n = 1L
        var i2 = 1
        while (i2 < c.length) { if (c(i2) != c(i2 - 1)) n += 1; i2 += 1 }
        n
      }
      (dDistinct, sDistinct, dArr.length.toLong)
    }.collect()
    val vBound =
      if (undirected) sizes.map(_._1).sum
      else sizes.map(_._1).sum + sizes.map(_._2).sum
    if (vBound > vertexLimit) {
      // The pull path dedupes (d, s) runs AFTER symmetrizing, so the
      // fallback must see the same distinct-edge projection — handing the
      // raw caller edges to GraphX would count multiplicities in degrees
      // and messages, silently changing ranks across the size threshold
      // (r10 review finding). `sym` already carries both directions for
      // undirected graphs, so the fallback builds directed from it.
      //
      // Partitioning: the CSR pass already measured the deduped edge
      // count (dst-partitioned + consecutive dedupe = exact distinct), so
      // size the handed-off RDD at ~500k edges/partition — GraphX's
      // EdgePartitionBuilder holds a whole partition in hash structures,
      // and a conf-width distinct over ~100M edges leaves few fat
      // partitions that OOM the builders (observed at the 80x rehearsal).
      // The explicit repartition also survives AQE's coalescing.
      val nFb = sizes.map(_._3).sum
      rawCsr.unpersist(blocking = false)
      val fbParts = math.max(parts, (nFb / 500000L + 1L).toInt)
      val fb = (if (dedupeEdges) sym.distinct() else sym)
        .repartition(fbParts)
      val g = buildGraph(fb, "s", "d", undirected = false)
      return articleRankGraphX(g, iters, damping)
    }
    if (vBound == 0) {
      rawCsr.unpersist(blocking = false)
      return Seq.empty[(Long, Double)].toDF("node_id", "rank")
    }
    val nDirected = sizes.map(_._3).sum

    // vertex ids: distinct dsts come free from the sorted runs; the src
    // side (pure sources in directed graphs) from the local sort above —
    // V-proportional driver traffic, bounded by the guard just passed
    val ids: Array[Long] = {
      val perPart = rawCsr.map { case (dArr, sArr) =>
        val dB = Array.newBuilder[Long]
        var j = 0
        while (j < dArr.length) {
          val d = dArr(j)
          dB += d
          while (j < dArr.length && dArr(j) == d) j += 1
        }
        val sOut = if (undirected || sArr.length == 0) Array.emptyLongArray else {
          val c = sArr.clone()
          java.util.Arrays.sort(c)
          val sB = Array.newBuilder[Long]
          var i2 = 0
          while (i2 < c.length) {
            if (i2 == 0 || c(i2) != c(i2 - 1)) sB += c(i2)
            i2 += 1
          }
          sB.result()
        }
        (dB.result(), sOut)
      }.collect()
      val all = perPart.flatMap { case (d, s) => d ++ s }
      java.util.Arrays.sort(all)
      val out = Array.newBuilder[Long]
      var i2 = 0
      while (i2 < all.length) {
        if (i2 == 0 || all(i2) != all(i2 - 1)) out += all(i2)
        i2 += 1
      }
      out.result()
    }
    val nV = ids.length
    val bIds = sc.broadcast(ids)

    // translate once to int indices (binary search into the sorted id
    // array); the raw long arrays are dropped after
    val csr: RDD[(Array[Int], Array[Int])] = rawCsr.map { case (dArr, sArr) =>
      val a = bIds.value
      val dI = new Array[Int](dArr.length)
      val sI = new Array[Int](sArr.length)
      var j = 0
      while (j < dArr.length) {
        dI(j) = java.util.Arrays.binarySearch(a, dArr(j))
        sI(j) = java.util.Arrays.binarySearch(a, sArr(j))
        j += 1
      }
      (dI, sI)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    csr.foreachPartition(_ => ())
    rawCsr.unpersist(blocking = false)

    // out-degree (and the static damping denominator) on the driver:
    // per-partition dense int counts merged by exact integer addition,
    // so RDD.reduce's arrival order cannot matter
    val vCount = nV
    val outDeg: Array[Int] = csr.map { case (_, sArr) =>
      val c = new Array[Int](vCount)
      var j = 0
      while (j < sArr.length) { c(sArr(j)) += 1; j += 1 }
      c
    }.reduce { (x, y) =>
      var j = 0
      while (j < x.length) { x(j) += y(j); j += 1 }
      x
    }
    val avgDeg = nDirected.toDouble / nV
    val rank = articleRankSteps(outDeg.map(_.toDouble + avgDeg), iters, damping) {
      contrib =>
        val bC = sc.broadcast(contrib)
        // one narrow job: per-dst sums over the dst-contiguous sorted
        // arrays; partitions own disjoint dsts, so collect order is
        // irrelevant
        try csr.map { case (dArr, sArr) => dstRunSums(dArr, sArr, bC.value) }.collect()
        finally bC.destroy()
    }
    csr.unpersist(blocking = false)
    sc.parallelize(ids.indices.map(j => (ids(j), rank(j))), math.max(1, parts))
      .toDF("node_id", "rank")
  }

  /** Connected components of a (src, dst) edge DataFrame, direction
    * ignored: component = min reachable vertex id (the label GraphX CC
    * converges to — matches a min-label-propagation oracle). Vertices are
    * the edges' endpoints, so an empty frame yields no rows.
    *
    * ONE `limit(driverLimit + 1)` collect both fetches the edges and
    * picks the path, so the edge plan runs once on the driver path: at
    * or under `driverLimit` edge rows the edges close through the driver
    * union-find ([[unionFindMin]]); above it they are cached and counted,
    * [[connectedComponentsSized]] runs over them, and its result is
    * materialized before the edge cache is released.
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          driverLimit: Int = DefaultDriverGraphLimit): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst"))
    val probe = pairs.limit(driverLimit + 1).collect()
    if (probe.length <= driverLimit)
      unionFindMin(probe.iterator.map(r => (r.getLong(0), r.getLong(1))))
        .toSeq.toDF("node_id", "component")
    else {
      val cached = pairs.cache()
      try connectedComponentsSized(cached, "src", "dst", cached.count()).localCheckpoint()
      finally cached.unpersist(blocking = false)
    }
  }

  /** Connected components over a (long, long) edge-pair DataFrame whose
    * row count the caller already knows (it has the edges cached/counted
    * — the elbow-sweep step shape): sizes the GraphX partitioning to the
    * edge count (GraphX keeps the input RDD's partition count through
    * every Pregel superstep), so a small step graph pays small supersteps
    * instead of full-width task barriers. No symmetrization: GraphX's
    * connectedComponents already messages along both edge directions
    * (Pregel over `EdgeDirection.Either`).
    */
  def connectedComponentsSized(edges: DataFrame, src: String, dst: String,
                               nEdges: Long): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val parts = loopParts(spark, nEdges)
    val e = edges.select(col(src).cast("long"), col(dst).cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ())).coalesce(parts)
    Graph.fromEdges(e, (), StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
      .connectedComponents().vertices
      .map { case (id, comp) => (id, comp) }.toDF("node_id", "component")
  }

  /** Driver-local replay of [[louvainRep]]'s EXACT move sequence over a
    * collected edge array — same parity-alternating sweeps, same
    * candidate set (neighbour communities ∪ own), same ΔQ formula with
    * the same individual double ops, same (score, stay, smallest-id)
    * argmax tie-break, same both-parities-quiet termination, same
    * contraction and min-member relabel. Label-IDENTITY with the
    * distributed loop holds because every accumulated quantity (k, σ,
    * w→C, m2) is an integer-valued double for the unit/integer weights
    * this path is gated to (unweighted callers), so neither path's
    * summation order can round, and each per-candidate score is then the
    * same two IEEE ops on the same values. Pinned by the forced-path
    * parity tests in GraphAlgsSpec.
    *
    * Input rows follow louvainRep's internal representation: directed
    * both ways, deduplicated, self-loop weights doubled.
    */
  private def louvainLocal(rows: Array[(Long, Long, Double)], maxLevels: Int,
                           maxSweeps: Int): Seq[(Long, Long)] = {
    import scala.collection.mutable
    if (rows.isEmpty) return Seq.empty
    val m2 = { var s = 0.0; rows.foreach(s += _._3); s }
    var edges = rows
    // original node -> current-level community (community ids are
    // current-level node ids)
    val globalMap = mutable.LongMap.empty[Long]
    rows.foreach { case (s, _, _) => globalMap.getOrElseUpdate(s, s) }
    var prevCount = globalMap.size.toLong
    var level = 0
    var done = false
    while (level < maxLevels && !done) {
      // ---- localMoves over this level's edges ----
      val k = mutable.LongMap.empty[Double]
      edges.foreach { case (s, _, w) => k(s) = k.getOrElse(s, 0.0) + w }
      val comm = mutable.LongMap.empty[Long]
      k.foreachKey(n => comm(n) = n)
      var sweep = 0
      var zeroStreak = 0
      while (sweep < maxSweeps && zeroStreak < 2) {
        val sigma = mutable.LongMap.empty[Double]
        k.foreach { case (n, kn) =>
          val c = comm(n); sigma(c) = sigma.getOrElse(c, 0.0) + kn
        }
        // w from each node to each neighbouring community (self edges
        // excluded), plus the own community as a 0-weight candidate
        val wTo = mutable.Map.empty[(Long, Long), Double]
        edges.foreach { case (s, d, w) =>
          if (s != d) {
            val key = (s, comm(d)); wTo(key) = wTo.getOrElse(key, 0.0) + w
          }
        }
        k.foreachKey { n =>
          val key = (n, comm(n)); wTo(key) = wTo.getOrElse(key, 0.0)
        }
        // argmax by (score, stay, -community): max score, ties to
        // staying, then smallest community id
        val best = mutable.LongMap.empty[(Double, Int, Long)]
        wTo.foreach { case ((s, c), w) =>
          val cur = comm(s)
          val adj = if (c == cur) k(s) else 0.0
          val score = w - k(s) * (sigma(c) - adj) / m2
          val cand = (score, if (c == cur) 1 else 0, c)
          val prev = best.getOrNull(s)
          val better = (prev == null) ||
            (cand._1 > prev._1 || (cand._1 == prev._1 &&
              (cand._2 > prev._2 || (cand._2 == prev._2 && cand._3 < prev._3))))
          if (better) best(s) = cand
        }
        val parity = sweep % 2
        var moved = 0L
        best.foreach { case (n, (_, _, c)) =>
          if (java.lang.Math.floorMod(n, 2L) == parity && comm(n) != c) {
            comm(n) = c; moved += 1
          }
        }
        zeroStreak = if (moved == 0) zeroStreak + 1 else 0
        sweep += 1
      }
      // ---- level bookkeeping: map originals, check progress, contract ----
      val nComm = comm.values.toSet.size.toLong
      globalMap.foreachKey(orig => globalMap(orig) = comm(globalMap(orig)))
      if (nComm == prevCount) done = true
      else {
        prevCount = nComm
        val contracted = mutable.Map.empty[(Long, Long), Double]
        edges.foreach { case (s, d, w) =>
          val key = (comm(s), comm(d))
          contracted(key) = contracted.getOrElse(key, 0.0) + w
        }
        edges = contracted.iterator.map { case ((s, d), w) => (s, d, w) }.toArray
      }
      level += 1
    }
    // partitioning-stable labels: community := min member node id
    val cmin = mutable.LongMap.empty[Long]
    globalMap.foreach { case (n, c) =>
      cmin(c) = math.min(cmin.getOrElse(c, Long.MaxValue), n)
    }
    globalMap.iterator.map { case (n, c) => (n, cmin(c)) }.toSeq
  }

  /** Deterministic Louvain (gds.louvain.write, Writeup.pdf §Queries Q7 —
    * the real modularity algorithm) over an (src, dst[, weight]) edge
    * table, read as undirected: synchronous modularity-greedy local moves
    * with parity-alternating move sets (only nodes with id parity ==
    * sweep parity move, killing the two-node swap oscillation of naive
    * synchronous Louvain), then community contraction, repeated until the
    * community count stops shrinking or `maxLevels`. Ties break on the
    * smallest community id and the final labels are relabeled to the
    * minimum member node id, so results are partitioning-stable.
    *
    * Path choice ([[louvainRep]]): at or under `driverLimit` (default
    * [[DefaultDriverGraphLimit]]) representation rows with integer-valued
    * weights, [[louvainLocal]] replays the move sequence on the driver,
    * label-identical; otherwise, or with `driverLimit = 0`, the
    * distributed loop runs. There every sweep is one edge⋈labels shuffle
    * + two vertex-sized aggregates and contraction is one groupBy; each
    * sweep and level ends in a localCheckpoint, which keeps the plan
    * depth constant.
    *
    * Internal representation: directed-both-ways weighted rows for
    * non-loops plus DOUBLED self-loops — then k_i = sum(w) by src,
    * 2m = sum(w) overall, and contraction preserves the representation
    * level-to-level (intra-community mass lands on the loop row already
    * doubled).
    */
  def louvainDF(edges: DataFrame, maxLevels: Int = 3,
                maxSweeps: Int = 8,
                driverLimit: Int = DefaultDriverGraphLimit): DataFrame = {
    val hasW = edges.columns.contains("weight")
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"),
      (if (hasW) col("weight").cast("double") else lit(1.0)).as("w"))
    val canon = e0
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"), col("w"))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
    val rep0 = canon.filter(col("u") =!= col("v"))
      .select(col("u").as("src"), col("v").as("dst"), col("w"))
      .union(canon.filter(col("u") =!= col("v"))
        .select(col("v").as("src"), col("u").as("dst"), col("w")))
      .union(canon.filter(col("u") === col("v"))
        .select(col("u").as("src"), col("u").as("dst"), (col("w") * 2).as("w")))
      .repartition(col("src"))
      .cache()
    // the local replay's label-identity argument needs integer-valued
    // accumulations; louvainRep's probe verifies that property on the
    // collected rows themselves (unit weights always qualify; integer
    // weight columns — the reference's Q7 co-occurrence counts — do too;
    // fractional weights fall through to the distributed loop)
    try louvainRep(rep0, maxLevels, maxSweeps, driverLimit)
    finally rep0.unpersist(blocking = false)
  }

  /** Louvain over an ALREADY-SYMMETRIZED, loop-free, deduplicated
    * (src, dst) edge DataFrame (the g05/g06 invariant build): the
    * caller's cached undirected edge list IS the internal representation
    * with unit weights, so the canon groupBy + re-symmetrization union of
    * [[louvainDF]] (a full shuffle of the edge table — the dominant cost
    * at 100x, VERDICT r3/r4) is skipped entirely. Caller contract: every
    * (a, b) has its (b, a) row, no (a, a) rows, no duplicates.
    */
  def louvainUnd(und: DataFrame, maxLevels: Int = 3,
                 maxSweeps: Int = 8,
                 driverLimit: Int = DefaultDriverGraphLimit): DataFrame = {
    // probe the caller's (cached) edge table BEFORE the loop-only
    // repartition: the local path then costs one narrow collect instead
    // of a shuffle + cache fill it would never read
    if (driverLimit > 0) {
      val probe = und.select(col("src").cast("long"), col("dst").cast("long"))
        .limit(driverLimit + 1).collect()
      if (probe.length <= driverLimit) {
        val spark = und.sparkSession
        import spark.implicits._
        return louvainLocal(
          probe.map(r => (r.getLong(0), r.getLong(1), 1.0)),
          maxLevels, maxSweeps).toDF("node_id", "community")
      }
    }
    val rep0 = und
      .select(col("src").cast("long"), col("dst").cast("long"), lit(1.0).as("w"))
      .repartition(col("src"))
      .cache()
    try louvainRep(rep0, maxLevels, maxSweeps, 0) // path already decided
    finally rep0.unpersist(blocking = false)
  }

  /** Core Louvain loop over the internal representation (directed-both-
    * ways weighted non-loop rows + DOUBLED self-loops, pre-partitioned by
    * src and cached by the caller).
    */
  private def louvainRep(rep0: DataFrame, maxLevels: Int,
                         maxSweeps: Int,
                         driverLimit: Int = DefaultDriverGraphLimit): DataFrame = {
    val spark = SparkSession.active
    if (driverLimit > 0) {
      // limit-probe both fetches the representation and decides the path.
      // The replay additionally requires INTEGER-VALUED weights (the
      // label-identity argument: every accumulated quantity — k, σ, w→C,
      // m2 — must be an exactly-represented integer so neither path's
      // summation order can round); fractional weights stay distributed.
      val probe = rep0.select(col("src"), col("dst"), col("w"))
        .limit(driverLimit + 1).collect()
      val intWeights = probe.forall { r =>
        val w = r.getDouble(2); w == math.rint(w)
      }
      if (probe.length <= driverLimit && intWeights) {
        import spark.implicits._
        return louvainLocal(
          probe.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))),
          maxLevels, maxSweeps).toDF("node_id", "community")
      }
    }
    val vertices = rep0.select(col("src").as("node_id")).distinct().cache()
    val nVerts = vertices.count()
    if (nVerts == 0) return vertices.select(col("node_id"), col("node_id").as("community"))
    val nEdges = rep0.count() // cheap: rep0 is cached by the callers
    val m2 = rep0.agg(sum(col("w"))).head().getDouble(0) // = 2m, level-invariant
    def small(df: DataFrame): DataFrame =
      if (nVerts < broadcastVertexLimit) broadcast(df) else df
    // the whole sweep/contraction loop runs at edge-proportional width
    // (every shuffle inside executes eagerly via localCheckpoint/count);
    // exact for unit weights — all the loop's sums are integer-valued
    // doubles, so partition count cannot change any score
    withShufflePartitions(spark, loopParts(spark, nEdges)) {
    try {

    // every intermediate checkpoint (sweep, level comm, globalMap chain,
    // contracted edges) lands here and is freed AFTER the final eager
    // checkpoint materializes the whole chain — without this, each call
    // left one vertex- or edge-sized block set per sweep/level persisted
    // for the session lifetime (r10 review finding)
    val ckFrees = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** One level of parity-alternating greedy local moves. Input/output:
      * (node_id, community) over the level's graph.
      */
    def localMoves(e: DataFrame): DataFrame = {
      val deg = e.groupBy(col("src").as("node_id")).agg(sum(col("w")).as("k"))
      // commCk is the checkpoint handle (for unpersist); comm is the
      // stats-severed view the sweep plans against — one sweep references
      // comm ~4 times (sigma/nbr/candidates/argmax), so WITHOUT the
      // reset the checkpoint's estimated sizeInBytes is raised to the
      // 4th power every sweep (see [[statsReset]])
      var commCk = deg.select(col("node_id"), col("node_id").as("community"), col("k"))
        .localCheckpoint(true)
      var comm = statsReset(commCk)
      var sweep = 0
      // terminate only after BOTH parity classes sweep without a move: a
      // single zero-move sweep only proves the active parity is stable
      // (e.g. a graph whose vertex ids are all odd never moves on even
      // sweeps — exiting there would freeze every node in its singleton)
      var zeroStreak = 0
      while (sweep < maxSweeps && zeroStreak < 2) {
        val sigma = comm.groupBy(col("community")).agg(sum(col("k")).as("sigma"))
        // weight from each node to each neighbouring community (self
        // edges excluded — a node's loop follows it anywhere, cancelling
        // out of the argmax)
        val nbr = e.filter(col("src") =!= col("dst"))
          .join(small(comm.select(col("node_id").as("dst"), col("community").as("dst_comm"))),
            Seq("dst"))
          .groupBy(col("src"), col("dst_comm")).agg(sum(col("w")).as("w_to"))
        // candidates = neighbour communities ∪ own community (w_to 0)
        val cand = nbr
          .union(comm.select(col("node_id").as("src"), col("community").as("dst_comm"),
            lit(0.0).as("w_to")))
          .groupBy(col("src"), col("dst_comm")).agg(sum(col("w_to")).as("w_to"))
        // ΔQ ∝ w_{i→C} − k_i·Σtot(C∖{i})/2m; the argmax is a max_by over
        // struct(score, stay, -id) — lexicographic struct ordering gives
        // "max score, ties to staying, then smallest community id" in ONE
        // partial-aggregatable shuffle (no window sort)
        val scored = cand
          .join(small(comm.select(col("node_id").as("src"), col("community").as("cur_comm"),
            col("k"))), Seq("src"))
          .join(small(sigma.withColumnRenamed("community", "dst_comm")), Seq("dst_comm"))
          .withColumn("score",
            col("w_to") - col("k") *
              (col("sigma") - when(col("dst_comm") === col("cur_comm"), col("k"))
                .otherwise(lit(0.0))) / lit(m2))
        val best = scored.groupBy(col("src").as("node_id"))
          .agg(max_by(col("dst_comm"), struct(
            col("score"),
            when(col("dst_comm") === col("cur_comm"), 1).otherwise(0),
            -col("dst_comm"))).as("new_comm"))
        val parity = sweep % 2
        val next = comm.join(small(best), Seq("node_id"), "left")
          .select(col("node_id"),
            when(pmod(col("node_id"), lit(2)) === parity && col("new_comm").isNotNull,
              col("new_comm")).otherwise(col("community")).as("community"),
            col("k"),
            (pmod(col("node_id"), lit(2)) === parity && col("new_comm").isNotNull &&
              col("new_comm") =!= col("community")).as("moved"))
          // LAZY checkpoint: the moved-count below materializes the
          // blocks in the SAME job (eager would pay a separate
          // checkpoint job first — at gate SF the sweep loop's cost is
          // job count, not data)
          .localCheckpoint(false)
        val moved = next.filter(col("moved")).count()
        zeroStreak = if (moved == 0) zeroStreak + 1 else 0
        commCk.unpersist(blocking = false)
        commCk = next
        comm = statsReset(next).select(col("node_id"), col("community"), col("k"))
        sweep += 1
      }
      // the returned frame still reads the final sweep's checkpoint
      // blocks — freed with the batch once the chain has materialized
      ckFrees += commCk
      comm.select(col("node_id"), col("community"))
    }

    // the level loop's checkpoints are LAZY (plan truncation is what
    // they buy; materialization rides the control-flow counts or, for
    // the globalMap chain, the single eager checkpoint at return —
    // which also keeps the whole chain's execution inside this scope)
    var globalMap = vertices.select(col("node_id"), col("node_id").as("community"))
      .localCheckpoint(false)
    ckFrees += globalMap
    var curEdges = rep0
    var prevCount = nVerts
    var level = 0
    var done = false
    while (level < maxLevels && !done) {
      val comm = localMoves(curEdges).localCheckpoint(false)
      ckFrees += comm
      val nComm = comm.select(col("community")).distinct().count()
      globalMap = globalMap.as("g")
        .join(comm.as("c"), col("g.community") === col("c.node_id"))
        .select(col("g.node_id"), col("c.community"))
        .localCheckpoint(false)
      ckFrees += globalMap
      if (nComm == prevCount) done = true // no contraction progress
      else {
        prevCount = nComm
        val cb = small(comm)
        curEdges = curEdges.as("e")
          .join(cb.select(col("node_id").as("src"), col("community").as("cs")), Seq("src"))
          .join(cb.select(col("node_id").as("dst"), col("community").as("cd")), Seq("dst"))
          .groupBy(col("cs").as("src"), col("cd").as("dst"))
          .agg(sum(col("w")).as("w"))
          .localCheckpoint(false)
        ckFrees += curEdges // rep0 (caller-owned) is never added
      }
      level += 1
    }
    // partitioning-stable labels: community := min member node id;
    // localCheckpoint keeps the final plan's execution inside this scope
    // (and off the by-then-unpersisted vertices cache). EAGER: the whole
    // lazy chain materializes here, after which every intermediate
    // checkpoint can be freed — the result's own blocks are independent.
    val relabel = globalMap.groupBy(col("community"))
      .agg(min(col("node_id")).as("cmin"))
    val out = globalMap.join(small(relabel), Seq("community"))
      .select(col("node_id"), col("cmin").as("community"))
      .localCheckpoint(true)
    ckFrees.foreach(_.unpersist(blocking = false))
    out
    } finally vertices.unpersist(blocking = false)
    }
  }
}
