package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph centrality kernels (G2–G4, `pipeline2.py:747-749`), networkx
  * numeric parity.
  *
  * Degree is pure DataFrame. Betweenness and eigenvector operate on a
  * collected, integer-indexed adjacency — the graph is dimension-bounded by
  * construction (top-N genes, A12), so the edge list fits on the driver /
  * in a broadcast even when the expression data is 100 TB. Betweenness
  * distributes its per-source Brandes passes over the cluster (source
  * vertices are an RDD; adjacency is a broadcast), which is the standard
  * scale-out for exact betweenness: embarrassingly parallel per source.
  */
object Centrality {

  /** G2: nx.degree_centrality = degree / (n-1). Isolated nodes (added via
    * add_node, never in an edge) get 0. Matches nx.Graph edge semantics:
    * parallel/bidirectional duplicates collapse to one edge and
    * self-loops are dropped; a single-node graph scores 1 (nx
    * special-cases len(G) <= 1). */
  def degreeCentrality(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val n = nodes.count()
    if (n <= 1)
      return nodes.select(col("gene"), lit(1.0).as("degree_centrality"))
    val denom = (n - 1L).toDouble
    val simple = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    val endpoints = simple.select(col("src").as("gene"))
      .unionAll(simple.select(col("dst").as("gene")))
      .groupBy("gene").agg(count(lit(1)).as("__deg"))
    nodes.join(endpoints, Seq("gene"), "left")
      .select(col("gene"),
        (coalesce(col("__deg"), lit(0L)) / denom).as("degree_centrality"))
  }

  private def indexGraph(nodes: Seq[String], edgeList: Seq[(String, String)])
      : Array[Array[Int]] = {
    val idx = nodes.zipWithIndex.toMap
    val adj = Array.fill(nodes.length)(mutable.ArrayBuffer.empty[Int])
    edgeList.foreach { case (a, b) =>
      (idx.get(a), idx.get(b)) match {
        case (Some(i), Some(j)) if i != j => adj(i) += j; adj(j) += i
        case _ => ()
      }
    }
    adj.map(_.distinct.sorted.toArray)
  }

  /** G3: exact betweenness centrality, Brandes' algorithm, unweighted,
    * normalized — matches `nx.betweenness_centrality(G)` defaults. The
    * per-source BFS passes run distributed: sources are parallelized,
    * adjacency broadcast, partial dependency vectors collected and summed
    * in partition order (deterministic to the last bit).
    *
    * `sampleSources = Some(k)` switches to the Brandes–Pich estimator:
    * k evenly-spread source vertices, dependencies scaled by n/k — the
    * scale path when exact O(V·E) is too much (sampling error
    * ~O(1/sqrt(k)); with k >= n it is exact). Deterministic source
    * choice (every n/k-th vertex in key order), never random.
    */
  def betweennessCentrality(spark: SparkSession, nodes: DataFrame,
                            edges: DataFrame,
                            sampleSources: Option[Int] = None,
                            maxDriverNodes: Long = 2000000L,
                            maxDriverEdges: Long = 20000000L): DataFrame =
   graft.util.Pin.pinned(nodes, edges) {
    // Explicit contract guard: Brandes broadcasts the full adjacency,
    // so the edge list must be driver-collectable. The operator is
    // documented for dimension-bounded graphs (top-N construction);
    // feeding a fact-scale graph must fail with THIS message, not a
    // driver OOM minutes later. Sampling (Brandes–Pich) bounds the BFS
    // work, not the adjacency size, so the guard applies either way.
    val nCount = nodes.count()
    val eCount = edges.count()
    require(nCount <= maxDriverNodes && eCount <= maxDriverEdges,
      s"betweennessCentrality: graph ($nCount nodes, $eCount edges) " +
        s"exceeds the driver-collectable contract " +
        s"($maxDriverNodes nodes / $maxDriverEdges edges); this " +
        "operator broadcasts the full adjacency — reduce the graph " +
        "(top-N edges) or raise the caps if the driver has headroom")
    val nodeSeq = nodes.select("gene").collect().map(_.getString(0)).toSeq
    val edgeSeq = edges.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val n = nodeSeq.length
    val adj = indexGraph(nodeSeq, edgeSeq)
    val bcAdj = spark.sparkContext.broadcast(adj)

    val sources: Seq[Int] = sampleSources match {
      case Some(k) if k > 0 && k < n =>
        val step = n.toDouble / k
        (0 until k).map(i => (i * step).toInt).distinct
      case _ => 0 until n
    }
    val estimatorScale = n.toDouble / sources.length

    val partial = spark.sparkContext
      .parallelize(sources, math.min(math.max(sources.length / 16, 1), 256))
      .mapPartitions { sources =>
        val a = bcAdj.value
        val nn = a.length
        val acc = new Array[Double](nn)
        sources.foreach { s =>
          // Brandes single-source shortest-path accumulation
          val sigma = new Array[Double](nn)
          val dist = Array.fill(nn)(-1)
          val delta = new Array[Double](nn)
          val preds = Array.fill(nn)(mutable.ArrayBuffer.empty[Int])
          val stack = mutable.ArrayBuffer.empty[Int]
          val queue = mutable.Queue.empty[Int]
          sigma(s) = 1.0; dist(s) = 0; queue.enqueue(s)
          while (queue.nonEmpty) {
            val v = queue.dequeue()
            stack += v
            var k = 0
            val nbrs = a(v)
            while (k < nbrs.length) {
              val w = nbrs(k)
              if (dist(w) < 0) { dist(w) = dist(v) + 1; queue.enqueue(w) }
              if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); preds(w) += v }
              k += 1
            }
          }
          var i = stack.length - 1
          while (i >= 0) {
            val w = stack(i)
            preds(w).foreach { v =>
              delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
            }
            if (w != s) acc(w) += delta(w)
            i -= 1
          }
        }
        Iterator.single(acc)
      }
      // collect returns the partials in partition order; summing them in
      // that order (not task-completion order, as a reduce would) makes
      // the scores bit-identical from run to run, so exactly tied genes
      // keep their gene-name order downstream. <= 256 arrays of n doubles.
      .collect()
      .reduce { (x, y) =>
        var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x
      }

    // nx _rescale, normalized=True, undirected: scale = 1/((n-1)(n-2)) over
    // the double-counted raw sums; identity for n <= 2. The estimator
    // scale (n/k) corrects for sampled sources (1.0 when exact).
    val scale =
      (if (n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0) * estimatorScale
    val rows = nodeSeq.zipWithIndex.map { case (g, i) =>
      Row(g, partial(i) * scale)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("gene", StringType, nullable = false),
        StructField("betweenness_centrality", DoubleType, nullable = false))))
   }

  /** G4: eigenvector centrality, nx semantics: power iteration on (I + A)
    * from x = 1/n, L2-normalized each step, stop when sum|Δ| < n·tol.
    * Throws IllegalStateException past maxIter like nx's
    * PowerIterationFailedConvergence — the pipeline catches it into the
    * zero-filled frame (G7, `pipeline2.py:778-792`).
    *
    * Dispatches on graph size: below `distributedThreshold` nodes the
    * collected driver loop runs (exact, no per-iteration job overhead);
    * above it the iteration runs as a distributed DataFrame loop
    * ([[eigenvectorCentralityDistributed]]) that never collects the
    * graph.
    */
  def eigenvectorCentrality(spark: SparkSession, nodes: DataFrame,
                            edges: DataFrame, maxIter: Int = 1000,
                            tol: Double = 1e-6,
                            distributedThreshold: Long = graft.util.Dispatch.threshold(100000L),
                            edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
   graft.util.Pin.pinned(nodes, edges) {
    // dense sub-threshold-node graphs must also go distributed — the
    // driver path collects the edge list (see pageRank's dispatch note)
    val nNodes = nodes.count()
    if (nNodes > distributedThreshold || edges.count() > edgeThreshold)
      eigenvectorDistributedImpl(spark, nodes, edges, maxIter, tol,
        nNodes)
    else eigenvectorDriverImpl(spark, nodes, edges, maxIter, tol)
   }

  private def eigenvectorDriverImpl(spark: SparkSession, nodes: DataFrame,
                                    edges: DataFrame, maxIter: Int,
                                    tol: Double): DataFrame = {
    val nodeSeq = nodes.select("gene").collect().map(_.getString(0)).toSeq
    val edgeSeq = edges.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val n = nodeSeq.length
    val adj = indexGraph(nodeSeq, edgeSeq)

    var x = Array.fill(n)(1.0 / n)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val xNew = x.clone()
      var v = 0
      while (v < n) {
        val nbrs = adj(v); var k = 0
        while (k < nbrs.length) { xNew(nbrs(k)) += x(v); k += 1 }
        v += 1
      }
      val norm = math.sqrt(xNew.map(d => d * d).sum) match {
        case 0.0 => 1.0
        case d => d
      }
      var i = 0
      while (i < n) { xNew(i) /= norm; i += 1 }
      var err = 0.0
      i = 0
      while (i < n) { err += math.abs(xNew(i) - x(i)); i += 1 }
      x = xNew
      if (err < n * tol) converged = true
      iter += 1
    }
    if (!converged && n > 0)
      throw new IllegalStateException(
        s"eigenvector centrality failed to converge in $maxIter iterations")

    val rows = nodeSeq.zipWithIndex.map { case (g, i) => Row(g, x(i)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("gene", StringType, nullable = false),
        StructField("eigenvector_centrality", DoubleType, nullable = false))))
  }

  /** G4 at scale: the same (I + A) power iteration as a distributed
    * DataFrame loop — scores and edges stay partitioned; each step is one
    * join + aggregate (neighbor sums), a 1-row norm aggregate, and an
    * error aggregate against the previous scores. The graph is never
    * collected, so this is the path for graphs that outgrow the driver
    * (the GraphX-PageRank iteration pattern with per-round persist /
    * unpersist to keep lineage flat).
    */
  def eigenvectorCentralityDistributed(spark: SparkSession, nodes: DataFrame,
                                       edges: DataFrame, maxIter: Int = 1000,
                                       tol: Double = 1e-6): DataFrame =
    eigenvectorDistributedImpl(spark, nodes, edges, maxIter, tol,
      nodes.count())

  private def eigenvectorDistributedImpl(spark: SparkSession,
                                         nodes: DataFrame, edges: DataFrame,
                                         maxIter: Int, tol: Double,
                                         n: Long): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (n == 0) {
      sym.unpersist(false)
      return nodes.select(col("gene"),
        lit(0.0).as("eigenvector_centrality"))
    }
    // Each round references x twice (neighbor sums + the error diff), so
    // without lineage truncation the logical plan doubles per iteration.
    // Each round is pinned as a persisted + locally-checkpointed typed
    // RDD (constant-size LogicalRDD plan), and THE PREVIOUS round's RDD
    // is unpersisted once the new one is materialized — the GraphX
    // Pregel lifecycle. Dataset.localCheckpoint alone would leave one
    // cached n-row frame per iteration to ContextCleaner's mercy, which
    // on hundreds of rounds over a big graph fills the block store.
    import spark.implicits._
    var prevRdd: Option[org.apache.spark.rdd.RDD[(String, Double, Double)]] =
      None
    def pin(df: DataFrame): DataFrame = {
      val rdd = df.as[(String, Double, Double)].rdd
        .persist(StorageLevel.MEMORY_AND_DISK)
      rdd.localCheckpoint()
      rdd.count()
      val pinned = spark.createDataFrame(rdd).toDF("gene", "__x0", "x")
      prevRdd.foreach(_.unpersist(false))
      prevRdd = Some(rdd)
      pinned
    }
    var x = pin(nodes.select(col("gene"), lit(0.0).as("__x0"),
      lit(1.0 / n).as("x"))).select("gene", "x")
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val contrib = sym.join(x, sym("src") === x("gene"))
        .groupBy(sym("dst").as("gene"))
        .agg(sum(col("x")).as("__nbr"))
      val xRaw = x.withColumnRenamed("x", "__x0")
        .join(contrib, Seq("gene"), "left")
        .select(col("gene"), col("__x0"),
          (col("__x0") + coalesce(col("__nbr"), lit(0.0))).as("__xr"))
      val norm = xRaw.agg(sqrt(sum(col("__xr") * col("__xr"))).as("__norm"))
      val xNew = pin(xRaw.crossJoin(broadcast(norm))
        .select(col("gene"), col("__x0"),
          when(col("__norm") === 0.0, col("__xr"))
            .otherwise(col("__xr") / col("__norm")).as("x")))
      val err = xNew.agg(sum(abs(col("x") - col("__x0"))).as("e"))
        .collect()(0).getDouble(0)
      x = xNew.select("gene", "x")
      converged = err < n * tol
      iter += 1
    }
    sym.unpersist(false)
    if (!converged)
      throw new IllegalStateException(
        s"eigenvector centrality failed to converge in $maxIter iterations")
    x.select(col("gene"), col("x").as("eigenvector_centrality"))
  }

  /** PageRank (undirected form: edges symmetrized, contributions split
    * by degree) with damping d and a FIXED iteration count — fixed, not
    * convergence-tested, so the result is a deterministic function of
    * the graph that an independent engine can replay step-for-step
    * (the q53 oracle lesson: a data-dependent stopping rule makes the
    * oracle chase the engine's float noise). Dangling (isolated) nodes
    * redistribute their mass uniformly, the standard correction, so
    * scores sum to 1 every iteration.
    *
    * Driver/distributed dispatch mirrors [[eigenvectorCentrality]]: the
    * co-expression graphs this library builds are dimension-bounded
    * (top-N genes), so the driver path is the common case; above the
    * threshold the same iteration runs as a DataFrame loop
    * ([[pageRankDistributed]]) that never collects the graph.
    * Neighbor sums accumulate in sorted-index order on the driver path —
    * the same order the list-based SQL oracle uses.
    */
  def pageRank(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
               damping: Double = 0.85, iters: Int = 20,
               distributedThreshold: Long = graft.util.Dispatch.threshold(100000L),
               edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
   graft.util.Pin.pinned(nodes, edges) {
    // dispatch on BOTH dimensions: a sub-threshold node count says
    // nothing about density, and the driver path collects the full edge
    // list — a 50k-node graph with 500M edges must take the distributed
    // branch (the union-find ≤2M-edge precedent)
    val nNodes = nodes.count()
    if (nNodes > distributedThreshold || edges.count() > edgeThreshold)
      pageRankDistributedImpl(spark, nodes, edges, damping, iters,
        nNodes)
    else pageRankDriverImpl(spark, nodes, edges, damping, iters)
   }

  private def pageRankDriverImpl(spark: SparkSession, nodes: DataFrame,
                                 edges: DataFrame, damping: Double,
                                 iters: Int): DataFrame = {
    val nodeSeq = nodes.select("gene").collect().map(_.getString(0)).toSeq
    val edgeSeq = edges.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val n = nodeSeq.length
    if (n == 0)
      return nodes.select(col("gene"), lit(0.0).as("pagerank"))
    val adj = indexGraph(nodeSeq, edgeSeq)

    var x = Array.fill(n)(1.0 / n)
    var iter = 0
    while (iter < iters) {
      // contribution pull: x'(v) = (1-d)/n + d*(sum_{u in adj(v)} x(u)/deg(u)
      //                                         + danglingMass/n)
      var dangling = 0.0
      var v = 0
      while (v < n) { if (adj(v).isEmpty) dangling += x(v); v += 1 }
      val xNew = new Array[Double](n)
      v = 0
      while (v < n) {
        var s = 0.0
        val nbrs = adj(v); var k = 0
        while (k < nbrs.length) {
          val u = nbrs(k); s += x(u) / adj(u).length; k += 1
        }
        xNew(v) = (1.0 - damping) / n + damping * (s + dangling / n)
        v += 1
      }
      x = xNew
      iter += 1
    }
    val rows = nodeSeq.zipWithIndex.map { case (g, i) => Row(g, x(i)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("gene", StringType, nullable = false),
        StructField("pagerank", DoubleType, nullable = false))))
  }

  /** PageRank at scale: the same fixed-iteration update as a DataFrame
    * loop — edges and scores stay partitioned; each round is one
    * join + aggregate (degree-weighted neighbor sums), a 1-row dangling
    * aggregate broadcast back, and a localCheckpoint pin (bounded
    * lineage; iteration count is fixed and small, so per-round RDD
    * bookkeeping beyond the pin is unnecessary — contrast the
    * convergence-driven eigenvector loop). */
  def pageRankDistributed(spark: SparkSession, nodes: DataFrame,
                          edges: DataFrame, damping: Double = 0.85,
                          iters: Int = 20): DataFrame =
    pageRankDistributedImpl(spark, nodes, edges, damping, iters,
      nodes.count())

  private def pageRankDistributedImpl(spark: SparkSession, nodes: DataFrame,
                                      edges: DataFrame, damping: Double,
                                      iters: Int, n: Long): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Edges referencing vertices absent from `nodes` are dropped BEFORE
    // the degree count — the driver path's indexGraph skips them, and
    // keeping them here would inflate deg(u) and leak u's mass through
    // contributions to a vertex that never joins back (scores would
    // stop summing to 1 and diverge from the driver result).
    val vertexSet = nodes.select(col("gene"))
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .join(vertexSet.withColumnRenamed("gene", "src"), Seq("src"), "left_semi")
      .join(vertexSet.withColumnRenamed("gene", "dst"), Seq("dst"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = sym.groupBy(col("src").as("gene"))
      .agg(count(lit(1)).as("__deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (n == 0) {
      sym.unpersist(false); deg.unpersist(false)
      return nodes.select(col("gene"), lit(0.0).as("pagerank"))
    }
    var x = nodes.select(col("gene"), lit(1.0 / n).as("x"))
      .join(deg, Seq("gene"), "left")
      .select(col("gene"), col("x"), coalesce(col("__deg"), lit(0L)).as("__deg"))
      .localCheckpoint()
    var iter = 0
    while (iter < iters) {
      val dangling = x.filter(col("__deg") === 0L)
        .agg(coalesce(sum(col("x")), lit(0.0)).as("__dang"))
      val contrib = sym.join(x, sym("src") === x("gene"))
        .groupBy(sym("dst").as("gene"))
        .agg(sum(col("x") / col("__deg")).as("__nbr"))
      x = x.drop("x")
        .join(contrib, Seq("gene"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("gene"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("__nbr"), lit(0.0)) + col("__dang") / n)).as("x"),
          col("__deg"))
        .localCheckpoint()
      iter += 1
    }
    sym.unpersist(false); deg.unpersist(false)
    x.select(col("gene"), col("x").as("pagerank"))
  }

  /** Weighted directed PageRank: mass flows along arcs in proportion to
    * edge weight — x'(v) = (1−d)/n + d·(Σ_{u→v} x(u)·w(u,v)/W(u) +
    * dangling/n), W(u) the out-weight sum. The unweighted kernel treats
    * a $1 and a $1M trade link identically; weighted is what ranking a
    * flow graph actually means. Multi-arcs collapse by weight sum;
    * non-positive weights are rejected (they break the random-walk
    * semantics). Same dual dispatch and loop shape as [[pageRank]]. */
  def pageRankWeighted(spark: SparkSession, nodes: DataFrame,
                       edges: DataFrame, damping: Double = 0.85,
                       iters: Int = 20,
                       distributedThreshold: Long = graft.util.Dispatch.threshold(100000L),
                       edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
   graft.util.Pin.pinned(nodes, edges) {
    if (nodes.count() <= distributedThreshold &&
        edges.count() <= edgeThreshold)
      pageRankWeightedDriverImpl(spark, nodes, edges, damping, iters)
    else pageRankWeightedDistributed(spark, nodes, edges, damping, iters)
   }

  private def pageRankWeightedDriverImpl(spark: SparkSession,
                                         nodes: DataFrame, edges: DataFrame,
                                         damping: Double,
                                         iters: Int): DataFrame = {
    {
      val nodeSeq = nodes.select("gene").collect().map(_.getString(0)).toSeq
      val idx = nodeSeq.zipWithIndex.toMap
      val arcs = edges.select(col("src"), col("dst"), col("w")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .filter { case (u, v, _) => u != v && idx.contains(u) && idx.contains(v) }
        .groupBy(a => (a._1, a._2))
        .map { case ((u, v), as) => (idx(u), idx(v), as.map(_._3).sum) }
        .toSeq.sortBy(a => (a._1, a._2))
      require(arcs.forall(_._3 > 0), "edge weights must be positive")
      val nn = nodeSeq.length
      if (nn == 0)
        return nodes.select(col("gene"), lit(0.0).as("pagerank"))
      val outW = new Array[Double](nn)
      arcs.foreach { case (u, _, w) => outW(u) += w }
      var x = Array.fill(nn)(1.0 / nn)
      var it = 0
      while (it < iters) {
        var dang = 0.0
        var i = 0
        while (i < nn) { if (outW(i) == 0.0) dang += x(i); i += 1 }
        val xn = Array.fill(nn)((1.0 - damping) / nn + damping * dang / nn)
        arcs.foreach { case (u, v, w) =>
          xn(v) += damping * x(u) * w / outW(u)
        }
        x = xn; it += 1
      }
      val rows = nodeSeq.zipWithIndex.map { case (g, i) => Row(g, x(i)) }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("gene", StringType, nullable = false),
          StructField("pagerank", DoubleType, nullable = false))))
    }
  }

  /** The unbounded-scale weighted PageRank path — see
    * [[pageRankWeighted]] for semantics. */
  def pageRankWeightedDistributed(spark: SparkSession, nodes: DataFrame,
                                  edges: DataFrame, damping: Double = 0.85,
                                  iters: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val vertexSet = nodes.select(col("gene"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = edges.select(col("src"), col("dst"), col("w"))
      .filter(col("src") =!= col("dst") && col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .join(vertexSet.withColumnRenamed("gene", "src"), Seq("src"), "left_semi")
      .join(vertexSet.withColumnRenamed("gene", "dst"), Seq("dst"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = vertexSet.count()
    if (n == 0) {
      e.unpersist(false); vertexSet.unpersist(false)
      return nodes.select(col("gene"), lit(0.0).as("pagerank"))
    }
    val outW = e.groupBy(col("src").as("gene"))
      .agg(sum(col("w")).as("__ow"))
    var x = vertexSet.join(outW, Seq("gene"), "left")
      .select(col("gene"), lit(1.0 / n).as("x"),
        coalesce(col("__ow"), lit(0.0)).as("__ow"))
      .localCheckpoint()
    var iter = 0
    while (iter < iters) {
      val dangling = x.filter(col("__ow") === 0.0)
        .agg(coalesce(sum(col("x")), lit(0.0)).as("__dang"))
      val contrib = e.join(x, e("src") === x("gene"))
        .groupBy(e("dst").as("gene"))
        .agg(sum(col("x") * col("w") / col("__ow")).as("__nbr"))
      x = x.drop("x")
        .join(contrib, Seq("gene"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("gene"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("__nbr"), lit(0.0)) + col("__dang") / n)).as("x"),
          col("__ow"))
        .localCheckpoint()
      iter += 1
    }
    e.unpersist(false); vertexSet.unpersist(false)
    x.select(col("gene"), col("x").as("pagerank"))
  }

  /** HITS hubs & authorities on a DIRECTED graph — fixed-iteration
    * mutual recursion: a ← normalize(Aᵀh), h ← normalize(A·a), L2 per
    * half-step. Where PageRank ranks by received mass, HITS separates
    * "points at good pages" (hub) from "is pointed at by good hubs"
    * (authority) — the natural decomposition for buyer→seller or
    * citing→cited flows.
    *
    * Scale shape mirrors [[pageRankDistributed]]: each half-step is one
    * edge⋈score join + one grouped sum (shuffles bounded by edges), the
    * L2 norm is a 1-row aggregate broadcast back via crossJoin, and a
    * localCheckpoint pins each round's bounded lineage. Vertices with
    * no in-edges (resp. out-edges) zero-fill through the left join —
    * dropped rows would silently renormalize over a shrinking support.
    * Output: (gene, hub, authority), all nodes present. */
  def hits(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
           iters: Int = 10,
           distributedThreshold: Long = graft.util.Dispatch.threshold(100000L),
           edgeThreshold: Long = graft.util.Dispatch.threshold(2000000L)): DataFrame =
   graft.util.Pin.pinned(nodes, edges) {
    // size dispatch, the pageRank/eigenvector precedent: under the
    // thresholds a driver loop does the whole fixed-point in ONE job's
    // worth of work, where the DataFrame loop pays ~4 jobs/iteration of
    // fixed overhead (q132's 25-node graph: 7.4 s looped, <1 s here)
    if (nodes.count() <= distributedThreshold &&
        edges.count() <= edgeThreshold)
      hitsDriverImpl(spark, nodes, edges, iters)
    else hitsDistributed(spark, nodes, edges, iters)
   }

  private def hitsDriverImpl(spark: SparkSession, nodes: DataFrame,
                             edges: DataFrame, iters: Int): DataFrame = {
    {
      val nodeSeq = nodes.select("gene").collect().map(_.getString(0)).toSeq
      val edgeSeq = edges.select("src", "dst").collect()
        .map(r => (r.getString(0), r.getString(1)))
        .filter { case (u, vv) => u != vv }.distinct
      val nn = nodeSeq.length
      if (nn == 0)
        return nodes.select(col("gene"), lit(0.0).as("hub"),
          lit(0.0).as("authority"))
      val idx = nodeSeq.zipWithIndex.toMap
      val dir = edgeSeq.collect {
        case (u, vv) if idx.contains(u) && idx.contains(vv) =>
          (idx(u), idx(vv))
      }
      var h = Array.fill(nn)(1.0 / nn)
      var a = Array.fill(nn)(0.0)
      def norm(x: Array[Double]): Array[Double] = {
        val s = math.sqrt(x.map(v => v * v).sum)
        if (s == 0.0) x else x.map(_ / s)
      }
      var it = 0
      while (it < iters) {
        val ar = Array.fill(nn)(0.0)
        dir.foreach { case (u, vv) => ar(vv) += h(u) }
        a = norm(ar)
        val hr = Array.fill(nn)(0.0)
        dir.foreach { case (u, vv) => hr(u) += a(vv) }
        h = norm(hr)
        it += 1
      }
      val rows = nodeSeq.zipWithIndex.map { case (g, i) =>
        Row(g, h(i), a(i))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("gene", StringType, nullable = false),
          StructField("hub", DoubleType, nullable = false),
          StructField("authority", DoubleType, nullable = false))))
    }
  }

  /** The unbounded-scale HITS path — see [[hits]] for semantics. */
  def hitsDistributed(spark: SparkSession, nodes: DataFrame,
                      edges: DataFrame, iters: Int = 10): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // the vertex set is re-joined TWICE PER ITERATION (zero-fill of both
    // score vectors) — unpersisted, a nodes frame derived from a fact
    // join would be recomputed ~2·iters times (observed: q132 at 12.9 s
    // from ~22 replays of a 4-table join; 1.9 s persisted)
    val vertexSet = nodes.select(col("gene"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .join(vertexSet.withColumnRenamed("gene", "src"), Seq("src"), "left_semi")
      .join(vertexSet.withColumnRenamed("gene", "dst"), Seq("dst"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = vertexSet.count()
    if (n == 0) {
      e.unpersist(false); vertexSet.unpersist(false)
      return nodes.select(col("gene"), lit(0.0).as("hub"),
        lit(0.0).as("authority"))
    }
    def normalized(raw: DataFrame, value: String): DataFrame = {
      val nrm = raw.agg(sqrt(sum(col(value) * col(value))).as("__nrm"))
      raw.crossJoin(broadcast(nrm))
        .select(col("gene"), (col(value) /
          when(col("__nrm") === 0.0, lit(1.0)).otherwise(col("__nrm")))
          .as(value))
        .localCheckpoint()
    }
    var h = nodes.select(col("gene"), lit(1.0 / n).as("h")).localCheckpoint()
    var a = nodes.select(col("gene"), lit(0.0).as("a")).localCheckpoint()
    var iter = 0
    while (iter < iters) {
      a = normalized(vertexSet
        .join(e.join(h, e("src") === h("gene"))
          .groupBy(e("dst").as("gene")).agg(sum(col("h")).as("__s")),
          Seq("gene"), "left")
        .select(col("gene"), coalesce(col("__s"), lit(0.0)).as("a")), "a")
      h = normalized(vertexSet
        .join(e.join(a, e("dst") === a("gene"))
          .groupBy(e("src").as("gene")).agg(sum(col("a")).as("__s")),
          Seq("gene"), "left")
        .select(col("gene"), coalesce(col("__s"), lit(0.0)).as("h")), "h")
      iter += 1
    }
    val out = h.join(a, Seq("gene"))
      .select(col("gene"), col("h").as("hub"), col("a").as("authority"))
    // h and a are localCheckpointed — the returned plan no longer
    // references either cached frame
    e.unpersist(false); vertexSet.unpersist(false)
    out
  }

  /** A14 + A15: min-max normalize the three centralities (sklearn
    * MinMaxScaler: zero range -> 0) and average them into the composite
    * score (`pipeline2.py:758-769`), sorted descending with gene as the
    * deterministic tiebreak. Global min/max come from a 1-row aggregate
    * cross join — no single-partition window. */
  def compositeScores(centralities: DataFrame): DataFrame = {
    val cols = Seq("degree_centrality", "betweenness_centrality",
      "eigenvector_centrality")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val stats = centralities.agg(aggs.head, aggs.tail: _*)
    val normed = cols.foldLeft(centralities.crossJoin(broadcast(stats))) {
      (df, c) =>
        val range = col(s"__max_$c") - col(s"__min_$c")
        df.withColumn(c,
          when(range === 0.0, lit(0.0))
            .otherwise((col(c) - col(s"__min_$c")) / range))
    }.drop(cols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
    normed
      .withColumn("composite_score",
        (col("degree_centrality") + col("betweenness_centrality") +
          col("eigenvector_centrality")) / 3)
      .orderBy(col("composite_score").desc, col("gene"))
  }
}
