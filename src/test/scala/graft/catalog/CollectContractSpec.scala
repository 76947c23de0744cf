package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level sweep of driver-side `.collect()` sites — the
  * WindowContractSpec treatment for the other unbounded-driver-memory
  * hazard (round-10 verdict task 2). Every `.collect()` in `src/main`
  * (tools/ excluded: inventory/bench mains are driver programs by
  * design) pulls a DataFrame/RDD into driver memory, so each site must
  * be bounded by a documented contract — a require-guarded
  * driver-collectable cap, the small branch of a size dispatch, a
  * `limit(k)` frame, or a domain bounded by construction (category
  * grain, per-partition tuples, a 1-row aggregate) — and appear in the
  * allow-list below with that rationale and its exact site count. A
  * NEW collect (new file, or an added site in a listed file) fails
  * this spec until it is guarded and listed.
  */
class CollectContractSpec extends AnyFunSuite {

  /** file (relative to src/main/scala) → (expected `.collect()` site
    * count, bounding contract). */
  private val allowed: Map[String, (Int, String)] = Map(
    "graft/graph/Centrality.scala" ->
      (12, "betweenness behind the require-guarded driver-collectable " +
        "contract (<= 2M nodes / 20M edges), including its per-partition " +
        "Brandes partials (<= 256 arrays of n doubles, summed in " +
        "partition order); the <= 100k-node small " +
        "branches of eigenvector/pageRank/pageRankWeighted/hits " +
        "(distributed DataFrame loops above); 1-row convergence-error " +
        "probes inside those distributed loops"),
    "graft/pipeline/DrugTargetPipeline.scala" ->
      (5, "collectLocal's one site, called on the top genes, their " +
        "edges and the composite scores (<= nTopGenes rows, edges <= " +
        "nTopGenes^2 / 2); the volcano table (gene grain); the figure " +
        "tables (limit(30) nodes, their induced edges, limit(20) bars)"),
    "graft/graph/ShortestPaths.scala" ->
      (4, "small branches of the dual size dispatch (<= 100k / <= 2k " +
        "nodes) — DataFrame relaxation loops above the thresholds"),
    "graft/prep/Ipf.scala" ->
      (3, "row/column marginal target maps + seed cells, all behind " +
        "the maxCells require guard (category-grain by contract)"),
    "graft/graph/Walks.scala" ->
      (3, "1-row seed/count probe aggregate + small branches of the " +
        "katz/PPR size dispatch (<= 100k nodes)"),
    "graft/ann/Similarity.scala" ->
      (3, "IVF seed rows via limit(nLists); MMR winner via limit(1) " +
        "per iteration (k iterations, k bounded by the API contract)"),
    "graft/util/Ranks.scala" ->
      (2, "distributed-branch per-partition (count, sum) tuples — a " +
        "few longs per partition, not data rows"),
    "graft/util/Profile.scala" ->
      (1, "per-column profile branch rows — one row per profiled " +
        "column by construction (replaces the previous 1-row head())"),
    "graft/util/Quantiles.scala" ->
      (3, "histogram rows (<= 65536 bucket counts); target-bucket " +
        "values behind the CollectCap <= 262144 guard; window-fallback " +
        "rows (<= 2 per requested percentile by construction)"),
    "graft/ml/KMeans.scala" ->
      (2, "seed centroids via orderBy().limit(k); per-round means " +
        "(<= k group rows, k bounded by the API contract)"),
    "graft/sketch/Sketches.scala" ->
      (2, "1-row exact-count aggregate + bottom-k sketch via limit(k)"),
    "graft/ml/Pca.scala" ->
      (2, "dimension-grain means / covariance cells (<= d and d^2 " +
        "rows; d is the feature-vector width, guarded upstream)"),
    "graft/graph/Scc.scala" ->
      (2, "tarjanDriver small branch of the size dispatch (<= 2M " +
        "nodes / 20M edges) — distributed coloring above"),
    "graft/geo/GeoMatrixReader.scala" ->
      (2, "single header-line probes via limit(1)"),
    "graft/de/Stats.scala" ->
      (2, "bhAdjustDistributed per-partition rank offsets — one long " +
        "per partition, twice (rank pass + cummin pass)"),
    "graft/text/PhraseSearch.scala" ->
      (1, "token-frequency probe bounded by |phrase| distinct tokens"),
    "graft/sample/Sampling.scala" ->
      (1, "strata-grain count map — category domain by the stratified " +
        "sampling contract"),
    "graft/ml/Boost.scala" ->
      (1, "value-domain cells behind the maxCells require guard"),
    "graft/graph/KCore.scala" ->
      (1, "kCoreDriver small branch of the <= 2M-edge dispatch — " +
        "DataFrame fixpoint above"),
    "graft/graph/Cut.scala" ->
      (1, "require-guarded driver-collectable contract (<= 2M nodes " +
        "/ 20M edges) for the Tarjan articulation/bridge pass"),
    "graft/events/Attribution.scala" ->
      (1, "(channels+1) x (channels+2) Markov transition matrix — " +
        "channel-grain by construction"),
    "graft/dedup/Dedup.scala" ->
      (1, "union-find small branch of the <= 2M-edge dispatch — " +
        "star-contraction label propagation above"),
    "graft/de/DifferentialExpression.scala" ->
      (1, "GEO sample-metadata table — sample-grain (a platform has " +
        "dozens to hundreds of samples, never fact rows)"),
    "graft/catalog/CatalogDomain.scala" ->
      (1, "limit(100) frame collected for stored-order ranking"))

  /** Count `.collect()` sites per .scala file under `root`, skipping
    * `graft/tools/`. Factored out so the planted-violation self-test
    * can run the same scanner over a synthetic tree. */
  private[catalog] def scan(root: Path): Map[String, Int] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val rel = root.relativize(p).toString
        val n = Files.readAllLines(p).asScala
          .count(_.contains(".collect()"))
        rel -> n
      }
      .filter { case (rel, n) => n > 0 && !rel.startsWith("graft/tools/") }
      .toMap

  test("every driver-side .collect() site in src/main is allow-listed " +
    "with a bounding contract, and the allow-list is not stale") {
    val found = scan(Paths.get("src/main/scala"))
    val unlisted = found.keySet.diff(allowed.keySet)
    assert(unlisted.isEmpty,
      s"unlisted .collect() sites: ${unlisted.map(f => s"$f (${found(f)})")} " +
        "— bound the site (require guard / size dispatch / limit(k)) " +
        "and add it here with the rationale")
    val stale = allowed.keySet.diff(found.keySet)
    assert(stale.isEmpty, s"stale allow-list files (no sites remain): $stale")
    val drifted = allowed.collect {
      case (f, (n, _)) if found(f) != n => s"$f: expected $n, found ${found(f)}"
    }
    assert(drifted.isEmpty,
      s"site-count drift (new or removed collects): $drifted")
  }

  test("planted violation: the scanner catches a new fact-grain " +
    "collect in a synthetic tree") {
    val dir = Files.createTempDirectory("collect-contract-self-test")
    try {
      val pkg = dir.resolve("graft/bad")
      Files.createDirectories(pkg)
      Files.writeString(pkg.resolve("Bad.scala"),
        "object Bad { def f(df: org.apache.spark.sql.DataFrame) = " +
          "df.collect() }\n")
      // and a tools file, which must stay exempt
      val tools = dir.resolve("graft/tools")
      Files.createDirectories(tools)
      Files.writeString(tools.resolve("T.scala"),
        "object T { def f(df: org.apache.spark.sql.DataFrame) = " +
          "df.collect() }\n")
      val found = scan(dir)
      assert(found == Map("graft/bad/Bad.scala" -> 1))
    } finally {
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }
}
