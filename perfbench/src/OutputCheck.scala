package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

/** Compares the files one pipeline pass wrote with the first pass's.
  *
  * Every file must be byte-identical, except where the engine's
  * floating-point summation order shows. `Centrality.betweennessCentrality`
  * adds its per-partition partial sums in task-completion order, so
  * betweenness, and the composite score built from it, can differ in their
  * last digits from pass to pass. Where genes' scores tie, that noise also
  * decides the order of the tied genes and which of them make a top-k cut.
  * So the files derived from the scores are compared as ranked tables:
  *  - the same header and row count;
  *  - the score column, sorted, equal to `RelTol` (relative) or `AbsTol`;
  *  - every gene in both passes has equal fields (numbers to the same);
  *  - a gene in one pass only is allowed in top-k tables only, and only
  *    if its score ties the lowest score of the table.
  * The network figure's edge table must agree on the edges between genes
  * both passes drew, and a figure may differ only if a table it is drawn
  * from does. Every other file must be byte-identical.
  */
object OutputCheck {
  val RelTol = 1e-9
  /** absolute floor: the scores are min-max normalized to [0, 1] */
  val AbsTol = 1e-12

  /** ranked table -> (score column, whether it is a top-k cut) */
  private val ranked = Map(
    "data/network_targets" -> ("composite_score", false),
    "data/network_viz_nodes" -> ("node_size", true),
    "data/top_targets_barplot" -> ("composite_score", true),
    "data/final_targets" -> ("composite_score", true))
  private val vizEdges = "data/network_viz_edges"
  private val summary = "summary.txt"
  private val topTargetsHeader = "Top targets (composite score):"
  /** figure -> the tables it is drawn from */
  private val figures = Map(
    "figures/network_visualization.png" -> Seq("data/network_viz_nodes", vizEdges),
    "figures/top_targets.png" -> Seq("data/top_targets_barplot"))

  type Table = (Seq[String], Seq[Array[String]])

  /** Every output file under `dir`, keyed by its path; a sink's part files
    * (in name order) are joined under their directory's path. */
  def read(dir: String): Map[String, Array[Byte]] = {
    val root = Paths.get(dir)
    Main.walk(dir).filterNot { p =>
      val n = p.getFileName.toString
      n.startsWith(".") || n == "_SUCCESS"
    }.groupBy { p =>
      if (p.getFileName.toString.startsWith("part-")) root.relativize(p.getParent).toString
      else root.relativize(p).toString
    }.map { case (k, ps) =>
      val out = new ByteArrayOutputStream
      ps.sortBy(_.toString).foreach(p => out.write(Files.readAllBytes(p)))
      k -> out.toByteArray
    }
  }

  /** The keys of the files that are not byte-identical, and the problems
    * that make the outputs disagree; no problems means they agree. */
  def compare(ref: Map[String, Array[Byte]],
              cur: Map[String, Array[Byte]]): (Seq[String], Seq[String]) = {
    val differing = (ref.keySet ++ cur.keySet).toSeq.sorted.filterNot { k =>
      ref.get(k).zip(cur.get(k)).exists { case (a, b) => java.util.Arrays.equals(a, b) }
    }
    val problems = differing.flatMap { k =>
      (ref.get(k), cur.get(k)) match {
        case (Some(a), Some(b)) => explain(k, a, b, ref, cur, differing.toSet).map(p => s"$k: $p")
        case _ => Some(s"$k: written by one pass only")
      }
    }
    (differing, problems)
  }

  private def explain(k: String, a: Array[Byte], b: Array[Byte], ref: Map[String, Array[Byte]],
                      cur: Map[String, Array[Byte]], differing: Set[String]): Option[String] =
    if (ranked.contains(k)) {
      val (score, topK) = ranked(k)
      rankedTable(csv(a), csv(b), score, topK)
    } else if (k == vizEdges)
      edgeTable(csv(a), csv(b), genes(ref), genes(cur))
    else if (k == summary) summaryText(text(a), text(b))
    else if (figures.contains(k))
      if (figures(k).exists(differing)) None else Some("differs though its tables are identical")
    else Some("differs")

  private def text(bytes: Array[Byte]): Seq[String] =
    new String(bytes, "UTF-8").split("\n", -1).toSeq

  private def csv(bytes: Array[Byte]): Table = {
    val lines = text(bytes).filter(_.nonEmpty)
    (lines.head.split(",", -1).toSeq, lines.tail.map(_.split(",", -1)))
  }

  private def genes(files: Map[String, Array[Byte]]): Set[String] =
    files.get("data/network_viz_nodes").map(b => csv(b)._2.map(_(0)).toSet).getOrElse(Set.empty)

  private def close(x: Double, y: Double): Boolean =
    x == y || math.abs(x - y) <= AbsTol + RelTol * math.max(math.abs(x), math.abs(y))

  private def fieldEq(x: String, y: String): Boolean =
    x == y || x.toDoubleOption.zip(y.toDoubleOption).exists { case (p, q) => close(p, q) }

  private def rankedTable(a: Table, b: Table, score: String, topK: Boolean): Option[String] = {
    val ((ha, ra), (hb, rb)) = (a, b)
    val si = ha.indexOf(score)
    def scores(rs: Seq[Array[String]]) = rs.map(_(si).toDouble).sorted
    if (ha != hb || si < 0) Some(s"header ${hb.mkString(",")} != ${ha.mkString(",")}")
    else if (ra.size != rb.size) Some(s"${rb.size} rows != ${ra.size}")
    else if (!scores(ra).zip(scores(rb)).forall { case (x, y) => close(x, y) })
      Some(s"$score values differ")
    else {
      val ma = ra.map(r => r(0) -> r).toMap
      val mb = rb.map(r => r(0) -> r).toMap
      val cut = (scores(ra) ++ scores(rb)).min
      val oneOnly = ((ma.keySet -- mb.keySet) ++ (mb.keySet -- ma.keySet)).toSeq.sorted
      (ma.keySet & mb.keySet).toSeq.sorted.collectFirst {
        case g if !ma(g).zip(mb(g)).forall { case (x, y) => fieldEq(x, y) } =>
          s"row $g: ${mb(g).mkString(",")} != ${ma(g).mkString(",")}"
      }.orElse(oneOnly.collectFirst {
        case g if !topK => s"gene $g in one pass only"
        case g if !close(ma.getOrElse(g, mb(g))(si).toDouble, cut) =>
          s"gene $g in one pass only, and its $score does not tie the cut $cut"
      })
    }
  }

  private def edgeTable(a: Table, b: Table, genesA: Set[String],
                        genesB: Set[String]): Option[String] = {
    val both = genesA & genesB
    def edges(t: Table) = t._2.filter(r => both(r(0)) && both(r(1)))
      .map(r => (r(0), r(1)) -> r(2)).toMap
    val (ea, eb) = (edges(a), edges(b))
    if (a._1 != b._1) Some("header differs")
    else if (ea.keySet != eb.keySet) Some("edges between genes both passes drew differ")
    else ea.collectFirst { case (e, w) if !fieldEq(w, eb(e)) => s"edge $e: ${eb(e)} != $w" }
  }

  /** The summary's top-targets lines ("  GENE: score") compare as a top-k
    * table; every other line must be equal. */
  private def summaryText(a: Seq[String], b: Seq[String]): Option[String] = {
    def split(ls: Seq[String]) = {
      val (head, rest) = ls.span(_ != topTargetsHeader)
      val (top, tail) = rest.drop(1).span(_.startsWith("  "))
      (head ++ rest.take(1) ++ tail, top.map(_.trim.split(": ")))
    }
    val ((la, ta), (lb, tb)) = (split(a), split(b))
    if (la != lb) Some("lines outside the top targets differ")
    else rankedTable((Seq("gene", "score"), ta), (Seq("gene", "score"), tb), "score", topK = true)
  }
}
