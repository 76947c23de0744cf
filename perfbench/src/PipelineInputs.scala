package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}

/** Seeded synthetic inputs for one `DrugTargetPipeline` run in the shape
  * of GSE46602: a GEO series matrix (`nProbes` x 50 samples, 36 case /
  * 14 control), a PROBEID,SYMBOL mapping that covers ~80% of probes with
  * ~nProbes/3 symbols, an Ensembl (symbol, ensembl_id) CSV snapshot and an
  * OpenTargets JSONL snapshot, both with misses.
  *
  * Every value derives from an integer LCG keyed by (seed, position), so
  * the same seed writes byte-identical files. A planted share of genes
  * carries a case-only shift on every one of its probes: half up, half
  * down. Non-planted probes get noise that is centred within each group,
  * so their case and control means are equal and the significant set the
  * pipeline reports is exactly the planted set.
  *
  * The shift of a planted gene varies across case samples with a profile
  * shared by its module (one of [[Modules]]), so genes correlate above the
  * network threshold within a module and below it across modules; a few
  * bridge genes average two neighbouring modules' profiles and link them.
  * The co-expression network is then a ring of dense modules, not one
  * clique, and betweenness has something to rank.
  *
  * The seed picks which genes are planted, but not how many, nor the size
  * of each module or the number of bridges: those set the network's size,
  * and with it the work of the `net` and `graph` layers, which should not
  * change from seed to seed.
  */
object PipelineInputs {

  val NCase = 36
  val NControl = 14
  val Shift = 2.5
  val Modules = 6
  /** one planted gene in this many is a bridge */
  val BridgeEvery = 7

  final case class Files4(matrix: String, mapping: String, ensembl: String,
                          openTargets: String)

  final case class Planted(up: Set[String], down: Set[String]) {
    def all: Set[String] = up ++ down
  }

  private def mix(x: Long): Long = {
    // splitmix64 finaliser over one LCG step: decorrelates nearby keys
    var z = x * 6364136223846793005L + 1442695040888963407L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** uniform double in [0,1) from (seed, stream, key) */
  def u(seed: Long, stream: Long, key: Long): Double =
    (mix(mix(mix(seed) ^ stream) ^ key) >>> 11).toDouble / (1L << 53).toDouble

  def symbol(gene: Int): String = f"G$gene%05d"

  def geneOf(probe: Int): Int = probe / 3

  def isMapped(seed: Long, probe: Int): Boolean = u(seed, 1, probe) < 0.8

  /** The planted genes: the first `round(plantFrac * nGenes)` mapped genes
    * in an order the seed shuffles. The k-th goes up when k is even and
    * down when it is odd, joins module `(k / 2) % Modules`, and is a bridge
    * when `k % BridgeEvery == 0`. */
  private final class Plan(seed: Long, mappedGene: Array[Boolean], plantFrac: Double) {
    /** +1 planted up, -1 planted down, 0 not planted */
    val sign = new Array[Int](mappedGene.length)
    val module = new Array[Int](mappedGene.length)
    val bridge = new Array[Boolean](mappedGene.length)
    mappedGene.indices.filter(mappedGene).sortBy(g => u(seed, 2, g))
      .take(math.round(plantFrac * mappedGene.length).toInt)
      .zipWithIndex.foreach { case (g, k) =>
        sign(g) = if (k % 2 == 0) 1 else -1
        module(g) = (k / 2) % Modules
        bridge(g) = k % BridgeEvery == 0
      }

    /** Case-sample shift profile of a planted gene, in [-1, 1]. */
    def profile(gene: Int, caseSample: Int): Double = {
      def w(m: Int) = 2 * u(seed, 11, m.toLong * NCase + caseSample) - 1
      val m = module(gene)
      if (bridge(gene)) (w(m) + w((m + 1) % Modules)) / 2 else w(m)
    }
  }

  def paths(dir: String): Files4 =
    Files4(s"$dir/series_matrix.txt", s"$dir/mapping.csv",
      s"$dir/ensembl.csv", s"$dir/opentargets.jsonl")

  /** Writes the four inputs under `dir`, plus `planted.tsv` (symbol, up or
    * down), and returns the planted genes. Only genes with a mapped probe
    * are planted, so the pipeline can recover every one of them. */
  def write(dir: String, seed: Long, nProbes: Int, plantFrac: Double): Planted = {
    Files.createDirectories(Paths.get(dir))
    val f = paths(dir)
    val n = NCase + NControl
    val nGenes = geneOf(nProbes - 1) + 1
    val mappedGene = new Array[Boolean](nGenes)
    var p = 0
    while (p < nProbes) {
      if (isMapped(seed, p)) mappedGene(geneOf(p)) = true
      p += 1
    }
    val plan = new Plan(seed, mappedGene, plantFrac)

    val ids = (1 to n).map(i => f"GSM$i%05d")
    val w = new BufferedWriter(new FileWriter(f.matrix), 1 << 20)
    w.write("!Series_title\t\"synthetic GSE46602-shape series\"\n")
    w.write("!Sample_geo_accession\t" + ids.map("\"" + _ + "\"").mkString("\t") + "\n")
    w.write("!Sample_title\t" + (1 to n).map(i =>
      "\"" + (if (i <= NCase) s"tumor_$i" else s"normal_$i") + "\"").mkString("\t") + "\n")
    w.write("!Sample_characteristics_ch1\t" + (1 to n).map(i =>
      "\"tissue: " + (if (i <= NCase) "prostate cancer" else "benign prostate") + "\"")
      .mkString("\t") + "\n")
    w.write("\"ID_REF\"\t" + ids.map("\"" + _ + "\"").mkString("\t") + "\n")
    val noise = new Array[Double](n)
    val sb = new java.lang.StringBuilder(1024)
    p = 0
    while (p < nProbes) {
      val base = 6.0 + 4.0 * u(seed, 3, p)
      val sign = plan.sign(geneOf(p))
      var s = 0
      while (s < n) { noise(s) = (u(seed, 4, p.toLong * n + s) - 0.5) * 0.8; s += 1 }
      centre(noise, 0, NCase)
      centre(noise, NCase, n)
      sb.setLength(0)
      sb.append('"').append(p).append("_at\"")
      s = 0
      while (s < n) {
        val shift =
          if (sign == 0 || s >= NCase) 0.0
          else sign * Shift * (1 + plan.profile(geneOf(p), s))
        val v = base + noise(s) + shift
        sb.append('\t').append(math.rint(v * 10000) / 10000.0)
        s += 1
      }
      sb.append('\n')
      w.write(sb.toString)
      p += 1
    }
    w.close()

    val mw = new BufferedWriter(new FileWriter(f.mapping), 1 << 20)
    mw.write("PROBEID,SYMBOL\n")
    p = 0
    while (p < nProbes) {
      if (isMapped(seed, p)) mw.write(s"${p}_at,${symbol(geneOf(p))}\n")
      p += 1
    }
    mw.close()

    // Snapshots: ~90% of mapped symbols have an Ensembl id, ~85% of those
    // have an OpenTargets record; the rest are the misses validate_targets
    // zero-fills.
    val ew = new BufferedWriter(new FileWriter(f.ensembl), 1 << 20)
    val ow = new BufferedWriter(new FileWriter(f.openTargets), 1 << 20)
    ew.write("symbol,ensembl_id\n")
    var g = 0
    while (g < nGenes) {
      if (mappedGene(g) && u(seed, 5, g) < 0.9) {
        val ens = f"ENSG$g%011d"
        ew.write(s"${symbol(g)},$ens\n")
        if (u(seed, 6, g) < 0.85) {
          val nDrugs = (u(seed, 7, g) * 6).toInt
          val nDis = 1 + (u(seed, 8, g) * 4).toInt
          val drugs = (0 until nDrugs).map(d =>
            s"""{"drug":{"id":"CHEMBL$g$d","name":"drug_${g}_$d"}}""").mkString(",")
          val dis = (0 until nDis).map { d =>
            val score = math.rint(u(seed, 9, g.toLong * 8 + d) * 1000) / 1000.0
            s"""{"disease":{"id":"EFO_$g$d","name":"disease_${g}_$d"},"score":$score}"""
          }.mkString(",")
          ow.write(s"""{"ensembl_id":"$ens","approvedSymbol":"${symbol(g)}",""" +
            s""""biotype":"protein_coding","knownDrugs":{"count":$nDrugs,"rows":[$drugs]},""" +
            s""""associatedDiseases":{"count":$nDis,"rows":[$dis]}}""" + "\n")
        }
      }
      g += 1
    }
    ew.close()
    ow.close()

    val planted = (0 until nGenes).map(g => symbol(g) -> plan.sign(g)).filter(_._2 != 0)
    Files.write(Paths.get(s"$dir/planted.tsv"), planted
      .map { case (s, d) => s"$s\t${if (d > 0) "up" else "down"}\n" }.mkString
      .getBytes("UTF-8"))
    Planted(planted.collect { case (s, 1) => s }.toSet,
      planted.collect { case (s, -1) => s }.toSet)
  }

  private def centre(a: Array[Double], from: Int, until: Int): Unit = {
    var m = 0.0
    var i = from
    while (i < until) { m += a(i); i += 1 }
    m /= (until - from)
    i = from
    while (i < until) { a(i) -= m; i += 1 }
  }
}
