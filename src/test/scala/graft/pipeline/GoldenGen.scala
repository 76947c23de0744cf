package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One-shot generator for the golden-grain e2e fixtures: runs the full
  * pipeline on the tiny checked-in GEO fixture and copies the
  * single-file CSV sinks to the given directory, where they are
  * reviewed and checked in under src/test/resources/golden/ for the
  * byte-compare in [[DrugTargetPipelineSpec]] (the reference pins its
  * own e2e outputs the same way — filecmp.cmp in test_pipeline2.py).
  * Run: sbt "Test/runMain graft.pipeline.GoldenGen /tmp/golden" */
object GoldenGen {

  /** The single-file CSV sinks pinned byte for byte: the decision-grade
    * tables plus the figure-data tables the PNGs are drawn from. */
  val goldenSinks: Seq[String] = Seq("significant_genes", "network_targets",
    "final_targets", "network_viz_nodes", "network_viz_edges",
    "top_targets_barplot")

  /** Deterministic medium fixture: 20 genes × 2 probes × 12 samples
    * (6 case / 6 control), engineered so every pipeline stage has real
    * work at golden grain:
    *  - genes 0–4 ("cluster"): +2 log2FC, SHARED low-amplitude noise →
    *    significant, pairwise corr exactly 1 → a K5 network component;
    *  - genes 5–9 ("noisy"): +4 log2FC, independent high-amplitude
    *    noise → significant, pairwise |corr| below the 0.7 edge
    *    threshold → isolated network nodes;
    *  - genes 10–19: no effect, modest noise → not significant.
    * Noise is a fixed-constant LCG of (gene, sample) — bit-identical
    * on every run and platform. */
  private val symbols = Seq(
    "DDR1", "PAX8", "RFC2", "TP53", "EGFR", // cluster
    "MYC", "BRCA1", "KRAS", "PTEN", "AKT1", // noisy
    "CDK2", "GAPDH", "ACTB", "VIM", "FN1",
    "CDH1", "CDH2", "SNAI1", "TWIST1", "ZEB1") // inert

  private def lcg(x: Long): Long = {
    val m = x * 6364136223846793005L + 1442695040888963407L
    (m >>> 33) & 0x3fffffffL
  }

  def writeMediumFixture(resDir: java.nio.file.Path): Unit = {
    val nS = 12
    val samples = (1 to nS).map(i => s"GSM$i")
    def value(g: Int, s: Int): Double = {
      val base = 6.0 + g * 0.05
      val isCase = s < 6
      val effect =
        if (g < 5) { if (isCase) 2.0 else 0.0 }
        else if (g < 10) { if (isCase) 4.0 else 0.0 }
        else 0.0
      val noise =
        if (g < 5) ((s * 13) % 5 - 2) * 0.15 // shared cluster pattern
        else if (g < 10) (lcg(g * 97L + s) % 15 - 7) * 0.5
        else (lcg(g * 131L + s) % 15 - 7) * 0.05
      base + effect + noise
    }
    val sb = new StringBuilder
    sb ++= "!Series_title\t\"synthetic medium series\"\n"
    sb ++= "!Sample_geo_accession\t" +
      samples.map(s => s""""$s"""").mkString("\t") + "\n"
    sb ++= "!Sample_characteristics_ch1\t" + (0 until nS).map(s =>
      if (s < 6) "\"tissue: prostate cancer\"" else "\"tissue: benign\"")
      .mkString("\t") + "\n"
    sb ++= "\"ID_REF\"\t" + samples.map(s => s""""$s"""").mkString("\t") + "\n"
    for (g <- 0 until 20; p <- 0 until 2) {
      val probe = f"m${g}%02d_${p}_at"
      sb ++= s""""$probe"""" + "\t" +
        (0 until nS).map(s => f"${value(g, s)}%.2f").mkString("\t") + "\n"
    }
    Files.writeString(resDir.resolve("medium_geo_matrix.txt"), sb.toString)
    val map = new StringBuilder("PROBEID,SYMBOL\n")
    for (g <- 0 until 20; p <- 0 until 2)
      map ++= f""""m${g}%02d_${p}_at","${symbols(g)}"""" + "\n"
    Files.writeString(resDir.resolve("medium_probe_mapping.csv"),
      map.toString)
  }

  def main(args: Array[String]): Unit = {
    val dest = Paths.get(args(0))
    Files.createDirectories(dest)
    writeMediumFixture(Paths.get("src/test/resources"))
    val spark = SparkSession.builder()
      .master("local[4]").appName("graft-golden")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // direct filesystem paths: Test/runMain loads resources from the
    // packaged test jar, whose jar!-URLs Spark's file source can't read
    def res(n: String) = s"src/test/resources/$n"
    val out = Files.createTempDirectory("graft-golden-run").toString
    val cfg = PipelineConfig(
      matrixPath = res("tiny_geo_matrix.txt"),
      mappingCsvPath = res("tiny_probe_mapping.csv"),
      outputDir = out,
      ensemblSnapshotPath = Some(res("tiny_ensembl_snapshot.csv")),
      openTargetsSnapshotPath = Some(res("tiny_opentargets_snapshot.json")))
    runAndCopy(spark, cfg, dest, prefix = "")

    val outM = Files.createTempDirectory("graft-golden-run-m").toString
    val cfgM = cfg.copy(matrixPath = res("medium_geo_matrix.txt"),
      mappingCsvPath = res("medium_probe_mapping.csv"), outputDir = outM)
    runAndCopy(spark, cfgM, dest, prefix = "medium_")
    println(s"GOLDEN_OK dest=$dest")
    spark.stop()
  }

  private def runAndCopy(spark: SparkSession, cfg: PipelineConfig,
                         dest: java.nio.file.Path, prefix: String): Unit = {
    val result = new DrugTargetPipeline(spark, cfg).run()
    require(result.failures.isEmpty, s"failures: ${result.failures}")
    for (d <- goldenSinks) {
      val part = new java.io.File(s"${cfg.outputDir}/data/$d").listFiles()
        .filter(_.getName.endsWith(".csv"))
      require(part.length == 1, s"$d: expected 1 csv part")
      Files.copy(part.head.toPath, dest.resolve(s"$prefix$d.csv"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Files.copy(Paths.get(s"${cfg.outputDir}/summary.txt"),
      dest.resolve(s"${prefix}summary.txt"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
