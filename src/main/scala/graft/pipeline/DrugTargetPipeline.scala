package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.de.DifferentialExpression
import graft.enrich.TargetValidation
import graft.geo.GeoMatrixReader
import graft.graph.Centrality
import graft.mapping.ProbeMapping
import graft.net.CoExpressionNetwork
import graft.prep.Preprocess
import graft.report.{Figures, Sinks}

/** Configuration for one pipeline run (mirrors the reference ctor +
  * hard-coded constants, `pipeline2.py:140-153,661,944`). */
final case class PipelineConfig(
    matrixPath: String,
    mappingCsvPath: String,
    outputDir: String,
    ensemblSnapshotPath: Option[String] = None,
    openTargetsSnapshotPath: Option[String] = None,
    nTopGenes: Int = 500,
    corrThreshold: Double = 0.7,
    topNValidation: Int = 20)

/** A collected frame: its rows, and the local relation rebuilt from
  * them. */
private final case class Collected(rows: Seq[Row], df: DataFrame)

final case class PipelineResult(
    differential: Option[DataFrame],
    significant: Option[DataFrame],
    targetScores: Option[DataFrame],
    finalTargets: Option[DataFrame],
    failures: Seq[(String, Throwable)],
    stageSeconds: Seq[(String, Double)] = Seq.empty)

/** The nine-stage DAG (E1, `pipeline2.py:1148-1230`) as lazy Catalyst plans
  * materialized at each sink, with the reference's per-stage error isolation:
  * parse failure aborts, anything later degrades and the run continues.
  *
  * What is persisted (MEMORY_AND_DISK): the parsed long-form expression,
  * the normalized gene-level frame and the differential results. The gene
  * frame feeds differential analysis AND network construction, the two
  * heaviest consumers, so the scan/shuffle pipeline up to it runs once.
  * Network construction persists the top genes, their correlations and the
  * edges, which its own sinks read.
  *
  * What becomes a local relation: from network construction on, every table
  * is bounded by `nTopGenes` (the edge list by its square). The node list,
  * the edge list and the composite scores are each collected once and
  * rebuilt with their schema as local relations; centrality, the figure
  * data, validation and the summary read those. Why: persisting keeps a
  * frame's lineage, so every job over it, even a 30-row `limit` answered
  * from the cache, plans and schedules against the whole pipeline's plan.
  * Here lineage depth, not rows, sets the per-job cost; a job over a local
  * relation plans a handful of operators.
  */
final class DrugTargetPipeline(spark: SparkSession, config: PipelineConfig) {

  private val failures = scala.collection.mutable.ArrayBuffer.empty[(String, Throwable)]
  private val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  private def stage[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val out =
      try Some(body)
      catch {
        case e: Throwable =>
          failures += name -> e
          None
      }
    timings += name -> (System.nanoTime() - t0) / 1e9
    out
  }

  /** Collects `df` (callers pass only frames bounded by nTopGenes) and
    * rebuilds it as a local relation with the same schema. */
  private def collectLocal(df: DataFrame): Collected = {
    val rows = df.collect().toSeq
    Collected(rows, spark.createDataFrame(rows.asJava, df.schema))
  }

  def run(): PipelineResult = {
    val out = config.outputDir

    // Stage 1: parse (hard abort on failure, py:1158-1159). The parsed
    // long-form expression is persisted: preprocessing AND the summary's
    // probe count read it — without the persist the summary stage would
    // re-scan and re-parse the raw matrix text.
    val geo = GeoMatrixReader.read(spark, config.matrixPath)
    geo.expression.persist(StorageLevel.MEMORY_AND_DISK)
    stage("metadata_sink") {
      Sinks.writeCsv(geo.metadata.drop("characteristics").orderBy("ordinal"),
        s"$out/data/metadata")
    }

    // Stages 2+3: preprocess + probe collapse
    val genes = stage("preprocess_and_map") {
      val prepped = Preprocess.run(geo.expression, geo.sampleIds.length)
      val mapping = ProbeMapping.loadMappingCsv(spark, config.mappingCsvPath)
      val g = ProbeMapping.collapseToGenes(prepped, mapping)
        .persist(StorageLevel.MEMORY_AND_DISK)
      Sinks.writeCsv(
        Sinks.pivotWide(g, "gene", "sample_id", "value", geo.sampleIds),
        s"$out/data/gene_mapped")
      g
    }

    // Stage 4: differential expression
    val differential = genes.flatMap { g =>
      stage("differential_analysis") {
        val res = DifferentialExpression
          .run(spark, g, geo.sampleIds, geo.metadata)
          .persist(StorageLevel.MEMORY_AND_DISK)
        Sinks.writeCsv(res.orderBy("gene"), s"$out/data/differential_results")
        Sinks.writeCsv(Sinks.volcanoData(res).orderBy("gene"),
          s"$out/data/volcano_data")
        res
      }
    }
    // volcano figure (pipeline2.py:1029-1055): the same gene-grain table
    // the reference hands matplotlib, collected (bounded by the gene
    // dimension) and rendered by the pure-JDK Figures renderer
    differential.foreach { res =>
      stage("figure_volcano") {
        val pts = Sinks.volcanoData(res).orderBy("gene").collect()
          .filter(r => !r.isNullAt(1) && !r.isNullAt(2)).map { r =>
            (r.getDouble(1), r.getDouble(2),
              !r.isNullAt(3) && r.getBoolean(3))
          }.toSeq
        Figures.renderVolcano(pts, pThreshold = 0.05, fcThreshold = 1.0,
          s"$out/figures/volcano_plot.png")
      }
    }
    val significant = differential.flatMap { d =>
      stage("significant_genes") {
        val sig = DifferentialExpression.significant(d)
        Sinks.writeCsv(sig.orderBy("gene"), s"$out/data/significant_genes")
        sig
      }
    }

    // Stage 5: network construction
    val network = genes.flatMap { g =>
      stage("construct_network") {
        val top = CoExpressionNetwork.topGenes(g, significant, config.nTopGenes)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val corrs = CoExpressionNetwork.correlations(g, top)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val edges = CoExpressionNetwork.edges(corrs, config.corrThreshold)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nodes = collectLocal(top)
        val topSeq = nodes.rows.map(_.getString(0))
        Sinks.writeCsv(
          Sinks.pivotWide(
            corrs.select(col("g1"), col("g2"), col("corr"))
              .unionAll(corrs.select(col("g2"), col("g1"), col("corr")))
              .unionAll(top.select(col("gene").as("g1"), col("gene").as("g2"),
                lit(1.0).as("corr"))),
            "g1", "g2", "corr", topSeq),
          s"$out/data/correlation_matrix")
        val edgeList = collectLocal(edges)
        Sinks.writeGexf(topSeq, edgeList.rows
          .map(r => (r.getString(0), r.getString(1), r.getDouble(2))),
          s"$out/data/gene_network.gexf")
        (nodes, edgeList)
      }
    }

    // Stage 6: centrality analysis (G7 guards: < 2 nodes -> zero frame)
    val scores = network.flatMap { case (nodes, edges) =>
      stage("analyze_network") {
        val names = nodes.rows.map(_.getString(0))
        val composite =
          if (names.size < 2) {
            import spark.implicits._
            (if (names.isEmpty) Seq("PLACEHOLDER") else names)
              .map((_, 0.0, 0.0, 0.0, 0.0))
              .toDF("gene", "degree_centrality", "betweenness_centrality",
                "eigenvector_centrality", "composite_score")
          } else {
            val deg = Centrality.degreeCentrality(nodes.df, edges.df)
            val btw = Centrality.betweennessCentrality(spark, nodes.df, edges.df)
            val eig = Centrality.eigenvectorCentrality(spark, nodes.df, edges.df)
            Centrality.compositeScores(
              deg.join(btw, Seq("gene")).join(eig, Seq("gene")))
          }
        val collected = collectLocal(composite)
        Sinks.writeCsv(collected.df, s"$out/data/network_targets")
        collected
      }
    }
    val targetScores = scores.map(_.df)

    // Stage 6b: figure-data sinks (S10 network viz + barplot tables;
    // G5 subgraph + F10 placeholder filter live inside the builders)
    (network, targetScores) match {
      case (Some((_, edges)), Some(ts)) =>
        // one construction serves the CSV and the PNG stages; the lazy
        // holders keep plan construction inside the first stage that
        // forces it, so an AnalysisException from schema drift degrades
        // a stage rather than aborting the run
        lazy val vizData = Sinks.networkVizData(ts, edges.df)
        lazy val barplot = Sinks.barplotData(ts)
          .orderBy(col("composite_score").desc, col("gene"))
        stage("figure_viz_nodes") {
          Sinks.writeCsv(vizData._1.orderBy(col("node_size").desc, col("gene")),
            s"$out/data/network_viz_nodes")
        }
        stage("figure_viz_edges") {
          Sinks.writeCsv(vizData._2.orderBy("src", "dst"),
            s"$out/data/network_viz_edges")
        }
        stage("figure_barplot") {
          Sinks.writeCsv(barplot, s"$out/data/top_targets_barplot")
        }
        // PNG rendering (G6 + S10 at pixel grain, pipeline2.py:1059-1114):
        // spring-layout network for >= 2 real nodes, bar plot when any
        // non-placeholder target exists — the reference's own skip rules
        stage("figure_network_png") {
          val nodes = vizData._1
            .orderBy(col("node_size").desc, col("gene")).collect()
            .map(r => (r.getString(0), r.getDouble(1))).toSeq
          if (nodes.size > 1) {
            val es = vizData._2.orderBy("src", "dst").collect()
              .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
              .toSeq
            Figures.renderNetwork(nodes, es,
              s"$out/figures/network_visualization.png")
          }
        }
        stage("figure_barplot_png") {
          val tops = barplot.collect()
            .map(r => (r.getString(0), r.getDouble(1))).toSeq
          if (tops.nonEmpty)
            Figures.renderBarplot(tops, s"$out/figures/top_targets.png")
        }
      case _ => ()
    }

    // Stage 7: target validation against offline snapshots (skipped, like a
    // failed API, when no snapshot is configured)
    val finalTargets = targetScores.flatMap { ts =>
      (config.ensemblSnapshotPath, config.openTargetsSnapshotPath) match {
        case (Some(ens), Some(ot)) =>
          stage("validate_targets") {
            val ft = TargetValidation.validate(ts,
              TargetValidation.loadEnsemblSnapshot(spark, ens),
              TargetValidation.loadOpenTargetsSnapshot(spark, ot),
              config.topNValidation)
            Sinks.writeCsv(ft, s"$out/data/final_targets")
            ft
          }
        case _ => None
      }
    }

    // Stage 8: summary report
    stage("summary_report") {
      val meta = geo.metadata
      val nCase = meta.filter(col("condition") === "case").count()
      val nControl = meta.filter(col("condition") === "control").count()
      val nProbes = geo.expression.select("probe_id").distinct().count()
      val nGenes = genes.map(_.select("gene").distinct().count()).getOrElse(0L)
      val (nSig, nUp, nDown) = significant.map { s =>
        val r = s.agg(count(lit(1)), count(when(col("log2FC") > 0, 1)),
          count(when(col("log2FC") < 0, 1))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }.getOrElse((0L, 0L, 0L))
      val nNodes = network.map(_._1.rows.size.toLong).getOrElse(0L)
      val nEdges = network.map(_._2.rows.size.toLong).getOrElse(0L)
      // the collected scores are in (composite_score desc, gene) order
      val topTargets = scores.map(_.rows.take(10).map(r =>
        (r.getString(0), r.getAs[Double]("composite_score"))))
        .getOrElse(Seq.empty)
      Sinks.summaryReport(geo.sampleIds.length.toLong, nCase, nControl,
        nProbes, nGenes, nSig, nUp, nDown, nNodes, nEdges, topTargets,
        s"$out/summary.txt")
    }

    PipelineResult(differential, significant, targetScores, finalTargets,
      failures.toSeq, timings.toSeq)
  }
}
