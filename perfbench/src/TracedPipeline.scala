package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.de.DifferentialExpression
import graft.enrich.TargetValidation
import graft.geo.GeoMatrixReader
import graft.graph.Centrality
import graft.mapping.ProbeMapping
import graft.net.CoExpressionNetwork
import graft.pipeline.PipelineConfig
import graft.prep.Preprocess
import graft.report.{Figures, Sinks}

/** The nine stages of `DrugTargetPipeline.run`, in its order and with its
  * sinks, each module call wrapped in a span of its layer. Every module's
  * output is persisted and materialized inside its own span, so the jobs
  * that compute it are attributed to that layer rather than to the sink
  * that would otherwise pull it lazily. Any stage failure throws: the
  * benchmark counts the whole run as failed.
  *
  * Its outputs must agree with the untraced run's as `OutputCheck`
  * defines; the benchmark checks that.
  */
final class TracedPipeline(spark: SparkSession, config: PipelineConfig, t: Tracer) {

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.write.format("noop").mode("overwrite").save()
    p
  }

  def run(): Unit = {
    val out = config.outputDir
    val geo = t.span("GeoMatrixReader.read", "geo") {
      val g = GeoMatrixReader.read(spark, config.matrixPath)
      materialize(g.expression)
      g
    }
    t.span("Sinks.writeCsv(metadata)", "report") {
      Sinks.writeCsv(geo.metadata.drop("characteristics").orderBy("ordinal"),
        s"$out/data/metadata")
    }

    val prepped = t.span("Preprocess.run", "prep") {
      materialize(Preprocess.run(geo.expression, geo.sampleIds.length))
    }
    val genes = t.span("ProbeMapping.collapseToGenes", "mapping") {
      val mapping = ProbeMapping.loadMappingCsv(spark, config.mappingCsvPath)
      materialize(ProbeMapping.collapseToGenes(prepped, mapping))
    }
    t.span("Sinks.writeCsv(gene_mapped)", "report") {
      Sinks.writeCsv(
        Sinks.pivotWide(genes, "gene", "sample_id", "value", geo.sampleIds),
        s"$out/data/gene_mapped")
    }

    val differential = t.span("DifferentialExpression.run", "de") {
      materialize(DifferentialExpression.run(spark, genes, geo.sampleIds, geo.metadata))
    }
    t.span("Sinks.writeCsv(differential)", "report") {
      Sinks.writeCsv(differential.orderBy("gene"), s"$out/data/differential_results")
      Sinks.writeCsv(Sinks.volcanoData(differential).orderBy("gene"),
        s"$out/data/volcano_data")
    }
    t.span("Figures.renderVolcano", "report") {
      val pts = Sinks.volcanoData(differential).orderBy("gene").collect()
        .filter(r => !r.isNullAt(1) && !r.isNullAt(2)).map { r =>
          (r.getDouble(1), r.getDouble(2), !r.isNullAt(3) && r.getBoolean(3))
        }.toSeq
      Figures.renderVolcano(pts, pThreshold = 0.05, fcThreshold = 1.0,
        s"$out/figures/volcano_plot.png")
    }
    val significant = t.span("DifferentialExpression.significant", "de") {
      materialize(DifferentialExpression.significant(differential))
    }
    t.span("Sinks.writeCsv(significant)", "report") {
      Sinks.writeCsv(significant.orderBy("gene"), s"$out/data/significant_genes")
    }

    val (top, corrs, edges, topSeq) = t.span("CoExpressionNetwork", "net") {
      val top = materialize(
        CoExpressionNetwork.topGenes(genes, Some(significant), config.nTopGenes))
      val corrs = materialize(CoExpressionNetwork.correlations(genes, top))
      val edges = materialize(CoExpressionNetwork.edges(corrs, config.corrThreshold))
      (top, corrs, edges, top.collect().map(_.getString(0)).toSeq)
    }
    t.span("Sinks.writeCsv(correlation_matrix)+writeGexf", "report") {
      Sinks.writeCsv(
        Sinks.pivotWide(
          corrs.select(col("g1"), col("g2"), col("corr"))
            .unionAll(corrs.select(col("g2"), col("g1"), col("corr")))
            .unionAll(top.select(col("gene").as("g1"), col("gene").as("g2"),
              lit(1.0).as("corr"))),
          "g1", "g2", "corr", topSeq),
        s"$out/data/correlation_matrix")
      val edgeSeq = edges.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
      Sinks.writeGexf(topSeq, edgeSeq, s"$out/data/gene_network.gexf")
    }

    val scores = t.span("Centrality", "graph") {
      require(top.count() >= 2, "benchmark inputs must give a network of >= 2 nodes")
      val nodes = top.select("gene")
      val deg = Centrality.degreeCentrality(nodes, edges)
      val btw = Centrality.betweennessCentrality(spark, nodes, edges)
      val eig = Centrality.eigenvectorCentrality(spark, nodes, edges)
      materialize(Centrality.compositeScores(
        deg.join(btw, Seq("gene")).join(eig, Seq("gene"))))
    }
    t.span("Sinks.writeCsv(network_targets)", "report") {
      Sinks.writeCsv(scores, s"$out/data/network_targets")
    }

    t.span("Sinks.figureData+Figures.render", "report") {
      val vizData = Sinks.networkVizData(scores, edges)
      Sinks.writeCsv(vizData._1.orderBy(col("node_size").desc, col("gene")),
        s"$out/data/network_viz_nodes")
      Sinks.writeCsv(vizData._2.orderBy("src", "dst"), s"$out/data/network_viz_edges")
      Sinks.writeCsv(
        Sinks.barplotData(scores).orderBy(col("composite_score").desc, col("gene")),
        s"$out/data/top_targets_barplot")
      val nodes = vizData._1.orderBy(col("node_size").desc, col("gene")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      if (nodes.size > 1) {
        val es = vizData._2.orderBy("src", "dst").collect()
          .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
        Figures.renderNetwork(nodes, es, s"$out/figures/network_visualization.png")
      }
      val tops = Sinks.barplotData(scores)
        .orderBy(col("composite_score").desc, col("gene")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      if (tops.nonEmpty) Figures.renderBarplot(tops, s"$out/figures/top_targets.png")
    }

    val finalTargets = t.span("TargetValidation.validate", "enrich") {
      materialize(TargetValidation.validate(scores,
        TargetValidation.loadEnsemblSnapshot(spark, config.ensemblSnapshotPath.get),
        TargetValidation.loadOpenTargetsSnapshot(spark, config.openTargetsSnapshotPath.get),
        config.topNValidation))
    }
    t.span("Sinks.writeCsv(final_targets)", "report") {
      Sinks.writeCsv(finalTargets, s"$out/data/final_targets")
    }

    t.span("Sinks.summaryReport", "report") {
      val meta = geo.metadata
      val nCase = meta.filter(col("condition") === "case").count()
      val nControl = meta.filter(col("condition") === "control").count()
      val nProbes = geo.expression.select("probe_id").distinct().count()
      val nGenes = genes.select("gene").distinct().count()
      val nSig = significant.count()
      val nUp = significant.filter(col("log2FC") > 0).count()
      val nDown = significant.filter(col("log2FC") < 0).count()
      val topTargets = scores.orderBy(col("composite_score").desc, col("gene"))
        .limit(10).collect()
        .map(r => (r.getString(0), r.getAs[Double]("composite_score"))).toSeq
      Sinks.summaryReport(geo.sampleIds.length.toLong, nCase, nControl,
        nProbes, nGenes, nSig, nUp, nDown, top.count(), edges.count(),
        topTargets, s"$out/summary.txt")
    }
  }
}
