package graft.tools

import org.apache.spark.sql.SparkSession

import graft.pipeline.{DrugTargetPipeline, PipelineConfig}

/** CLI entry for the full nine-stage pipeline. Prints one stderr line
  * per stage, `[pipeline] stage <name> <seconds>`, before `PIPELINE_DONE`.
  *
  * Usage: sbt "runMain graft.tools.RunPipeline <matrix.txt[.gz]>
  *   <mapping.csv> <outputDir> [ensemblSnapshot.csv] [openTargets.json]"
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunPipeline <matrix> <mapping.csv> <outDir> [ensembl.csv] [opentargets.json]")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = PipelineConfig(
      matrixPath = args(0), mappingCsvPath = args(1), outputDir = args(2),
      ensemblSnapshotPath = args.lift(3),
      openTargetsSnapshotPath = args.lift(4))
    val result = new DrugTargetPipeline(spark, cfg).run()
    result.failures.foreach { case (stage, e) =>
      System.err.println(s"[pipeline] stage $stage failed: ${e.getMessage}")
    }
    result.stageSeconds.foreach { case (stage, secs) =>
      System.err.println(f"[pipeline] stage $stage $secs%.3f")
    }
    println(s"PIPELINE_DONE failures=${result.failures.length} out=${args(2)}")
    spark.stop()
  }
}
