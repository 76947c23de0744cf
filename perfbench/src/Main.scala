package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.{DrugTargetPipeline, PipelineConfig}

/** Entry points of the harness JVM; `perfbench/run.py` builds and calls it.
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <queriesTsv>
  *   Main --gen <dir> <seed> <probes>              pipeline inputs only
  *   Main --pin <queriesTsv> <dataDir> <outDir>    each query once, to parquet + engine hash
  *   Main --catalog-info <queriesTsv> <out.json>   catalog membership and oracle SQL
  *   Main --compare <outDirA> <outDirB>            OutputCheck; exit 1 if they disagree
  */
object Main {

  val Pipeline = "pipeline_gse46602"
  /** Pipeline probes: GSE46602's 54,675 scaled down so that a pass fits
    * the time budget (~3,000 genes at three probes per gene). */
  val Probes = 9000
  /** Share of genes with a planted shift: 450 significant genes, the
    * paper's network size (nTopGenes caps it at 500). */
  val PlantFrac = 0.15
  val TopNValidation = 20
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def readQueries(tsv: String): Seq[(String, String, String)] =
    Files.readAllLines(Paths.get(tsv)).asScala.toSeq
      .filterNot(l => l.trim.isEmpty || l.startsWith("#"))
      .map { l => val Array(w, q, layer) = l.split("\t"); (w, q, layer) }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("--gen", dir, seed, probes) =>
      val p = PipelineInputs.write(dir, seed.toLong, probes.toInt, PlantFrac)
      println(s"planted up=${p.up.size} down=${p.down.size}")
    case Seq("--catalog-info", tsv, out) =>
      val body = readQueries(tsv).map { case (_, q, _) =>
        s"${jstr(q)}:{\"in_catalog\":${SparkEntry.queries.contains(q)}," +
          s"\"oracle_sql\":${SparkEntry.oracleSql.get(q).map(jstr).getOrElse("null")}}"
      }
      Files.write(Paths.get(out), body.mkString("{", ",", "}\n").getBytes("UTF-8"))
    case Seq("--compare", a, b) =>
      val (_, problems) = OutputCheck.compare(OutputCheck.read(a), OutputCheck.read(b))
      problems.foreach(println)
      sys.exit(if (problems.isEmpty) 0 else 1)
    case Seq("--pin", tsv, dataDir, out) =>
      val spark = session(Runtime.getRuntime.availableProcessors, out)
      val body = readQueries(tsv).map { case (_, q, _) =>
        spark.catalog.clearCache()
        val df = SparkEntry.queries(q)(spark, dataDir)
        val obs = Observation()
        ResultHash.observe(df, obs).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        s"${jstr(q)}:${jstr(ResultHash.read(df, obs))}"
      }
      Files.write(Paths.get(s"$out/engine_hashes.json"),
        body.mkString("{", ",", "}\n").getBytes("UTF-8"))
      spark.stop()
    case Seq(workload, seed, seconds, trace, work, dataDir, tsv) =>
      new Bench(workload, seed.toLong, seconds.toDouble, trace == "1", work, dataDir,
        tsv).run()
    case _ =>
      System.err.println("usage: see perfbench/src/Main.scala")
      sys.exit(2)
  }

  /** The session configuration of `graft.Bench`, with Spark's scratch and
    * warehouse directories under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Every regular file under `dir`; none if it does not exist. */
  def walk(dir: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** JSON string literal: quotes, backslashes and control characters escaped. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** Order-insensitive hash of a query result, collected by `observe` on the
  * rows already flowing to the sink, so checking a result costs no second
  * execution: row count plus the sums of the high and low 32 bits of each
  * row's xxhash64 over its columns in name order, and the schema. */
object ResultHash {
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val h = xxhash64(df.columns.sorted.toSeq.map(c => df.col(s"`$c`")): _*)
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)).as("lo"))
  }

  def read(df: DataFrame, obs: Observation): String = {
    val m = obs.get
    val schema = df.schema.fields.sortBy(_.name)
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    s"${m("rows")}:${m("hi")}:${m("lo")}|$schema"
  }
}

/** One benchmark invocation: set up once (session + inputs), run one cold
  * pass, then warm passes until `seconds` have elapsed, at least one. A
  * traced invocation runs its warm passes in triples until `seconds` have
  * elapsed, at least one: untraced, traced, untraced, or traced,
  * untraced, traced, as the seed picks. Each pipeline pass's outputs are
  * checked after it. Writes `result.json` and `spans.jsonl` in `work`.
  * `setup_s` is JVM start to the end of set-up.
  */
final class Bench(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  work: String, dataDir: String, queriesTsv: String) {
  import Main._

  /** One operation: one pipeline run or one catalog query execution. Its
    * body returns the catalog result hash, read after the clock stops. */
  final case class Op(name: String, run: Boolean => Option[() => String])

  final case class PassStats(traced: Boolean, wallNs: Long, total: Counters,
                             layers: Map[String, Counters], cachedPeak: Long,
                             codegenCompiles: Long, codegenNs: Long,
                             selfNs: Map[String, Long], planNs: Map[String, Long],
                             execNs: Map[String, Long], bytesWritten: Long)

  private val cores = Runtime.getRuntime.availableProcessors
  private val isPipeline = workload == Pipeline
  private var spark: SparkSession = _
  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]
  private val observed = ArrayBuffer.empty[String]
  private val inputDir = s"$work/input"
  private val outPlain = s"$work/out/plain"
  private val outTraced = s"$work/out/traced"
  private var planted: PipelineInputs.Planted = _
  private var firstOutputs: Option[Map[String, Array[Byte]]] = None
  /** output file -> passes in which it was not byte-identical to the first
    * pass's (recorded, not checked: see OutputCheck) */
  private val byteDiffs = scala.collection.mutable.TreeMap.empty[String, Int]
  /** pipeline check name -> passed on every pass checked */
  private val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]

  private val querySet: Seq[(String, String)] =
    if (isPipeline) Nil
    else {
      val qs = readQueries(queriesTsv).collect { case (w, q, l) if w == workload => (q, l) }
      require(qs.nonEmpty, s"unknown workload $workload")
      new Random(seed).shuffle(qs)
    }

  /** Session creation plus input generation, or location of the tables
    * and their parquet schemas. */
  private def setUp(): Unit = {
    spark = session(cores, work)
    if (isPipeline) planted = PipelineInputs.write(inputDir, seed, Probes, PlantFrac)
    else Tables.foreach { t =>
      require(Files.exists(Paths.get(s"$dataDir/$t.parquet")), s"missing table $t in $dataDir")
      spark.read.parquet(s"$dataDir/$t.parquet").schema
    }
  }

  private def pipelineConfig(out: String): PipelineConfig = {
    val f = PipelineInputs.paths(inputDir)
    PipelineConfig(f.matrix, f.mapping, out, Some(f.ensembl), Some(f.openTargets),
      topNValidation = TopNValidation)
  }

  private def ops(tracer: Tracer): Seq[Op] =
    if (isPipeline)
      Seq(Op("pipeline", traced => {
        if (traced) new TracedPipeline(spark, pipelineConfig(outTraced), tracer).run()
        else {
          val r = new DrugTargetPipeline(spark, pipelineConfig(outPlain)).run()
          if (r.failures.nonEmpty)
            throw new IllegalStateException("stage failures: " +
              r.failures.map { case (n, e) => s"$n: $e" }.mkString("; "))
        }
        None
      }))
    else querySet.map { case (q, layer) =>
      val fn = SparkEntry.queries(q)
      Op(q, _ =>
        tracer.span(q, layer) {
          val t0 = System.nanoTime()
          val df = fn(spark, dataDir)
          val t1 = System.nanoTime()
          val obs = Observation()
          ResultHash.observe(df, obs).write.format("noop").mode("overwrite").save()
          tracer.phases(t1 - t0, System.nanoTime() - t1)
          Some(() => ResultHash.read(df, obs))
        })
    }

  private def runPass(id: Int, traced: Boolean, tracer: Tracer,
                      listener: LayerListener): PassStats = {
    tracer.pass = id
    tracer.enabled = traced
    spark.catalog.clearCache()
    System.gc()
    Bus.drain(spark.sparkContext)
    listener.reset()
    val cg0 = Codegen.compiles
    val cgNs0 = Codegen.compileNs
    var wall = 0L
    ops(tracer).foreach { op =>
      // as graft.Bench: no operation is timed against another's cached
      // frames (RDD blocks the engine pins on purpose stay)
      spark.catalog.clearCache()
      Bus.drain(spark.sparkContext)
      val stageFailures = listener.failedStageCount
      val t0 = System.nanoTime()
      val res =
        try Right(op.run(traced))
        catch { case e: Throwable => Left(e.toString) }
      wall += System.nanoTime() - t0
      Bus.drain(spark.sparkContext)
      attempted += 1
      res match {
        case Left(e) => fail(s"pass $id ${op.name}: $e")
        case Right(_) if listener.failedStageCount > stageFailures =>
          fail(s"pass $id ${op.name}: stage failure")
        case Right(hash) =>
          hash.foreach(h => observed += s"""{"pass":$id,"query":${jstr(op.name)},"hash":${jstr(h())}}""")
      }
    }
    Bus.drain(spark.sparkContext)
    val (layers, peak) = listener.snapshot()
    val total = new Counters
    layers.values.foreach(total.add)
    val spans = tracer.spans.filter(_.pass == id)
    def byLayer(f: Span => Long) = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(f).sum }
    PassStats(traced, wall, total, layers, peak,
      Codegen.compiles - cg0, Codegen.compileNs - cgNs0,
      tracer.selfNsByLayer(id), byLayer(_.planNs), byLayer(_.execNs),
      if (isPipeline) walk(if (traced) outTraced else outPlain).map(Files.size).sum else 0L)
  }

  private def fail(msg: String): Unit = {
    failed += 1
    failures += msg
  }

  private def csvRows(sinkDir: String): Seq[Array[String]] =
    walk(sinkDir).filter(_.getFileName.toString.matches("part-.*\\.csv"))
      .sortBy(_.toString).flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .map(_.split(",", -1))

  /** Checks the outputs one pipeline pass wrote: the significant set equals
    * the planted set with the same up/down split, final_targets has
    * topNValidation rows, and every file agrees with what the first pass
    * wrote, as `OutputCheck` defines (so traced passes must write what
    * untraced ones do). A failed check fails that pass's run. */
  private def checkPipelinePass(id: Int, dir: String): Unit = {
    val sig = csvRows(s"$dir/data/significant_genes")
    val up = sig.filter(_(1).toDouble > 0).map(_(0)).toSet
    val down = sig.filter(_(1).toDouble < 0).map(_(0)).toSet
    val nFinal = csvRows(s"$dir/data/final_targets").size
    val outputs = OutputCheck.read(dir)
    val ref = firstOutputs.getOrElse { firstOutputs = Some(outputs); outputs }
    val (differing, problems) = OutputCheck.compare(ref, outputs)
    differing.foreach(k => byteDiffs(k) = byteDiffs.getOrElse(k, 0) + 1)
    val results = Seq(
      "significant_equals_planted" -> (up == planted.up && down == planted.down),
      "final_targets_rows" -> (nFinal == TopNValidation),
      "outputs_match_first_pass" -> problems.isEmpty)
    results.foreach { case (k, ok) => checks(k) = checks.getOrElse(k, true) && ok }
    val bad = results.collect { case (k, false) => k }
    if (bad.nonEmpty) fail(s"pass $id checks ${bad.mkString(",")}: significant up " +
      s"${up.size}/${planted.up.size} down ${down.size}/${planted.down.size}, final_targets " +
      s"$nFinal rows, ${problems.mkString("; ")}")
  }

  /** Seconds from JVM start to the end of set-up. Set-up is timed once,
    * in this fresh JVM: a second set-up in the same JVM would skip class
    * loading and static initialisation, which every user pays. */
  private def timedSetUp(): Double = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmToMain = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val t0 = System.nanoTime()
    setUp()
    jvmToMain + (System.nanoTime() - t0) / 1e9
  }

  def run(): Unit = {
    val setupS = timedSetUp()
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext)

    var id = 0
    def pass(traced: Boolean): PassStats = {
      val failedBefore = failed
      val p = runPass(id, traced, tracer, listener)
      if (isPipeline && failed == failedBefore)
        checkPipelinePass(id, if (traced) outTraced else outPlain)
      id += 1
      p
    }
    val cold = pass(trace)
    val warm = ArrayBuffer.empty[PassStats]
    val triples = ArrayBuffer.empty[Seq[PassStats]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    if (!trace) do warm += pass(traced = false) while (System.nanoTime() < deadline)
    else {
      // Warm passes still speed up pass after pass. The outer two passes of
      // a triple average to the time of the middle one as far as a steady
      // speed-up goes, so their difference is the cost of tracing, not of
      // order.
      val outerTraced = Math.floorMod(seed, 2L) == 1L
      do triples += Seq(outerTraced, !outerTraced, outerTraced).map(pass)
      while (System.nanoTime() < deadline)
    }
    Files.write(Paths.get(s"$work/spans.jsonl"),
      tracer.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    writeResult(setupS, cold, warm.toSeq, triples.toSeq)
    spark.stop()
  }

  private def writeResult(setupS: Double, cold: PassStats, plain: Seq[PassStats],
                          triples: Seq[Seq[PassStats]]): Unit = {
    val walls = plain.map(_.wallNs / 1e9)
    val fields = ArrayBuffer.empty[(String, String)]
    def kv(k: String, v: String): Unit = fields += k -> v
    def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    kv("workload", jstr(workload))
    kv("seed", seed.toString)
    kv("trace", trace.toString)
    kv("nproc", cores.toString)
    kv("xmx_mb", (Runtime.getRuntime.maxMemory >> 20).toString)
    kv("spark_version", jstr(spark.version))
    kv("scala_version", jstr(scala.util.Properties.versionNumberString))
    kv("java_version", jstr(System.getProperty("java.version")))
    kv("probes", if (isPipeline) Probes.toString else "null")
    kv("queries", arr(querySet.map(q => jstr(q._1))))
    kv("setup_s", num(setupS))
    kv("cold_s", num(cold.wallNs / 1e9))
    kv("wall_s", num(median(walls)))
    kv("wall_passes_s", arr(walls.map(num)))
    kv("task_cpu_s", num(median(plain.map(_.total.cpuNs / 1e9))))
    kv("shuffle_bytes", num(median(plain.map(_.total.shuffleBytes.toDouble))))
    kv("cached_peak_mb", num(median(plain.map(_.cachedPeak / 1048576.0))))
    kv("attempted", attempted.toString)
    kv("failed", failed.toString)
    kv("failures", arr(failures.toSeq.map(jstr)))
    kv("checks", checks.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}"))
    kv("byte_differing_outputs",
      byteDiffs.map { case (k, n) => jstr(k) + ":" + n }.mkString("{", ",", "}"))
    kv("observed", arr(observed.toSeq))
    if (trace) kv("layers", layerMetrics(cold, triples))
    Files.write(Paths.get(s"$work/result.json"),
      fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}\n").getBytes("UTF-8"))
  }

  /** Per-layer metrics: medians over the traced warm passes
    * (kernel.cold_* from the cold pass, which a traced invocation also
    * traces). The overhead is the mean over the triples of the traced
    * minus the untraced time, each side averaged within its triple. */
  private def layerMetrics(cold: PassStats, triples: Seq[Seq[PassStats]]): String = {
    val traced = triples.flatten.filter(_.traced)
    def meanWall(ps: Seq[PassStats]) = ps.map(_.wallNs / 1e9).sum / ps.size
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def med(f: PassStats => Double) = median(traced.map(f))
    def cnt(p: PassStats, l: String) = p.layers.getOrElse(l, new Counters)
    Layers.all.foreach { l =>
      m(s"$l.busy_s") = med(_.selfNs.getOrElse(l, 0L) / 1e9)
      m(s"$l.jobs") = med(cnt(_, l).jobs.toDouble)
      m(s"$l.tasks") = med(cnt(_, l).tasks.toDouble)
      m(s"$l.task_cpu_s") = med(cnt(_, l).cpuNs / 1e9)
      m(s"$l.empty_tasks") = med(cnt(_, l).emptyTasks.toDouble)
      m(s"$l.shuffle_bytes") = med(cnt(_, l).shuffleBytes.toDouble)
      m(s"$l.spill_bytes") = med(cnt(_, l).spillBytes.toDouble)
      if (Layers.catalog(l)) {
        m(s"$l.plan_s") = med(_.planNs.getOrElse(l, 0L) / 1e9)
        m(s"$l.exec_s") = med(_.execNs.getOrElse(l, 0L) / 1e9)
      }
    }
    m("unattributed.jobs") = med(cnt(_, "").jobs.toDouble)
    m("unattributed.tasks") = med(cnt(_, "").tasks.toDouble)
    m("kernel.codegen_compiles") = med(_.codegenCompiles.toDouble)
    m("kernel.codegen_s") = med(_.codegenNs / 1e9)
    m("kernel.cold_codegen_compiles") = cold.codegenCompiles.toDouble
    m("kernel.cold_codegen_s") = cold.codegenNs / 1e9
    m("report.bytes_written") = med(_.bytesWritten.toDouble)
    m("trace.wall_s") = med(_.wallNs / 1e9)
    m("trace.overhead_s") = triples.map { t =>
      meanWall(t.filter(_.traced)) - meanWall(t.filterNot(_.traced)) }.sum / triples.size
    m.map { case (k, v) => jstr(k) + ":" + num(v) }.mkString("{", ",", "}")
  }
}

/** The layers spans and job groups are attributed to: graft's module names. */
object Layers {
  val all: Seq[String] = Seq("geo", "prep", "mapping", "de", "net", "graph", "enrich",
    "report", "ml", "dedup", "text", "sketch", "web", "spark")
  /** layers the catalog queries in queries.tsv are tagged with; these also
    * get plan_s/exec_s */
  val catalog: Set[String] = Set("ml", "dedup", "text", "sketch", "web", "spark")
}
