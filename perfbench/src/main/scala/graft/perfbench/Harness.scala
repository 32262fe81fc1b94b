package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchLayout
import graft.operators.KMeansOps

/** The repository benchmark's JVM side: generates a workload's inputs from
  * a seed, stages them through the program's own setup calls, checks every
  * query's output once, then times warm passes over the workload's queries
  * for a fixed window. `perfbench/run.py` builds and launches it, compares
  * the checked outputs with the DuckDB oracle and prints the result line.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <workDir>
  *   [--tiny] [--plant-wrong <query>]
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** One workload: table sizes and the queries of one pass. */
  case class Workload(sizes: Gen.Sizes, queries: Seq[String],
      streamStaged: Boolean = false)

  /** Each query list is a fixed subset of its family: a run starts a cold
    * JVM, sets up three times and checks every output before its window,
    * so a pass must stay a few seconds long for the benchmark's runs to fit
    * their time budget. */
  val Workloads: Map[String, Workload] = Map(
    "kmeans_bulk" -> Workload(Gen.Sizes(documents = 500, events = 1000,
      embeddings = 50000, blobs = 3), Seq("lloyd_k32", "kmeans_cost_sweep")),
    "curate" -> Workload(Gen.Sizes(documents = 5000, events = 20000,
      embeddings = 2000), Seq("dedup_exact", "dedup_simhash_pairs",
      "pipeline_curate", "sink_jsonl", "streaming_dedup",
      "streaming_window_agg"), streamStaged = true))

  /** Table sizes of the smoke test (the sf0.001 fixture's). */
  val TinySizes = Gen.Sizes(documents = 500, events = 1000, embeddings = 500)

  val SetupReps = 3
  /** Untimed passes after the check pass: the JIT keeps improving the
    * generated code for the first few passes of a fresh JVM. */
  val WarmPasses = 3
  /** Tables whose scan layout the benchmark pins; BenchLayout's split
    * counts for them come from the environment `run.py` sets. */
  val LayoutTables = Seq("lineitem", "events", "documents", "embeddings",
    "orders")
  val SetupStages = Seq("generate", "layout", "stream_stage")

  /** The bulk workload's fixed-trip Lloyd: k=32 centers seeded by the
    * program's sampleK, five trips whatever the movement (tol 0). Its
    * output is the final cost, checked against the cost at the generating
    * centers. */
  val LloydK = 32
  val LloydTrips = 5
  /** With every blob seeded, each Lloyd recompute can only lower a blob's
    * cost below the cost at its generating center, and splitting a 64-d
    * Gaussian among several centers lowers it by little. A blob left
    * unseeded (three blobs, 32 seeds: odds under 1e-5) or a wrong
    * assignment costs several times more. */
  val CostBand = (0.80, 1.02)

  private def lloydK32(s: SparkSession, d: String): DataFrame = {
    val pts = KMeansOps.points(s, d).localCheckpoint()
    val init = KMeansOps.collectCenters(KMeansOps.sampleK(pts, LloydK))
    val (centers, _) = KMeansOps.lloyd(pts, init, LloydTrips, tol = 0.0)
    pts.agg(sum(KMeansOps.minSqDistCol(col("v"), centers)).as("cost"))
  }

  private val Extra: Map[String, Query] = Map("lloyd_k32" -> lloydK32 _)

  def query(name: String): Query =
    Extra.getOrElse(name, graft.SparkEntry.queries(name))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated percentile, p in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else {
      val line = Files.readAllLines(status).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    }
  }

  private def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, workDir) = args.take(5)
    val flags = args.drop(5)
    val tiny = flags.contains("--tiny")
    val plantWrong = flags.sliding(2).collectFirst {
      case Array("--plant-wrong", q) => q
    }
    val wl = Workloads.getOrElse(wlName,
      throw new IllegalArgumentException(s"unknown workload $wlName"))
    val sizes = if (tiny) TinySizes.copy(blobs = wl.sizes.blobs)
      else wl.sizes
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors()

    // The benchmark times what the oracle proves: md5 sketch hashes, and
    // no scan-layout override left over from anything else in the JVM.
    System.setProperty("graft.fastHash", "false")
    BenchLayout.clearOverrides()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val trace = new Trace(spark)

    // ---- set-up, SetupReps times from an empty staging area; the last
    // rep's inputs are the ones measured
    val stageMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def stage[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      val r = body
      stageMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t) / 1e6
      r
    }
    val setupS = (1 to SetupReps).map { r =>
      val dir = Paths.get(workDir, "inputs", s"sf-$r").toAbsolutePath.toString
      graft.sources.Staging.deleteRecursively(Paths.get(dir))
      val t = System.nanoTime()
      stage("generate")(Gen.write(spark, dir, seed, sizes))
      stage("layout")(BenchLayout.stage(spark, dir, cpus))
      if (wl.streamStaged) stage("stream_stage") {
        graft.streaming.StreamingOps.stageDir(spark, dir, "events")
        graft.streaming.StreamingOps.stageDir(spark, dir, "documents")
      }
      (System.nanoTime() - t) / 1e9
    }
    val sfDir = Paths.get(workDir, "inputs", s"sf-$SetupReps")
      .toAbsolutePath.toString
    val layout = LayoutTables.map(t =>
      t -> sys.props.get(s"graft.${t}Dir").map(_ => BenchLayout.split(t))
        .getOrElse(1)).toMap

    // ---- check pass: untimed, every output written for run.py's oracle
    // compare
    val attempted = mutable.Map.empty[String, Int].withDefaultValue(0)
    val failed = mutable.Map.empty[String, Int].withDefaultValue(0)
    val errors = mutable.LinkedHashMap.empty[String, String]
    val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val outDir = Paths.get(workDir, "out").toAbsolutePath.toString
    val tc = System.nanoTime()
    for (q <- wl.queries) {
      clearState(spark)
      attempted(q) += 1
      try {
        val df = query(q)(spark, sfDir)
        val out = if (plantWrong.contains(q)) df.limit(0) else df
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        checks(q) = Map("dir" -> s"$outDir/$q") ++
          graft.SparkEntry.oracleSql.get(q).map("oracle" -> _)
        if (q == "lloyd_k32") {
          val cost = spark.read.parquet(s"$outDir/$q").head().getDouble(0)
          val centers = Gen.blobCenters(seed, sizes).zipWithIndex
            .map { case (c, i) => (i, c) }
          val genCost = KMeansOps.points(spark, sfDir)
            .agg(sum(KMeansOps.minSqDistCol(col("v"), centers)))
            .head().getDouble(0)
          val ratio = cost / genCost
          checks(q) = checks(q) ++ Map("cost" -> cost,
            "generating_cost" -> genCost, "cost_ratio" -> ratio)
          if (ratio < CostBand._1 || ratio > CostBand._2)
            throw new IllegalStateException(f"final cost $cost%.2f is " +
              f"$ratio%.4f x the cost at the generating centers, outside " +
              s"$CostBand")
        }
      } catch {
        case NonFatal(e) =>
          failed(q) += 1
          errors(q) = s"check: $e"
          checks.remove(q)
      }
    }
    val checkPassS = (System.nanoTime() - tc) / 1e9

    // ---- untimed warm passes, then timed passes over the window;
    // traced runs alternate traced and untraced passes so the tracing
    // overhead is measured in one JVM
    case class Pass(wallS: Double, tasks: Long, traced: Boolean)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val samples = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val totals = new Trace.Totals(cpus)
    def runPass(n: Int, timed: Boolean, tracePass: Boolean): Pass = {
      val order = new scala.util.Random(seed * 1000003L + n)
        .shuffle(wl.queries)
      trace.take()
      val tasks0 = trace.tasks.get()
      val tp = System.nanoTime()
      for (q <- order) {
        clearState(spark)
        if (tracePass) { trace.take(); trace.enabled = true }
        attempted(q) += 1
        val qs = System.currentTimeMillis()
        val t = System.nanoTime()
        var build = Trace.Span(qs, qs)
        try {
          val df = query(q)(spark, sfDir)
          build = Trace.Span(qs, System.currentTimeMillis())
          df.write.mode("overwrite").format("noop").save()
          val sec = (System.nanoTime() - t) / 1e9
          if (timed) {
            samples += sec
            perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += sec
          }
        } catch {
          case NonFatal(e) =>
            failed(q) += 1
            errors.getOrElseUpdate(q, s"pass $n: $e")
        }
        if (tracePass) {
          val span = Trace.Span(qs, System.currentTimeMillis())
          trace.enabled = false
          totals.add(span, build, trace.take())
        }
      }
      val wall = (System.nanoTime() - tp) / 1e9
      trace.take()
      Pass(wall, trace.tasks.get() - tasks0, tracePass)
    }
    val warm = (1 to WarmPasses).map(n =>
      runPass(-n, timed = false, tracePass = false))
    val codegen0 = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime
    val window0 = System.nanoTime()
    def elapsed = (System.nanoTime() - window0) / 1e9
    while (elapsed < seconds || (traced && passes.count(_.traced) == 0) ||
        (traced && passes.count(!_.traced) == 0)) {
      passes += runPass(passes.size + 1, timed = true,
        tracePass = traced && passes.size % 2 == 0)
    }
    val codegenMs = (org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime - codegen0) / 1e6

    val untracedWalls = passes.filterNot(_.traced).map(_.wallS).toSeq
    val endToEnd = Map(
      "setup_s" -> (sessionMs / 1e3 + median(setupS)),
      "pass_s" -> median(untracedWalls),
      "query_s.p50" -> median(samples.toSeq),
      "query_s.p90" -> percentile(samples.toSeq, 0.9))
    val perLayer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val nTraced = passes.count(_.traced)
        val tracedWall = median(passes.filter(_.traced).map(_.wallS).toSeq)
        totals.metrics(nTraced) ++
          SetupStages.map(s => s"setup.${s}_ms" ->
            stageMs.get(s).map(b => median(b.toSeq)).getOrElse(0.0)) ++
          Map("setup.session_ms" -> sessionMs,
            "driver.peak_rss_mb" -> peakRssMb(),
            "catalyst.codegen_compile_ms" -> codegenMs / passes.size,
            "trace.overhead_frac" -> (tracedWall / median(untracedWalls) - 1),
            "trace.pass_s" -> tracedWall) ++
          Kernels.measure(spark, sfDir)
      }
    spark.stop()

    val result = Map(
      "workload" -> wlName, "seed" -> seed, "cores" -> cpus, "sf_dir" -> sfDir,
      "hash_mode" -> "md5", "layout" -> layout,
      "setup_reps_s" -> setupS, "check_pass_s" -> checkPassS,
      "warm_passes" -> warm.map(p => Map("wall_s" -> p.wallS,
        "tasks" -> p.tasks)),
      "passes" -> passes.map(p => Map("wall_s" -> p.wallS,
        "tasks" -> p.tasks, "traced" -> p.traced)),
      "query_samples" -> samples.size, "session_s" -> sessionMs / 1e3,
      "query_median_s" -> perQuery.map { case (q, xs) =>
        q -> median(xs.toSeq) },
      "attempted" -> attempted.toMap, "failed" -> failed.toMap,
      "errors" -> errors, "checks" -> checks,
      "end_to_end" -> endToEnd, "per_layer" -> perLayer)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(Paths.get(workDir, "result.json").toFile, result)
  }
}
