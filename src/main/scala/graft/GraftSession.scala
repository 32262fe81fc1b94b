package graft

import org.apache.spark.sql.SparkSession

/** The one harness policy shared by the driver mains ([[Bench]], [[Probe]],
  * [[Plans]], [[Verify]]): session config, one-time fixture ETL and the
  * per-query cleanup. One place, so the plans Probe breaks down, Plans
  * dumps and Verify proves are the plans Bench times. NOT part of the
  * query surface: library callers bring their own session. */
object GraftSession {

  /** Local core count: `$SPARK_GRAFT_CPUS`, else every host core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // codegen class cache sized to the suite (default 100): the
      // interleaved-pass protocol runs ~195 distinct plans per pass, so
      // at the default size every pass evicts everything and every query
      // re-pays generated-class compilation each rep (~50 s across the
      // suite, measured). A long-lived production driver running a
      // recurring query set would size this the same way.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // data-derived reduce parallelism (guide §2.2): with the default
      // parallelismFirst=true, AQE coalesces post-shuffle partitions only
      // down to the core count, so every reduce stage inherits cpus-many
      // near-empty tasks whatever the data volume — the round-21 scaling
      // block measured the FULL SUITE faster at 8 cores than 32 purely on
      // that per-task fixed cost. parallelismFirst=false makes AQE honor
      // the advisory target size instead, so reduce partition counts are
      // a function of measured shuffle bytes — the same sizing rule that
      // governs last-stage aggregates at 100 TB (a 6.4 TB shuffle still
      // fans out to ~100k partitions at the 64 MB default; a 100 KB one
      // no longer pays 32 empty tasks). Advisory size is env-overridable
      // so cluster runs can tune bytes-per-task without a rebuild.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run one setup stage in ISOLATION: queries self-ensure their own
    * staging, so a broken stage costs only the queries that need it
    * (their ensure re-throws inside the per-query try) — never the whole
    * run. Round 11's bench died in its setup block on a fixture encoding
    * change and zeroed every number. NonFatal only: an OOM/LinkageError
    * leaves the JVM in a state where every later timing is garbage —
    * better the rc=1 than a full run of numbers from a corrupted session. */
  def setup(what: String)(body: => Unit): Unit =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] setup $what failed " +
          s"(continuing; affected queries will fail individually): $e")
    }

  /** One-time layout ETL (bucketed tables, the IVF index), fixture
    * staging (text/csv/jsonl files, the streaming landing dirs, export
    * shards) and the shared fit-verification yardstick, all OUTSIDE any
    * timing: join_bucketed must measure the exchange-free join (not the
    * CTAS), the scan and streaming queries the scan (not the staging
    * write), and kmeans_fit the MLlib fit (not the memo fill of the
    * reference-Lloyd cost its three variants share — round-7 ADVICE). */
  def ensureFixtures(spark: SparkSession, sfDir: String): Unit = {
    setup(s"bucketed layouts ($sfDir)") {
      graft.sources.StorageOps.ensureLayouts(spark, sfDir)
      graft.sources.StorageOps.ensureRebucketed(spark, sfDir) }
    setup(s"text fixtures ($sfDir)") {
      graft.sources.TextIO.ensureFixtures(spark, sfDir) }
    setup(s"streaming landing dirs ($sfDir)") {
      graft.streaming.StreamingOps.stageDir(spark, sfDir, "events")
      graft.streaming.StreamingOps.stageDir(spark, sfDir, "documents"); () }
    setup(s"ivf index ($sfDir)") {
      graft.operators.SimilarityOps.ensureIvfIndex(spark, sfDir); () }
    setup(s"export layouts ($sfDir)") {
      graft.operators.PipelineOps.ensureExportShards(spark, sfDir)
      graft.sources.StorageOps.ensureBaseManifest(spark, sfDir); () }
    setup(s"mllib ref warm ($sfDir)") {
      graft.operators.MLlibKMeans.warmRef(spark, sfDir) }
  }

  /** Per-query isolation: caches AND checkpoint/persisted blocks built
    * inside one query (iterative k-means loops, LSH band self-joins) must
    * not linger into the next query's timing or accumulate storage across
    * the full query sequence (dedup_ngram measured 12 s mid-sequence vs
    * 5 s isolated before this). clearCache only empties the SQL
    * CacheManager; localCheckpoint blocks are RDD-level and otherwise wait
    * for driver GC + ContextCleaner (round-7 ADVICE), so drop them
    * explicitly. ivf_index_build's throwaway output is swept here too,
    * outside any timed region: deleting the just-built index is teardown,
    * not build ETL (round-8 ADVICE), and the cells df it returns is
    * localCheckpoint-pinned so the files are not needed afterwards. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    graft.sources.Staging.deleteRecursively(
      java.nio.file.Paths.get("target/ivf-bench"))
  }
}
