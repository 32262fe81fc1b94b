package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump `.explain("formatted")` for declared queries to files —
  * the optimization rounds' before/after plan evidence
  * (`plans/rNN/<query>_<suffix>.txt`). Session, fixtures and scan layout
  * are [[Bench]]'s ([[GraftSession]], [[BenchLayout]]) so the dumped plans
  * are the shapes the bench actually times. NOT part of the shipped library
  * and not a declared query.
  *
  * Usage: sbt "runMain graft.Plans <outDir> <suffix> <nameRegex>"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val pat = args(2).r
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // the same one-time layout ETL and scan-layout overrides Bench runs,
    // so index/bucket-riding queries plan against their real layouts
    GraftSession.ensureFixtures(spark, sfDir)
    BenchLayout.stage(spark, sfDir, GraftSession.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val all = (SparkEntry.queries ++ SparkEntry.benchOnly).toSeq.sortBy(_._1)
    for ((name, fn) <- all if pat.findFirstIn(name).isDefined) {
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plans] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
