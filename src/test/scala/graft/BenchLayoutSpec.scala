package graft

/** The bench reads [[BenchLayout.stage]]'s multi-file copies through the
  * `graft.<table>Dir` overrides, while Verify and the DuckDB oracle read the
  * fixture files. This spec ties the two together: oracle-checked queries
  * over every staged table (lineitem, documents, embeddings at the default
  * splits) must return the same rows either way.
  */
class BenchLayoutSpec extends SparkSpec {

  private val probes =
    Seq("agg_stats", "dedup_exact", "dedup_minhash", "kmeans_lloyd_2iter")

  private def outputs(): Seq[Seq[String]] = probes.map { q =>
    GraftSession.isolate(spark)
    SparkEntry.queries(q)(spark, sf).collect().map(_.toString).sorted.toSeq
  }

  test("staged scan layout returns the fixture-file outputs") {
    val staged =
      try {
        BenchLayout.stage(spark, sf, 4)
        for (t <- Seq("lineitem", "documents", "embeddings"))
          assert(Tables.table(spark, sf, t).inputFiles.length ===
            BenchLayout.split(t), s"$t must scan the staged copy")
        outputs()
      } finally BenchLayout.clearOverrides()
    assert(Tables.lineitem(spark, sf).inputFiles.forall(_.contains(sf)),
      "cleared overrides must read the fixture file")
    probes.zip(staged.zip(outputs())).foreach { case (q, (s, f)) =>
      assert(s.nonEmpty, s"$q returned no rows")
      assert(s === f, s"$q differs between staged and fixture layouts")
    }
  }
}
