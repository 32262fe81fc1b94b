package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft._

import graft.functions.VectorOps
import graft.operators.{DedupOps, KMeansOps, SimilarityOps, TextOps}

/** The seven native expressions of `org.apache.spark.sql.graft`, each
  * timed against the built-in higher-order-function form its scaladoc
  * says it replaces, on the workload's own generated rows. */
object Kernels {
  val TextRows = 5000
  val VectorRows = 20000
  private val Reps = 3

  /** (kernel, native column, built-in column, input: "text" or "vec"). */
  private def forms(centers: Array[(Int, Array[Double])])
      : Seq[(String, Column, Column, String)] = {
    val w = DedupOps.wordsCol(col("text"))
    val planes = SimilarityOps.planes(64, 12, table = 2)
    val langs = Seq("en", "es", "de", "fr")
    val merges = Seq("th", "he", "an", "in", "er", "re", "at", "on", "or",
      "ta", "st", "le").zipWithIndex.map { case (p, i) =>
        (p, TextOps.regexSym(i + 1)) }
    val bpeBuiltin = aggregate(transform(split(col("text"), " "), t =>
        merges.foldLeft(translate(t, " ", "Ġ")) { case (acc, (p, s)) =>
          replace(acc, lit(p), lit(s)) }),
      lit(0), (acc, x) => acc + length(x))
    val nearestBuiltin = least(centers.map { case (cid, c) =>
      struct(VectorOps.sqDist(col("v"), typedlit(c.toSeq)).as("dist"),
        lit(cid).as("cid"))
    }: _*).getField("cid")
    Seq(
      ("word_shingles", DedupOps.shinglesOf(col("text")),
        array_distinct(when(size(w) >= 3,
          transform(sequence(lit(1), size(w) - 2), i => concat_ws(" ",
            element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
          .otherwise(array().cast("array<string>"))), "text"),
      ("alpha_tokens", AlphaTokens.column(w),
        size(filter(w, x => x.rlike("[a-zA-Z]"))), "text"),
      ("marker_counts", TextOps.markerCounts(w),
        array(langs.map(l => TextOps.markerHitsHof(w,
          TextOps.stoplistsFor(l))): _*), "text"),
      ("bpe_tokens", BpeTokens.column(split(col("text"), " "),
        merges.map(_._1), merges.map(_._2)), bpeBuiltin, "text"),
      ("cosine_sim", CosineSim.column(col("v"), reverse(col("v"))),
        VectorOps.cosine(col("v"), reverse(col("v"))), "vec"),
      ("sign_bucket", SimilarityOps.bucketCol(col("v"), 64, 12, 2),
        planes.zipWithIndex.map { case (p, b) =>
          when(VectorOps.dot(col("v"), typedlit(p.toSeq)) >= 0,
            shiftleft(lit(1), b)).otherwise(0) }.reduce(_ + _), "vec"),
      ("nearest_center", NearestCenter.struct(col("v"), centers)
        .getField("cid"), nearestBuiltin, "vec"))
  }

  /** Inputs cycled up to a fixed row count, cached, so each kernel sees
    * the same volume whatever the workload's table sizes. */
  private def cycled(df: DataFrame, rows: Int): DataFrame = {
    val n = df.count()
    df.crossJoin(df.sparkSession.range((rows + n - 1) / n).toDF("rep"))
      .drop("rep").limit(rows).repartition(df.sparkSession.sparkContext
        .defaultParallelism).cache()
  }

  private def timeMs(df: DataFrame): Double = {
    val t = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t) / 1e6
  }

  /** kernel.<name>.ns_per_row and kernel.<name>.builtin_ns_per_row. */
  def measure(spark: SparkSession, sfDir: String): Map[String, Double] = {
    val text = cycled(graft.Tables.documents(spark, sfDir).select("text"),
      TextRows)
    val vec = cycled(KMeansOps.points(spark, sfDir).select("v"), VectorRows)
    val rows = Map("text" -> text.count(), "vec" -> vec.count())
    val centers = KMeansOps.collectCenters(
      KMeansOps.sampleK(KMeansOps.points(spark, sfDir), 8))
    val out = forms(centers).flatMap { case (name, native, builtin, in) =>
      val src = if (in == "text") text else vec
      Seq(("ns_per_row", native), ("builtin_ns_per_row", builtin)).map {
        case (metric, c) =>
          val q = src.select(c.as("x"))
          timeMs(q) // compiles the plan
          val ms = (1 to Reps).map(_ => timeMs(q)).sorted.apply(Reps / 2)
          s"kernel.$name.$metric" -> ms * 1e6 / rows(in)
      }
    }
    text.unpersist(); vec.unpersist()
    out.toMap
  }
}
