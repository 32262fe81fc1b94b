package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator: writes an sfDir (one parquet directory per
  * table) whose schemas match TESTDATA.md/FIXTURES.md.
  *
  * Every value of row `i` of a table comes from a generator seeded by
  * (seed, table, i) alone, so the same seed gives the same bytes whatever
  * the partitioning, and tasks generate their rows in parallel. */
object Gen {

  /** Table sizes of one workload. `blobs > 0` draws embeddings from that
    * many Gaussian blobs (radius [[BlobRadius]], spread [[BlobSigma]]);
    * `blobs == 0` draws unit-normalized isotropic vectors like the
    * fixture's. */
  case class Sizes(documents: Int, events: Int, embeddings: Int,
      dim: Int = 64, blobs: Int = 0)

  val BlobRadius = 1.0
  val BlobSigma = 0.05

  /** The fixture's 30-word vocabulary (plus the rare "dup" token). */
  private val Vocab = ("join hash row batch scan column customer filter " +
    "small slow merge order vector line table data agg value key stream " +
    "window a spark part group big sort query fast the").split(' ')
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val EventTypes = Array("signup", "click", "error", "purchase",
    "view")
  private val Epoch2024Us = 1704067200000000L // 2024-01-01T00:00:00Z
  private val ThirtyDaysUs = 30L * 86400 * 1000000

  private def rng(seed: Long, table: Int, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L +
      table * 0x632BE59BD9B4E019L + i * 0xBF58476D1CE4E5B9L)

  /** The blob centers of `seed`: uniform directions at radius
    * [[BlobRadius]]; drawn on the driver so the harness can price the
    * data at its generating centers. */
  def blobCenters(seed: Long, s: Sizes): Array[Array[Double]] =
    Array.tabulate(s.blobs) { b =>
      val r = rng(seed, 100, b)
      val v = Array.fill(s.dim)(r.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ * BlobRadius / n)
    }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def words(r: SplittableRandom): String = {
    val n = 10 + r.nextInt(90)
    Array.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }

  /** Writes documents, events and embeddings under `dir`. Documents carry
    * 5% exact and 5% near duplicates (one word replaced by "dup") of
    * earlier rows, so the dedup operators find real work. */
  def write(spark: SparkSession, dir: String, seed: Long, s: Sizes): Unit = {
    val sc = spark.sparkContext
    val parts = math.max(1, sc.defaultParallelism)
    def rows(n: Int)(f: Long => Row) =
      sc.range(0L, n.toLong, 1L, parts).map(f)
    def save(name: String, schema: StructType, n: Int)(f: Long => Row): Unit =
      spark.createDataFrame(rows(n)(f), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("documents", StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))), s.documents) { i =>
      val r = rng(seed, 1, i)
      val kind = r.nextInt(20)
      val text =
        if (i < 20 || kind > 1) words(r)
        else {
          val src = words(rng(seed, 1, r.nextLong(i)))
          if (kind == 0) src
          else {
            val ws = src.split(' ')
            ws(r.nextInt(ws.length)) = "dup"
            ws.mkString(" ")
          }
        }
      Row(i, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        text.length.toLong)
    }

    val users = math.max(15, s.events / 66)
    save("events", StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampNTZType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
        s.events) { i =>
      val r = rng(seed, 2, i)
      // ids ascend with time, like the fixture's
      val us = Epoch2024Us + (i * ThirtyDaysUs / math.max(1, s.events)) +
        r.nextLong(ThirtyDaysUs / math.max(1, s.events))
      Row(i, java.time.LocalDateTime.ofEpochSecond(us / 1000000,
          ((us % 1000000) * 1000).toInt, java.time.ZoneOffset.UTC),
        r.nextLong(users), EventTypes(r.nextInt(EventTypes.length)),
        math.rint(r.nextDouble() * 49000 + 1) / 100,
        s"""{"k": ${r.nextInt(100)}}""")
    }

    val centers = blobCenters(seed, s)
    val dim = s.dim
    val blobs = s.blobs
    save("embeddings", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))), s.embeddings) { i =>
      val r = rng(seed, 3, i)
      val v =
        if (blobs > 0) {
          val c = centers((i % blobs).toInt)
          Array.tabulate(dim)(d => (c(d) + BlobSigma * gaussian(r)).toFloat)
        } else {
          val g = Array.fill(dim)(gaussian(r))
          val n = math.sqrt(g.map(x => x * x).sum)
          g.map(x => (x / n).toFloat)
        }
      Row(i, v.toSeq, if (blobs > 0) (i % blobs).toInt else r.nextInt(10))
    }
  }
}
