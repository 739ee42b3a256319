package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Writes the schemas of the repository's test
  * tables (TESTDATA.md: events, documents) as parquet directories under
  * `dir`. Every row derives from (seed, table, row id) alone,
  * so the output is the same for a seed whatever the partitioning.
  */
object Gen {

  /** Per-row generator: one independent stream per (seed, table salt, id). */
  private def rng(seed: Long, salt: Long, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt * 0xBF58476D1CE4E5B9L) ^ id)

  val Vocab: Array[String] = Array(
    "spark", "table", "join", "scan", "filter", "agg", "group", "sort",
    "hash", "merge", "batch", "stream", "window", "query", "row", "column",
    "key", "value", "data", "line", "part", "order", "customer", "vector",
    "fast", "slow", "small", "big", "the", "a")

  private val Langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "fr", "de", "de")
  private val LiveTypes = Array("view", "click", "purchase", "signup")

  /** Cumulative Zipf(s) weights over `n` keys, for inverse-CDF sampling. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    cdf.map(_ / cdf.last)
  }

  private def sample(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** `events` as a multi-file topic: `files` parquet files, each a
    * contiguous offset range, with modification times rising with the
    * offsets so a file stream source reads them in log order. Keys are
    * Zipf(`zipfS`) over `keys` users, uniform at `zipfS` = 0;
    * `tombstoneShare` of the records are `error` events (null values in
    * the topic view); `malformedShare` of the payloads carry no integer
    * `k` field and fail the JSON serde.
    */
  def events(spark: SparkSession, dir: String, seed: Long, n: Long, files: Int,
             keys: Int, zipfS: Double, tombstoneShare: Double,
             malformedShare: Double): Unit = {
    val cdf = zipfCdf(keys, zipfS)
    val baseUs = 1704067200000000L // 2024-01-01 00:00:00 in micros
    val spanUs = 30L * 86400L * 1000000L
    val rows = spark.sparkContext.range(0L, n, 1L, files).map { id =>
      val r = rng(seed, 1, id)
      val user = sample(cdf, r.nextDouble()).toLong
      val tomb = r.nextDouble() < tombstoneShare
      val eventType = if (tomb) "error" else LiveTypes(r.nextInt(LiveTypes.length))
      val us = baseUs + id * spanUs / n + r.nextLong(spanUs / n + 1)
      val value = math.round(r.nextDouble() * 560.0 * 100.0) / 100.0
      val props =
        if (r.nextDouble() < malformedShare) s"""{"k": "x${r.nextInt(10)}"}"""
        else s"""{"k": ${r.nextInt(100)}}"""
      Row(id, java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
        ((us % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC), user, eventType, value, props)
    }
    val out = s"$dir/events.parquet"
    spark.createDataFrame(rows, EventsSchema).write.parquet(out)
    val parts = listParts(out)
    require(parts.length == files, s"expected $files event files, wrote ${parts.length}")
    val t0 = System.currentTimeMillis() - 3600L * 1000L
    parts.zipWithIndex.foreach { case (p, i) => p.toFile.setLastModified(t0 + i * 1000L) }
  }

  private def listParts(out: String): Array[Path] = {
    val s = Files.list(java.nio.file.Paths.get(out))
    try s.toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
    finally s.close()
  }

  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Docs per duplicate-planting block. */
  val Block = 1000

  /** Doc kinds: 0 unique, 1 exact copy, 2 near copy. The layout is fixed
    * per block of [[Block]] docs, so every seed plants the same number and
    * shape of duplicates: the block's last round(Block * exactRate) docs
    * copy its first ones exactly, the round(Block * nearRate) before them
    * are near copies of its first ones. Copy `off` points at the block's
    * doc `off % 100`: while fewer than 100 docs of a block are copies,
    * each copy has a base of its own, and that base is unique.
    */
  private def docKind(off: Int, exactRate: Double, nearRate: Double): Int = {
    val exact = math.round(Block * exactRate).toInt
    val near = math.round(Block * nearRate).toInt
    if (off >= Block - exact) 1 else if (off >= Block - exact - near) 2 else 0
  }

  /** Text of doc `id`: seeded words, with a length that depends on the id
    * alone (the same length mix for every seed). Near copies replace each
    * word with probability 1/50, 1/25 or 1/12 by position (strong,
    * borderline and below-threshold duplicates) and always change at
    * least one word.
    */
  private def docWords(seed: Long, id: Long, exactRate: Double, nearRate: Double,
                       minWords: Int, maxWords: Int): Array[String] = {
    val off = (id % Block).toInt
    val r = rng(seed, 3, id)
    docKind(off, exactRate, nearRate) match {
      case 0 =>
        val len = minWords + ((id * 0x9E3779B97F4A7C15L >>> 33) % (maxWords - minWords + 1)).toInt
        Array.fill(len)(Vocab(r.nextInt(Vocab.length)))
      case kind =>
        val base = docWords(seed, id - off + off % 100, exactRate, nearRate, minWords, maxWords)
        if (kind == 1) base
        else {
          val denom = Array(50, 25, 12)(off % 3)
          val out = base.map(w => if (r.nextInt(denom) == 0) Vocab(r.nextInt(Vocab.length)) else w)
          if (out.sameElements(base)) {
            val i = r.nextInt(out.length)
            out(i) = Vocab((Vocab.indexOf(out(i)) + 1 + r.nextInt(Vocab.length - 1)) % Vocab.length)
          }
          out
        }
    }
  }

  def documents(spark: SparkSession, dir: String, seed: Long, n: Long, files: Int,
                exactRate: Double, nearRate: Double, minWords: Int, maxWords: Int): Unit = {
    val rows = spark.sparkContext.range(0L, n, 1L, files).map { id =>
      val text = docWords(seed, id, exactRate, nearRate, minWords, maxWords).mkString(" ")
      val r = rng(seed, 5, id)
      Row(id, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}", text.length.toLong)
    }
    spark.createDataFrame(rows, DocumentsSchema).write.parquet(s"$dir/documents.parquet")
  }
}
