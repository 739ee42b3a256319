package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row cost of the registered graft_* kernels the workload leans on:
  * each kernel over the workload's cached input, written to the noop
  * sink, minus an identity projection of the same rows.
  */
object Kernels {

  val All: Seq[String] = Seq("graft_shingle_hashes", "graft_minhash_sig", "graft_text_stats",
    "graft_avro_decode")

  private val MinRows = 200000L

  /** Replicates `df` until it has at least MinRows rows, then caches it. */
  private def cached(df: DataFrame): (DataFrame, Long) = {
    val n = df.count()
    val reps = math.max(1L, (MinRows + n - 1) / n)
    val big = df.crossJoin(df.sparkSession.range(reps).toDF("rep")).drop("rep")
      .repartition(df.sparkSession.sparkContext.defaultParallelism).cache()
    (big, big.count())
  }

  private def noopS(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

  /** ns per row of `kernel` over `base`, against `identity` of the same rows. */
  private def time(base: DataFrame, rows: Long, kernel: String, identity: String): Double = {
    val k = base.select(expr(kernel).as("k"))
    val i = base.select(expr(identity).as("k"))
    noopS(k); noopS(i)
    val ks = (1 to 5).map(_ => noopS(k))
    val is = (1 to 5).map(_ => noopS(i))
    math.max(0.0, (median(ks) - median(is)) * 1e9 / rows)
  }

  def measure(spark: SparkSession, workload: String, in: String): Map[String, Double] = {
    graft.functions.NativeHash.register(spark)
    val out = workload match {
      case "topic_stream" =>
        val ev = graft.sources.Tables.load(spark, in, "events")
          .selectExpr("graft_avro_encode(event_type, CAST(length(props) AS INT), user_id) AS datum")
        val (b, n) = cached(ev)
        val r = Map("graft_avro_decode" -> time(b, n, "graft_avro_decode(datum)", "datum"))
        b.unpersist(); r
      case "corpus_dedup" =>
        val docs = graft.sources.Tables.load(spark, in, "documents")
          .select(col("text"), expr("graft_shingle_hashes(text)").as("sh"))
        val (b, n) = cached(docs)
        val r = Map(
          "graft_shingle_hashes" -> time(b, n, "graft_shingle_hashes(text)", "text"),
          "graft_minhash_sig" -> time(b, n, "graft_minhash_sig(sh, 16)", "sh"),
          "graft_text_stats" -> time(b, n, "graft_text_stats(text)", "text"))
        b.unpersist(); r
    }
    All.map(k => k -> out.getOrElse(k, 0.0)).toMap
  }
}
