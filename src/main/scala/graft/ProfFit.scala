package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev scratch (r18, VERDICT #4): stage-level timing of the FITTED
  * serving rows — where does sim_topk_ivf_pq_fitted_sized /
  * sim_topk_mips_ivf_fitted wall time actually go: the corpus count,
  * the coarse k-means fit (3 collect rounds over the persisted xh
  * sample), the PQ residual fit (sample scan + driver loop), or the
  * distributed serve? Usage: ProfFit <sfDir> [reps]
  */
object ProfFit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4194304")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Similarity
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val isQuery = col("vec_id") % 100 === 0
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label%-34s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    for (rep <- 1 to reps) {
      println(s"[prof] --- rep $rep ---")
      val n = t("emb.count")(emb.count())
      val nlist = Similarity.sizedNlist(n)
      val cents = t("fitCentroids(3 rounds)")(
        Similarity.fitCentroids(emb, nlist, 3, Similarity.sizedKmFitModulus(n)))
      val cnorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
      t("fitPqCodebooks(sample+loop)")(
        Similarity.fitPqCodebooks(emb, cents, cnorms, graft.operators.IvfSpec.PqFitted()))
      t("fitted_sized serve (full row)") {
        Similarity.ivfTopK(emb, isQuery, graft.operators.IvfSpec.FittedPq, k = 10)
          .write.mode("overwrite").format("noop").save()
      }
      t("mips_fitted (full row)") {
        SparkEntry.queries("sim_topk_mips_ivf_fitted")(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
      }
    }
    spark.stop()
  }
}
