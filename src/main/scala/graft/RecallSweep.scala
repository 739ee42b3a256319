package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool (r14): recall@10 of IVF serving specs against their EXACT
  * baselines (brute-force cosine, exact MIPS). The PQ rows rerank a
  * k·refine shortlist exactly; the probed-bucket candidate set is the
  * recall CEILING (refine→∞ cannot beat the full-vector IVF row), so
  * the refine sweep shows where the shortlist knob saturates at each
  * corpus size, and the named arms price each recall lever.
  *
  * Usage: runMain graft.RecallSweep <sfDir>
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
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
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val isQuery = col("vec_id") < 8
    val S = graft.operators.Similarity
    import graft.operators.IvfSpec
    import IvfSpec.{Fixed, PqFitted, PqFormula, Sized}
    val exactCos = S.bruteForceTopK(emb, isQuery, k = 10)
      .select("query_id", "corpus_id").cache()
    val exactMips = S.mipsTopK(emb, isQuery, k = 10)
      .select("query_id", "corpus_id").cache()
    val nCos = exactCos.count().toDouble
    val nMips = exactMips.count().toDouble
    def recall(spec: IvfSpec): Double =
      S.ivfTopK(emb, isQuery, spec, k = 10).select("query_id", "corpus_id")
        .intersect(if (spec.mips) exactMips else exactCos).count() /
        (if (spec.mips) nMips else nCos)
    val hi = S.probesForRecall("high")
    val fitted = IvfSpec.FittedPq
    // (label, spec) arms. The ceilings are the full-vector rows (every
    // probed candidate reranked exactly — what refine->inf converges
    // to); the fixed-64 arm is the documented opposite trade (flat
    // recall at linear candidate cost). The fixed-book refine sweep
    // shows where the shortlist knob saturates; the laddered PQ rows
    // are the honest serving recall, with the residual-book (formula,
    // FITTED residual, fully-fitted), recall-target (base 16 = fraction
    // 1/8 at double the candidates), refine-boost and wide-book (K=64)
    // levers of the r16/r17 frontier.
    val arms: Seq[(String, IvfSpec)] = Seq(
      "cosine-IVF(fixed64) ceiling" -> IvfSpec(laddered = false),
      "cosine-IVF(sized) ceiling" -> IvfSpec(),
      "mips-IVF(sized) ceiling" -> IvfSpec(mips = true),
      "mips-IVF(sized FITTED)" -> IvfSpec(mips = true, fitted = true)) ++
      Seq(1, 2, 4, 8, 16).flatMap(r => Seq(
        s"refine=$r cosine-IVF-PQ" -> IvfSpec(laddered = false, codes = PqFormula, refine = Fixed(r)),
        s"refine=$r mips-IVF-PQ" ->
          IvfSpec.MipsPq.copy(refine = Fixed(r)))) ++ Seq(
      "cosine-IVF-PQ(sized, registered)" -> IvfSpec(codes = PqFormula),
      "cosine-IVF-PQ(sized, FITTED residual book)" -> IvfSpec(codes = PqFitted()),
      "cosine-IVF-PQ(sized, FITTED coarse+residual)" -> fitted,
      "high: cosine-IVF ceiling" -> IvfSpec(probes = hi),
      "high: cosine-IVF-PQ" -> IvfSpec(codes = PqFormula, probes = hi),
      "high: FITTED (fitted_hr)" -> fitted.copy(probes = hi),
      "fitted refine-boost x2" -> fitted.copy(refine = Sized(2)),
      "fitted refine-boost x4" -> fitted.copy(refine = Sized(4)),
      "fitted WIDE book (K=64)" -> fitted.copy(codes = PqFitted(k = 64)),
      "fitted WIDE book (K=64) high" -> fitted.copy(codes = PqFitted(k = 64), probes = hi),
      "fitted WIDE x refine4" -> fitted.copy(codes = PqFitted(k = 64), refine = Sized(4)),
      "fitted WIDE x refine4 high" ->
        fitted.copy(codes = PqFitted(k = 64), refine = Sized(4), probes = hi),
      // the r17b residual-book SHAPE dials: subspace count (M=8 → 16)
      // and fit sample size (a K=64 book overfits 2048 rows: 32
      // rows/cell vs the narrow book's 128)
      "wideS8 (8x64 s8192 r4)" -> fitted.copy(codes = PqFitted(8, 64, 8192), refine = Sized(4)),
      "m16 (16x16 s2048 r4)" -> fitted.copy(codes = PqFitted(16, 16), refine = Sized(4)),
      "m16s8 (16x16 s8192 r4)" -> fitted.copy(codes = PqFitted(16, 16, 8192), refine = Sized(4)),
      "m16w (16x64 s8192 r4, registered m16)" -> IvfSpec.M16)
    for ((label, spec) <- arms) {
      val t0 = System.nanoTime()
      val r = recall(spec)
      println(f"[recall-sweep] $sfDir $label%-44s recall@10=$r%.3f " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    exactCos.unpersist(); exactMips.unpersist()
    spark.stop()
  }
}
