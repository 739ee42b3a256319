package perfbench

import java.io.ByteArrayInputStream

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one operation left behind for the output checks: the lines it
  * printed (capped) and where it wrote its result.
  */
final case class OpOut(code: Int, lines: Seq[String], out: String, buildS: Double = 0.0)

/** One user-visible operation of a workload. `run` gets the session, the
  * generated input dir and a fresh output dir for this pass.
  */
final case class Op(name: String, run: (SparkSession, String, String) => OpOut)

object Workloads {

  val Names: Seq[String] = Seq("topic_stream", "corpus_dedup")

  /** Measured warm passes per untraced run, at the least: a fixed count, so
    * every run takes its medians over the same number of samples. Three
    * where a pass is short enough to afford it, so one pass caught in a
    * burst of load does not move the median.
    */
  val WarmPasses: Map[String, Int] = Map("topic_stream" -> 2, "corpus_dedup" -> 3)

  /** Drives one Cli command in-process, capturing what it prints: the
    * first and last lines are kept, the ones between only counted.
    */
  private def cli(spark: SparkSession, args: Seq[String], out: String): OpOut = {
    val head = ArrayBuffer.empty[String]
    val tail = scala.collection.mutable.Queue.empty[String]
    var dropped = 0
    val code = graft.Cli.run(spark, args, new ByteArrayInputStream(Array.emptyByteArray), line =>
      if (head.length < 20) head += line
      else { tail.enqueue(line); if (tail.length > 20) { tail.dequeue(); dropped += 1 } })
    val middle = if (dropped > 0) Seq(s"... $dropped more line(s)") else Nil
    OpOut(code, head.toSeq ++ middle ++ tail, out)
  }

  private def verb(name: String, args: String*): Op =
    Op(name, (spark, in, out) =>
      cli(spark, Seq("-d", in, "-O", s"$out/$name") ++ args, s"$out/$name"))

  /** A registry query: the registry call (eager fits, counts and
    * checkpoints run inside it) timed apart from the parquet write.
    */
  private def query(name: String): Op =
    Op(name, (spark, in, out) => {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, in)
      val buildS = (System.nanoTime() - t0) / 1e9
      df.write.mode("overwrite").parquet(s"$out/$name")
      OpOut(0, Nil, s"$out/$name", buildS)
    })

  def ops(workload: String): Seq[Op] = workload match {
    case "topic_stream" => Seq(
      verb("stream-merge-all", "-m", "1", "stream", "merge-all", "events", "events.merged"),
      verb("stream-compact", "-m", "1", "stream", "compact", "events", "events.compacted"),
      verb("stream-dlq", "-m", "1", "stream", "dlq", "events", "events.dlq"))
    case "corpus_dedup" => Seq(
      "pipeline_clean_corpus_minhash", "dedup_ngram_prefix", "dedup_components_star").map(query)
  }

  /** Generates the workload's inputs into `in` from the seed and dials;
    * returns the row counts written.
    */
  def generate(spark: SparkSession, workload: String, in: String, seed: Long,
               d: Map[String, String], cores: Int): Map[String, Long] = {
    def i(k: String) = d(k).toInt
    def f(k: String) = d(k).toDouble
    workload match {
      case "topic_stream" =>
        Gen.events(spark, in, seed, d("events").toLong, i("files"), i("keys"), f("zipf_s"),
          f("tombstone_share"), f("malformed_share"))
        Map("events" -> d("events").toLong)
      case "corpus_dedup" =>
        Gen.documents(spark, in, seed, d("docs").toLong, cores, f("exact_dup_rate"),
          f("near_dup_rate"), i("min_words"), i("max_words"))
        Map("documents" -> d("docs").toLong)
    }
  }
}
