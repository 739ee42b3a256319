package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** The benchmark's JVM half: generates a workload's inputs from the seed,
  * drives graft through its public entry points (Cli.run, the
  * SparkEntry.queries registry, the graft_* kernels) and writes what it
  * measured as one JSON file. The output checks and the reported metrics
  * are computed from that file by run.py.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --cores N --result FILE --spans FILE --launch-ms T
  *                  [dial=value ...]
  *
  * A pass runs every op of the workload once. Pass 0 runs on the fresh
  * session (the cold pass), then one untimed warm-up pass; measured warm
  * passes follow until `--seconds` of warm time is spent, at least
  * [[Workloads.WarmPasses]] of them.
  * With `--trace 1` traced passes (listeners attached) take the place of
  * the warm ones, followed by one untraced pass, the kernel micro-timings
  * and, on a fresh local[1] session, one untimed and two timed
  * single-core passes.
  */
object Main {

  final case class OpRec(pass: Int, mode: String, name: String, startMs: Double, wallS: Double,
                         cpuS: Double, out: OpOut, spanId: Long, extra: Map[String, Double])

  private def session(cores: Int, shufflePartitions: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.NativeHash.register(s)
    s
  }

  private def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }

  /** CPU time of this JVM, all threads; time the hypervisor stole is not in it. */
  private def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (steal, total) clock ticks of the whole box so far, from /proc/stat. */
  private def stealTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    // --key value flags, then key=value workload dials
    val flags = mutable.LinkedHashMap.empty[String, String]
    val dialArgs0 = mutable.LinkedHashMap.empty[String, String]
    var rest = argv.toList
    while (rest.nonEmpty) rest match {
      case k :: v :: t if k.startsWith("--") => flags(k.drop(2)) = v; rest = t
      case kv :: t if kv.contains("=") =>
        val Array(k, v) = kv.split("=", 2); dialArgs0(k) = v; rest = t
      case x :: _ => throw new IllegalArgumentException(s"bad argument: $x")
    }
    val dialArgs = dialArgs0.toMap
    val workload = flags("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = flags("seed").toLong
    val seconds = flags("seconds").toDouble
    val traced = flags("trace") == "1"
    val work = flags("work")
    val cores = flags("cores").toInt
    val in = s"$work/in"

    // ---- set-up: from the launch of this JVM (run.py's clock, taken just
    // before it starts the process) until the session is up and the inputs
    // are generated; done once, so the cold pass below meets a cold JVM
    var spark = session(cores, cores, work)
    val rows = Workloads.generate(spark, workload, in, seed, dialArgs, cores)
    val setupS = (System.currentTimeMillis() - flags("launch-ms").toDouble) / 1000.0

    val ops = Workloads.ops(workload)
    val recs = mutable.ArrayBuffer.empty[OpRec]
    var tracer: Tracer = null
    var curOp = 0L
    val tap = new BatchTap(() => curOp)
    if (workload == "topic_stream") spark.streams.addListener(tap)
    var passNo = 0
    val passSteal = mutable.LinkedHashMap.empty[Int, Double]

    def runPass(mode: String): Double = {
      val p = passNo
      passNo += 1
      val dir = s"$work/out/p$p"
      val passSpan = Option(tracer).map(_.newSpan(0, "pass", s"pass $p", System.currentTimeMillis()))
      val (steal0, total0) = stealTicks()
      var total = 0.0
      ops.foreach { op =>
        val startMs = System.currentTimeMillis().toDouble
        val span = Option(tracer).map { t =>
          val s = t.newSpan(passSpan.get.id, "op", op.name, startMs); t.begin(s); s
        }
        curOp = span.map(_.id).getOrElse(-(recs.length + 1L))
        val t0 = System.nanoTime()
        val c0 = cpuNs()
        val res =
          try op.run(spark, in, dir)
          catch { case e: Throwable if scala.util.control.NonFatal(e) =>
            OpOut(-1, Seq(s"exception: ${e.toString.take(500)}"), "") }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (cpuNs() - c0) / 1e9
        span.foreach { s => s.end = startMs + wall * 1000.0; tracer.settle() }
        if (tracer == null && workload == "topic_stream") Thread.sleep(50) // let progress land
        val extra =
          if (workload != "topic_stream") Map.empty[String, Double]
          else Map("checkpoint_bytes" -> treeBytes(Paths.get(s"$dir/${op.name}/checkpoint")).toDouble)
        recs += OpRec(p, mode, op.name, startMs, wall, cpu, res, curOp, extra)
        total += wall
      }
      passSpan.foreach(_.end = System.currentTimeMillis())
      val (steal1, total1) = stealTicks()
      passSteal(p) = (steal1 - steal0).toDouble / math.max(1L, total1 - total0)
      total
    }

    // ---- measured passes ---------------------------------------------
    runPass("cold")
    runPass("warmup") // the JIT is still compiling the first warm pass
    def warmLoop(mode: String, budget: Double, minPasses: Int): Seq[Double] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[Double]
      while (out.length < minPasses || (System.nanoTime() - t0) / 1e9 < budget)
        out += runPass(mode)
      out.toSeq
    }
    // a traced run reports no end-to-end metric; its one untraced warm pass
    // follows the traced ones (below)
    if (!traced) warmLoop("warm", seconds, Workloads.WarmPasses(workload))
    val rssMb = vmHwmMb()

    val layers = mutable.LinkedHashMap.empty[String, Any]
    var spansOut: Seq[Map[String, Any]] = Nil
    if (traced) {
      tracer = new Tracer
      Trace.attach(spark, tracer)
      val tracedPasses = warmLoop("traced", seconds / 2, 1)
      tracer.settle()
      tap.synchronized {
        tap.batches.filter(b => b.op > 0).foreach { b =>
          val s = tracer.newSpan(b.op, "batch", "micro-batch", b.startMs)
          s.end = b.startMs + b.durations("triggerExecution")
        }
      }
      tracer.nestUnderBatches()
      val self = tracer.selfTimes()
      layers("traced_pass_s") = tracedPasses
      layers("cached_peak_bytes") = tracer.cachedPeak
      layers("nojob_ms") = tracer.spans.filter(_.layer == "op").map(o => o.id -> tracer.noJobMs(o)).toMap
        .map { case (k, v) => k.toString -> v }
      spansOut = tracer.spans.toSeq.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self.getOrElse(s.id, 0.0),
          "counts" -> s.counts.toMap)
      }
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
      tracer = null
      // the untraced pass runs after the traced ones, so JIT warm-up still
      // under way counts against the tracer, not for it
      layers("untraced_pass_s") = Seq(runPass("warm"))
      layers("kernels_ns_row") = Kernels.measure(spark, workload, in)
      // single-core repeat: same plans (same shuffle width) on one core,
      // one untimed pass on the fresh session, then the median of two
      spark.stop()
      spark = session(1, cores, work)
      if (workload == "topic_stream") spark.streams.addListener(tap)
      runPass("one_core_warmup")
      layers("one_core_pass_s") = Seq(runPass("one_core"), runPass("one_core"))
    }

    val res = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS, "rows" -> rows, "dials" -> dialArgs,
      "rss_peak_mb" -> rssMb,
      "pass_steal" -> passSteal.map { case (k, v) => k.toString -> v },
      "ops" -> recs.toSeq.map { r =>
        Map("pass" -> r.pass, "mode" -> r.mode, "name" -> r.name, "start_ms" -> r.startMs,
          "wall_s" -> r.wallS, "cpu_s" -> r.cpuS, "build_s" -> r.out.buildS, "code" -> r.out.code,
          "lines" -> r.out.lines, "out" -> r.out.out, "span" -> r.spanId, "extra" -> r.extra)
      },
      "batches" -> tap.synchronized(tap.batches.toSeq.map { b =>
        Map("op" -> b.op, "start_ms" -> b.startMs, "durations" -> b.durations,
          "input_rows" -> b.inputRows, "state_rows" -> b.stateRows,
          "state_mem_bytes" -> b.stateMemBytes, "state_commit_ms" -> b.stateCommitMs)
      }),
      "layers" -> layers,
      "oracle_sql" -> ops.map(_.name).flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    implicit val formats: Formats = DefaultFormats
    Files.write(Paths.get(flags("result")), Serialization.write(res).getBytes("UTF-8"))
    if (spansOut.nonEmpty)
      Files.write(Paths.get(flags("spans")),
        spansOut.map(Serialization.write(_)).mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
