package lakebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** An operation failed: the run stops, since the model no longer tracks
  * the lake. */
final class OpFailed(msg: String, cause: Throwable)
  extends RuntimeException(msg, cause)

/** What a workload sees of the run: the session, the tracer, its own
  * directory, the operation and check counters and the samples it
  * records. An operation is one call into graft's public API. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val work: java.io.File, val seed: Long) {
  var attempted = 0L
  var failed = 0L
  /** Seconds of timed operations in the current round: wall time, and the
    * CPU time of the client thread plus the Spark tasks they ran. */
  var roundS = 0.0
  var roundCpuS = 0.0
  /** Bytes the current round's operations wrote through the Hadoop FS. */
  var roundWritten = 0L
  val checkFailures = mutable.ArrayBuffer.empty[String]
  val opFaults = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String,
    mutable.ArrayBuffer[Double]]

  def check(cond: Boolean, what: => String): Unit =
    if (!cond) {
      checkFailures += what
      System.err.println(s"[lakebench] CHECK FAILED: $what")
    }

  /** One timed operation inside the span `span`; its seconds count
    * toward the round's timed section. */
  def op[T](span: String)(body: => T): (T, Double) = {
    attempted += 1
    val c0 = Cpu.now(spark)
    val w0 = FsStats.now().written
    val t0 = System.nanoTime()
    val r =
      try tracer.span(span)(body)
      catch {
        case e: Exception =>
          failed += 1
          throw new OpFailed(s"$span: ${e.getMessage}", e)
      }
    val s = (System.nanoTime() - t0) / 1e9
    val c = Cpu.now(spark) - c0
    roundS += s
    roundCpuS += c
    roundWritten += FsStats.now().written - w0
    sample(s"op:$span", s)
    sample(s"cpu:$span", c)
    (r, s)
  }

  /** An operation that is known to fail on fixed inputs: it counts as
    * attempted and, when `ok` is false, as failed, without stopping the
    * run. */
  def knownFaultOp(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (!opFaults.contains(name)) opFaults += name
    }
  }

  /** `n` data units (files, documents, rows) handled by a call that took
    * `seconds`: the workload's throughput, `items_per_s`. */
  def items(n: Double, seconds: Double): Unit = {
    sample("items", n); sample("items_s", seconds)
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def samplesOf(name: String): Seq[Double] =
    samples.get(name).map(_.toSeq).getOrElse(Nil)
  def allSamples: Map[String, Seq[Double]] =
    samples.map { case (k, v) => k -> v.toSeq }.toMap

  def dir(parts: String*): String = {
    val f = parts.foldLeft(work)(new java.io.File(_, _))
    f.mkdirs()
    f.getAbsolutePath
  }
}

/** A closed-loop workload: one client thread issues the next operation
  * only when the previous one has returned. */
trait Workload {
  /** Build the inputs and the lake under `ctx.dir("setup")`. */
  def setup(): Unit
  /** One round: timed operations through `ctx.op`, each followed by its
    * untimed checks. */
  def round(r: Int): Unit
  /** Figures named after what they measure on this workload. */
  def figures: Seq[(String, Double, String)]
  /** Per-layer quantities the workload computes itself (ratios, counts). */
  def layerExtras(rounds: Int): Map[String, Double] = Map.empty
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload missing"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = new java.io.File(a.getOrElse("work", sys.error("--work missing")))
    val outFile = a.get("out")
    val spawnMs = a.get("spawn-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean
        .getStartTime)
    val cores = Runtime.getRuntime.availableProcessors()

    val builder = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", new java.io.File(work, "spark-local")
        .getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse")
        .getAbsolutePath)
    if (traced) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - spawnMs) / 1e3
    spark.sparkContext.addSparkListener(Cpu.Tasks)

    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, work, seed)
    val w: Workload = workload match {
      case "documents" => new Documents(ctx)
      case "lake" => new LakeWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    var aborted: Option[String] = None
    val setupT0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - setupT0) / 1e9
    // the client thread has run everything since the JVM started
    val setupCpuS = Cpu.now(spark)
    // set-up operations are not the workload's: count only timed rounds
    ctx.attempted = 0; ctx.failed = 0

    val gc0 = Tracer.gcSeconds()
    val roundS = mutable.ArrayBuffer.empty[Double]
    val roundCpuS = mutable.ArrayBuffer.empty[Double]
    val roundMb = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val loopStart = System.nanoTime()
    while (aborted.isEmpty && (roundS.isEmpty || System.nanoTime() < deadline)) {
      ctx.roundS = 0.0
      ctx.roundCpuS = 0.0
      ctx.roundWritten = 0L
      try {
        tracer.span("round")(w.round(roundS.size))
        roundS += ctx.roundS
        roundCpuS += ctx.roundCpuS
        roundMb += ctx.roundWritten / 1e6
      } catch {
        case e: OpFailed =>
          aborted = Some(e.getMessage)
          System.err.println(s"[lakebench] operation failed: ${e.getMessage}")
          e.printStackTrace()
      }
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val rounds = math.max(1, roundS.size)
    val gcS = Tracer.gcSeconds() - gc0

    val correct = aborted.isEmpty && ctx.checkFailures.isEmpty
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupCpuS, "s"),
      ("cpu_s", Stats.median(roundCpuS.toSeq), "s"),
      ("write_mb", Stats.median(roundMb.toSeq), "MB"))
    // wall-clock figures, reported beside the gated metrics: on a shared
    // machine they spread wider than any bound the gate allows (README.md)
    val general: Seq[(String, Double, String)] = Seq(
      ("setup_wall_s", sessionS + setupS, "s"),
      ("wall_s", Stats.median(roundS.toSeq), "s"),
      ("items_per_s", ctx.samplesOf("items").sum /
        math.max(1e-9, ctx.samplesOf("items_s").sum), "1/s"),
      ("op_p50_ms", Stats.median(ctx.allSamples.toSeq
        .filter(_._1.startsWith("op:")).flatMap(_._2)) * 1e3, "ms"),
      ("peak_rss_mb", Stats.peakRssMb(), "MB"))
    val figures = general ++ w.figures
    val layers: Seq[(String, Double, String)] =
      if (!traced) Nil
      else Layers.metrics(tracer, rounds, gcS, w.layerExtras(rounds))
    val metrics = if (traced) layers else e2e

    val json = Json.obj(Seq(
      "correct" -> Json.bool(correct),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))

    outFile.foreach { path =>
      val detail = Json.obj(Seq(
        "workload" -> Json.str(workload),
        "seed" -> seed.toString,
        "seconds" -> Json.num(seconds),
        "trace" -> Json.bool(traced),
        "cores" -> cores.toString,
        "rounds" -> roundS.size.toString,
        "loop_s" -> Json.num(loopS),
        "session_s" -> Json.num(sessionS),

        "round_cpu_s" -> Json.arr(roundCpuS.toSeq.map(Json.num)),
        "setup_wall_s" -> Json.num(setupS),
        "round_s" -> Json.arr(roundS.toSeq.map(Json.num)),
        "gc_s" -> Json.num(gcS),
        "end_to_end" -> Json.obj(e2e.map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
        "figures" -> Json.obj(figures.map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
        "per_layer" -> Json.obj(layers.map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
        "samples" -> Json.obj(ctx.allSamples.toSeq.sortBy(_._1).map { case (n, xs) =>
          n -> Json.obj(Seq("n" -> xs.size.toString,
            "median" -> Json.num(Stats.median(xs)),
            "max" -> Json.num(if (xs.isEmpty) 0.0 else xs.max))) }),
        "check_failures" -> Json.arr(ctx.checkFailures.toSeq.map(Json.str)),
        "known_fault_ops" -> Json.arr(ctx.opFaults.toSeq.map(Json.str)),
        "aborted" -> aborted.map(Json.str).getOrElse("null"),
        "result" -> json))
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (detail + "\n").getBytes("UTF-8"))
    }
    // compact human lines first; the last line is the result
    (e2e ++ figures).foreach { case (n, v, u) =>
      println(f"[lakebench] $workload%-13s $n%-22s ${Json.num(v)}%s $u") }
    println(s"[lakebench] $workload rounds=${roundS.size} " +
      s"attempted=${ctx.attempted} failed=${ctx.failed} correct=$correct")
    println(json)
    spark.stop()
  }
}

/** CPU seconds of the work a call does: the client thread's plus those of
  * the Spark tasks it ran (executor and deserialization CPU, from task-end
  * events). Compiler, collector and Spark's housekeeping threads are left
  * out, so the figure holds when other processes share the cores. */
object Cpu {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val taskNs = new java.util.concurrent.atomic.AtomicLong()

  object Tasks extends org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m =>
        taskNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime))
  }

  /** Client-thread plus task CPU seconds so far; drains the listener bus
    * first so every finished task is counted. */
  def now(spark: SparkSession): Double = {
    org.apache.spark.lakebench.BusDrain.drain(spark.sparkContext)
    (threads.getCurrentThreadCpuTime + taskNs.get) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON writer: numbers keep all their digits. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
