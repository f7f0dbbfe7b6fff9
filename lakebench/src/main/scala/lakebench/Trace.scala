package lakebench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Hadoop FileSystem statistics summed over every scheme: bytes read,
  * bytes written, read ops (incl. large reads) and write ops, plus the
  * calls [[CountingLocalFileSystem]] counts. Local-mode executors are
  * threads of this JVM, so the counters include their I/O. */
final case class FsStats(read: Long, written: Long, readOps: Long,
                         writeOps: Long) {
  def -(o: FsStats): FsStats = FsStats(read - o.read, written - o.written,
    readOps - o.readOps, writeOps - o.writeOps)
  def +(o: FsStats): FsStats = FsStats(read + o.read, written + o.written,
    readOps + o.readOps, writeOps + o.writeOps)
  def ops: Long = readOps + writeOps
}

object FsStats {
  val zero: FsStats = FsStats(0, 0, 0, 0)
  @annotation.nowarn("cat=deprecation")
  def now(): FsStats = {
    var s = FsStats(0, 0, CountingLocalFileSystem.reads.get,
      CountingLocalFileSystem.writes.get)
    val it = org.apache.hadoop.fs.FileSystem.getAllStatistics.iterator()
    while (it.hasNext) {
      val st = it.next()
      s = s + FsStats(st.getBytesRead, st.getBytesWritten,
        st.getReadOps.toLong + st.getLargeReadOps, st.getWriteOps.toLong)
    }
    s
  }
}

/** One call into a layer's public function, recorded by the benchmark. */
final class Span(val id: Int, val name: String, val startNs: Long,
                 val fs0: FsStats) {
  var durNs: Long = 0L
  var fs: FsStats = FsStats.zero
  var childNs: Long = 0L
  var childFs: FsStats = FsStats.zero
}

/** Per-layer totals of one span name over a run. */
final case class LayerTotals(selfS: Double, jobs: Int,
                             jobS: Double, gapS: Double, tasks: Long,
                             shuffleBytes: Long, fs: FsStats,
                             filesRead: Long, rowsRead: Long)

/** Spans plus the three attribution sources of the traced run:
  *  - a SparkListener for jobs, stages (tasks, shuffle bytes) and job
  *    intervals, attributed through a local property the span sets on the
  *    client thread;
  *  - a QueryExecutionListener for the file-scan nodes of each executed
  *    plan (files and rows read), attributed through the SQL execution id
  *    its jobs carry: the listener runs while the shared listener queue
  *    delivers that execution's end event, which the SparkListener sees
  *    next and which names the id;
  *  - Hadoop FileSystem statistics deltas taken at span entry and exit.
  * Everything stays in memory until [[totals]] is read at run end. With
  * `enabled = false` a span only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "lakebench.span"
  private val ExecKey = "spark.sql.execution.id"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private final case class Job(span: Int, exec: Long, start: Long,
                               var end: Long)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val stageShuffle = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val scans = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private var pendingScan: Option[(Long, Long)] = None

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val exec = p.flatMap(x => Option(x.getProperty(ExecKey)))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(span, exec, e.time, e.time)
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
      e match {
        case end: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
          pendingScan.foreach { case (f, r) => scans += ((end.executionId, f, r)) }
          pendingScan = None
        }
        case _ => ()
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        stageTasks(info.stageId) += info.numTasks
        stageShuffle(info.stageId) +=
          info.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
  }

  private object ScanHelper extends AdaptiveSparkPlanHelper {
    def filesAndRows(plan: SparkPlan): (Long, Long) = {
      val ss = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      (ss.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
        ss.map(s => s.metrics.get("numOutputRows").map(_.value)
          .getOrElse(0L)).sum)
    }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val fr = ScanHelper.filesAndRows(qe.executedPlan)
      Tracer.this.synchronized { pendingScan = Some(fr) }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  // the query listener first: its bus must precede `Listener` on the
  // shared queue, so each end event reaches the two in that order
  if (enabled) {
    spark.listenerManager.register(QeListener)
    spark.sparkContext.addSparkListener(Listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption
      val s = new Span(spans.size, name, System.nanoTime(), FsStats.now())
      synchronized { spans += s }
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.durNs = System.nanoTime() - s.startNs
        s.fs = FsStats.now() - s.fs0
        stack = stack.tail
        parent.foreach { p => p.childNs += s.durNs; p.childFs += s.fs }
        sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
      }
    }

  /** Per-span-name totals; drains the listener bus first. */
  def totals(): Map[String, LayerTotals] = {
    if (!enabled) return Map.empty
    org.apache.spark.lakebench.BusDrain.drain(spark.sparkContext)
    synchronized {
      val execSpan: Map[Long, Int] = jobs.values.filter(_.exec >= 0)
        .map(j => j.exec -> j.span).toMap
      val scanBySpan = scans.groupBy { case (e, _, _) =>
        execSpan.getOrElse(e, -1) }
      spans.groupBy(_.name).map { case (name, ss) =>
        val ids = ss.map(_.id).toSet
        val js = jobs.values.filter(j => ids.contains(j.span)).toSeq
        val jobMs = ss.map { s =>
          Tracer.unionMs(js.filter(_.span == s.id).map(j => (j.start, j.end)))
        }.sum
        val selfMs = ss.map(s => (s.durNs - s.childNs) / 1e6).sum
        val stages = stageSpan.filter { case (_, sp) => ids.contains(sp) }.keys
        val sc = ss.flatMap(s => scanBySpan.getOrElse(s.id, Nil))
        name -> LayerTotals(selfMs / 1e3, js.size, jobMs / 1e3,
          math.max(0.0, selfMs - jobMs) / 1e3,
          stages.map(stageTasks).sum, stages.map(stageShuffle).sum,
          ss.map(s => s.fs - s.childFs).foldLeft(FsStats.zero)(_ + _),
          sc.map(_._2).sum, sc.map(_._3).sum)
      }
    }
  }
}

object Tracer {
  /** Length of the union of [start, end] intervals, in their unit. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }
}
