package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans recorded from the benchmark around calls into graft's layers,
  * and the Spark jobs each span caused. A job belongs to the innermost
  * span open when it was submitted: the span id rides a local property,
  * which Spark copies into threads the call creates (the import
  * pipeline's table pool). Times are epoch milliseconds, the clock the
  * listener's job events use. The arithmetic over spans and jobs (union,
  * self time, driver-only time) happens in perfbench/benchstats.py. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val listener = new JobListener
  private val spanRecs = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  sc.addSparkListener(listener)

  /** Runs `body` inside a span named `name`, nested in the open span. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevProp = sc.getLocalProperty(Prop)
    val fs0 = fsGlobal(); val tfs0 = fsThread()
    val c0 = Stamp.procCpuNs()
    val t0 = nowMs()
    sc.setLocalProperty(Prop, id.toString)
    stack = id :: stack
    try body
    finally {
      val t1 = nowMs()
      stack = stack.tail
      sc.setLocalProperty(Prop, prevProp)
      spanRecs += Span(id, parent, name, t0, t1, Stamp.procCpuNs() - c0,
        fsGlobal().minus(fs0), fsThread().minus(tfs0), attrs.toMap)
    }
  }

  /** Every span recorded since the last reset, in completion order. */
  def spans: Seq[Span] = spanRecs.toSeq

  /** Every job recorded since the last reset, after the listener bus has
    * drained. */
  def jobs: Seq[JobRec] = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    listener.snapshot
  }

  /** Forgets spans and jobs (between passes). */
  def reset(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    spanRecs.clear()
    listener.clear()
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val Prop = "perfbench.span"

  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  final case class Fs(readOps: Long, writeOps: Long, bytesRead: Long,
      bytesWritten: Long) {
    def minus(o: Fs): Fs = Fs(readOps - o.readOps, writeOps - o.writeOps,
      bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
    def toMap: Map[String, Long] = Map("read_ops" -> readOps,
      "write_ops" -> writeOps, "bytes_read" -> bytesRead,
      "bytes_written" -> bytesWritten)
  }

  /** Hadoop FileSystem statistics summed over every scheme and thread. */
  @annotation.nowarn("cat=deprecation")
  def fsGlobal(): Fs = FileSystem.getAllStatistics.asScala.foldLeft(
      Fs(0, 0, 0, 0)) { (a, s) =>
    Fs(a.readOps + s.getReadOps + s.getLargeReadOps,
      a.writeOps + s.getWriteOps, a.bytesRead + s.getBytesRead,
      a.bytesWritten + s.getBytesWritten)
  }

  /** The same statistics for the calling thread only: with one client
    * thread, this is the driver-side file traffic of the call. */
  @annotation.nowarn("cat=deprecation")
  def fsThread(): Fs = FileSystem.getAllStatistics.asScala.foldLeft(
      Fs(0, 0, 0, 0)) { (a, s) =>
    val t = s.getThreadStatistics
    Fs(a.readOps + t.getReadOps + t.getLargeReadOps,
      a.writeOps + t.getWriteOps, a.bytesRead + t.getBytesRead,
      a.bytesWritten + t.getBytesWritten)
  }

  /** `procCpuNs` is the whole process's CPU during the span: in local
    * mode that is driver and executors together. */
  final case class Span(id: Int, parent: Int, name: String, startMs: Double,
      endMs: Double, procCpuNs: Long, fs: Fs, threadFs: Fs,
      attrs: Map[String, Any]) {
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
      "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs,
      "proc_cpu_ns" -> procCpuNs,
      "fs" -> fs.toMap, "thread_fs" -> threadFs.toMap, "attrs" -> attrs)
  }

  final class JobRec(val id: Int, val span: Int, val startMs: Long) {
    var endMs: Long = -1L
    var executorCpuNs, shuffleBytes, spillBytes, inputBytes,
      outputBytes: Long = 0L
    def toMap: Map[String, Any] = Map("id" -> id, "span" -> span,
      "start_ms" -> startMs, "end_ms" -> endMs,
      "executor_cpu_ns" -> executorCpuNs, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes,
      "output_bytes" -> outputBytes)
  }

  /** Collects job intervals and task metrics. Listener events arrive on
    * one bus thread; readers drain the bus first. */
  final class JobListener extends SparkListener {
    private val jobs =
      new java.util.concurrent.ConcurrentHashMap[Integer, JobRec]()
    private val stageJob =
      new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()

    def snapshot: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
    def clear(): Unit = { jobs.clear(); stageJob.clear() }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      if (m != null) job.foreach { r =>
        r.executorCpuNs += m.executorCpuTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
