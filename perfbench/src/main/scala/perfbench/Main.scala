package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload for a measured window and
  * writes every raw sample (per-pass wall, CPU, heap, box CPU, op
  * latencies, check failures, and in traced passes the spans and jobs)
  * to a JSON file. perfbench/run.py turns the samples into metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --out <file> --cores <n>
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, out: File, cores: Int)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String): String = kv.getOrElse(s"--$k",
      throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workload.byName(arg("workload"))
    val o = Opts(wl.name, arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", new File(arg("work")).getAbsoluteFile,
      new File(arg("out")).getAbsoluteFile,
      math.min(arg("cores").toInt, wl.maxCores))
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val passes = new Runner(spark, o).run(wl)
      val res = Map("workload" -> o.workload, "seed" -> o.seed,
        "cores" -> o.cores, "seconds" -> o.seconds, "trace" -> o.trace,
        "session_s" -> sessionS, "calibration_ms" -> Stamp.calibrationMs(),
        "passes" -> passes)
      java.nio.file.Files.writeString(o.out.toPath, Json(res))
    } finally spark.stop()
  }

  /** The session graft.Bench uses, on `local[cores]`, with every
    * directory inside the work dir and one lake catalog. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.javaCharsets", "true")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir",
        new File(o.work, "spark-warehouse").getPath)
      .config(s"spark.sql.catalog.${LakeDml.Catalog}",
        classOf[graft.sources.GraftLakeCatalog].getName)
      .config(s"spark.sql.catalog.${LakeDml.Catalog}.warehouse",
        new File(o.work, "lake").getPath)
      // the stream ends with VACUUM ... RETAIN 0 HOURS; no other writer
      // can be live on the benchmark's private tables
      .config("spark.graft.vacuum.retentionCheck", "false")
      // every pass plans the same queries again; with the default 100
      // entries the generated classes of one pass evict the next pass's,
      // so each pass would recompile them and keep the JIT busy
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** What one pass reports back to the runner. `ops` are the timed calls a
  * user waits on (statements, operator calls, import runs) as
  * (kind, milliseconds); `attempted`/`failed` count ops, where a failed
  * check also counts as a failed op. `extra` goes into the raw result;
  * `payload` only travels to the workload's own `check`. */
final case class PassOut(items: Long, inputBytes: Long, storedBytes: Long,
    ops: Seq[(String, Double)], attempted: Int, failed: Int,
    extra: Map[String, Any] = Map.empty, payload: Any = null)

/** Per-pass context handed to a workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: File,
    val pass: Int, val tracer: Option[Tracer]) {
  /** A span when tracing, the bare call otherwise. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name, attrs: _*)(body)
      case None => body
    }
  def path(name: String): String = new File(dir, name).getAbsolutePath
}

/** One benchmark workload. Every pass runs `setup` into a fresh
  * directory (so every pass starts from the same on-disk state and set-up
  * is sampled once per pass), then the timed `pass`, then (measured
  * passes) the untimed `check`. Traced passes may add `layers`: extra
  * layer-by-layer measurements taken after the pass, outside its wall
  * time. */
trait Workload {
  def name: String
  /** Passes run and discarded before measuring (codegen, JIT, caches). */
  def warmups: Int = 1
  /** Measured passes at least, whatever `--seconds` asks for; the
    * metrics are medians over them. */
  def minMeasured: Int = 2
  /** Most task threads (`local[N]`) the workload runs with. */
  def maxCores: Int = 4
  def setup(ctx: Ctx): Unit
  def pass(ctx: Ctx): PassOut
  /** Failed checks, one line each. */
  def check(ctx: Ctx, out: PassOut): Seq[String]
  def layers(ctx: Ctx, out: PassOut): Map[String, Any] = Map.empty
}

object Workload {
  val all: Seq[Workload] = Seq(BulkImport, ManyTables, LakeDml, CurateDedup)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of " +
      all.map(_.name).mkString(", ")))
}

/** The pass loop: warm-ups, then measured passes until the window is
  * spent. With tracing on, measured passes alternate untraced and traced,
  * so the run yields both the per-layer numbers and the tracing overhead
  * (traced wall minus untraced wall). */
final class Runner(spark: SparkSession, o: Main.Opts) {
  private val MaxPasses = 40

  def run(wl: Workload): Seq[Map[String, Any]] = {
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    var measuredS = 0.0
    var measuredN = 0
    var k = 0
    // traced runs warm up once more, so both measured passes are warm
    val warmups = wl.warmups + (if (o.trace) 1 else 0)
    def more = k < warmups || measuredN < wl.minMeasured ||
      (measuredS < o.seconds && k < MaxPasses)
    while (more) {
      val warm = k < warmups
      val traced = !warm && tracer.nonEmpty && measuredN % 2 == 1
      val rec = onePass(wl, k, if (traced) tracer else None, check = !warm)
      out += rec + ("warmup" -> warm) + ("traced" -> traced)
      if (!warm) {
        measuredS += rec("wall_s").asInstanceOf[Double]
        measuredN += 1
      }
      k += 1
    }
    tracer.foreach(_.close())
    out.toSeq
  }

  /** One pass; warm-up passes skip the check (every measured pass is
    * checked), which keeps a run inside its time budget. */
  private def onePass(wl: Workload, k: Int, tracer: Option[Tracer],
      check: Boolean): Map[String, Any] = {
    val dir = new File(o.work, f"pass-$k%02d")
    graft.util.Dirs.deleteRec(dir)
    dir.mkdirs()
    val ctx = new Ctx(spark, o.seed, dir, k, tracer)
    val s0 = System.nanoTime()
    wl.setup(ctx)
    val setupS = (System.nanoTime() - s0) / 1e9
    System.gc() // each pass starts from the same settled heap
    tracer.foreach(_.reset())
    HeapPeak.reset()
    val gc0 = gcMs
    val jit0 = jitMs
    val cls0 = classesLoaded
    val j0 = Stamp.boxJiffies()
    val c0 = Stamp.procCpuNs()
    val t0 = System.nanoTime()
    val res = try Right(wl.pass(ctx)) catch {
      case e: Throwable => Left(e)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Stamp.procCpuNs() - c0) / 1e9
    val jiffies = Stamp.boxJiffies() - j0
    val gcS = (gcMs - gc0) / 1e3
    val jitS = (jitMs - jit0) / 1e3
    val classes = classesLoaded - cls0
    val peakHeap = HeapPeak.read()
    val base = Map[String, Any]("index" -> k, "setup_s" -> setupS,
      "wall_s" -> wallS, "cpu_s" -> cpuS, "box_jiffies" -> jiffies,
      "gc_s" -> gcS, "jit_s" -> jitS, "classes_loaded" -> classes,
      "peak_heap_bytes" -> peakHeap)
    val rec = res match {
      case Left(e) =>
        System.err.println(s"[perfbench] pass $k failed: $e")
        e.printStackTrace()
        base ++ Map("items" -> 0L, "input_bytes" -> 0L, "stored_bytes" -> 0L,
          "ops" -> Nil, "attempted" -> 1, "failed" -> 1,
          "check_failures" -> Seq(s"pass threw: ${e.getMessage}"))
      case Right(p) =>
        val c0 = System.nanoTime()
        val fails = try { if (check) wl.check(ctx, p) else Nil } catch {
          case e: Throwable =>
            e.printStackTrace()
            Seq(s"check threw: $e")
        }
        val checkS = (System.nanoTime() - c0) / 1e9
        fails.foreach(f => System.err.println(s"[perfbench] check: $f"))
        val traceRec = tracer.map { t =>
          val layers = try wl.layers(ctx, p) catch {
            case e: Throwable =>
              e.printStackTrace()
              Map("error" -> e.toString)
          }
          Map("spans" -> t.spans.map(_.toMap), "jobs" -> t.jobs.map(_.toMap),
            "layers" -> layers)
        }.getOrElse(Map.empty)
        base ++ Map("items" -> p.items, "input_bytes" -> p.inputBytes,
          "stored_bytes" -> p.storedBytes,
          "ops" -> p.ops.map { case (kind, ms) => Seq(kind, ms) },
          "attempted" -> p.attempted,
          "failed" -> math.min(p.attempted, p.failed + fails.size),
          "check_failures" -> fails, "check_s" -> checkS,
          "extra" -> p.extra) ++ traceRec
    }
    graft.util.Dirs.deleteRec(dir)
    rec
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  /** JIT compiler threads' time: a pass that still compiles much is not
    * warm yet. */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime

  /** Classes loaded, generated ones included. */
  private def classesLoaded: Long = ManagementFactory.getClassLoadingMXBean
    .getTotalLoadedClassCount
}

/** CPU stamps: the whole box from /proc/stat (non-idle jiffies) and this
  * process from the JVM. Their difference over a pass is the CPU other
  * processes burned meanwhile; run.py does that arithmetic. */
object Stamp {
  def boxJiffies(): Long =
    try {
      val l = java.nio.file.Files.readAllLines(
        java.nio.file.Path.of("/proc/stat")).get(0)
      // user nice system idle iowait irq softirq steal (guest time is
      // already inside user)
      val f = l.trim.split("\\s+").slice(1, 9).map(_.toLong)
      f.sum - f(3) - (if (f.length > 4) f(4) else 0L) // minus idle, iowait
    } catch { case _: Exception => -1L }

  def procCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Milliseconds one thread takes for a fixed integer loop (median of
    * three): the host's speed when the run ended. A slower host shows
    * here even when no other process on the box is busy. */
  def calibrationMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 0L) println("") // keeps the loop from being elided
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(3)(once()).sorted.apply(1)
  }
}

/** The pass's peak heap occupancy as the collector sees it: the largest
  * heap in use right after any collection during the pass, and after one
  * forced at its end. Occupancy before a collection mostly measures how
  * large the young generation happened to be sized. */
object HeapPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }

  def read(): Long = {
    System.gc()
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { math.max(peak, now) }
  }
}
