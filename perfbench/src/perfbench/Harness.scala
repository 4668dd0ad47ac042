package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** The one Spark session every workload runs in: the 4-core session the
  * program's specs verify its answers on (local[4], four shuffle
  * partitions, Spark's default AQE), with all temporary files under the
  * run's work directory. The cache of generated classes holds 2,000
  * instead of Spark's default 100: one er_full call generates more than
  * 100, so with the default every call generated and JIT-compiled its
  * code again (6-9 s of JIT compilation per 3.7 s call on 4 cores), and a
  * run measured the JIT rather than the pipeline.
  */
object Session {
  val Cores = 4

  def create(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Task metrics of every job run under one job group. */
final class GroupStats {
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  val plans: mutable.ArrayBuffer[SparkPlan] = mutable.ArrayBuffer.empty

  /** Slowest task over the median task: how much of a group's time sits in
    * one straggler.
    */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val sorted = taskMs.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }

  def exchanges: Int = plans.map(Plans.exchanges).sum
}

object Plans extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges in an executed plan, looking through AQE stages and
    * subqueries; a reused exchange is not counted twice.
    */
  def exchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
}

/** Attributes task metrics to the job group that was set on the calling
  * thread when each job started, and the executed plans of the queries run
  * while a group is open. Groups are set by the harness around calls into
  * the program; the program itself is not instrumented.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]
  @volatile private var openGroup: Option[String] = None

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      openGroup.foreach(g => Tracer.this.synchronized(stats(g).plans += qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(qeListener)

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => stats(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.taskMs += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Runs `f` under job group `g`; returns its result and wall seconds. */
  def span[T](g: String)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setJobGroup(g, g)
    openGroup = Some(g)
    try Timing.timed(f)
    finally {
      sc.clearJobGroup()
      // plan callbacks arrive on the listener bus: deliver them while the
      // group is still open
      PerfbenchBus.drain(sc)
      openGroup = None
    }
  }

  /** The group's metrics, once every event posted so far is delivered. */
  def group(g: String): GroupStats = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(groups.getOrElse(g, new GroupStats))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
}

/** Wall seconds, CPU seconds (all of this JVM's threads) and the share of
  * that CPU time used by the JVM's own JIT compiler and GC threads, of one
  * call.
  */
final case class Cost(wall: Double, cpu: Double, jvmCpu: Double) {
  /** CPU seconds of the program's threads: all but the JIT's and GC's. */
  def workCpu: Double = cpu - jvmCpu
}

object Timing {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def cost[T](f: => T): (T, Cost) = {
    val c0 = Host.cpuSeconds()
    val j0 = Host.jvmCpuSeconds()
    val (r, wall) = timed(f)
    (r, Cost(wall, Host.cpuSeconds() - c0, Host.jvmCpuSeconds() - j0))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Closed loop: one caller, each call starts when the previous returns,
    * until `seconds` have passed and at least `minCalls` calls are done.
    * Returns the cost of each call.
    */
  def closedLoop(seconds: Double, minCalls: Int)(op: => Unit): Seq[Cost] = {
    val costs = mutable.ArrayBuffer.empty[Cost]
    val start = System.nanoTime()
    while (costs.size < math.max(1, minCalls) || (System.nanoTime() - start) / 1e9 < seconds)
      costs += cost(op)._2
    costs.toSeq
  }
}

/** Cumulative CPU jiffies from /proc/stat. */
final case class CpuSample(idle: Long, steal: Long, total: Long)

/** What the host and this JVM report about themselves. The quiet-host
  * signal is CPU idle and steal shares from /proc/stat deltas: on a shared
  * VM the load average counts other tenants' runnable threads and reads
  * high while the CPUs are mostly idle.
  */
object Host {
  def sample(): CpuSample = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal ...
    val steal = if (f.length > 7) f(7) else 0L
    CpuSample(f(3) + f(4), steal, f.take(8).sum)
  }

  /** (idle share, steal share) of all CPU time between two samples. */
  def shares(a: CpuSample, b: CpuSample): (Double, Double) = {
    val t = math.max(1L, b.total - a.total).toDouble
    ((b.idle - a.idle) / t, (b.steal - a.steal) / t)
  }

  /** Waits until the JIT compilers have been idle for half a second, at
    * most 10 s; returns the seconds waited. On a 4-core host the
    * compiler threads share the cores with Spark's task threads, so methods
    * made hot by a call are still queued for compilation when it returns.
    */
  def awaitJitIdle(): Double = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    def waited = (System.nanoTime() - t0) / 1e9
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 2 && waited < 10) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
    waited
  }

  /** CPU seconds this JVM has used so far, all threads. Time the host's
    * hypervisor gives to other tenants (steal) is not counted.
    */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler and garbage collector threads of this
    * JVM (G1, the collector run.py selects) have used so far, from
    * /proc/self/task. run.py fixes the number of compiler and GC threads, so
    * that none exits and takes its count with it.
    */
  def jvmCpuSeconds(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!JvmThreads.exists(comm.startsWith)) 0L
        else {
          // fields after the name: state is field 3, utime 14, stime 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended meanwhile
    }.sum / ClockTicksPerSecond
  }

  /** Name prefixes of HotSpot's compiler and G1 threads (Linux keeps the
    * first 15 characters of a thread name).
    */
  private val JvmThreads = Seq("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ")

  /** Linux's USER_HZ, the unit of the times in /proc/<pid>/stat. */
  private val ClockTicksPerSecond = 100.0

  /** Seconds this JVM has spent in garbage collection so far. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Fingerprint {
  /** Order-insensitive content hash: the StageStore form (xxhash64 of every
    * column, bit_xor over rows, plus the row count), over the columns in
    * name order so column order does not matter.
    */
  def of(df: DataFrame): String =
    graft.plans.StageStore.fingerprint(df.select(df.columns.sorted.map(df.col): _*))
}

object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
