package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds so that benchmark
  * spans and Spark job events (epoch milliseconds) share one clock. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: Int)

/** Spark's public listener APIs, summed. The listener bus is async, so
  * every read goes through [[snapshot]], which drains it first. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks = new AtomicLong
  val executorCpuNs, executorRunMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, output, rddBlocks = new AtomicLong
  val planNs = new AtomicLong
  /** (job id, start, end) in epoch ns, completed jobs only. */
  val jobSpans = ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet(); jobStart(e.jobId) = e.time * 1000000L
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((e.jobId, s, e.time * 1000000L)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      executorCpuNs.addAndGet(m.executorCpuTime)
      executorRunMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      rddBlocks.addAndGet(b.memSize + b.diskSize)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlan(qe)
  private def addPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
    planNs.addAndGet(ms * 1000000L)
  }

  def snapshot(spark: SparkSession): Map[String, Long] = {
    PerfbenchBus.drain(spark.sparkContext)
    Map("jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "executor_cpu_ns" -> executorCpuNs.get, "executor_run_ms" -> executorRunMs.get,
      "shuffle_write" -> shuffleWrite.get, "shuffle_read" -> shuffleRead.get,
      "spill" -> spill.get, "output" -> output.get, "rdd_blocks" -> rddBlocks.get,
      "plan_ns" -> planNs.get)
  }
}

/** JVM-wide counters that cost nothing to read, taken around every op
  * in both traced and untraced runs. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def codegenNs: Long = CodeGenerator.compileTime

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  /** Old generation in use after the most recent collection that
    * touched it. */
  def oldGenAfterGcBytes: Long =
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)

  /** Highest old-generation occupancy right after a major collection
    * since [[resetOldGenPeak]], fed by GC notifications. Minor
    * collections are skipped: their old-gen reading only tracks how far
    * promotion has got since the last cycle. */
  @volatile private var peak = 0L
  def resetOldGenPeak(): Unit = peak = 0L
  def oldGenPeakBytes: Long = peak
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        n.getUserData match {
          case cd: javax.management.openmbean.CompositeData
              if n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION =>
            val info = GarbageCollectionNotificationInfo.from(cd)
            if (info.getGcAction.contains("major"))
              info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
                if (pool.contains("Old Gen") || pool.contains("Tenured"))
                  peak = math.max(peak, u.getUsed)
              }
          case _ =>
        }
      }, null, null)
    case _ =>
  }
}

/** Benchmark-side spans around each public graft call. When `active`
  * is false a span is a bare call, which is how untraced ops run. */
final class Tracer {
  // epoch-ns clock: nanoTime precision, aligned to the job events' clock
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + offset

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var active = false
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(-1)
      val start = now
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, start, now, parent, op)
      }
    }

  /** A span recorded outside [[span]]: a session start, which belongs
    * to the op that runs next on that session. */
  def record(name: String, start: Long, end: Long): Unit = {
    nextId += 1
    spans += Span(nextId, name, start, end, -1, op + 1)
  }
}

object Intervals {
  /** Length of the union of [s, e) intervals clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val sorted = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
