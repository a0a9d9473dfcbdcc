package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, Tables}
import org.apache.spark.api.java.function.ForeachPartitionFunction
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run in one JVM: a cold set-up round, then timed
  * rounds, then the untimed check pass. Writes everything it measured
  * as one JSON file; run.py turns that into metrics and runs the
  * external output checks.
  *
  * A round is one set-up: start a session with `GraftSession.local`,
  * then run the workload's op on it (query_mix: one pass over its
  * queries). The first round runs in a cold JVM and writes its output
  * for the checks; every later round stops the previous session first,
  * so each round times both a set-up and one op.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> <seed> <cores>
  */
object Main {
  /** A single query or pipeline running longer than this is cancelled
    * and counted failed. */
  val OpCapSeconds = 60L

  final case class Sample(round: Int, op: String, wallNs: Long, cpuNs: Long,
                          traced: Boolean, ok: Boolean, layers: Map[String, Double])

  final case class Round(index: Int, sessionNs: Long, opNs: Long, cpuNs: Long, traced: Boolean)

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsArg, traceArg, seedArg, coresArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val tracer = new Tracer
    val checkDir = s"$work/check"
    val outDir = s"$work/out"

    val counters = new SparkCounters
    val errors = ArrayBuffer.empty[String]
    val expected = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val samples = ArrayBuffer.empty[Sample]
    val rounds = ArrayBuffer.empty[Round]
    val watchdog = new java.util.Timer("perfbench-watchdog", true)
    var spark: SparkSession = null
    var wl: Workload = null

    /** Start a fresh session and bind the workload's inputs to it. */
    def startSession(): Long = {
      if (spark != null) spark.stop()
      val t0 = tracer.now
      spark = GraftSession.local(cores, Map(
        "spark.local.dir" -> s"$work/spark-local",
        "spark.sql.warehouse.dir" -> s"$work/warehouse"))
      wl = Workloads(workload, spark, data, seedArg.toLong)
      val t1 = tracer.now
      tracer.record("GraftSession.start", t0, t1)
      t1 - t0
    }

    /** Run one op, writing its output as parquet to `writeTo` or else
      * streaming it into the fingerprint sink. Returns (wall ns, cpu ns,
      * ok, per-op layer values). */
    def runOp(op: String, writeTo: Option[String], trace: Boolean): (Long, Long, Boolean, Map[String, Double]) = {
      val sc = spark.sparkContext
      if (trace) {
        sc.addSparkListener(counters); spark.listenerManager.register(counters)
      }
      val before = if (trace) counters.snapshot(spark) else Map.empty[String, Long]
      val (gc0, cg0) = (Jvm.gcMs, Jvm.codegenNs)
      tracer.active = trace
      tracer.op += 1
      val group = s"perfbench-${tracer.op}"
      sc.setJobGroup(group, op, interruptOnCancel = true)
      val cancel = new java.util.TimerTask {
        def run(): Unit = sc.cancelJobGroup(group)
      }
      watchdog.schedule(cancel, OpCapSeconds * 1000, 5000)
      val cpu0 = Jvm.cpuNs
      val start = tracer.now
      var ok = true
      var fp = (0L, 0L)
      try {
        tracer.span(s"op.$op") {
          val df = wl.build(op, tracer)
          tracer.span("api.action") {
            writeTo match {
              case Some(dir) => df.write.mode("overwrite").parquet(dir)
              case None => fp = Sink.fingerprint(df)
            }
          }
        }
      } catch {
        case e: Throwable =>
          ok = false
          errors += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      }
      val end = tracer.now
      val cpu = Jvm.cpuNs - cpu0
      cancel.cancel()
      sc.clearJobGroup()
      tracer.active = false
      var layers = Map.empty[String, Double]
      if (trace) {
        val after = counters.snapshot(spark)
        sc.removeSparkListener(counters); spark.listenerManager.unregister(counters)
        layers = Layers.perOp(tracer, counters, before, after, start, end,
          Jvm.gcMs - gc0, Jvm.codegenNs - cg0, cores)
      }
      // untimed: fingerprint a written output by reading it back, then
      // compare with the cold round's fingerprint of the same op
      if (ok) {
        writeTo.foreach(d => fp = Sink.fingerprint(spark.read.parquet(d)))
        expected.get(op) match {
          case None => expected(op) = fp
          case Some(e) if e != fp =>
            ok = false
            errors += s"$op: output fingerprint $fp differs from the first op's $e"
          case _ =>
        }
      }
      sc.getPersistentRDDs
        .filter { case (id, _) => !Tables.pinnedRddIds.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      System.err.println(f"[perfbench] op ${tracer.op}%3d $op%-24s ${(end - start) / 1e9}%7.3f s" +
        f"  cpu ${cpu / 1e9}%7.3f s  ${if (trace) "traced" else ""}${if (ok) "" else " FAILED"}")
      (end - start, cpu, ok, layers)
    }

    /** One round: a session start, then every op of the workload's
      * round once. */
    def runRound(index: Int, writeTo: String => Option[String], trace: Boolean): Round = {
      val sessionNs = startSession()
      var opNs, cpuNs = 0L
      wl.round.foreach { op =>
        val (w, c, ok, layers) = runOp(op, writeTo(op), trace)
        opNs += w; cpuNs += c
        samples += Sample(index, op, w, c, trace, ok, layers)
      }
      val r = Round(index, sessionNs, opNs, cpuNs, trace)
      System.err.println(f"[perfbench] round $index: session ${sessionNs / 1e9}%.3f s, " +
        f"op ${opNs / 1e9}%.3f s")
      rounds += r
      r
    }

    // ---- the cold round; its output feeds the external checks
    val cold = runRound(0, op => Some(s"$checkDir/$op"), trace = false)
    val setupOk = samples.forall(_.ok)

    // ---- timed rounds until `seconds` have passed. A traced run
    // alternates traced and untraced rounds, so the difference of the two
    // medians is the tracing overhead, and runs at least two traced
    // rounds, so that a count can show it repeats.
    val timedOut = if (wl.writes) Some(outDir) else None
    Jvm.resetOldGenPeak()
    val loopStart = System.nanoTime()
    val minRounds = if (traced) 3 else 2
    var r = 1
    while (r <= minRounds || System.nanoTime() - loopStart < seconds * 1e9) {
      runRound(r, _ => timedOut, trace = traced && r % 2 == 1)
      r += 1
    }
    // per-layer only: the full GC it needs is skipped in untraced runs
    val oldGenPeak =
      if (traced) math.max(Jvm.oldGenPeakBytes, { System.gc(); Jvm.oldGenAfterGcBytes })
      else 0L

    // ---- untimed check pass, on the last round's session
    val checkStart = System.nanoTime()
    val checkCounts =
      try wl.checkPass(checkDir, counts = traced)
      catch {
        case e: Throwable =>
          errors += s"check pass: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          Map.empty[String, Double]
      }
    watchdog.cancel()
    System.err.println(f"[perfbench] check pass ${(System.nanoTime() - checkStart) / 1e9}%.3f s")

    val timed = samples.filter(_.round > 0).toSeq
    val layers =
      if (traced) Layers.summary(wl, timed, rounds.filter(_.index > 0).toSeq) ++ checkCounts ++
        Map("setup.cold_s" -> (cold.sessionNs + cold.opNs) / 1e9)
      else Map.empty[String, Double]
    if (traced) json.writeValue(new File(s"$work/spans.json"), Layers.spans(tracer, counters))

    json.writeValue(new File(s"$work/result.json"), Map(
      "workload" -> workload,
      "cores" -> cores,
      "setup_ok" -> setupOk,
      "old_gen_peak_mb" -> oldGenPeak / 1048576.0,
      "rounds" -> rounds.map(r => Map(
        "round" -> r.index, "session_s" -> r.sessionNs / 1e9, "op_s" -> r.opNs / 1e9,
        "cpu_s" -> r.cpuNs / 1e9, "traced" -> r.traced)),
      "samples" -> samples.map(s => Map(
        "round" -> s.round, "op" -> s.op, "wall_s" -> s.wallNs / 1e9,
        "traced" -> s.traced, "ok" -> s.ok)),
      "count_spread" -> Layers.countSpread(timed),
      "errors" -> errors,
      "layers" -> layers))
    // Everything is written, and an orderly Spark shutdown would only
    // add a second or two to every run: end the JVM at once.
    Runtime.getRuntime.halt(0)
  }
}

/** The sink of an op that does not write: streams every row through an
  * order-independent 64-bit fingerprint and drops it, like Spark's noop
  * sink but with something to compare across ops. */
object Sink {
  def fingerprint(df: DataFrame): (Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val sum = sc.longAccumulator
    val count = sc.longAccumulator
    df.foreachPartition(new ForeachPartitionFunction[Row] {
      def call(it: java.util.Iterator[Row]): Unit = {
        var s = 0L
        var n = 0L
        while (it.hasNext) { s += mix(valueHash(it.next())); n += 1 }
        sum.add(s); count.add(n)
      }
    })
    (sum.value, count.value)
  }

  private def mix(x: Long): Long = { // SplitMix64 finalizer
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def valueHash(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case r: Row => (0 until r.length).foldLeft(17L)((h, i) => mix(h * 31 + valueHash(r.get(i))))
    case b: Array[Byte] => java.util.Arrays.hashCode(b).toLong
    case m: scala.collection.Map[_, _] => m.iterator.map(kv => mix(valueHash(kv._1) * 31 + valueHash(kv._2))).sum
    case s: scala.collection.Seq[_] => s.foldLeft(19L)((h, x) => mix(h * 31 + valueHash(x)))
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case other => other.hashCode.toLong
  }
}
