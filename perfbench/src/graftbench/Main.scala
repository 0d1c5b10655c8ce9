package graftbench

import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed op as the run recorded it. */
final case class OpRecord(id: Long, start: Long, end: Long, traced: Boolean,
    gcMs: Long, cpuNs: Long, outcome: Option[OpOutcome], error: Option[Map[String, String]]) {
  def seconds: Double = (end - start) / 1e9
  def failed: Boolean = error.nonEmpty || outcome.exists(_.problem.nonEmpty)
}

/** JVM-wide figures: peak old-generation occupancy right after a
  * collection (read from GC notifications; no collection is ever forced),
  * GC time, and process CPU time.
  */
object JvmStats {
  @volatile var peakOldBytes = 0L

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
              if (pool.contains("Old Gen") || pool.contains("Tenured"))
                peakOldBytes = math.max(peakOldBytes, u.getUsed)
            }
          }
        }, null, null)
      case _ => ()
    }

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** CPU time of the whole JVM (driver, tasks, JIT and GC threads). */
  def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

object Pins {
  /** Pins still live: persistent RDDs plus Dataset cache entries. */
  def count(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size +
      org.apache.spark.sql.GraftBenchCache.entries(spark)
}

/** The benchmark's JVM side: builds the session, runs one workload's
  * set-up and closed-loop ops, and writes the run record (op times,
  * outcomes, the summary the oracle checks, and, when traced, spans and
  * per-layer metrics) as JSON. `perfbench/run.py` drives it.
  */
object Main {
  /** Untimed warm-up ops: the first ops after a cold start run 1.2-3x
    * slower (JIT, codegen) and the next few keep speeding up. */
  val WarmupOps = 2
  /** Timed ops a run always makes, so its median has a middle sample. */
  val MinOps = 3

  final case class Args(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, out: String, traceOut: String,
      opRows: Long, latePerDrop: Long, probeDeadline: Long)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("out"), m.getOrElse("trace-out", ""),
      m("op-rows").toLong, m.getOrElse("late-per-drop", "0").toLong,
      Clock.fromMillis(m.getOrElse("probe-deadline-ms", Long.MaxValue.toString).toLong
        .min(Long.MaxValue / 1000000L)))
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def failure(e: Throwable): Map[String, String] = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    Map(
      "class" -> e.getClass.getName,
      "message" -> Option(e.getMessage).getOrElse("").linesIterator.take(3)
        .mkString(" ").take(500),
      "graft_frame" -> chain.flatMap(_.getStackTrace)
        .find(_.getClassName.startsWith("graft.")).map(_.toString).getOrElse(""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    JvmStats.install()
    val tracer = new Tracer(a.trace)
    val cpus = Runtime.getRuntime.availableProcessors
    val tSession = Clock.now()
    val spark = graft.GraftSession.local(cpus)
    val sessionBuildS = (Clock.now() - tSession) / 1e9
    val sc = spark.sparkContext
    try {
      val w: Workload = a.workload match {
        case "daily_drops" =>
          new DailyDrops(spark, a.data, a.work, a.opRows, a.latePerDrop)
        case "corpus_curation" => new CorpusCuration(spark, a.data, a.work, a.opRows)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // set-up: the workload's own (the base month), then the warm-up ops
      val tSetup = Clock.now()
      w.setup()
      (0 until WarmupOps).foreach { i =>
        w.op(i).problem.foreach(p => throw new IllegalStateException(s"warm-up op $i: $p"))
        w.afterOp(i)
      }
      val warmupS = (Clock.now() - tSetup) / 1e9
      val firstOp = Clock.now()
      val end = firstOp + (a.seconds * 1e9).toLong
      val ops = mutable.ArrayBuffer.empty[OpRecord]
      // closed loop, one client: the next op starts when the last returns,
      // while fewer than MinOps ran or it is expected (at the median op
      // time so far) to end in the window. A traced run traces every
      // second op (U T U T U ...), so in a run of 3 or 5 ops drift cancels
      // out of the tracing-overhead estimate (the traced ops sit in the
      // middle). The listener is attached only around traced ops.
      val probe = new SparkProbe
      def fits = ops.size < MinOps ||
        Clock.now() + (Layers.median(ops.map(_.seconds).toSeq) * 1e9).toLong <= end
      while (fits && w.hasNext(WarmupOps + ops.size)) {
        val id = ops.size + 1L
        val traced = a.trace && ops.size % 2 == 1
        if (traced) sc.addSparkListener(probe)
        sc.setJobGroup(s"op-$id", s"benchmark op $id", interruptOnCancel = false)
        val gc0 = JvmStats.gcMillis
        val cpu0 = JvmStats.cpuNanos
        val t0 = Clock.now()
        val res = try Right(w.op(WarmupOps + ops.size)) catch { case e: Throwable => Left(e) }
        val t1 = Clock.now()
        sc.clearJobGroup()
        ops += OpRecord(id, t0, t1, traced, JvmStats.gcMillis - gc0,
          JvmStats.cpuNanos - cpu0, res.toOption, res.left.toOption.map(failure))
        if (traced) {
          org.apache.spark.GraftBenchBus.drain(sc)
          sc.removeSparkListener(probe)
        }
        w.afterOp(WarmupOps + ops.size - 1)
      }
      if (a.trace) {
        sc.addSparkListener(probe)
        spark.streams.addListener(probe.streaming)
      }
      val lastOp = Clock.now()
      val pins = Pins.count(spark)
      val heapPeakMb = JvmStats.peakOldBytes / 1048576.0
      val summary = try Right(w.summary()) catch { case e: Throwable => Left(e) }
      val layers =
        if (a.trace) Layers.measure(spark, a.work, w, ops.toSeq, probe, tracer, cpus,
          sessionBuildS, warmupS, a.probeDeadline)
        else Seq.empty
      val record = ListMap[String, Any](
        "workload" -> a.workload,
        "cpus" -> cpus,
        "first_op_epoch_ms" -> firstOp / 1000000L,
        "last_op_epoch_ms" -> lastOp / 1000000L,
        "session_build_s" -> sessionBuildS,
        "warmup_s" -> warmupS,
        "heap_peak_mb" -> heapPeakMb,
        "pins_leaked" -> pins,
        "ops" -> ops.map { o => Map(
          "id" -> o.id, "seconds" -> o.seconds, "traced" -> o.traced,
          "cpu_seconds" -> o.cpuNs / 1e9,
          "input_rows" -> o.outcome.map(_.inputRows).getOrElse(0L),
          "failed" -> o.failed,
          "problem" -> o.outcome.flatMap(_.problem),
          "error" -> o.error,
          "stages" -> o.outcome.map(_.stages.map(s => Map(
            "name" -> s.name, "rows" -> s.rows, "seconds" -> s.seconds))).getOrElse(Nil))
        },
        "summary" -> summary.toOption.map(_.map(r =>
          r.schema.fieldNames.zip(r.toSeq).toMap)),
        "summary_error" -> summary.left.toOption.map(failure),
        "oracle" -> Seq("pipeline_daily", "pipeline_corpus").map(n =>
          n -> graft.SparkEntry.oracleSql(n)).toMap,
        "layers" -> ListMap(layers: _*)
      ) ++ w.record
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out),
        mapper.writeValueAsString(record))
      if (a.trace && a.traceOut.nonEmpty) writeSpans(tracer, a.traceOut)
    } finally spark.stop()
  }

  /** Write every span, with its self time, one JSON object per line. */
  def writeSpans(tracer: Tracer, path: String): Unit = {
    val spans = tracer.all
    val self = Intervals.selfTimes(spans)
    val lines = spans.map(s => mapper.writeValueAsString(ListMap("id" -> s.id,
      "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent,
      "op" -> s.op, "self_ns" -> self(s.id))))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}
