package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-layer metrics of a traced run, from three sources: the spans the
  * benchmark records around its own calls (ops, their returned
  * `StageResult`s, probes), the Spark and streaming listener
  * ([[SparkProbe]]), and the direct layer probes ([[Probes]]). Op
  * metrics are means per traced op; every name in [[Names]] is always
  * reported, as 0 where the workload does not exercise the layer.
  */
object Layers {
  val AttributedModules: Seq[String] = Seq("sources", "operators", "pipeline", "streaming")

  val Names: Seq[String] =
    Seq("session.build_s", "session.warmup_s") ++
      graft.Pipeline.StageNames.map(n => s"pipeline.stage.${n}_s") ++
      Seq("pipeline.concurrency") ++
      graft.CorpusPipeline.StageNames.map(n => s"corpus.stage.${n}_s") ++
      Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_s",
        "spark.driver_gap_s", "spark.task_run_s", "spark.task_cpu_s",
        "spark.slot_util", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
        "spark.input_mb", "spark.task_skew", "spark.gc_s", "spark.spill_mb",
        "spark.failed_tasks", "spark.stage_retries") ++
      AttributedModules.flatMap(m => Seq(s"$m.jobs", s"$m.task_run_s")) ++
      Seq("sources.write_amp", "sources.read_mb", "sources.files",
        "sources.bytes_stored_per_input_byte", "sources.read_s",
        "sources.merge_dim_s", "sources.merge_fact_s", "sources.index_build_s",
        "operators.prep_s", "operators.surrogate_s", "operators.views_s",
        "operators.quality_s", "operators.exact_dedup_s",
        "operators.minhash_pairs_s", "operators.keep_best_s",
        "operators.split_pack_s",
        "plans.minhash_sig_s", "plans.char_minhash_sig_s", "plans.sorted_intersect_s",
        "plans.kernel_cost.simhash64_s", "plans.kernel_cost.md5_per_token_s",
        "streaming.replay_s", "streaming.batches", "streaming.batch_s",
        "streaming.add_batch_s", "streaming.planning_s", "streaming.commit_s",
        "streaming.input_rows", "trace.overhead_frac")

  private val MB = 1048576.0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def measure(spark: SparkSession, work: String, w: Workload, ops: Seq[OpRecord],
      probe: SparkProbe, tracer: Tracer, cpus: Int, sessionBuildS: Double,
      warmupS: Double, probeDeadline: Long): Seq[(String, Double)] = {
    val sc = spark.sparkContext
    org.apache.spark.GraftBenchBus.drain(sc)
    val m = mutable.LinkedHashMap(Names.map(_ -> 0.0): _*)
    // sums over the traced ops, reported as means per op
    val perOp = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = perOp(k) += v
    m("session.build_s") = sessionBuildS
    m("session.warmup_s") = warmupS
    val traced = ops.filter(_.traced)
    val corpusStages = graft.CorpusPipeline.StageNames.toSet
    var written = 0L
    var delivered = 0L
    traced.foreach { o =>
      val opSpan = tracer.add("op", o.start, o.end, 0L, o.id)
      o.outcome.foreach { out =>
        // stage spans: the returned durations laid out phase by phase
        val byName = out.stages.map(s => s.name -> s).toMap
        var cursor = o.start
        w.phases(out.stages.map(_.name)).foreach { phase =>
          val ss = phase.flatMap(byName.get)
          ss.foreach(s => tracer.add(s"stage:${s.name}", cursor,
            cursor + (s.seconds * 1e9).toLong, opSpan, o.id))
          if (ss.nonEmpty) cursor += (ss.map(_.seconds).max * 1e9).toLong
        }
        out.stages.foreach { s =>
          val layer = if (corpusStages(s.name)) "corpus" else "pipeline"
          add(s"$layer.stage.${s.name}_s", s.seconds)
        }
        add("pipeline.concurrency", out.stages.map(_.seconds).sum / o.seconds)
        delivered += out.inputRows
      }
      val js = probe.jobsOf(s"op-${o.id}")
      js.foreach(j => tracer.add(s"job:${j.module}", j.start, j.end, opSpan, o.id))
      val ss = probe.stagesOf(js).filter(_.tasks > 0)
      val wall = o.end - o.start
      add("spark.jobs", js.size)
      add("spark.stages", ss.size)
      add("spark.tasks", ss.map(_.tasks).sum)
      add("spark.sched_delay_s", ss.map(_.schedDelayMs).sum / 1e3)
      add("spark.driver_gap_s",
        (wall - Intervals.coverage(js.map(j => (j.start, j.end)), o.start, o.end)) / 1e9)
      val run = ss.map(_.runMs).sum / 1e3
      add("spark.task_run_s", run)
      add("spark.task_cpu_s", ss.map(_.cpuNs).sum / 1e9)
      add("spark.slot_util", run / (wall / 1e9 * cpus))
      add("spark.shuffle_write_mb", ss.map(_.shuffleWriteBytes).sum / MB)
      add("spark.shuffle_read_mb", ss.map(_.shuffleReadBytes).sum / MB)
      add("spark.input_mb", ss.map(_.inputBytes).sum / MB)
      add("spark.spill_mb", ss.map(_.spillBytes).sum / MB)
      add("spark.gc_s", o.gcMs / 1e3)
      add("spark.failed_tasks", ss.map(_.failedTasks).sum)
      add("spark.stage_retries", ss.map(s => math.max(0, s.attempts - 1)).sum)
      if (ss.nonEmpty) {
        val heavy = ss.maxBy(_.runMs)
        val med = median(heavy.taskRunMs.map(_.toDouble).toSeq)
        add("spark.task_skew", if (med > 0) heavy.taskRunMs.max / med else 1.0)
      }
      written += ss.map(_.recordsWritten).sum
      js.groupBy(_.module).foreach { case (mod, mj) =>
        val ms = probe.stagesOf(mj)
        if (AttributedModules.contains(mod)) {
          add(s"$mod.jobs", mj.size)
          add(s"$mod.task_run_s", ms.map(_.runMs).sum / 1e3)
        }
        if (mod == "sources") add("sources.read_mb", ms.map(_.inputBytes).sum / MB)
      }
    }
    perOp.foreach { case (k, v) => m(k) = v / math.max(traced.size, 1) }
    m("sources.write_amp") = if (delivered > 0) written.toDouble / delivered else 0.0
    val out = java.nio.file.Paths.get(w.outputDir)
    m("sources.files") = Workload.dataFiles(out).toDouble
    m("sources.bytes_stored_per_input_byte") =
      Workload.dirBytes(out).toDouble / math.max(w.inputBytes, 1L)
    val untracedS = median(ops.filterNot(_.traced).map(_.seconds))
    if (untracedS > 0)
      m("trace.overhead_frac") = median(traced.map(_.seconds)) / untracedS - 1.0

    // layer probes, after the ops and only here
    val probes = new Probes(spark, tracer, probe, s"$work/probes", ops.size + 1L,
      probeDeadline)
    w.probe(probes)
    org.apache.spark.GraftBenchBus.drain(sc)
    probes.seconds.foreach { case (k, v) => m(k) = v }
    val spanById = tracer.all.map(s => s.id -> s).toMap
    probes.spans.foreach { case (id, group) =>
      spanById.get(id).foreach { sp =>
        probe.jobsOf(group).filter(j => j.start >= sp.start && j.start < sp.end)
          .foreach(j => tracer.add(s"job:${j.module}", j.start, j.end, id, sp.op))
        probe.batchesOf(group).filter(b => b.start >= sp.start && b.start < sp.end)
          .foreach(b => tracer.add(s"batch:${b.batchId}", b.start,
            b.start + b.triggerMs * 1000000L, id, sp.op))
      }
    }
    val batches = probe.batchesOf("probe-streaming.replay_s").filter(_.inputRows > 0)
    if (batches.nonEmpty) {
      val k = batches.size.toDouble
      m("streaming.batches") = k
      m("streaming.batch_s") = batches.map(_.triggerMs).sum / 1e3 / k
      m("streaming.add_batch_s") = batches.map(_.addBatchMs).sum / 1e3 / k
      m("streaming.planning_s") = batches.map(_.planningMs).sum / 1e3 / k
      m("streaming.commit_s") = batches.map(_.commitMs).sum / 1e3 / k
      m("streaming.input_rows") = batches.map(_.inputRows).sum.toDouble
    }
    m.toSeq
  }
}
