package graftbench

import graft.{CorpusPipeline, Pipeline}
import graft.Pipeline.StageResult
import graft.sources.Tables
import org.apache.spark.sql.{Row, SparkSession}

/** What one op returned: the program's per-stage results, the input
  * rows it was handed, and the reason its output check failed, if any.
  */
final case class OpOutcome(stages: Seq[StageResult], inputRows: Long,
    problem: Option[String])

/** One benchmark workload: set-up (untimed), then ops until the run's
  * time is up, then the summary the DuckDB oracle is compared against.
  */
trait Workload {
  def setup(): Unit
  def hasNext(i: Int): Boolean
  def op(i: Int): OpOutcome
  /** Untimed clean-up after op `i` and its record are taken. */
  def afterOp(i: Int): Unit = ()
  /** Stage names that run concurrently, phase by phase. */
  def phases(stages: Seq[String]): Seq[Seq[String]]
  def outputDir: String
  /** Bytes of the inputs delivered to the program so far. */
  def inputBytes: Long
  def summary(): Seq[Row]
  def record: Seq[(String, Any)]
  /** The traced run's layer probes on this workload's inputs. */
  def probe(p: Probes): Unit
}

object Workload {
  def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  def dataFiles(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }

  def delete(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }

  /** Check a run of stage results against the expected stage names. */
  def stageProblem(got: Seq[StageResult], want: Seq[String]): Option[String] =
    if (got.map(_.name) != want) Some(s"stages ${got.map(_.name)} != $want")
    else got.find(_.rows <= 0).map(s => s"stage ${s.name} wrote ${s.rows} rows")
}

/** `daily_drops`: a base month is loaded in set-up; each op folds the
  * next one-day drop (fresh events plus late re-deliveries, some with a
  * corrected value) into the warehouse with `Pipeline.runDailyLoad`.
  */
final class DailyDrops(spark: SparkSession, data: String, work: String,
    dropRows: Long, latePerDrop: Long) extends Workload {
  private val wh = s"$work/warehouse"
  private val drops = {
    val d = new java.io.File(s"$data/drops").listFiles()
    if (d == null) Seq.empty else d.filter(_.isDirectory).map(_.getPath).sorted.toSeq
  }
  private val part = Tables.part(spark, s"$data/base")
  private var applied = 0
  private var lastDEvent = -1L

  def setup(): Unit = {
    Pipeline.runDaily(spark, s"$data/base", wh)
    lastDEvent = spark.read.parquet(s"$wh/d_event").count()
  }

  def hasNext(i: Int): Boolean = i < drops.size

  def op(i: Int): OpOutcome = {
    val res = Pipeline.runDailyLoad(spark, Tables.events(spark, drops(i)), part, wh)
    applied = i + 1
    OpOutcome(res, dropRows, check(res))
  }

  /** Per-drop law: every stage ran and wrote rows, the raw layer holds
    * exactly the drop, and the event dim grew by exactly the drop's
    * fresh (not re-delivered) events.
    */
  private def check(res: Seq[StageResult]): Option[String] = {
    val byName = res.map(r => r.name -> r.rows).toMap
    val grown = byName.getOrElse("d_event", -1L) - lastDEvent
    lastDEvent = byName.getOrElse("d_event", -1L)
    Workload.stageProblem(res, Pipeline.StageNames).orElse {
      if (byName("event_raw") != dropRows)
        Some(s"event_raw ${byName("event_raw")} rows != drop $dropRows")
      else if (grown != dropRows - latePerDrop)
        Some(s"d_event grew by $grown, expected ${dropRows - latePerDrop}")
      else None
    }
  }

  def phases(stages: Seq[String]): Seq[Seq[String]] = DailyDrops.phases(stages)

  def outputDir: String = wh
  def inputBytes: Long =
    Workload.dirBytes(java.nio.file.Paths.get(s"$data/base")) +
      drops.take(applied).map(d => Workload.dirBytes(java.nio.file.Paths.get(d))).sum
  def summary(): Seq[Row] = Pipeline.warehouseSummary(spark, wh).collect().toSeq
  def record: Seq[(String, Any)] = Seq("summary_of" -> "pipeline_daily",
    "drops_applied" -> applied)
  def probe(p: Probes): Unit = p.daily(s"$data/base", drops(applied - 1), wh)
}

object DailyDrops {
  /** The daily chain's fan-out: event_raw, then the four dims, then the
    * fact, then the four views (stages sharing a name prefix run together).
    */
  def phases(stages: Seq[String]): Seq[Seq[String]] =
    stages.foldLeft(Vector.empty[Vector[String]]) { (acc, s) =>
      val p = s.takeWhile(_ != '_')
      if (acc.nonEmpty && (p == "d" || p == "view") &&
          acc.last.head.takeWhile(_ != '_') == p) acc.init :+ (acc.last :+ s)
      else acc :+ Vector(s)
    }
}

/** `corpus_curation`: each op runs the whole `CorpusPipeline.runCuration`
  * chain over the generated corpus into a fresh output directory.
  */
final class CorpusCuration(spark: SparkSession, data: String, work: String,
    docs: Long) extends Workload {
  private val corpus = s"$data/corpus"
  private var last = ""
  private var previous = ""

  def setup(): Unit = ()

  def hasNext(i: Int): Boolean = true

  def op(i: Int): OpOutcome = {
    val out = s"$work/curation_$i"
    val res = CorpusPipeline.runCuration(spark, corpus, out)
    previous = last
    last = out
    OpOutcome(res, docs, check(res))
  }

  /** Only the last op's output is kept (for the summary and probes). */
  override def afterOp(i: Int): Unit =
    if (previous.nonEmpty) {
      Workload.delete(java.nio.file.Paths.get(previous))
      previous = ""
    }

  /** Per-run law: every stage ran, quality flags every document, and
    * each later stage keeps a subset of its predecessor's rows.
    */
  private def check(res: Seq[StageResult]): Option[String] =
    Workload.stageProblem(res, CorpusPipeline.StageNames).orElse {
      val n = res.map(_.rows)
      if (n.head != docs) Some(s"quality flagged ${n.head} of $docs documents")
      else if (!(n(1) <= n.head && n(2) <= n(1) && n(3) == n(2) && n(4) <= n(3)))
        Some(s"stage rows not containment-ordered: ${n.mkString(",")}")
      else None
    }

  def phases(stages: Seq[String]): Seq[Seq[String]] = stages.map(Seq(_))
  def outputDir: String = last
  def inputBytes: Long = Workload.dirBytes(java.nio.file.Paths.get(corpus))
  def summary(): Seq[Row] = CorpusPipeline.curationSummary(spark, last).collect().toSeq
  def record: Seq[(String, Any)] = Seq("summary_of" -> "pipeline_corpus")
  def probe(p: Probes): Unit = {
    p.corpus(corpus, last)
    p.kernels(corpus)
    p.stream(corpus)
  }
}
