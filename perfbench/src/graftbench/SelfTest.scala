package graftbench

/** Self-tests of the benchmark's JVM side: span self-time arithmetic,
  * call-site to module mapping, the daily chain's phase grouping, and
  * pin counting on deliberately leaked persists. Prints one
  * `[selftest]` line per check; exits 1 if any fails.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name" +
      (if (ok) "" else s": $detail"))
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    spanArithmetic()
    callSites()
    phases()
    leaks()
    if (failures > 0) sys.exit(1)
  }

  def spanArithmetic(): Unit = {
    // op [0,100) with children [10,30) and [20,50) (overlapping), [60,70),
    // and [90,120) (running past the op); one grandchild under the first
    val spans = Seq(Span(1, "op", 0, 100, 0, 1), Span(2, "a", 10, 30, 1, 1),
      Span(3, "b", 20, 50, 1, 1), Span(4, "c", 60, 70, 1, 1),
      Span(5, "d", 90, 120, 1, 1), Span(6, "a.1", 12, 14, 2, 1))
    val self = Intervals.selfTimes(spans)
    check("self time is duration minus the union of direct children, clipped",
      self(1) == 40L, s"op self ${self(1)}")
    check("a grandchild counts against its parent only",
      self(2) == 18L, s"a self ${self(2)}")
    check("a leaf's self time is its duration", self(4) == 10L && self(6) == 2L,
      s"c ${self(4)}, a.1 ${self(6)}")
    check("coverage merges overlaps and ignores empty and outside parts",
      Intervals.coverage(Nil, 0, 10) == 0L &&
        Intervals.coverage(Seq((0L, 5L), (1L, 2L), (7L, 20L), (30L, 40L)), 0, 10) == 8L)
  }

  def callSites(): Unit = {
    def stack(frames: String*): String = (Seq(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:100)",
      "scala.collection.immutable.List.map(List.scala:250)") ++ frames ++ Seq(
      "graftbench.DailyDrops.op(Workloads.scala:88)",
      "graftbench.Main$.main(Main.scala:100)")).mkString("\n")
    val cases = Seq(
      stack("graft.sources.Sinks$.mergeDim(Sinks.scala:120)",
        "graft.Pipeline$.$anonfun$stagesPrepped$4(Pipeline.scala:180)") -> "sources",
      stack("graft.Pipeline$.overwrite(Pipeline.scala:40)") -> "pipeline",
      stack("graft.CorpusPipeline$.runCuration(CorpusPipeline.scala:120)") -> "pipeline",
      stack("graft.operators.Dedup$.exactKeep(Dedup.scala:63)") -> "operators",
      stack("graft.functions.TextFunctions$.words(TextFunctions.scala:15)") -> "operators",
      stack("graft.plans.MinhashSigUtil$.sig(MinhashSigExpression.scala:40)") -> "plans",
      stack("graft.streaming.StreamReplay$.$anonfun$kbRunStream$3(StreamReplay.scala:1700)",
        "graft.operators.Dedup$.connectedComponents(Dedup.scala:900)") -> "streaming",
      stack("graft.GraftSession$.local(GraftSession.scala:33)") -> "session",
      stack() -> "bench")
    cases.foreach { case (st, want) =>
      val got = CallSite.module(st)
      check(s"call site -> module $want", got == want, s"got $got")
    }
  }

  def phases(): Unit = {
    val got = DailyDrops.phases(graft.Pipeline.StageNames)
    val want = Seq(Seq("event_raw"), Seq("d_event", "d_user", "d_parameter", "d_item"),
      Seq("f_events"), Seq("view_yearly_counts", "view_item_rank", "view_top_item",
        "view_top_platform"))
    check("daily stages group into the chain's four phases", got == want, s"got $got")
  }

  def leaks(): Unit = {
    val spark = graft.GraftSession.local(2)
    try {
      val before = Pins.count(spark)
      val df = spark.range(1000).toDF("id").persist()
      df.count()
      val afterDataset = Pins.count(spark) - before
      val rdd = spark.sparkContext.parallelize(1 to 10).persist()
      rdd.count()
      val afterRdd = Pins.count(spark) - before
      check("a leaked Dataset persist counts its cache entry and its RDD",
        afterDataset == 2, s"counted $afterDataset")
      check("a leaked RDD persist counts once more", afterRdd == 3, s"counted $afterRdd")
      df.unpersist(blocking = true)
      rdd.unpersist(blocking = true)
      check("released pins are no longer counted", Pins.count(spark) == before,
        s"counted ${Pins.count(spark) - before}")
    } finally spark.stop()
  }
}
