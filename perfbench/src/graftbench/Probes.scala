package graftbench

import graft.functions.{TextFunctions => TF}
import graft.operators.{CorpusStats, Dedup, StarSchema, SurrogateKey, Views}
import graft.sources.{MinhashIndexStore, Sinks, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Layer probes of the traced run: direct, timed calls into each
  * layer's public functions on the workload's own generated inputs.
  * Every probe is forced by the xxhash64 fold `graft.Bench` uses, runs
  * `reps` times inside its own span and job group, and reports its
  * fastest rep in seconds. Past `deadline` (epoch ns) each probe runs
  * once, so a slow run still reports every probe in time.
  */
final class Probes(spark: SparkSession, tracer: Tracer, probe: SparkProbe,
    scratch: String, firstId: Long, deadline: Long, reps: Int = 2) {
  val seconds = mutable.LinkedHashMap.empty[String, Double]
  /** (span id, job group) of every probe rep, for attaching its jobs */
  val spans = mutable.ArrayBuffer.empty[(Long, String)]
  private var nextId = firstId
  private val sc = spark.sparkContext

  def force(df: DataFrame): Unit = {
    // xxhash64 rejects maps; fold their JSON text instead
    val cols = df.schema.fields.toSeq.map { f => f.dataType match {
      case _: org.apache.spark.sql.types.MapType => to_json(col(f.name))
      case _ => col(f.name)
    } }
    df.select(xxhash64(struct(cols: _*)).as("h")).agg(expr("bit_xor(h)")).collect()
    ()
  }

  /** Time `f` as probe `metric`; `prepare` runs untimed before each rep. */
  def time(metric: String, prepare: () => Unit = () => (), n: Int = reps)(
      f: => Unit): Unit = {
    val group = s"probe-$metric"
    val runs = Iterator.range(0, n).takeWhile(i => i == 0 || Clock.now() < deadline).map { _ =>
      prepare()
      nextId += 1
      sc.setJobGroup(group, group, interruptOnCancel = false)
      probe.activeGroup = group
      val t0 = Clock.now()
      try f finally sc.clearJobGroup()
      val t1 = Clock.now()
      spans += tracer.add(s"probe:$metric", t0, t1, 0L, nextId) -> group
      (t1 - t0) / 1e9
    }.toSeq
    seconds(metric) = runs.min
    System.err.println(f"[probe] $metric%-36s ${runs.map(r => f"$r%.3f").mkString(" ")}")
  }

  private def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    Workload.delete(dst)
    java.nio.file.Files.createDirectories(dst.getParent)
    val s = java.nio.file.Files.walk(src)
    try s.forEach(p => java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))))
    finally s.close()
  }

  /** `sources`/`operators` probes of the daily chain, re-applying the
    * last delivered drop against a copy of the warehouse.
    */
  def daily(baseDir: String, dropDir: String, warehouse: String): Unit = {
    val wh = s"$scratch/probe_wh"
    time("sources.read_s") {
      force(Tables.events(spark, dropDir)); force(Tables.part(spark, baseDir))
    }
    val events = Tables.events(spark, dropDir)
      .filter(col("event_id").isNotNull)
    val part = Tables.part(spark, baseDir)
    time("operators.prep_s")(force(StarSchema.prep(events)))
    val prepped = StarSchema.prep(events)
    time("operators.surrogate_s") {
      force(SurrogateKey.withDenseId(prepped.select("event_id"), Seq("event_id"), "guid"))
    }
    time("operators.views_s") {
      val jf = Views.viewJoinedPrepped(prepped, part)
      Seq(Views.yearlyCountsFrom(jf), Views.itemRankFrom(jf), Views.topItemFrom(jf),
        Views.topPlatformFrom(jf)).foreach(force)
    }
    val copyDims = () => Seq("d_user", "d_item").foreach(t => copyDir(s"$warehouse/$t", s"$wh/$t"))
    time("sources.merge_dim_s", copyDims) {
      Sinks.mergeDimSurrogate(spark, s"$wh/d_user", prepped.select("user_id"),
        "user_id", "guid_user").count()
      Sinks.mergeDim(spark, s"$wh/d_item", StarSchema.dItem(part), Seq("item_id"),
        Seq("item_name", "item_brand", "item_type", "item_size", "item_price"),
        Sinks.Update).count()
    }
    time("sources.merge_fact_s", () => copyDir(s"$warehouse/f_events", s"$wh/f_events")) {
      val withGuid = StarSchema.fEventsFlatPrepped(prepped)
        .join(spark.read.parquet(s"$warehouse/d_event"), Seq("event_id"))
        .withColumn("event_date", to_date(col("event_time")))
      Sinks.mergeFactByDate(spark, s"$wh/f_events", withGuid,
        Seq("event_id", "event_parameter_name", "event_parameter_value"),
        Seq("event_time", "event_user_id", "event_name", "event_value", "guid_event"))
        .count()
    }
    Workload.delete(java.nio.file.Paths.get(wh))
  }

  /** `sources`/`operators` probes of the curation chain, over the corpus
    * and the last op's stage tables.
    */
  def corpus(corpusDir: String, curated: String): Unit = {
    val docs = Tables.documents(spark, corpusDir)
    val canon = spark.read.parquet(s"$curated/corpus_canonical")
    val clean = spark.read.parquet(s"$curated/corpus_clean")
    time("sources.read_s")(force(Tables.documents(spark, corpusDir)))
    time("operators.quality_s")(force(CorpusStats.gopherQuality(docs)))
    time("operators.exact_dedup_s")(force(Dedup.exactKeep(docs)))
    time("operators.minhash_pairs_s") {
      force(Dedup.minhashNearDupPairs(docs.filter(col("text").isNotNull)))
    }
    time("operators.keep_best_s") {
      force(Dedup.minhashKeepBestScoredDistinct(canon, CorpusStats.qualityScore))
    }
    time("operators.split_pack_s") {
      force(CorpusStats.splitAssign(clean)); force(CorpusStats.packManifest(clean))
    }
    val idx = s"$scratch/probe_index"
    time("sources.index_build_s", () => Workload.delete(java.nio.file.Paths.get(idx))) {
      MinhashIndexStore.build(canon, idx)
    }
    Workload.delete(java.nio.file.Paths.get(idx))
  }

  /** `plans` probes: each native `graft_*` kernel the corpus chain uses,
    * and `tools/KernelCost`'s murmur/md5 pair (the one kernel it defines a
    * comparison for), so the figures line up with `bench/kernel_cost_*.json`.
    */
  def kernels(corpusDir: String): Unit = {
    val docs = Tables.documents(spark, corpusDir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), TF.words(col("text")).as("w"))
    time("plans.minhash_sig_s")(force(docs.select(TF.minhashSigWords(col("w"), 3, 32))))
    time("plans.char_minhash_sig_s")(force(docs.select(TF.minhashSigChars(col("text"), 5, 64))))
    // neighbouring documents' sorted shingle-hash sets, pinned untimed
    val sets = docs.select(col("doc_id"),
      array_sort(array_distinct(transform(TF.shinglesFromWords(col("w"), 3),
        s => TF.md5Hash32(s)))).as("hs"))
    val pairs = sets.alias("a").join(sets.alias("b"),
        col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.hs").as("a"), col("b.hs").as("b")).persist()
    try {
      pairs.count()
      time("plans.sorted_intersect_s") {
        force(pairs.select(call_function("graft_sorted_intersect", col("a"), col("b"))))
      }
    } finally pairs.unpersist(blocking = true)
    time("plans.kernel_cost.simhash64_s")(force(docs.select(call_function("graft_simhash64", col("w")))))
    time("plans.kernel_cost.md5_per_token_s")(force(docs.select(TF.minhashSigWords(col("w"), 1, 1)(0))))
  }

  /** `streaming` probe: one keep-best maintenance replay (two file-drop
    * micro-batches against a persisted MinHash index) over the corpus;
    * its micro-batches are read back from the streaming listener.
    */
  def stream(corpusDir: String): Unit =
    time("streaming.replay_s", n = 1) {
      graft.streaming.StreamReplay.replayKeepBestDrops(spark, corpusDir).count()
      ()
    }
}
