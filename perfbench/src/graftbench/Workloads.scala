package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.checkpoint.{Manifest, ParquetSnapshotIO, TableIO}
import graft.cluster.ConnectedComponents
import graft.model.GraftConfig
import graft.streaming.IncrementalDedup
import graft.streaming.IncrementalDedup.StateDirs

/** What a timed run measured. `unitWalls` are the walls of the workload's
  * unit of work (a run, a crash + resume cycle, a batch). */
final case class Level(docsPerS: Double, unitWalls: Seq[Double],
    resumeWalls: Seq[Double], stateRatio: Double)

object Workloads {
  val byName: Map[String, Workload] =
    Seq(WebCrawl, DupDense, Stream).map(w => w.name -> w).toMap

  /** The pipeline stage layers, by their `Pipeline.run` stage name. */
  val StageLayer: Map[String, String] = Map(
    "st0_extracted" -> "extract", "st0b_contents" -> "contents",
    "st1_signatures" -> "signatures", "st2_candidates" -> "candidates",
    "st3_verified" -> "verify", "st4_clusters" -> "cluster", "st5_report" -> "report")
  val Stages: Seq[String] =
    Seq("extract", "contents", "signatures", "candidates", "verify", "cluster", "report")

  /** Recall floor of the planted-truth gate (north rule). */
  val RecallFloor = 0.99
}

/** Thrown by [[BenchIO]] in place of a stage commit. */
final class InjectedCrash(stage: String) extends RuntimeException(s"injected crash at $stage commit")

/** Delegating TableIO: optionally crashes at one stage's commit and, when
  * traced, records a span for each load, each stage's compute (everything
  * between a load miss and the commit, plus its eager materialization) and
  * each commit. */
final class BenchIO(under: TableIO, crashAt: Option[String], tracer: Option[Tracer])
    extends TableIO {
  private var pending: Option[Span] = None

  override def load(spark: SparkSession, stage: String): Option[(DataFrame, Manifest)] =
    tracer match {
      case None => under.load(spark, stage)
      case Some(tr) =>
        val r = tr.span(s"load:$stage", "checkpoint.load")(under.load(spark, stage))
        if (r.isEmpty) pending = Some(tr.begin(s"compute:$stage", Workloads.StageLayer(stage)))
        r
    }

  override def commit(df: DataFrame, stage: String): (DataFrame, Manifest) = {
    if (crashAt.contains(stage)) {
      for (tr <- tracer; s <- pending) tr.end(s)
      pending = None
      throw new InjectedCrash(stage)
    }
    tracer match {
      case None => under.commit(df, stage)
      case Some(tr) =>
        val materialized = df.localCheckpoint(true)
        pending.foreach(tr.end)
        pending = None
        val (out, m) = tr.span(s"commit:$stage", "checkpoint.commit")(under.commit(materialized, stage))
        tr.all.filter(_.name == s"compute:$stage").lastOption.foreach(_.rows = m.rowCount)
        (out, m)
    }
  }

  override def ccDurableDir: Option[String] = under.ccDurableDir
}

abstract class Workload {
  def name: String

  /** The warm-up on a tiny corpus that is part of set-up. */
  def warm(ctx: Ctx, spark: SparkSession): Unit
  /** Writes the seeded inputs and builds planted truth, untimed. */
  def prepare(ctx: Ctx, spark: SparkSession): Unit
  def timed(ctx: Ctx, spark: SparkSession, budgetS: Double): Level
  def traced(ctx: Ctx, spark: SparkSession, budgetS: Double): Seq[Metric]

  def run(ctx: Ctx): Seq[Metric] = {
    Fs.delete(ctx.args.work.toString)
    val spark = ctx.setup(ctx.high)(warm(ctx, _))
    try {
      prepare(ctx, spark)
      if (ctx.args.trace) traced(ctx, spark, ctx.args.seconds)
      else {
        val l = timed(ctx, spark, ctx.args.seconds)
        ctx.log(s"samples: ${l.unitWalls.size} units of work, ${l.resumeWalls.size} resumes")
        Seq(
          Metric("setup_s", Stats.median(ctx.setups.toSeq), "s"),
          Metric("docs_per_s", l.docsPerS, "docs/s"),
          Metric("resume_s", Stats.median(l.resumeWalls), "s"),
          Metric("batch_p50_s", Stats.median(l.unitWalls), "s"),
          Metric("pair_recall", quality.recall, "ratio"),
          Metric("pair_precision", quality.precision, "ratio"),
          Metric("state_bytes_per_input_byte", l.stateRatio, "ratio"))
      }
    } finally ctx.stop(spark)
  }

  // ------------------------------------------------------------- checks
  private var expectedHash: Option[String] = None
  /** Quality of the first judged output; every later output must hash
    * equal to it, at every core level. */
  protected var quality: Checks.Quality = _

  /** Checks one output table (with `url` and `cluster_id` columns) against
    * planted truth and against the first output of this run. */
  protected def judge(ctx: Ctx, what: String, out: DataFrame, truth: Corpus.Truth): Boolean = {
    val rows = out.collect().toSeq
    val h = Checks.tableHash(rows)
    val sameAsFirst = expectedHash.forall(_ == h)
    if (expectedHash.isEmpty) expectedHash = Some(h)
    val q = Checks.quality(
      rows.map(r => (r.getAs[String]("url"), r.getAs[Long]("cluster_id"))), truth)
    if (quality == null) {
      quality = q
      ctx.log(f"$what: recall ${q.recall}%.5f (${q.found}/${q.required}) " +
        f"precision ${q.precision}%.5f, output $h")
    }
    Seq(
      ctx.check(sameAsFirst, s"$what: output $h differs from the first output ${expectedHash.get}"),
      ctx.check(q.recall >= Workloads.RecallFloor, s"$what: pair recall ${q.recall} < ${Workloads.RecallFloor}"),
      ctx.check(q.negatives == 0, s"$what: ${q.negatives} planted negative pairs co-clustered"),
      ctx.check(q.giant == 0, s"$what: ${q.giant} clusters above the size cap")
    ).forall(identity)
  }

  // ------------------------------------------------------------- helpers
  protected def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` until the budget would be overrun, at least `minReps`
    * times. */
  protected def loop(budgetS: Double, minReps: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var r = 0
    var last = 0.0
    while (r < minReps || seconds(t0) + last <= budgetS) {
      val t = System.nanoTime()
      body(r)
      last = seconds(t)
      r += 1
    }
  }

  /** Drops every cached or locally checkpointed RDD of earlier runs. */
  protected def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  protected def medianMap(reps: Seq[Map[String, Double]]): Map[String, Double] =
    if (reps.isEmpty) Map.empty
    else reps.flatMap(_.keys).distinct.map(k => k -> Stats.median(reps.map(_.getOrElse(k, 0.0)))).toMap

  /** Stage and checkpoint layer metrics of one traced rep. */
  protected def repLayers(tr: Tracer, ledger: TaskLedger, root: Span, cores: Int): Map[String, Double] = {
    val spans = tr.subtree(root)
    val stages = Workloads.Stages.flatMap { st =>
      val mine = spans.filter(_.layer == st)
      if (mine.isEmpty) Nil
      else {
        val a = Layers.aggregate(tr, ledger, mine)
        Seq(s"$st.wall_s" -> a.wallS, s"$st.cpu_s" -> a.cpuS,
          s"$st.busy" -> (if (a.wallS > 0) a.cpuS / (a.wallS * cores) else 0.0),
          s"$st.rows_out" -> a.rows.toDouble, s"$st.jobs" -> a.jobs.toDouble,
          s"$st.shuffle_write_mb" -> a.shuffleWriteMb, s"$st.shuffle_read_mb" -> a.shuffleReadMb,
          s"$st.spill_mb" -> a.spillMb, s"$st.gc_s" -> a.gcS, s"$st.task_skew" -> a.taskSkew)
      }
    }
    val commits = spans.filter(_.layer == "checkpoint.commit")
    val loads = spans.filter(_.layer == "checkpoint.load")
    val ckpt =
      if (commits.isEmpty && loads.isEmpty) Nil
      else {
        val written = ledger.tasksOf(commits.map(_.id))
        Seq("checkpoint.commit_s" -> commits.map(tr.selfS).sum,
          "checkpoint.load_s" -> loads.map(tr.selfS).sum,
          "checkpoint.bytes_written_mb" -> written.map(_.outBytes).sum / 1048576.0,
          "checkpoint.files_written" -> written.count(_.outRecords > 0).toDouble)
      }
    val layered = spans.filter(_.layer.nonEmpty).filterNot(_.layer == "kernel")
    (stages ++ ckpt ++ Seq(
      "trace.stage_sum_s" -> layered.map(tr.selfS).sum,
      "trace.driver_idle_s" -> Layers.idleS(tr, ledger, root))).toMap
  }

  /** The full per-layer metric set; layers this workload does not exercise
    * read 0. */
  protected def perLayer(ctx: Ctx, values: Map[String, Double], untraced: Seq[Double],
      tracedWalls: Seq[Double]): Seq[Metric] = {
    val u = Stats.median(untraced)
    val all = values ++ Map(
      "jvm.peak_rss_mb" -> ctx.peakRssMb,
      "trace.gap_s" -> (u - values.getOrElse("trace.stage_sum_s", 0.0)),
      "trace.overhead" -> (Stats.median(tracedWalls) / u - 1))
    val unknown = all.keySet -- PerLayer.names.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    PerLayer.names.map { case (n, unit) => Metric(n, all.getOrElse(n, 0.0), unit) }
  }

  /** Kernel timings over docs and planted pairs of this run's corpus. */
  protected def kernels(tr: Tracer, pages: DataFrame, truth: Corpus.Truth,
      budgetS: Double): Seq[Metric] = {
    val rows = pages.select("url", "html", "text").collect()
    val text = rows.map(r => r.getString(0) -> r.getString(2)).toMap
    val docs = rows.sortBy(_.getString(0)).take(200)
      .map(r => (r.getAs[Array[Byte]]("html"), r.getString(2))).toSeq
    val planted = truth.kinds.keys.toSeq.filter(p => text.contains(p._1) && text.contains(p._2)).sorted
    val step = math.max(1, planted.size / 200)
    val pairs = planted.indices.by(step).map(i => (text(planted(i)._1), text(planted(i)._2)))
    Kernels.run(tr, docs, pairs, budgetS)
  }

  protected def spansFile(ctx: Ctx): java.nio.file.Path =
    ctx.args.work.getParent.resolve("traces").resolve(s"$name-seed${ctx.args.seed}.jsonl")
}

/** Per-layer metric names and units, in output order. */
object PerLayer {
  val names: Seq[(String, String)] =
    Workloads.Stages.flatMap { st =>
      Seq("wall_s" -> "s", "cpu_s" -> "s", "busy" -> "ratio", "rows_out" -> "count",
        "jobs" -> "count", "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
        "spill_mb" -> "MB", "gc_s" -> "s", "task_skew" -> "ratio")
        .map { case (m, u) => s"$st.$m" -> u }
    } ++ Seq(
      "candidates.pairs_per_content" -> "ratio", "candidates.dropped_groups" -> "count",
      "candidates.salted_groups" -> "count", "candidates.salted_members" -> "count",
      "verify.pass_rate" -> "ratio", "verify.lcs_share" -> "ratio",
      "cluster.edges" -> "count", "cluster.cc_iterations" -> "count",
      "checkpoint.commit_s" -> "s", "checkpoint.load_s" -> "s",
      "checkpoint.bytes_written_mb" -> "MB", "checkpoint.files_written" -> "count",
      "streaming.batch_s" -> "s", "streaming.late_over_early" -> "ratio",
      "streaming.state_mb.signatures" -> "MB", "streaming.state_mb.band_index" -> "MB",
      "streaming.state_mb.members" -> "MB", "streaming.state_mb.edges" -> "MB",
      "streaming.state_mb.clusters" -> "MB", "streaming.edges_est_only" -> "count",
      "kernel.extract_us" -> "us", "kernel.shingle_us" -> "us", "kernel.minhash_us" -> "us",
      "kernel.simhash_us" -> "us", "kernel.band_us" -> "us", "kernel.jaccard_us" -> "us",
      "kernel.lcs_us" -> "us",
      "trace.stage_sum_s" -> "s", "trace.gap_s" -> "s", "trace.driver_idle_s" -> "s",
      "trace.overhead" -> "ratio", "pipeline.scale_eff" -> "ratio", "jvm.peak_rss_mb" -> "MB")
}

/** Counters read from a verified-pair table. */
object VerifyCounters {
  def apply(verified: DataFrame, candidates: Long, contents: Long,
      stats: Pipeline.BandStats, ccIterations: Int): Map[String, Double] = {
    val row = verified.agg(
      count(lit(1)),
      sum(when(col("passed"), 1L).otherwise(0L)),
      sum(when(isnan(col("lcs_ratio")), 0L).otherwise(1L))).head()
    val n = row.getLong(0).toDouble
    val passed = if (row.isNullAt(1)) 0L else row.getLong(1)
    val lcs = if (row.isNullAt(2)) 0L else row.getLong(2)
    Map(
      "candidates.pairs_per_content" -> candidates.toDouble / math.max(1L, contents),
      "candidates.dropped_groups" -> stats.droppedBandGroups.toDouble,
      "candidates.salted_groups" -> stats.saltedBandGroups.toDouble,
      "candidates.salted_members" -> stats.saltedMembers.toDouble,
      "verify.pass_rate" -> (if (n > 0) passed / n else 0.0),
      "verify.lcs_share" -> (if (n > 0) lcs / n else 0.0),
      "cluster.edges" -> passed.toDouble,
      "cluster.cc_iterations" -> ccIterations.toDouble)
  }
}

// ================================================================ web-crawl
/** Batch `Pipeline.run` under the default in-memory IO over the full
  * PagesGen unit mix with html. */
object WebCrawl extends Workload {
  val name = "web-crawl"
  val Units = 2000L
  val TokensScale = 2
  val cfg = GraftConfig()

  /** First runs on the real corpus, checked but not timed: at this size a
    * run is mostly driver-side planning and scheduling, whose JIT warm-up
    * still shows in the first runs. */
  val WarmRuns = 1

  private var input = ""
  private var pages = 0L
  private var textBytes = 0L
  private var truth: Corpus.Truth = _

  def warm(ctx: Ctx, spark: SparkSession): Unit =
    Pipeline.run(spark, Corpus.pages(spark, 0, 60, Corpus.webUnit, 7L, 1, textOnly = false), cfg)
      .report.write.mode("overwrite").parquet(ctx.path("warm-report"))

  def prepare(ctx: Ctx, spark: SparkSession): Unit = {
    val seed = ctx.args.seed
    input = ctx.path("input")
    val t0 = System.nanoTime()
    textBytes = Corpus.write(
      Corpus.pages(spark, 0, Units, Corpus.webUnit, seed, TokensScale, textOnly = false), input)
    pages = spark.read.parquet(input).count()
    truth = Corpus.truth(0, Units, Corpus.webUnit, seed, TokensScale)
    ctx.log(f"prepared $pages pages in ${seconds(t0)}%.2f s")
  }

  /** `n` checked, untimed runs on the real corpus. */
  private def warmUp(ctx: Ctx, spark: SparkSession, n: Int): Unit = (1 to n).foreach { i =>
    val cores = spark.sparkContext.defaultParallelism
    ctx.attempt(s"$name warm-up run $i local[$cores]") {
      val w = once(spark, ctx.path("report-warm"))
      ctx.log(f"$name local[$cores] warm-up run $i: $w%.3f s")
      judge(ctx, s"$name local[$cores] warm-up run $i", spark.read.parquet(ctx.path("report-warm")), truth)
    }
  }

  /** One timed run, from reading the input to the written report. Returns
    * the wall. */
  private def once(spark: SparkSession, out: String): Double = {
    unpersistAll(spark)
    val t0 = System.nanoTime()
    Pipeline.run(spark, spark.read.parquet(input), cfg)
      .report.write.mode("overwrite").parquet(out)
    seconds(t0)
  }

  def timed(ctx: Ctx, spark: SparkSession, budgetS: Double): Level = {
    val cores = ctx.high
    val walls = mutable.ArrayBuffer[Double]()
    val state = mutable.ArrayBuffer[Double]()
    val out = ctx.path(s"report-$cores")
    warmUp(ctx, spark, WarmRuns)
    loop(budgetS, minReps = 3) { r =>
      ctx.attempt(s"$name run $r local[$cores]") {
        var w = 0.0
        state += new BlockBytes().during(spark.sparkContext) { w = once(spark, out) }.toDouble
        walls += w
        ctx.log(f"$name local[$cores] run $r: $w%.3f s")
        judge(ctx, s"$name local[$cores] run $r", spark.read.parquet(out), truth)
      }
    }
    Level(pages / Stats.median(walls.toSeq), walls.toSeq, walls.toSeq,
      Stats.median(state.toSeq) / textBytes)
  }

  def traced(ctx: Ctx, spark: SparkSession, budgetS: Double): Seq[Metric] = {
    val sc = spark.sparkContext
    val tr = new Tracer(s"$name-${ctx.args.seed}", sc)
    val ledger = new TaskLedger
    val untraced = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val reps = mutable.ArrayBuffer[Map[String, Double]]()
    val out = ctx.path("report-traced")
    val eagerOut = ctx.path("report-eager")

    def stage(layer: String)(df: => DataFrame): DataFrame = {
      val s = tr.begin(layer, layer)
      val m = df.localCheckpoint(false)
      s.rows = m.count()
      tr.end(s)
      m
    }

    warmUp(ctx, spark, 1)
    loop(budgetS * 0.6, minReps = 1) { r =>
      ctx.attempt(s"$name traced rep $r") {
        untraced += once(spark, out)
        sc.addSparkListener(ledger)
        unpersistAll(spark)
        val lazyRoot = tr.begin("e2e_lazy", "")
        val t0 = System.nanoTime()
        Pipeline.run(spark, spark.read.parquet(input), cfg)
          .report.write.mode("overwrite").parquet(out)
        tracedWalls += seconds(t0)
        tr.end(lazyRoot)
        unpersistAll(spark)
        // StageProbe-style eager stages, one after another
        val root = tr.begin("e2e_eager", "")
        val extracted = stage("extract")(Pipeline.extract(spark.read.parquet(input), cfg))
        val contents = stage("contents")(Pipeline.distinctContents(extracted))
        val sigs = stage("signatures")(Pipeline.signatures(contents, cfg))
        var cands: Pipeline.Candidates = null
        val pairs = stage("candidates") { cands = Pipeline.candidatePairs(sigs, cfg); cands.pairs }
        val verified = stage("verify")(Pipeline.verifyPairs(pairs, contents, cfg))
        ConnectedComponents.lastRunIterations = 0
        val clusters = stage("cluster")(Pipeline.cluster(extracted, verified, cfg))
        val ccIterations = ConnectedComponents.lastRunIterations
        tr.span("report", "report")(Pipeline.report(clusters).write.mode("overwrite").parquet(eagerOut))
        tr.end(root)
        ledger.drain(sc)
        sc.removeSparkListener(ledger)
        tr.all.filter(_.name == "report").last.rows = spark.read.parquet(eagerOut).count()
        val counters = VerifyCounters(verified, tr.all.filter(_.name == "candidates").last.rows,
          tr.all.filter(_.name == "contents").last.rows, cands.stats(), ccIterations)
        reps += repLayers(tr, ledger, root, ctx.high) ++ counters ++
          Map("trace.driver_idle_s" -> Layers.idleS(tr, ledger, lazyRoot))
        judge(ctx, s"$name traced rep $r (lazy)", spark.read.parquet(out), truth) &&
          judge(ctx, s"$name traced rep $r (eager stages)", spark.read.parquet(eagerOut), truth)
      }
    }
    val k = kernels(tr, spark.read.parquet(input), truth, budgetS * 0.1)
    tr.write(spansFile(ctx), ledger)

    // N -> N/4: the same untraced run in a session with max(1, nproc/4) cores
    ctx.stop(spark)
    val lowSpark = ctx.setup(ctx.low)(warm(ctx, _))
    val lowWalls = mutable.ArrayBuffer[Double]()
    try {
      warmUp(ctx, lowSpark, 1)
      loop(budgetS * 0.2, minReps = 1) { r =>
      ctx.attempt(s"$name run $r local[${ctx.low}]") {
        lowWalls += once(lowSpark, out)
        ctx.log(f"$name local[${ctx.low}] run $r: ${lowWalls.last}%.3f s")
        judge(ctx, s"$name local[${ctx.low}] run $r", lowSpark.read.parquet(out), truth)
      }
      }
    } finally ctx.stop(lowSpark)
    val scaleEff = Stats.median(lowWalls.toSeq) / Stats.median(untraced.toSeq) /
      (ctx.high.toDouble / ctx.low)

    perLayer(ctx, medianMap(reps.toSeq) ++ k.map(m => m.name -> m.value) ++
      Map("pipeline.scale_eff" -> scaleEff), untraced.toSeq, tracedWalls.toSeq)
  }
}

// ================================================================ dup-dense
/** Batch `Pipeline.run` under durable `ParquetSnapshotIO` with the
  * distributed, per-iteration-committed CC forced, over text-only
  * duplicate-bearing units. Each unit of work crashes at the st4_clusters
  * commit and resumes from the committed stages to the report. */
object DupDense extends Workload {
  val name = "dup-dense"
  val Units = 1500L
  val TokensScale = 1
  val cfg = GraftConfig(ccLocalThreshold = 0L)

  private var input = ""
  private var pages = 0L
  private var textBytes = 0L
  private var truth: Corpus.Truth = _

  private def io(root: String, crash: Boolean, tracer: Option[Tracer]): TableIO =
    new BenchIO(new ParquetSnapshotIO(root, cfg.configHash),
      if (crash) Some("st4_clusters") else None, tracer)

  /** Crash at the st4 commit, then resume to the committed report. Returns
    * the two phase walls, the CC iterations of the crashed phase and the
    * resumed report. */
  private def cycle(spark: SparkSession, in: => DataFrame, root: String,
      tracer: Option[Tracer]): (Double, Double, Int, DataFrame) = {
    Fs.delete(root)
    ConnectedComponents.lastRunIterations = 0
    val t0 = System.nanoTime()
    val crashed = try {
      Pipeline.run(spark, in, cfg, io(root, crash = true, tracer))
      false
    } catch { case _: InjectedCrash => true }
    require(crashed, "the st4_clusters commit was not reached")
    val crashS = seconds(t0)
    val ccIterations = ConnectedComponents.lastRunIterations
    val t1 = System.nanoTime()
    val report = Pipeline.run(spark, in, cfg, io(root, crash = false, tracer)).report
    (crashS, seconds(t1), ccIterations, report)
  }

  def warm(ctx: Ctx, spark: SparkSession): Unit =
    Pipeline.run(spark, Corpus.pages(spark, 0, 60, Corpus.denseUnit, 7L, 1, textOnly = true), cfg,
      new ParquetSnapshotIO(ctx.path("warm-ckpt"), cfg.configHash))

  def prepare(ctx: Ctx, spark: SparkSession): Unit = {
    val seed = ctx.args.seed
    input = ctx.path("input")
    textBytes = Corpus.write(
      Corpus.pages(spark, 0, Units, Corpus.denseUnit, seed, TokensScale, textOnly = true), input)
    pages = spark.read.parquet(input).count()
    truth = Corpus.truth(0, Units, Corpus.denseUnit, seed, TokensScale)
    // reference: one uninterrupted run of the same corpus, in memory
    ctx.attempt(s"$name uninterrupted reference run") {
      judge(ctx, s"$name uninterrupted run", Pipeline.run(spark, spark.read.parquet(input), cfg).report,
        truth)
    }
  }

  def timed(ctx: Ctx, spark: SparkSession, budgetS: Double): Level = {
    val cores = ctx.high
    val walls = mutable.ArrayBuffer[Double]()
    val resumes = mutable.ArrayBuffer[Double]()
    val state = mutable.ArrayBuffer[Double]()
    val root = ctx.path(s"ckpt-$cores")
    loop(budgetS, minReps = 1) { r =>
      ctx.attempt(s"$name cycle $r local[$cores]") {
        val (crashS, resumeS, _, report) = cycle(spark, spark.read.parquet(input), root, None)
        walls += crashS + resumeS
        resumes += resumeS
        ctx.log(f"$name local[$cores] cycle $r: crash phase $crashS%.3f s, resume $resumeS%.3f s")
        state += Fs.bytes(root).toDouble
        judge(ctx, s"$name resumed report, cycle $r local[$cores]", report, truth)
      }
    }
    Level(pages / Stats.median(walls.toSeq), walls.toSeq, resumes.toSeq,
      Stats.median(state.toSeq) / textBytes)
  }

  def traced(ctx: Ctx, spark: SparkSession, budgetS: Double): Seq[Metric] = {
    val sc = spark.sparkContext
    val tr = new Tracer(s"$name-${ctx.args.seed}", sc)
    val ledger = new TaskLedger
    val untraced = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val reps = mutable.ArrayBuffer[Map[String, Double]]()
    val root = ctx.path("ckpt-traced")
    loop(budgetS * 0.8, minReps = 1) { r =>
      ctx.attempt(s"$name traced rep $r") {
        val (c0, r0, _, _) = cycle(spark, spark.read.parquet(input), root, None)
        untraced += c0 + r0
        sc.addSparkListener(ledger)
        val cycleRoot = tr.begin("cycle", "")
        val (crashS, resumeS, ccIterations, report) =
          cycle(spark, spark.read.parquet(input), root, Some(tr))
        tr.end(cycleRoot)
        tracedWalls += crashS + resumeS
        ledger.drain(sc)
        sc.removeSparkListener(ledger)
        val committed = new ParquetSnapshotIO(root, cfg.configHash)
        def table(stage: String) = committed.load(spark, stage).get
        val (sigs, _) = table("st1_signatures")
        val counters = VerifyCounters(table("st3_verified")._1, table("st2_candidates")._2.rowCount,
          table("st0b_contents")._2.rowCount, Pipeline.candidatePairs(sigs, cfg).stats(),
          ccIterations)
        reps += repLayers(tr, ledger, cycleRoot, ctx.high) ++ counters
        judge(ctx, s"$name traced rep $r", report, truth)
      }
    }
    val k = kernels(tr, spark.read.parquet(input), truth, budgetS * 0.15)
    tr.write(spansFile(ctx), ledger)
    perLayer(ctx, medianMap(reps.toSeq) ++ k.map(m => m.name -> m.value), untraced.toSeq,
      tracedWalls.toSeq)
  }
}

// ================================================================== stream
/** A fixed sequence of batches through `IncrementalDedup.processBatch`
  * against one local state root. Batch b holds fresh units plus a tenth of
  * batch b-1's units republished under new urls with one appended token.
  * In timed runs the last batch crashes before its last state append (the
  * signatures, which gate replay) and is replayed: the replay wall is
  * `resume_s` and counts as that batch's wall. */
object Stream extends Workload {
  val name = "stream"
  val Batches = 2
  val UnitsPerBatch = 300L
  val Republished = UnitsPerBatch / 10
  val TokensScale = 1
  val cfg = GraftConfig()

  private var inputs = Seq.empty[String]
  private var docs = 0L
  private var textBytes = 0L
  private var truth: Corpus.Truth = _

  private def batchPages(spark: SparkSession, seed: Long, units: Long, b: Int): DataFrame = {
    val fresh = Corpus.pages(spark, (b - 1) * units, b * units, Corpus.webUnit, seed,
      TokensScale, textOnly = false)
    if (b == 1) fresh
    else fresh.union(Corpus.republished(spark, (b - 2) * units,
      (b - 2) * units + math.max(1L, units / 10), seed, TokensScale, b))
  }

  def warm(ctx: Ctx, spark: SparkSession): Unit = {
    val dirs = StateDirs(ctx.path("warm-state"))
    IncrementalDedup.processBatch(batchPages(spark, 7L, 30L, 1), cfg, dirs, 1L)
  }

  def prepare(ctx: Ctx, spark: SparkSession): Unit = {
    val seed = ctx.args.seed
    val written = (1 to Batches).map { b =>
      val p = ctx.path(s"input/batch-$b")
      val bytes = Corpus.write(batchPages(spark, seed, UnitsPerBatch, b), p)
      (p, spark.read.parquet(p).count(), bytes)
    }
    inputs = written.map(_._1)
    docs = written.map(_._2).sum
    textBytes = written.map(_._3).sum
    val republishedTruth = (2 to Batches).flatMap { b =>
      val from = (b - 2) * UnitsPerBatch
      (from until from + Republished).map(i => Corpus.republishedTruth(i, seed, TokensScale, b))
    }
    truth = republishedTruth.foldLeft(
      Corpus.truth(0, Batches * UnitsPerBatch, Corpus.webUnit, seed, TokensScale))(_ ++ _)
  }

  private def batch(spark: SparkSession, dirs: StateDirs, b: Int, crash: Boolean = false): Double = {
    val t0 = System.nanoTime()
    IncrementalDedup.processBatch(spark.read.parquet(inputs(b - 1)), cfg, dirs, b.toLong,
      crashAfterAppends = if (crash) 3 else Int.MaxValue)
    seconds(t0)
  }

  /** Feeds batches 1..n into a fresh state root; returns their walls. */
  private def sequence(ctx: Ctx, spark: SparkSession, dirs: StateDirs, n: Int,
      tracer: Option[Tracer], label: String): Seq[Double] = {
    Fs.delete(dirs.root)
    (1 to n).flatMap { b =>
      var wall = Option.empty[Double]
      ctx.attempt(s"$name $label batch $b") {
        wall = Some(tracer match {
          case Some(tr) => tr.span(s"batch:$b", "streaming")(batch(spark, dirs, b))
          case None     => batch(spark, dirs, b)
        })
        ctx.log(f"$name $label batch $b: ${wall.get}%.3f s")
        true
      }
      wall
    }
  }

  def timed(ctx: Ctx, spark: SparkSession, budgetS: Double): Level = {
    val walls = mutable.ArrayBuffer[Double]()
    val replays = mutable.ArrayBuffer[Double]()
    val state = mutable.ArrayBuffer[Double]()
    val dirs = StateDirs(ctx.path("state"))
    loop(budgetS, minReps = 1) { r =>
      walls ++= sequence(ctx, spark, dirs, Batches - 1, None, s"sequence $r")
      ctx.attempt(s"$name sequence $r crash batch") {
        val crashed = try { batch(spark, dirs, Batches, crash = true); false }
        catch { case e: RuntimeException if String.valueOf(e.getMessage).startsWith("injected crash") => true }
        require(crashed, "the injected crash was not reached")
        replays += batch(spark, dirs, Batches)
        walls += replays.last
        state += Fs.bytes(dirs.root).toDouble
        ctx.log(f"$name sequence $r: replay of batch $Batches ${replays.last}%.3f s")
        judge(ctx, s"$name clusters, sequence $r", spark.read.parquet(dirs.clusters), truth)
      }
    }
    Level(docs * (walls.size.toDouble / Batches) / walls.sum, walls.toSeq, replays.toSeq,
      Stats.median(state.toSeq) / textBytes)
  }

  def traced(ctx: Ctx, spark: SparkSession, budgetS: Double): Seq[Metric] = {
    val sc = spark.sparkContext
    val tr = new Tracer(s"$name-${ctx.args.seed}", sc)
    val ledger = new TaskLedger
    val untraced = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val reps = mutable.ArrayBuffer[Map[String, Double]]()
    val batchWalls = mutable.ArrayBuffer[Double]()
    val dirs = StateDirs(ctx.path("state-traced"))
    def mb(p: String) = Fs.bytes(p) / 1048576.0
    loop(budgetS * 0.8, minReps = 1) { r =>
      untraced += sequence(ctx, spark, dirs, Batches, None, s"untraced sequence $r").sum
      sc.addSparkListener(ledger)
      val root = tr.begin("sequence", "")
      val walls = sequence(ctx, spark, dirs, Batches, Some(tr), s"traced sequence $r")
      tr.end(root)
      ledger.drain(sc)
      sc.removeSparkListener(ledger)
      tracedWalls += walls.sum
      batchWalls ++= walls
      ctx.attempt(s"$name traced sequence $r clusters") {
        judge(ctx, s"$name clusters, traced sequence $r", spark.read.parquet(dirs.clusters), truth)
      }
      val third = math.max(1, walls.size / 3)
      val estOnly = spark.read.parquet(dirs.metrics).agg(sum(col("edges_est_only"))).head()
      reps += repLayers(tr, ledger, root, ctx.high) ++ Map(
        "streaming.late_over_early" ->
          Stats.median(walls.takeRight(third)) / Stats.median(walls.take(third)),
        "streaming.state_mb.signatures" -> mb(dirs.signatures),
        "streaming.state_mb.band_index" -> mb(dirs.bandIndex),
        "streaming.state_mb.members" -> mb(dirs.members),
        "streaming.state_mb.edges" -> mb(dirs.edges),
        "streaming.state_mb.clusters" -> mb(dirs.clusters),
        "streaming.edges_est_only" -> (if (estOnly.isNullAt(0)) 0.0 else estOnly.getLong(0).toDouble))
    }
    // the stage functions run inside processBatch: no stage spans here
    val layers = medianMap(reps.toSeq) ++ Map("streaming.batch_s" -> Stats.median(batchWalls.toSeq))
    val k = kernels(tr, spark.read.parquet(inputs.head), truth, budgetS * 0.15)
    tr.write(spansFile(ctx), ledger)
    perLayer(ctx, layers ++ k.map(m => m.name -> m.value), untraced.toSeq, tracedWalls.toSeq)
  }
}
