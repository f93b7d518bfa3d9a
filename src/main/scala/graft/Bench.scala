package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): times every SparkEntry query
  * at local[N] (N = SPARK_GRAFT_CPUS, default the host's core count) and
  * prints ONE JSON line. Pipeline throughput and N→4N scaling are measured
  * by perfbench (`docs_per_s`, `pipeline.scale_eff`), not here.
  *
  * Survivability contract (round-4 lesson: the driver's timeout killed the
  * run mid-section and recorded NOTHING despite every query having
  * finished): a wall-clock budget (1500 s) gates every OPTIONAL repetition
  * — once elapsed time crosses a rep round's share of the budget, remaining
  * reps are skipped (min-of-fewer reps is still a valid estimator by
  * construction); the first rep of every query runs regardless.
  */
object Bench {

  private val t0Main = System.nanoTime()
  private def elapsedSecs: Double = (System.nanoTime() - t0Main) / 1e9

  /** Wall-clock budget for OPTIONAL work (extra reps): safely under any
    * plausible driver timeout. */
  private val BudgetSecs = 1500.0
  private val QueryReps = 3
  // Queries whose best time is still >= HeavyThreshold after the base reps
  // get extra interleaved reps: one choppy VM window spanning 3 adjacent
  // reps produced round-3's phantom "regressions" on exactly the >=2 s
  // queries; more, later-in-time reps give the min a clean window to land.
  private val HeavyReps = 3
  private val HeavyThreshold = 1.5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.util.LocalSession.cpus
    def underShare(share: Double): Boolean = elapsedSecs < BudgetSecs * share

    def emit(json: String): Unit = {
      // Three delivery paths so the driver can machine-parse the result
      // even when a logger swallows or prefixes stdout lines: a
      // sentinel-prefixed copy, a file in the repo root, and — last on
      // stdout, with showSuccess := false suppressing sbt's footer — the
      // bare JSON line.
      println(s"GRAFT_BENCH_JSON $json")
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH.json"),
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Exception => System.err.println(s"[bench] BENCH.json write failed: $e") }
      println(json)
    }

    // Interleaved min-of-N: the sandbox VM has multi-second hypervisor-steal
    // episodes (BASELINE.md), and a single-shot timing lands whole bursts on
    // whichever queries were running — min over interleaved repetitions is
    // the noise-robust estimator of a query's true cost. A failed query is
    // not retried. Rep rounds beyond the first are budget-gated.
    val spark = graft.util.LocalSession(cpus, s"graft-bench-$cpus")
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val qBest = scala.collection.mutable.LinkedHashMap[String, Double]()
    val qReps = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    def runQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, rep: Int): Unit = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        qReps(name) = qReps.getOrElse(name, Nil) :+ sec
        qBest(name) = math.min(qBest.getOrElse(name, Double.MaxValue), sec)
      } catch { case e: Throwable =>
        failed += name
        // Record the failed attempt's elapsed time only when no successful
        // rep exists — a later-rep failure must not clobber a valid min.
        if (!qBest.contains(name)) qBest(name) = (System.nanoTime() - t0) / 1e9
        System.err.println(s"[bench] $name FAILED (rep $rep): ${e.getMessage}")
      }
    }
    for (rep <- 1 to QueryReps; (name, fn) <- names
         if !failed.contains(name) && (rep == 1 || underShare(0.25)))
      runQuery(name, fn, rep)
    val heavy = names.filter { case (n, _) =>
      !failed.contains(n) && qBest.getOrElse(n, 0.0) >= HeavyThreshold }
    for (rep <- 1 to HeavyReps; (name, fn) <- heavy
         if !failed.contains(name) && underShare(0.35))
      runQuery(name, fn, QueryReps + rep)
    spark.stop()
    val results = names.map { case (name, _) => name -> qBest.getOrElse(name, 0.0) }
    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map(n => "\"" + n + "\"").mkString(""","failed":[""", ",", "]")
    // Per-rep spreads for the heavy queries: makes a VM-noise episode
    // visible in the artifact itself (a clean min with one 3x outlier rep
    // reads as noise; uniformly slow reps read as a real regression).
    val qRepsJson =
      if (heavy.isEmpty) ""
      else heavy.map { case (n, _) =>
        "\"" + n + "\":" + qReps.getOrElse(n, Nil).map(s => f"$s%.2f").mkString("[", ",", "]")
      }.mkString(""","query_rep_secs":{""", ",", "}")
    emit(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
      f""","budget_secs":$BudgetSecs%.0f,"bench_elapsed_secs":$elapsedSecs%.1f""" +
      f"""$failedJson$qRepsJson}""")
  }
}
