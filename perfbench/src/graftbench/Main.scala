package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Usage:
  *
  *   graftbench.Main --workload <web-crawl|dup-dense|stream> --seed <n>
  *                   --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints progress to stderr and, as the last stdout line, `RESULT ` plus
  * one JSON object with the keys correct, attempted, failed and metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toIndexedSeq)
    val workload = Workloads.byName.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val ctx = new Ctx(args)
    val metrics = workload.run(ctx)
    ctx.log("done")
    val bad = metrics.filter(m => m.value.isNaN || m.value.isInfinite)
    require(bad.isEmpty, s"non-finite metrics: ${bad.map(_.name).mkString(", ")}")
    ctx.problems.foreach(p => System.err.println(s"[graftbench] CHECK FAILED: $p"))
    val body = metrics.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""")
      .mkString(", ")
    println(s"failed_share=${ctx.failed.toDouble / math.max(1, ctx.attempted)}" +
      s" (${ctx.failed} of ${ctx.attempted} pipeline runs or batches)")
    println(s"""RESULT {"correct": ${ctx.problems.isEmpty}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}""")
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** Run-wide state: host-derived core levels, work paths, set-up times
  * and the failure ledger. */
final class Ctx(val args: Main.Args) {
  val high: Int = Runtime.getRuntime.availableProcessors()
  val low: Int = math.max(1, high / 4)

  val setups = mutable.ArrayBuffer[Double]()
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer[String]()

  def path(name: String): String = args.work.resolve(name).toString

  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[graftbench +${(System.nanoTime() - born) / 1e9}%.1fs] $msg")

  /** One pipeline run or batch: `f` returns whether its checks passed. An
    * exception or a failed check counts it as failed. */
  def attempt(what: String)(f: => Boolean): Boolean = {
    attempted += 1
    val ok = try f catch {
      case NonFatal(e) =>
        problems += s"$what threw $e"
        e.printStackTrace()
        false
    }
    if (!ok) failed += 1
    ok
  }

  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) problems += what
    ok
  }

  /** Starts a session through the program's own LocalSession and warms it
    * on a tiny corpus; the whole is one set-up sample. */
  def setup(cores: Int)(warm: SparkSession => Unit): SparkSession = {
    val t0 = System.nanoTime()
    val spark = graft.util.LocalSession(cores, s"graftbench-${args.workload}-$cores")
    warm(spark)
    setups += (System.nanoTime() - t0) / 1e9
    log(f"setup local[$cores] ${setups.last}%.2f s")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** VmHWM of this JVM, MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Fs {
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
  }

  /** Bytes of regular files under `p` (checksum side files included: they
    * are part of what the program keeps on disk). */
  def bytes(p: String): Long = {
    val d = Paths.get(p)
    if (!Files.exists(d)) 0L
    else {
      val s = Files.walk(d)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
