package graft.util

import org.apache.spark.sql.SparkSession

/** The sandbox-tuned local SparkSession shared by `graft.Bench`,
  * `graft.Verify` and the perfbench workloads (`perfbench/`, e.g. its
  * `stream` workload) — one definition so a perf-affecting knob change
  * cannot leave the benchmark measuring a different engine than the mains:
  *  - shuffle partitions = cores (local mode; the 200 default just adds
  *    scheduling overhead);
  *  - AQE on, but with a small coalesce floor: dedup rows are tiny but
  *    CPU-heavy, and bytes-targeted coalescing would serialize them;
  *  - spark.local.dir on tmpfs: the sandbox block device has erratic
  *    latency (on a real cluster this is fast local NVMe);
  *  - spark.rdd.compress: stage-cache blocks that spill to disk push fewer
  *    bytes through the bandwidth-bound block store.
  */
object LocalSession {
  /** Local parallelism of the mains: SPARK_GRAFT_CPUS, else the host's
    * core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
      .config("spark.rdd.compress", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", "/dev/shm/graft-spark-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
