package graft.checkpoint

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Iceberg-backed `TableIO` (SURVEY §7.4): same resume semantics as
  * `ParquetSnapshotIO`, expressed in Iceberg's own commit vocabulary —
  * a stage commit IS an Iceberg snapshot, the manifest fields travel as
  * snapshot summary properties, and `load` resolves "the latest snapshot
  * committed under the current config hash" by scanning the table's
  * `.snapshots` metadata table (a public Iceberg convention: every table
  * exposes its snapshot log as `<table>.snapshots` with a
  * `summary: map<string,string>` column).
  *
  * Everything here is plain Spark API — `format("iceberg")` strings,
  * reader options, metadata-table names — so the class compiles with no
  * Iceberg jar on the classpath. The sandbox has no Iceberg jar
  * (SURVEY §7.0), so every entry point fail-fasts through
  * [[IcebergIO.ensureAvailable]]; on a real cluster with
  * `iceberg-spark-runtime` present the guard passes and no graft code
  * changes. All resume/idempotence SEMANTICS live above the trait and are
  * exercised in-sandbox against `ParquetSnapshotIO` (ResumeSpec) — this
  * impl only swaps the storage verbs:
  *
  *   - commit  = `writeTo(tbl).createOrReplace()` with
  *               `snapshot-property.*` write options carrying the manifest
  *   - load    = filter `.snapshots` on `summary['config_hash']`, then
  *               time-travel read via the `snapshot-id` reader option
  *   - metrics = per-partition lineage rows in the shared
  *               [[TableIO.lineageSchema]], appended to a sibling
  *               `<stage>_metrics` Iceberg table
  */
final class IcebergIO(catalog: String, namespace: String, configHash: String)
    extends TableIO {

  private def tbl(stage: String): String = s"$catalog.$namespace.$stage"

  override def load(spark: SparkSession, stage: String): Option[(DataFrame, Manifest)] = {
    IcebergIO.ensureAvailable()
    // ONLY table-level absence maps to None (no committed snapshot yet).
    // Anything else — CATALOG_NOT_FOUND/SCHEMA_NOT_FOUND (a typo'd catalog
    // or namespace is misconfiguration, not a fresh run), connectivity,
    // credentials, a corrupt metadata pointer — must SURFACE: swallowing it
    // would silently recompute a multi-hour stage, the exact failure
    // checkpointing exists to prevent. Matched by the SPECIFIC error
    // condition / exception type, never by message substrings.
    val snaps =
      try spark.read.format("iceberg").load(s"${tbl(stage)}.snapshots")
      catch { case e: Exception if IcebergIO.isTableAbsent(e) => return None }
    val latest = snaps
      .where(element_at(col("summary"), "config_hash") === configHash)
      .orderBy(col("committed_at").desc)
      // row count travels in Iceberg's NATIVE summary ("total-records",
      // written by every Iceberg commit) — nothing bespoke to maintain.
      .select(col("snapshot_id"), element_at(col("summary"), "total-records").as("rows"))
      .limit(1).collect().headOption
    latest.map { r =>
      val df = spark.read.format("iceberg")
        .option("snapshot-id", r.getLong(0)).load(tbl(stage))
      (df, Manifest(r.getLong(0).toString, configHash,
        Option(r.getString(1)).map(_.toLong).getOrElse(-1L), stage))
    }
  }

  override def commit(df: DataFrame, stage: String): (DataFrame, Manifest) = {
    IcebergIO.ensureAvailable()
    val spark = df.sparkSession
    // createOrReplace is a single atomic Iceberg snapshot (REPLACE TABLE AS
    // SELECT): readers see the old snapshot until the commit lands — the
    // same all-or-nothing contract ParquetSnapshotIO gets from its
    // rename-based manifest. The stage DAG executes ONCE, here: the row
    // count is derived afterwards from the committed files (a light
    // metadata-sized job), never from a pre-write df.count() that would
    // compute the whole stage twice. Iceberg's native "total-records"
    // summary field carries the count for load().
    df.writeTo(tbl(stage))
      .option("snapshot-property.config_hash", configHash)
      .option("snapshot-property.committed_at_stage", stage)
      .createOrReplace()
    // The REAL snapshot id of the commit that just landed (latest snapshot
    // carrying our config hash), so fresh-run lineage records a usable id —
    // not a placeholder only resumed runs would resolve.
    val snapshotId = spark.read.format("iceberg").load(s"${tbl(stage)}.snapshots")
      .where(element_at(col("summary"), "config_hash") === configHash)
      .orderBy(col("committed_at").desc)
      .select(col("snapshot_id")).limit(1).collect()
      .headOption.map(_.getLong(0).toString).getOrElse("iceberg-unknown")
    val committed = spark.read.format("iceberg").load(tbl(stage))
    // Per-partition lineage rows (north-rule requirement, SURVEY §7.6) in
    // the SHARED TableIO.lineageSchema (one column set with
    // ParquetSnapshotIO, maintained in one place): a row count per read
    // partition of the committed table, APPENDED (create on first commit)
    // so the metrics table is a queryable history across resumes and
    // config changes, keyed by (stage, config_hash, snapshot_id) per row.
    val lineage = committed
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows_out"))
      .withColumn("stage", lit(stage))
      .withColumn("snapshot_id", lit(snapshotId))
      .withColumn("config_hash", lit(configHash))
      .withColumn("committed_ms", lit(System.currentTimeMillis()))
    val metricRows = lineage.select(TableIO.lineageSchema.fieldNames.toSeq.map(col): _*).cache()
    val metricsTable = tbl(s"${stage}_metrics")
    if (spark.catalog.tableExists(metricsTable))
      metricRows.writeTo(metricsTable).append()
    else metricRows.writeTo(metricsTable).create()
    val rows = Option(metricRows.agg(sum(col("rows_out"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L) // empty snapshot -> 0
    metricRows.unpersist()
    (committed, Manifest(snapshotId, configHash, rows, stage))
  }
}

object IcebergIO {
  /** True iff `e` (or its direct cause) means "this TABLE does not exist":
    * Spark's TABLE_OR_VIEW_NOT_FOUND analysis condition, or a
    * NoSuchTableException by class name (both Spark's
    * connector.catalog and Iceberg's exceptions package spell it that
    * way; matched by name so no Iceberg import is needed to compile). */
  private[graft] def isTableAbsent(e: Throwable): Boolean = {
    def noSuchTable(t: Throwable) =
      t != null && t.getClass.getName.endsWith("NoSuchTableException")
    val condition = e match {
      case a: org.apache.spark.sql.AnalysisException => Option(a.getCondition).getOrElse("")
      case _ => ""
    }
    condition == "TABLE_OR_VIEW_NOT_FOUND" || noSuchTable(e) || noSuchTable(e.getCause)
  }

  /** True iff an Iceberg Spark runtime is on the classpath. Checked via the
    * public Iceberg API class (present in every iceberg-spark-runtime jar)
    * so the probe itself needs nothing from Iceberg to compile. */
  lazy val available: Boolean =
    Try(Class.forName("org.apache.iceberg.catalog.Catalog")).isSuccess

  def ensureAvailable(): Unit =
    if (!available)
      throw new IllegalStateException(
        "IcebergIO requires iceberg-spark-runtime on the classpath " +
          "(format(\"iceberg\") is not registered). In the jar-less sandbox " +
          "use ParquetSnapshotIO — same TableIO semantics (SURVEY §7.4).")
}
