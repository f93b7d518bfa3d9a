package graft.checkpoint

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Per-stage checkpoint storage with atomic manifest commits (ST* resume).
  *
  * Generalizes the reference's SQLite checkpoint state — nullable checksum
  * columns whose presence means "stage completed"
  * (/root/reference/src/file_db.rs:279-291, 375-388) — into one immutable
  * snapshot table per stage plus a `_manifest.json` whose existence+content
  * is the commit record. Resume = "highest stage with a committed snapshot
  * under the current config hash", exactly generalizing the reference's
  * `--resume-stage3/4` entry points (/root/reference/src/main.rs:114-119).
  *
  * The sandbox impl is Parquet + rename-based atomic manifest; on a real
  * cluster the same interface is backed by Iceberg snapshots (commit =
  * snapshot, configHash = snapshot property) — all resume semantics live
  * above this trait.
  */
trait TableIO {
  /** Committed snapshot for `stage` under `configHash`, if any. */
  def load(spark: SparkSession, stage: String): Option[(DataFrame, Manifest)]

  /** Atomically commit `df` as the snapshot for `stage`. Returns the
    * re-loaded (durable) DataFrame plus the manifest written. */
  def commit(df: DataFrame, stage: String): (DataFrame, Manifest)

  /** Durable scratch directory for ST4's iterative connected components,
    * if this IO is durable at all: the CC loop then commits its label
    * table per iteration and a restarted run resumes mid-propagation
    * instead of from scratch (executor/driver loss costs one iteration).
    * In-memory IOs return None — there is nothing to resume into.
    *
    * NOT a pure accessor on durable impls: it may sweep stale sibling
    * state as a side effect and requires an ACTIVE SparkSession (it is
    * called from inside Pipeline.run, where one is guaranteed). */
  def ccDurableDir: Option[String] = None
}

object TableIO {
  /** The lineage table of a committed stage — ONE column set for every
    * durable impl (ParquetSnapshotIO.metrics, IcebergIO's metrics table),
    * so the metrics stores can never drift apart (north-rule §7.6). */
  val lineageSchema: StructType = StructType(Seq(
    StructField("stage", StringType, nullable = false),
    StructField("snapshot_id", StringType, nullable = false),
    StructField("partition_id", IntegerType, nullable = false),
    StructField("rows_out", LongType, nullable = false),
    StructField("config_hash", StringType, nullable = false),
    StructField("committed_ms", LongType, nullable = false)))
}

/** The commit record of a stage. `schema` (the snapshot's schema JSON),
  * `fileRows` ((partition id, row count) per written part file, stored as
  * `"<id>:<rows>,..."` in the flat record) and
  * `committedMs` are written together by [[ParquetSnapshotIO]]; a record
  * in the older 4-field format has `schema = None` and no lineage. */
final case class Manifest(
    snapshotId: String,
    configHash: String,
    rowCount: Long,
    stage: String,
    schema: Option[String] = None,
    fileRows: Seq[(Int, Long)] = Nil,
    committedMs: Long = 0L
) {
  private[checkpoint] def fields: Seq[(String, Any)] = Seq("snapshot_id" -> snapshotId,
    "config_hash" -> configHash, "row_count" -> rowCount, "committed_at_stage" -> stage) ++
    schema.toSeq.flatMap(s => Seq("schema" -> s,
      "file_rows" -> fileRows.map { case (p, n) => s"$p:$n" }.mkString(","),
      "committed_ms" -> committedMs))
  def toJson: String = FsOps.renderRecord(fields: _*)
}

object Manifest {
  def fromJson(s: String): Option[Manifest] = fromRecord(FsOps.parseRecord(s))
  private[checkpoint] def fromRecord(kv: Map[String, String]): Option[Manifest] =
    for {
      sid <- kv.get("snapshot_id")
      ch <- kv.get("config_hash")
      rc <- kv.get("row_count")
      st <- kv.get("committed_at_stage")
    } yield Manifest(sid, ch, rc.toLong, st, kv.get("schema"),
      kv.get("file_rows").filter(_.nonEmpty).toSeq.flatMap(_.split(',')).map { e =>
        val Array(p, n) = e.split(':'); (p.toInt, n.toLong)
      },
      kv.get("committed_ms").fold(0L)(_.toLong))
}

/** Directory-per-stage Parquet snapshots under `root`, keyed by configHash.
  * A commit is ONE Spark job, the data write. Its lineage (SURVEY §7.6:
  * one row per written part file, the durable generalization of the
  * reference's atomic progress counters, process_matches.rs:85-96) comes
  * from the written files' parquet footers on the driver — the analog of
  * Iceberg's data-file `record_count` — and travels in the commit record
  * with the snapshot's schema, so re-reads (the commit's own and `load`)
  * skip schema inference. [[metrics]] rebuilds the lineage table from the
  * record.
  *
  * `root` may be on any Hadoop filesystem (file://, hdfs://, abfs://, or
  * scheme-less = the default FS): manifest/GC operations go through
  * [[FsOps]] against the SAME filesystem the executors' parquet writes
  * resolve, so a shared checkpoint dir works on a real cluster — see the
  * FsOps scaladoc for the atomic-rename requirement on the manifest. */
final class ParquetSnapshotIO(root: String, configHash: String) extends TableIO {

  private def hconf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  private def stageDir(stage: String) = new Path(root, stage)
  private def manifestPath(stage: String) = new Path(stageDir(stage), "_manifest.json")

  /** ST4's per-iteration CC label commits live beside the stage snapshots,
    * keyed by config hash (the label store itself re-keys by edge hash).
    * Sibling dirs from OTHER config hashes are swept here: a config change
    * makes their labels unresumable (the pipeline would recompute edges
    * under the new config), so without the sweep every config change would
    * strand one st4_cc/<hash> dir forever. */
  // SINGLE-WRITER ASSUMPTION (here and in commit()'s snapshot GC): a
  // checkpoint root belongs to ONE pipeline run at a time. Two concurrent
  // runs with different configs sharing a root would sweep each other's
  // live state — use distinct roots for concurrent experiments.
  override def ccDurableDir: Option[String] = {
    // The trait signature carries no session; the sweep runs inside an
    // active Pipeline.run, so the active session's Hadoop conf is the one
    // the executors' writes resolve against.
    val conf = hconf(SparkSession.active)
    val base = stageDir("st4_cc")
    FsOps.listDirs(conf, base)
      .filter(_.getName != configHash)
      .foreach(FsOps.deleteRecursive(conf, _)) // failed sweep is never fatal
    Some(new Path(base, configHash).toString)
  }

  override def load(spark: SparkSession, stage: String): Option[(DataFrame, Manifest)] = {
    val conf = hconf(spark)
    FsOps.readRecord(conf, manifestPath(stage)).flatMap(Manifest.fromRecord)
      .filter(_.configHash == configHash) // stale-config snapshots are ignored
      .flatMap { m =>
        val data = new Path(stageDir(stage), m.snapshotId)
        // a 4-field legacy record carries no schema: infer it from the files
        val reader = m.schema.fold(spark.read)(s =>
          spark.read.schema(DataType.fromJson(s).asInstanceOf[StructType]))
        if (FsOps.exists(conf, data)) Some((reader.parquet(data.toString), m))
        else None
      }
  }

  /** Lineage of the committed snapshot of `stage` ([[TableIO.lineageSchema]],
    * one row per written part file), rebuilt from its commit record. A
    * stage committed in the legacy record format reads its
    * `<snapshot>_metrics` table instead. */
  def metrics(spark: SparkSession, stage: String): Option[DataFrame] = {
    val conf = hconf(spark)
    FsOps.readRecord(conf, manifestPath(stage)).flatMap(Manifest.fromRecord).flatMap {
      case m if m.schema.isDefined =>
        import scala.jdk.CollectionConverters._
        val rows = m.fileRows.map { case (p, n) =>
          Row(m.stage, m.snapshotId, p, n, m.configHash, m.committedMs) }
        Some(spark.createDataFrame(rows.asJava, TableIO.lineageSchema))
      case m =>
        Some(new Path(stageDir(stage), s"${m.snapshotId}_metrics"))
          .filter(FsOps.exists(conf, _)).map(p => spark.read.parquet(p.toString))
    }
  }

  override def commit(df: DataFrame, stage: String): (DataFrame, Manifest) = {
    val spark = df.sparkSession
    val conf = hconf(spark)
    // UNIQUE snapshot dir per commit: writing in place under the id the
    // current manifest references would delete the only durable copy
    // before the replacement finishes (a crash mid-rewrite would leave the
    // manifest pointing at a missing or partial dir — exactly the window
    // the class doc promises cannot exist). Instead: write fresh dir ->
    // atomically swing the manifest -> GC unreferenced snapshots. At every
    // instant the manifest references a fully-written snapshot.
    val snapshotId = s"snap-$configHash-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = stageDir(stage)
    FsOps.mkdirs(conf, dir)
    val dataPath = new Path(dir, snapshotId)
    df.write.mode("overwrite").parquet(dataPath.toString) // the commit's one job

    // Lineage without a job: one (partition id, rows) per written part
    // file, read from its footer. Spark names part files
    // `part-<partition id>-<job uuid>-c<n>...`.
    val fileRows = FsOps.listFiles(conf, dataPath)
      .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getPath.getName)
      .map { f =>
        val name = f.getPath.getName
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try name.substring(5, name.indexOf('-', 5)).toInt -> reader.getRecordCount
        finally reader.close()
      }
    val m = Manifest(snapshotId, configHash, fileRows.map(_._2).sum, stage,
      Some(df.schema.json), fileRows, System.currentTimeMillis())
    FsOps.writeRecord(conf, manifestPath(stage), m.fields: _*)
    // GC every snapshot dir the manifest no longer references — superseded
    // commits, stale-config leftovers and legacy `<snapshot>_metrics`
    // tables (the same single-writer-per-checkpoint-root assumption the
    // st4_cc sweep documents). A crash before the swing leaves the new dir
    // orphaned and the old manifest intact; a crash mid-GC leaves
    // sweepable dirs — both healed by the next commit's GC.
    FsOps.listDirs(conf, dir)
      .filter(p => p.getName.startsWith("snap-") && p.getName != snapshotId)
      .foreach(FsOps.deleteRecursive(conf, _)) // best effort; next commit resweeps
    (spark.read.schema(df.schema).parquet(dataPath.toString), m)
  }
}

/** Default in-memory IO: nothing is durable, but every stage is lazily
  * local-checkpointed so downstream stages that branch from it (e.g. ST1
  * signatures and ST3 verify both read ST0b contents) share one
  * materialization instead of recomputing the lineage per branch — the
  * in-memory analog of the durable per-stage snapshot. */
object NoCheckpointIO extends TableIO {
  override def load(spark: SparkSession, stage: String): Option[(DataFrame, Manifest)] = None
  override def commit(df: DataFrame, stage: String): (DataFrame, Manifest) =
    (df.localCheckpoint(false), Manifest("in-memory", "none", -1L, stage))
}
