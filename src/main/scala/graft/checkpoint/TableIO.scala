package graft.checkpoint

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  /** Canonical per-partition lineage rows for a committed snapshot — ONE
    * schema and derivation shared by every durable impl (ParquetSnapshotIO,
    * IcebergIO), so the metrics stores can never drift apart. One row per
    * read partition of the committed files (north-rule §7.6). */
  def lineageRows(committed: DataFrame, stage: String, configHash: String,
      snapshotId: String): DataFrame = {
    import org.apache.spark.sql.functions._
    committed
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows_out"))
      .withColumn("stage", lit(stage))
      .withColumn("snapshot_id", lit(snapshotId))
      .withColumn("config_hash", lit(configHash))
      .withColumn("committed_ms", lit(System.currentTimeMillis()))
      .select("stage", "snapshot_id", "partition_id", "rows_out", "config_hash", "committed_ms")
  }
}

final case class Manifest(
    snapshotId: String,
    configHash: String,
    rowCount: Long,
    stage: String
) {
  private[checkpoint] def fields: Seq[(String, Any)] = Seq("snapshot_id" -> snapshotId,
    "config_hash" -> configHash, "row_count" -> rowCount, "committed_at_stage" -> stage)
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
    } yield Manifest(sid, ch, rc.toLong, st)
}

/** Directory-per-stage Parquet snapshots under `root`, keyed by configHash.
  * Every commit also writes a per-partition lineage/metrics table
  * `<stage>/<snapshot>_metrics` with one row per written partition
  * (north-rule requirement, SURVEY §7.6): the durable generalization of the
  * reference's atomic progress counters (process_matches.rs:85-96).
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
        if (FsOps.exists(conf, data)) Some((spark.read.parquet(data.toString), m))
        else None
      }
  }

  /** Per-partition metrics of a committed snapshot (resolved through the
    * manifest — snapshot ids are unique per commit, see commit()). */
  def metrics(spark: SparkSession, stage: String): Option[DataFrame] = {
    val conf = hconf(spark)
    FsOps.readRecord(conf, manifestPath(stage)).flatMap(Manifest.fromRecord)
      .map(m => new Path(stageDir(stage), s"${m.snapshotId}_metrics"))
      .filter(FsOps.exists(conf, _))
      .map(p => spark.read.parquet(p.toString))
  }

  override def commit(df: DataFrame, stage: String): (DataFrame, Manifest) = {
    val spark = df.sparkSession
    val conf = hconf(spark)
    import org.apache.spark.sql.functions._
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
    df.write.mode("overwrite").parquet(dataPath.toString)

    // Per-partition lineage rows over the durable snapshot (one light job:
    // a row count per read partition of the committed files).
    val committed = spark.read.parquet(dataPath.toString)
    val perPart = TableIO.lineageRows(committed, stage, configHash, snapshotId).cache()
    perPart.write.mode("overwrite").parquet(new Path(dir, s"${snapshotId}_metrics").toString)
    val rows = Option(perPart.agg(sum(col("rows_out"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L) // empty snapshot -> 0
    perPart.unpersist()

    val m = Manifest(snapshotId, configHash, rows, stage)
    FsOps.writeRecord(conf, manifestPath(stage), m.fields: _*)
    // GC every snapshot dir the manifest no longer references — superseded
    // commits AND stale-config leftovers (previously stranded forever; the
    // same single-writer-per-checkpoint-root assumption the st4_cc sweep
    // documents). A crash before the swing leaves the new dirs orphaned
    // and the old manifest intact; a crash mid-GC leaves sweepable dirs —
    // both healed by the next commit's GC.
    FsOps.listDirs(conf, dir)
      .filter(p => p.getName.startsWith("snap-")
        && !Set(snapshotId, s"${snapshotId}_metrics").contains(p.getName))
      .foreach(FsOps.deleteRecursive(conf, _)) // best effort; next commit resweeps
    (committed, m)
  }
}

/** In-memory IO: nothing is durable, but stages in `cached` are lazily
  * local-checkpointed so downstream stages that branch from them (e.g. ST1
  * signatures and ST3 contents both read ST0) share one materialization
  * instead of recomputing the lineage per branch — the in-memory analog of
  * the durable per-stage snapshot.
  *
  * Caching is selective because cache WRITES are not free: on a
  * memory-bandwidth-bound host, re-materializing the full-text tables into
  * block storage competes with the compute it is meant to save. Stages
  * consumed exactly once per action, or only within one job (where
  * Catalyst's exchange reuse already dedups the shuffle), can skip the
  * cache entirely. */
class SelectiveCacheIO(cached: Set[String],
    storageLevel: Option[org.apache.spark.storage.StorageLevel] = None) extends TableIO {
  override def load(spark: SparkSession, stage: String): Option[(DataFrame, Manifest)] = None
  override def commit(df: DataFrame, stage: String): (DataFrame, Manifest) = {
    val out =
      if (!(cached.contains("*") || cached.contains(stage))) df
      else storageLevel match {
        // serialized (+compressed via spark.rdd.compress) trades CPU for
        // bytes through the block store — the right trade on a
        // memory-bandwidth-bound host
        case Some(lvl) => df.localCheckpoint(false, lvl)
        case None      => df.localCheckpoint(false)
      }
    (out, Manifest("in-memory", "none", -1L, stage))
  }
}

/** Default in-memory IO: every stage lazily checkpointed. */
object NoCheckpointIO extends SelectiveCacheIO(Set("*"))
