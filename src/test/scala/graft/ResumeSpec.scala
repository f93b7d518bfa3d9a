package graft

import java.nio.file.Files

import graft.checkpoint.{Manifest, ParquetSnapshotIO}
import org.apache.spark.sql.types.DataType
import graft.fixtures.PagesGen
import graft.model.GraftConfig

/** Stand-in for Spark's / Iceberg's NoSuchTableException: top-level so its
  * BINARY name ends with "NoSuchTableException" exactly like the real ones
  * (a method-local class would compile to `...$1` and defeat the match). */
private class TestNoSuchTableException extends RuntimeException("table absent")

/** Checkpoint/resume semantics (SURVEY.md §5.1 item 5): a stage with a
  * committed snapshot under the current config hash is loaded, not
  * recomputed; a config change invalidates all snapshots. */
class ResumeSpec extends SparkSpec {

  private val cfg = GraftConfig()
  private val spec = PagesGen.Spec(nUnits = 60)

  test("manifest json round-trips") {
    val m = Manifest("snap-abc", "deadbeef", 12345L, "st2_candidates")
    assert(Manifest.fromJson(m.toJson).contains(m))
  }

  test("manifest with schema and lineage round-trips through quotes and escapes") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("q\"uo\\te\n{\"a\": 1}", StringType),
      StructField("é,:}", ArrayType(LongType), nullable = false,
        new MetadataBuilder().putString("comment", "it's \"x\"\t").build()))).json
    val m = Manifest("snap-abc", "deadbeef", 12L, "st2_candidates", Some(schema),
      Seq(0 -> 5L, 3 -> 7L, 3 -> 0L), 1700000000000L)
    assert(Manifest.fromJson(m.toJson).contains(m))
    assert(DataType.fromJson(Manifest.fromJson(m.toJson).get.schema.get).json == schema)
  }

  test("commit of a materialized DataFrame submits one job; load of a committed stage none") {
    import org.apache.spark.graftshim.JobCounter.jobsOf
    val root = Files.createTempDirectory("graft-jobs").toString
    val io = new ParquetSnapshotIO(root, cfg.configHash)
    val df = Pipeline.extract(PagesGen.pages(spark, spec), cfg).localCheckpoint(true)
    val ((committed, m), commitJobs) = jobsOf(spark.sparkContext)(io.commit(df, "st0_extracted"))
    assert(commitJobs == 1, s"commit submitted $commitJobs jobs")
    val (loaded, loadJobs) = jobsOf(spark.sparkContext)(io.load(spark, "st0_extracted"))
    assert(loadJobs == 0, s"load submitted $loadJobs jobs")
    // the schema carried by the record is the one inference would find
    val inferred = spark.read.parquet(s"$root/st0_extracted/${m.snapshotId}").schema
    assert(committed.schema == inferred && loaded.get._1.schema == inferred)
    assert(m.rowCount == df.count() && loaded.get._1.count() == m.rowCount)
  }

  test("lineage has one row per written part file, summing to the manifest row count") {
    import org.apache.spark.sql.functions.col
    import graft.checkpoint.TableIO
    val root = Files.createTempDirectory("graft-lineage").toString
    val io = new ParquetSnapshotIO(root, cfg.configHash)
    // 5 partitions, 1 and 3 empty: Spark writes no file for them
    val df = spark.range(0, 1000, 1, 5).toDF("id").where(col("id") % 400 < 200)
    val (_, m) = io.commit(df, "st_lineage")
    import scala.jdk.CollectionConverters._
    val partFiles = Files.list(java.nio.file.Paths.get(root, "st_lineage", m.snapshotId))
      .iterator().asScala.map(_.getFileName.toString).count(_.startsWith("part-"))
    val lineage = io.metrics(spark, "st_lineage").get
    assert(lineage.schema == TableIO.lineageSchema)
    val rows = lineage.collect()
    assert(rows.length == partFiles && partFiles == 3)
    assert(rows.map(_.getAs[Int]("partition_id")).sorted.toSeq == Seq(0, 2, 4))
    assert(rows.map(_.getAs[Long]("rows_out")).sum == m.rowCount && m.rowCount == 600L)
    assert(rows.forall(r => r.getAs[String]("snapshot_id") == m.snapshotId
      && r.getAs[Long]("committed_ms") == m.committedMs))
  }

  test("a root with legacy 4-field manifests resumes every stage and keeps its metrics tables") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.Paths
    import graft.checkpoint.TableIO
    import org.apache.spark.sql.Row
    val root = Files.createTempDirectory("graft-legacy").toString
    val pages = PagesGen.pages(spark, spec)
    val r1 = Pipeline.run(spark, pages, cfg, new ParquetSnapshotIO(root, cfg.configHash))
    val rep1 = r1.report.collect().map(_.toString).sorted
    // rewrite every stage's record as the older format wrote it: the four
    // manifest fields, lineage in a `<snapshot>_metrics` table beside it
    val stages = r1.metrics.map(_.stage)
    stages.foreach { stage =>
      val m = r1.metrics.find(_.stage == stage).get
      Files.write(Paths.get(root, stage, "_manifest.json"),
        (s"""{"snapshot_id": "${m.snapshot_id}", "config_hash": "${cfg.configHash}", """ +
          s""""row_count": ${m.rows_out}, "committed_at_stage": "$stage"}""").getBytes(UTF_8))
      spark.createDataFrame(java.util.List.of(
        Row(stage, m.snapshot_id, 0, m.rows_out, cfg.configHash, 42L)), TableIO.lineageSchema)
        .write.parquet(Paths.get(root, stage, s"${m.snapshot_id}_metrics").toString)
    }
    val io = new ParquetSnapshotIO(root, cfg.configHash)
    assert(io.load(spark, "st0_extracted").get._2.schema.isEmpty)
    val r2 = Pipeline.run(spark, pages, cfg, io)
    assert(r2.metrics.forall(_.wall_ms == 0),
      s"stages not resumed: ${r2.metrics.filter(_.wall_ms > 0).map(_.stage)}")
    assert(rep1.sameElements(r2.report.collect().map(_.toString).sorted))
    stages.foreach { stage =>
      val rows = io.metrics(spark, stage).get.collect()
      assert(rows.map(_.getAs[Long]("committed_ms")).toSeq == Seq(42L), s"$stage: legacy metrics not read")
    }
    // the next commit of a stage records its lineage and sweeps the legacy table
    val legacyId = r1.metrics.head.snapshot_id
    val (df, m) = io.load(spark, "st0_extracted").get
    io.commit(df, "st0_extracted")
    assert(!Files.exists(Paths.get(root, "st0_extracted", s"${legacyId}_metrics")))
    assert(io.metrics(spark, "st0_extracted").get.collect()
      .map(_.getAs[Long]("rows_out")).sum == m.rowCount)
  }

  test("second run resumes every stage from committed snapshots") {
    val root = Files.createTempDirectory("graft-resume").toString
    val pages = PagesGen.pages(spark, spec)
    val io = new ParquetSnapshotIO(root, cfg.configHash)

    val r1 = Pipeline.run(spark, pages, cfg, io)
    val rep1 = r1.report.collect().map(_.toString).sorted
    assert(r1.metrics.forall(_.wall_ms >= 0))

    val io2 = new ParquetSnapshotIO(root, cfg.configHash)
    val r2 = Pipeline.run(spark, pages, cfg, io2)
    // loaded stages record wall_ms == 0
    assert(r2.metrics.forall(_.wall_ms == 0),
      s"stages not loaded: ${r2.metrics.filter(_.wall_ms > 0).map(_.stage)}")
    // ...and TRUE lineage: rows_in is the previous stage's rows_out even on
    // resume (a loaded stage must not report selectivity 1.0), identical to
    // the fresh run's chain
    assert(r2.metrics.head.rows_in == -1L) // pipeline input count is unmeasured
    assert(r2.metrics.zip(r2.metrics.drop(1)).forall { case (p, m) => m.rows_in == p.rows_out },
      s"broken lineage chain: ${r2.metrics.map(m => (m.stage, m.rows_in, m.rows_out))}")
    assert(r2.metrics.map(m => (m.stage, m.rows_in, m.rows_out)) ==
      r1.metrics.map(m => (m.stage, m.rows_in, m.rows_out)))
    val rep2 = r2.report.collect().map(_.toString).sorted
    assert(rep1.sameElements(rep2))
  }

  test("partial checkpoint: committed prefix is loaded, suffix recomputed") {
    val root = Files.createTempDirectory("graft-partial").toString
    val pages = PagesGen.pages(spark, spec)
    val io = new ParquetSnapshotIO(root, cfg.configHash)

    // simulate an interrupted run that completed ST0+ST1 only
    val extracted = Pipeline.extract(pages, cfg)
    io.commit(extracted, "st0_extracted")
    io.commit(Pipeline.signatures(Pipeline.distinctContents(extracted), cfg), "st1_signatures")

    val r = Pipeline.run(spark, pages, cfg, io)
    val loaded = r.metrics.filter(_.wall_ms == 0).map(_.stage).toSet
    assert(loaded.contains("st0_extracted") && loaded.contains("st1_signatures"))
    val computed = r.metrics.filterNot(m => loaded.contains(m.stage)).map(_.stage).toSet
    assert(computed == Set("st0b_contents", "st2_candidates", "st3_verified",
      "st4_clusters", "st5_report"))
    assert(r.report.count() > 0)
  }

  test("per-partition lineage metrics written alongside every commit") {
    val root = Files.createTempDirectory("graft-metrics").toString
    val pages = PagesGen.pages(spark, spec)
    val io = new ParquetSnapshotIO(root, cfg.configHash)
    val r = Pipeline.run(spark, pages, cfg, io)

    Seq("st0_extracted", "st0b_contents", "st1_signatures", "st2_candidates",
      "st3_verified", "st4_clusters", "st5_report").foreach { stage =>
      val m = io.metrics(spark, stage)
      assert(m.isDefined, s"no metrics table for $stage")
      val rows = m.get.collect()
      assert(rows.nonEmpty, s"empty metrics for $stage")
      // partition counts sum to the manifest row count
      val total = rows.map(_.getAs[Long]("rows_out")).sum
      val manifest = io.load(spark, stage).get._2
      assert(total == manifest.rowCount, s"$stage: $total != ${manifest.rowCount}")
      assert(rows.forall(_.getAs[String]("config_hash") == cfg.configHash))
    }
    assert(r.report.count() > 0)
  }

  test("ST4 resumes connected components mid-propagation under a durable IO") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-cc-resume").toString
    // force the distributed CC path so per-iteration durable commits engage
    val ccCfg = cfg.copy(ccLocalThreshold = 0L)
    val pages = PagesGen.pages(spark, spec)
    val io = new ParquetSnapshotIO(root, ccCfg.configHash)
    assert(io.ccDurableDir.isDefined)

    // simulate a run killed BETWEEN CC iterations: stages st0..st3 committed,
    // then one CC iteration committed to the durable label store, then death
    // (st4 never committed)
    val extracted = Pipeline.extract(pages, ccCfg)
    val (committedExtracted, _) = io.commit(extracted, "st0_extracted")
    val (contents, _) = io.commit(Pipeline.distinctContents(committedExtracted), "st0b_contents")
    val (sigs, _) = io.commit(Pipeline.signatures(contents, ccCfg), "st1_signatures")
    val (cands, _) = io.commit(Pipeline.candidatePairs(sigs, ccCfg).pairs, "st2_candidates")
    val (verified, _) = io.commit(Pipeline.verifyPairs(cands, contents, ccCfg), "st3_verified")
    val edges = verified.where(col("passed")).select("id_a", "id_b")
    // maxIter exhaustion now THROWS (silent partial labels would split
    // clusters) — but the iteration it ran is already durably committed,
    // which is exactly the mid-propagation death this test simulates.
    intercept[IllegalStateException] {
      graft.cluster.ConnectedComponents.run(spark, edges, maxIter = 1,
        localThreshold = 0L, durableDir = io.ccDurableDir)
    }
    assert(graft.cluster.ConnectedComponents.lastRunIterations == 1)
    // how many iterations a from-scratch propagation needs on this graph
    graft.cluster.ConnectedComponents.run(spark, edges, maxIter = 50, localThreshold = 0L)
    val scratchIters = graft.cluster.ConnectedComponents.lastRunIterations
    assert(scratchIters >= 2)

    // the restarted pipeline run must pick up the committed iteration
    val r = Pipeline.run(spark, pages, ccCfg, io)
    val rep = r.report.collect().map(_.toString).sorted
    assert(graft.cluster.ConnectedComponents.lastRunIterations < scratchIters,
      s"ST4 did not resume from durable CC state: ${graft.cluster.ConnectedComponents.lastRunIterations}")

    // and the resumed result is identical to a from-scratch run
    val fresh = Pipeline.run(spark, pages, cfg.copy(ccLocalThreshold = 0L))
      .report.collect().map(_.toString).sorted
    assert(rep.sameElements(fresh))
  }

  test("stale CC label stores are swept: other config hashes and stranded iteration dirs") {
    import java.nio.file.Paths
    val root = Files.createTempDirectory("graft-cc-sweep").toString
    val pages = PagesGen.pages(spark, spec)
    val cfgA = cfg.copy(ccLocalThreshold = 0L) // distributed CC -> durable label commits
    val ioA = new ParquetSnapshotIO(root, cfgA.configHash)
    // a stranded label dir (crash between a past manifest rename and its GC,
    // manifest long gone): the first commit of any run must sweep it
    val stranded = Paths.get(root, "st4_cc", cfgA.configHash, "labels-iter99")
    Files.createDirectories(stranded)
    Files.write(stranded.resolve("junk"), Array[Byte](1))
    Pipeline.run(spark, pages, cfgA, ioA).report.count()
    val storeA = Paths.get(root, "st4_cc", cfgA.configHash)
    assert(Files.exists(storeA), "durable CC store missing after distributed run")
    assert(!Files.exists(stranded), "stranded labels-iter dir survived a commit")
    import scala.jdk.CollectionConverters._
    assert(Files.list(storeA).iterator().asScala
      .count(_.getFileName.toString.startsWith("labels-iter")) == 1,
      "more than one labels-iter dir retained after convergence")

    // a config change makes A's labels unresumable: B's run sweeps the
    // whole sibling store instead of stranding one dir per config change
    val cfgB = cfgA.copy(minJaccard = 0.9)
    val ioB = new ParquetSnapshotIO(root, cfgB.configHash)
    Pipeline.run(spark, pages, cfgB, ioB).report.count()
    assert(!Files.exists(storeA), "stale config-hash CC store not swept")
    assert(Files.exists(Paths.get(root, "st4_cc", cfgB.configHash)))
  }

  test("config change invalidates snapshots (stale-config refusal)") {
    val root = Files.createTempDirectory("graft-stale").toString
    val pages = PagesGen.pages(spark, spec)
    val io = new ParquetSnapshotIO(root, cfg.configHash)
    Pipeline.run(spark, pages, cfg, io)

    val cfg2 = cfg.copy(minJaccard = 0.9)
    assert(cfg2.configHash != cfg.configHash)
    val io2 = new ParquetSnapshotIO(root, cfg2.configHash)
    assert(io2.load(spark, "st0_extracted").isEmpty, "stale snapshot was loaded")
    val r2 = Pipeline.run(spark, pages, cfg2, io2)
    assert(r2.metrics.forall(_.stage.nonEmpty)) // recomputed fine
  }

  test("checkpoint root may be a Hadoop filesystem URI (explicit file:// scheme)") {
    // Regression (round-5 review): manifest/GC ops used java.nio, which
    // resolves "file:///x" (or "hdfs://nn/x") as a RELATIVE local path on
    // the driver while the executors' parquet writes resolve the same
    // string through Hadoop — manifest and data on different filesystems,
    // so resume never fired. With FsOps both sides resolve identically.
    val local = Files.createTempDirectory("graft-fsroot")
    val root = "file://" + local.toString
    val pages = PagesGen.pages(spark, spec)
    val r1 = Pipeline.run(spark, pages, cfg, new ParquetSnapshotIO(root, cfg.configHash))
    val rep1 = r1.report.collect().map(_.toString).sorted

    // manifest and data landed under the SAME local dir the URI names
    assert(Files.exists(local.resolve("st0_extracted").resolve("_manifest.json")),
      "manifest not on the filesystem the root URI names")

    val r2 = Pipeline.run(spark, pages, cfg, new ParquetSnapshotIO(root, cfg.configHash))
    assert(r2.metrics.forall(_.wall_ms == 0),
      s"stages not resumed under a URI root: ${r2.metrics.filter(_.wall_ms > 0).map(_.stage)}")
    assert(r2.metrics.zip(r2.metrics.drop(1)).forall { case (p, m) => m.rows_in == p.rows_out })
    assert(rep1.sameElements(r2.report.collect().map(_.toString).sorted))
  }

  test("IcebergIO fail-fasts in the jar-less sandbox (runtime guard, SURVEY §7.4)") {
    // The thin Iceberg impl compiles against plain Spark API; the sandbox
    // has no iceberg-spark-runtime jar, so the guard must reject use with
    // the documented message instead of failing deep inside a format lookup.
    assert(!graft.checkpoint.IcebergIO.available, "sandbox unexpectedly has Iceberg")
    val io = new graft.checkpoint.IcebergIO("cat", "graft", cfg.configHash)
    val e = intercept[IllegalStateException] {
      io.commit(PagesGen.pages(spark, PagesGen.Spec(nUnits = 1)), "st0_extracted")
    }
    assert(e.getMessage.contains("iceberg-spark-runtime"))
    assert(intercept[IllegalStateException] {
      io.load(spark, "st0_extracted")
    }.getMessage.contains("ParquetSnapshotIO"))
  }

  test("IcebergIO table-absence matcher is specific: table-level only") {
    import graft.checkpoint.IcebergIO.isTableAbsent
    // absent TABLE (fresh run, no snapshot yet) -> None paths
    assert(isTableAbsent(new org.apache.spark.sql.AnalysisException(
      "TABLE_OR_VIEW_NOT_FOUND", Map("relationName" -> "`cat`.`ns`.`st0`"))))
    assert(isTableAbsent(new TestNoSuchTableException))
    assert(isTableAbsent(new RuntimeException("wrapped", new TestNoSuchTableException)))
    // misconfiguration/infrastructure failures MUST surface, even when the
    // message superficially says "not found" (the old substring heuristics
    // mapped these to a silent full recompute)
    assert(!isTableAbsent(new org.apache.spark.sql.AnalysisException(
      "CATALOG_NOT_FOUND", Map("catalogName" -> "`cat`", "config" -> "x"))))
    assert(!isTableAbsent(new org.apache.spark.sql.AnalysisException(
      "SCHEMA_NOT_FOUND", Map("schemaName" -> "`ns`"))))
    assert(!isTableAbsent(new RuntimeException("metastore not found / connection refused")))
  }
}
