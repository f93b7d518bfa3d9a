package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.checkpoint.FsOps

/** Local-disk FileSystem registered under a scheme with NO
  * AbstractFileSystem binding: `FileContext.getFileContext(uri)` throws
  * UnsupportedFileSystemException for it, forcing writeAtomic onto its
  * delete-then-rename fallback — the gs://-without-
  * fs.AbstractFileSystem.gs.impl shape. Top-level so Hadoop's
  * Configuration can instantiate it by class name. */
class NoFcLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftnofc"
  override def getUri: java.net.URI = java.net.URI.create("graftnofc:///")
}

/** Local-disk FileSystem whose deletes of `*.old` paths fail, the way an
  * aside copy can survive a swap's cleanup (permissions, a concurrent
  * holder). No AbstractFileSystem binding unless [[StickyAsideFc]] is
  * configured, so both rename paths of FsOps can be exercised. */
class StickyAsideLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftsticky"
  override def getUri: java.net.URI = java.net.URI.create("graftsticky:///")
  override def delete(p: Path, recursive: Boolean): Boolean =
    !p.getName.endsWith(".old") && super.delete(p, recursive)
}

/** FileContext binding for [[StickyAsideLocalFs]]. */
class StickyAsideFc(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new StickyAsideLocalFs, conf,
      "graftsticky", false)

/** Unit gates for the Hadoop-FS primitives under every durable store
  * (ParquetSnapshotIO manifests/GC, CC's per-iteration label store,
  * incremental state swaps and stamps). The stores' semantics are tested
  * in ResumeSpec/ConnectedComponentsSpec/IncrementalDedupSpec;
  * these pin the primitives' contracts — atomic-overwrite rename, absent-
  * path behavior, cross-scheme equivalence — so a future FS-layer change
  * can't silently weaken a commit path. */
class FsOpsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmpDir() = Files.createTempDirectory("graft-fsops").toString

  test("writeAtomic creates the destination and removes the tmp file") {
    val d = tmpDir()
    val dst = new Path(d, "_manifest.json")
    val tmp = new Path(d, "_manifest.json.tmp-1")
    FsOps.writeAtomic(conf, tmp, dst, """{"k": 1}""")
    assert(FsOps.exists(conf, dst) && !FsOps.exists(conf, tmp))
    assert(FsOps.readString(conf, dst) == """{"k": 1}""")
  }

  test("writeAtomic overwrites an existing destination (the manifest swing)") {
    val d = tmpDir()
    val dst = new Path(d, "_manifest.json")
    FsOps.writeAtomic(conf, new Path(d, "t1"), dst, "old")
    FsOps.writeAtomic(conf, new Path(d, "t2"), dst, "new-content")
    assert(FsOps.readString(conf, dst) == "new-content")
  }

  test("readString round-trips multi-byte UTF-8") {
    val d = tmpDir()
    val dst = new Path(d, "m.json")
    val s = """{"stage": "st2_candidates", "note": "héllo — 2²⁰"}"""
    FsOps.writeAtomic(conf, new Path(d, "t"), dst, s)
    assert(FsOps.readString(conf, dst) == s)
  }

  test("readString refuses files beyond the manifest size bound") {
    val d = tmpDir()
    val dst = new Path(d, "big")
    FsOps.writeAtomic(conf, new Path(d, "t"), dst, "x" * ((1 << 20) + 1))
    val e = intercept[IllegalArgumentException] { FsOps.readString(conf, dst) }
    assert(e.getMessage.contains("manifest unexpectedly large"))
  }

  test("listDirs: absent root is empty; files are not listed") {
    val d = tmpDir()
    assert(FsOps.listDirs(conf, new Path(d, "nope")).isEmpty)
    FsOps.mkdirs(conf, new Path(d, "snap-a"))
    FsOps.mkdirs(conf, new Path(d, "snap-b"))
    FsOps.writeAtomic(conf, new Path(d, "t"), new Path(d, "afile"), "x")
    assert(FsOps.listDirs(conf, new Path(d)).map(_.getName).sorted == Seq("snap-a", "snap-b"))
  }

  test("deleteRecursive removes a tree and never throws on an absent path") {
    val d = tmpDir()
    val tree = new Path(d, "snap-old")
    FsOps.mkdirs(conf, new Path(tree, "part-0"))
    FsOps.writeAtomic(conf, new Path(tree, "t"), new Path(tree, "data"), "x")
    assert(FsOps.deleteRecursive(conf, tree))
    assert(!FsOps.exists(conf, tree))
    assert(!FsOps.deleteRecursive(conf, new Path(d, "never-existed"))) // best-effort false
  }

  test("sweepTmp reclaims only crash-stranded <dst>.tmp-* files") {
    val d = tmpDir()
    val dst = new Path(d, "_manifest.json")
    FsOps.writeAtomic(conf, new Path(d, "x"), dst, "live")
    // strand two tmp siblings (as a kill between create and rename would)
    // plus an unrelated file that must survive
    FsOps.writeAtomic(conf, new Path(d, "y1"), new Path(d, "_manifest.json.tmp-aaaa"), "dead")
    FsOps.writeAtomic(conf, new Path(d, "y2"), new Path(d, "_manifest.json.tmp-bbbb"), "dead")
    FsOps.writeAtomic(conf, new Path(d, "y3"), new Path(d, "other.txt"), "keep")
    FsOps.sweepTmp(conf, dst)
    assert(!FsOps.exists(conf, new Path(d, "_manifest.json.tmp-aaaa")))
    assert(!FsOps.exists(conf, new Path(d, "_manifest.json.tmp-bbbb")))
    assert(FsOps.readString(conf, dst) == "live")
    assert(FsOps.exists(conf, new Path(d, "other.txt")))
  }

  test("writeAtomic cleans up its tmp when the rename fails") {
    val d = tmpDir()
    val blocker = new Path(d, "blocker")
    FsOps.writeAtomic(conf, new Path(d, "t0"), blocker, "a file, not a dir")
    val tmp = new Path(d, "m.tmp-1")
    // dst's parent is a FILE -> the rename must fail after tmp is written
    intercept[Exception] {
      FsOps.writeAtomic(conf, tmp, new Path(blocker, "dst"), "x")
    }
    assert(!FsOps.exists(conf, tmp), "failed writeAtomic stranded its tmp file")
  }

  test("writeAtomic falls back to delete-then-rename without a FileContext binding") {
    val c = new org.apache.hadoop.conf.Configuration(conf)
    c.set("fs.graftnofc.impl", classOf[NoFcLocalFs].getName)
    c.setBoolean("fs.graftnofc.impl.disable.cache", true)
    // the binding really is absent: the atomic path cannot serve this scheme
    intercept[org.apache.hadoop.fs.UnsupportedFileSystemException] {
      org.apache.hadoop.fs.FileContext.getFileContext(
        java.net.URI.create("graftnofc:///"), c)
    }
    val d = tmpDir() // local dir; the scheme maps onto the same disk
    val dst = new Path(s"graftnofc://$d/_manifest.json")
    // create (dst absent) and the overwriting manifest swing both succeed
    FsOps.writeAtomic(c, new Path(s"graftnofc://$d/t1"), dst, "first")
    assert(FsOps.readString(c, dst) == "first")
    FsOps.writeAtomic(c, new Path(s"graftnofc://$d/t2"), dst, "second")
    assert(FsOps.readString(c, dst) == "second")
    assert(!FsOps.exists(c, new Path(s"graftnofc://$d/t1")))
    assert(!FsOps.exists(c, new Path(s"graftnofc://$d/t2")))
    // the file is really on local disk (same bytes via the default FS)
    assert(FsOps.readString(conf, new Path(d, "_manifest.json")) == "second")
  }

  test("scheme-less and file:// spellings of one local path see the same file") {
    // The cluster contract: a scheme-less path means "the default FS" (local
    // in tests), and an explicit file:// URI names the same filesystem — the
    // java.nio code this replaced broke exactly this equivalence.
    val d = tmpDir()
    val plain = new Path(d, "m.json")
    val uri = new Path("file://" + d, "m.json")
    FsOps.writeAtomic(conf, new Path(d, "t"), plain, "via-plain")
    assert(FsOps.exists(conf, uri))
    assert(FsOps.readString(conf, uri) == "via-plain")
    FsOps.writeAtomic(conf, new Path("file://" + d, "t2"), uri, "via-uri")
    assert(FsOps.readString(conf, plain) == "via-uri")
  }

  private def put(c: org.apache.hadoop.conf.Configuration, p: Path, content: String): Unit =
    FsOps.writeAtomic(c, p.suffix(".put"), p, content)

  test("swapDir replaces a table and leaves no aside copy or tmp dir behind") {
    val d = "file://" + tmpDir()
    val t = new Path(d, "clusters")
    put(conf, new Path(t, "part-0"), "v1")
    FsOps.swapDir(conf, t)(tmp => put(conf, new Path(tmp, "part-0"), "v2"))
    assert(FsOps.readString(conf, new Path(t, "part-0")) == "v2")
    assert(FsOps.listDirs(conf, new Path(d)).map(_.getName) == Seq("clusters"))
  }

  test("recoverSwap restores an interrupted swap (target missing, .old present)") {
    val d = "file://" + tmpDir()
    val t = new Path(d, "clusters")
    put(conf, new Path(t.suffix(".old"), "part-0"), "v1") // renamed aside, new not moved in
    FsOps.recoverSwap(conf, t)
    assert(FsOps.readString(conf, new Path(t, "part-0")) == "v1")
    assert(!FsOps.exists(conf, t.suffix(".old")))
  }

  test("recoverSwap drops a stale .old next to an intact target") {
    val d = "file://" + tmpDir()
    val t = new Path(d, "clusters")
    put(conf, new Path(t, "part-0"), "new")
    put(conf, new Path(t.suffix(".old"), "part-0"), "stale") // crash after the second rename
    FsOps.recoverSwap(conf, t)
    assert(FsOps.readString(conf, new Path(t, "part-0")) == "new")
    assert(!FsOps.exists(conf, t.suffix(".old")))
  }

  test("recoverSwap sweeps abandoned .tmp-* directories, not other siblings") {
    val d = "file://" + tmpDir()
    val t = new Path(d, "clusters")
    put(conf, new Path(t, "part-0"), "live")
    put(conf, new Path(new Path(d, "clusters.tmp-dead"), "part-0"), "partial write")
    put(conf, new Path(new Path(d, "members.tmp-other"), "part-0"), "another table's")
    FsOps.recoverSwap(conf, t)
    assert(!FsOps.exists(conf, new Path(d, "clusters.tmp-dead")))
    assert(FsOps.exists(conf, new Path(d, "members.tmp-other")))
    assert(FsOps.readString(conf, new Path(t, "part-0")) == "live")
  }

  test("a swap meeting a surviving stale .old refuses instead of nesting the table in it") {
    // FileSystem.rename onto an existing directory moves the source INTO
    // it; the swap's renames must fail instead, on both rename paths.
    for (withFc <- Seq(false, true)) {
      val c = new org.apache.hadoop.conf.Configuration(conf)
      c.set("fs.graftsticky.impl", classOf[StickyAsideLocalFs].getName)
      c.setBoolean("fs.graftsticky.impl.disable.cache", true)
      if (withFc) c.set("fs.AbstractFileSystem.graftsticky.impl", classOf[StickyAsideFc].getName)
      val d = "graftsticky://" + tmpDir()
      val t = new Path(d, "clusters")
      put(c, new Path(t, "part-0"), "v1")
      put(c, new Path(t.suffix(".old"), "part-0"), "stale")
      intercept[java.io.IOException] {
        FsOps.swapDir(c, t)(tmp => put(c, new Path(tmp, "part-0"), "v2"))
      }
      assert(FsOps.readString(c, new Path(t, "part-0")) == "v1", s"withFc=$withFc")
      assert(!FsOps.exists(c, new Path(t.suffix(".old"), "clusters")),
        s"withFc=$withFc: the table was nested inside the stale aside copy")
    }
  }

  test("commit records round-trip; legacy stamps and negative integers parse") {
    val d = tmpDir()
    val p = new Path("file://" + d, "_state_version.json")
    put(conf, new Path(d, "_state_version.json.tmp-dead"), "kill-stranded")
    FsOps.writeRecord(conf, p, "version" -> 3, "band_chunks" -> -1, "row_count" -> Long.MinValue,
      "sig_config" -> "k5|p128|b32|s42", "note" -> "a \"quoted\" \\ value")
    assert(FsOps.readString(conf, p).startsWith("""{"version": 3, "band_chunks": -1, """))
    assert(FsOps.readRecord(conf, p).contains(Map("version" -> "3", "band_chunks" -> "-1",
      "row_count" -> Long.MinValue.toString, "sig_config" -> "k5|p128|b32|s42",
      "note" -> "a \"quoted\" \\ value")))
    assert(!FsOps.exists(conf, new Path(d, "_state_version.json.tmp-dead")))
    // a stamp written before band_chunks existed: only the boolean tier
    put(conf, p, """{"version": 3, "simhash_tier": 1}""")
    val legacy = FsOps.readRecord(conf, p).get
    assert(legacy == Map("version" -> "3", "simhash_tier" -> "1"))
    assert(graft.streaming.IncrementalDedup.bandChunksOf(legacy).contains(-1))
    assert(FsOps.readRecord(conf, new Path(d, "absent.json")).isEmpty)
    intercept[IllegalArgumentException] { FsOps.parseRecord("""{"a": {"b": 1}}""") }
  }
}
