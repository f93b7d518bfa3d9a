package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fixtures.PagesGen
import graft.model.GraftConfig

/** End-to-end planted-truth gate (SURVEY.md §5.1): dup-pair recall >= 0.99,
  * zero negative-pair violations, exclusion/length filters honored,
  * determinism under parallelism, golden reference-shaped fixture. */
class PipelineSpec extends SparkSpec {

  private val cfg = GraftConfig(excludeUrlRegex = Some(".*/excluded/.*"))
  private val spec = PagesGen.Spec(nUnits = 150)

  private lazy val pages = PagesGen.pages(spark, spec).cache()

  /** url -> cluster_id from a pipeline run. */
  private def assignment(report: DataFrame): Map[String, Long] =
    report.select("url", "cluster_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private lazy val result = Pipeline.run(spark, pages, cfg)
  private lazy val assign = assignment(result.report)

  private lazy val truth = PagesGen.truthPairs(spark, spec, cfg.shingleK, cfg.minJaccard)
    .collect()
    .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3), r.getBoolean(4)))

  test("dup-pair recall >= 0.99 against planted truth") {
    val required = truth.filter(t => (t._3 == "exact" || t._3 == "near") && !t._5)
    assert(required.nonEmpty)
    val found = required.count(t =>
      assign.contains(t._1) && assign.contains(t._2) && assign(t._1) == assign(t._2))
    val recall = found.toDouble / required.length
    info(s"recall = $recall ($found / ${required.length})")
    assert(recall >= 0.99, s"recall $recall below 0.99")
  }

  test("no negative pair is co-clustered (precision on planted negatives)") {
    val negatives = truth.filter(_._3 == "negative")
    assert(negatives.nonEmpty)
    negatives.foreach { t =>
      val together = assign.get(t._1).exists(c => assign.get(t._2).contains(c))
      assert(!together, s"negative pair clustered: ${t._1} ~ ${t._2} (J=${t._4})")
    }
  }

  test("excluded urls and length outliers never appear in output") {
    val urls = assign.keySet
    assert(urls.nonEmpty)
    assert(!urls.exists(_.contains("/excluded/")), "excluded url leaked into clusters")
    // unit type 10 is the short-text outlier: its urls end in /u{i}/c0 with i%50==10
    val shortUrls = urls.filter { u => "/u(\\d+)/".r.findFirstMatchIn(u).exists(_.group(1).toLong % 50 == 10) }
    assert(shortUrls.isEmpty, s"short outlier leaked: $shortUrls")
  }

  test("every reported cluster has >= 2 members (singleton suppression F3)") {
    val sizes = result.report.groupBy("cluster_id").count().collect().map(_.getLong(1))
    assert(sizes.nonEmpty && sizes.forall(_ >= 2))
  }

  test("exactly one canonical member per cluster (A7 keeper selection)") {
    val bad = result.report.groupBy("cluster_id")
      .agg(sum(when(col("canonical"), 1).otherwise(0)).as("n_canon"))
      .where(col("n_canon") =!= 1)
    assert(bad.isEmpty)
  }

  test("cluster assignment matches truth clusters modulo relabeling") {
    val truthMembers = PagesGen.truthClusters(spark, spec, cfg.shingleK, cfg.minJaccard)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .filter(t => !t._1.contains("/excluded/"))
    // all members of one truth cluster share one found cluster
    truthMembers.groupBy(_._2).foreach { case (tc, members) =>
      val found = members.flatMap(m => assign.get(m._1)).distinct
      assert(found.length == 1, s"truth cluster $tc split across $found")
    }
    // distinct truth clusters map to distinct found clusters
    val mapping = truthMembers.groupBy(_._2).map { case (tc, ms) => tc -> assign(ms.head._1) }
    assert(mapping.values.toSeq.distinct.size == mapping.size, "distinct truth clusters merged")
  }

  test("determinism: identical report under different input partitioning") {
    val r1 = Pipeline.run(spark, pages.repartition(3), cfg).report.collect().map(_.toString).sorted
    val r2 = Pipeline.run(spark, pages.repartition(11), cfg).report.collect().map(_.toString).sorted
    assert(r1.sameElements(r2))
  }

  test("unitOffset yields a disjoint corpus; offset 0 is byte-identical to the default") {
    // streams of fresh batches (perfbench `stream`: one unit range per
    // batch) rest on this: an offset range must share NO urls with the
    // base range (urls derive from the unit index), and the default must
    // not shift existing fixtures (golden/truth corpora regenerate byte-identically)
    val base = PagesGen.pages(spark, spec).collect().map(r => r.getString(0) -> r.getString(3)).toMap
    val zero = PagesGen.pages(spark, spec.copy(unitOffset = 0L)).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(zero == base)
    val shifted = PagesGen.pages(spark, spec.copy(unitOffset = spec.nUnits)).collect()
      .map(r => r.getString(0)).toSet
    assert(shifted.nonEmpty && base.keySet.intersect(shifted).isEmpty)
  }

  test("truth tables for an offset Spec describe the offset corpus") {
    // Regression (round-5 review): truthPairs/truthClusters ranged over
    // [0, nUnits) regardless of unitOffset, so truth for an offset corpus
    // silently described a DIFFERENT corpus — zero url overlap, recall
    // evaluating to 0/0 with no error.
    val off = spec.copy(nUnits = 40, unitOffset = 500L)
    val corpusUrls = PagesGen.pages(spark, off).collect().map(_.getString(0)).toSet
    val pairUrls = PagesGen.truthPairs(spark, off).collect()
      .flatMap(r => Seq(r.getAs[String]("url_a"), r.getAs[String]("url_b"))).toSet
    val memberUrls = PagesGen.truthClusters(spark, off).collect()
      .map(_.getAs[String]("url")).toSet
    assert(pairUrls.nonEmpty && memberUrls.nonEmpty)
    assert(pairUrls.subsetOf(corpusUrls),
      s"truth pair urls outside the offset corpus: ${pairUrls.diff(corpusUrls).take(3)}")
    assert(memberUrls.subsetOf(corpusUrls))
  }

  test("verified measures are sane (jaccard/hamming/lcs populated)") {
    val rows = result.verified.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      val h = r.getAs[Int]("hamming")
      val l = r.getAs[Double]("lcs_ratio")
      assert(j >= 0.0 && j <= 1.0); assert(h >= 0 && h <= 64)
      // lcs is computed iff the cheap J-OR-Hamming clause holds (the floor
      // only ANDs onto it); cheap-rejected pairs carry NaN, not a number.
      if (j >= cfg.minJaccard || h <= cfg.maxHamming)
        assert(l >= 0.0 && l <= 1.0, s"computed lcs out of range: $l")
      else assert(l.isNaN, s"lcs must be NaN for cheap-rejected pairs, got $l")
    }
    // passed pairs dominated by high jaccard
    val passed = rows.filter(_.getAs[Boolean]("passed"))
    assert(passed.nonEmpty)
    assert(passed.forall(r => r.getAs[Double]("jaccard") >= 0.7))
  }

  test("LCS gate A/B (minLcsRatio 0/0.3/0.5): floors lose recall, gain no precision") {
    // Justifies the minLcsRatio = 0.0 default (Model.scala): lcs_ratio is
    // computed per verified pair, so alternate floors are evaluated offline
    // from ONE pipeline run by re-deriving the pass rule
    // (J >= minJaccard OR hamming <= maxHamming) AND lcs >= floor.
    val urlToNode = Pipeline.extract(pages, cfg).select("url", "node_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def idPair(a: String, b: String): Option[(Long, Long)] =
      for { x <- urlToNode.get(a); y <- urlToNode.get(b) if x != y }
        yield (math.min(x, y), math.max(x, y))
    def unitOf(url: String): Long =
      "/u(\\d+)/".r.findFirstMatchIn(url).get.group(1).toLong
    val nearTruth = truth.filter(t => t._3 == "near" && !t._5)
    val nearPairs = nearTruth.flatMap(t => idPair(t._1, t._2)).toSet
    val blockSwapPairs = nearTruth.filter(t => unitOf(t._1) % 50 == 7)
      .flatMap(t => idPair(t._1, t._2)).toSet
    val negPairs = truth.filter(_._3 == "negative").flatMap(t => idPair(t._1, t._2)).toSet
    assert(nearPairs.nonEmpty && blockSwapPairs.nonEmpty && negPairs.nonEmpty)

    val vrows = result.verified.collect().map { r =>
      val a = r.getAs[Long]("id_a"); val b = r.getAs[Long]("id_b")
      (math.min(a, b), math.max(a, b), r.getAs[Double]("jaccard"),
        r.getAs[Int]("hamming"), r.getAs[Double]("lcs_ratio"))
    }
    def passedAt(minL: Double): Set[(Long, Long)] = vrows.collect {
      case (a, b, j, h, l)
        if (j >= cfg.minJaccard || h <= cfg.maxHamming) && l >= minL => (a, b)
    }.toSet
    val recalls = Seq(0.0, 0.3, 0.5).map { floor =>
      val p = passedAt(floor)
      val rec = nearPairs.count(p.contains).toDouble / nearPairs.size
      val fp = negPairs.count(p.contains)
      info(f"minLcsRatio=$floor%.1f: pair recall=$rec%.4f, planted negatives passed=$fp")
      // NO floor buys precision: the J-OR-Hamming gate already rejects
      // every planted negative that reaches verify.
      assert(fp == 0, s"negative pair passed verify at floor $floor")
      floor -> rec
    }.toMap
    assert(recalls(0.0) >= 0.99, s"recall at floor 0.0 = ${recalls(0.0)}")
    // A 0.5 floor rejects block-swap near-dups ([A B C] -> [B A C] keeps
    // J ~ 0.95 but caps the longest common RUN near 1/3 of the text).
    assert(recalls(0.5) < recalls(0.0),
      "0.5 floor should reject block-swap truth pairs")
    val rejectedAt05 = nearPairs.diff(passedAt(0.5))
    assert(rejectedAt05.intersect(blockSwapPairs).nonEmpty,
      "the 0.5 floor's victims must include block-swap plants")
    // (measured: it also rejects single-token-REPLACEMENT near-dups whose
    // edit lands mid-text — the longest common run is then ~half the doc —
    // so a 0.5 floor harms even the most vanilla edit-distance duplicates)
    // ...and a floor cannot reject the planted hard NEGATIVE either: its
    // shared 70% prefix IS one long common substring (lcs_ratio ~ 0.7), so
    // raising the floor only ever costs recall on reordered near-dups.
    val hardNegTexts = pages
      .filter(col("url").rlike("/u(\\d+)/"))
      .select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter { case (u, _) => unitOf(u) % 50 == 8 }
      .groupBy { case (u, _) => unitOf(u) }.values.head.map(_._2)
    assert(hardNegTexts.length == 2)
    val hnLcs = graft.verify.Lcs.lcsRatio(hardNegTexts(0), hardNegTexts(1))
    info(f"hard-negative lcs_ratio = $hnLcs%.3f")
    assert(hnLcs >= 0.5, "hard negative's prefix-share must exceed any sane floor")
  }

  test("fully-exact suppression flag (F6) hides exact-only clusters") {
    val noExact = Pipeline.run(spark, pages, cfg.copy(showFullyExact = false))
    val kept = noExact.report.select("n_exact_subgroups").distinct()
      .collect().map(_.getInt(0))
    assert(kept.forall(_ > 1), s"fully-exact cluster kept despite flag: ${kept.toSeq}")
    // near-dup clusters (>=2 distinct contents) must survive
    assert(noExact.report.count() > 0)
  }

  test("reference-shaped golden fixture: groups of 3/4/3 identical texts") {
    import spark.implicits._
    // mirrors /root/reference/test/example: a/a,a/b,c = "first"; b,d,f,g =
    // "next"; h,i,j = "third" (sizes 5-6 bytes => minLen=1, like -m 1)
    val rows = Seq(
      ("https://ex/a/a", "first"), ("https://ex/a/b", "first"), ("https://ex/c", "first"),
      ("https://ex/b", "next"), ("https://ex/d", "next"), ("https://ex/f", "next"), ("https://ex/g", "next"),
      ("https://ex/h", "third"), ("https://ex/i", "third"), ("https://ex/j", "third")
    ).map { case (u, t) =>
      (u, new java.sql.Timestamp(0L), null.asInstanceOf[Array[Byte]], t, "en")
    }
    val tiny = rows.toDF("url", "warc_ts", "html", "text", "lang")
    val r = Pipeline.run(spark, tiny, GraftConfig(minLen = 1))
    val nested = Pipeline.reportNested(r.clusters).collect()
    assert(nested.length == 3)
    val groups = nested.map { row =>
      val dups = row.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("duplicates")
      (dups.flatten.sorted.toSeq, row.getAs[Long]("redundant_bytes_ub"))
    }.sortBy(_._1.head)
    // group of "first" (5 bytes x 3 copies -> 10 redundant)
    assert(groups.exists { case (urls, red) =>
      urls == Seq("https://ex/a/a", "https://ex/a/b", "https://ex/c") && red == 10 })
    assert(groups.exists { case (urls, red) =>
      urls == Seq("https://ex/b", "https://ex/d", "https://ex/f", "https://ex/g") && red == 12 })
    assert(groups.exists { case (urls, red) =>
      urls == Seq("https://ex/h", "https://ex/i", "https://ex/j") && red == 10 })
  }

  test("mixed cluster reports exact subgroups (unit type 6)") {
    // unit 6: base + exact copy + near copy -> one cluster, 2 exact subgroups
    val u6 = result.report.where(col("url").rlike("/u6/")).collect()
    assert(u6.length == 3)
    assert(u6.map(_.getAs[Long]("cluster_id")).distinct.length == 1)
    assert(u6.head.getAs[Int]("n_exact_subgroups") == 2)
  }

  test("verify partitioning bounds hub skew (salted repartition key)") {
    import spark.implicits._
    // one hub content paired against 1500 others: with an id_a-only key the
    // whole CPU-bound verify load of the hub lands in ONE partition
    val hub = 0L
    val candidates = (1L to 1500L).map(i => (hub, i)).toDF("id_a", "id_b")
    val contents = (0L to 1500L).map(i => (i, s"text body $i")).toDF("node_id", "text")
    val hubCfg = cfg.copy(verifyPartitions = 8) // fixed for a deterministic bound
    val perPartition = Pipeline.verifyInput(candidates, contents, hubCfg)
      .mapPartitions(it => Iterator(it.size))
      .collect()
    assert(perPartition.sum == 1500)
    assert(perPartition.count(_ > 0) >= 4,
      s"hub pairs not spread: ${perPartition.mkString(",")}")
    assert(perPartition.max <= 600,
      s"hub skew unbounded: max partition ${perPartition.max} of 1500")
  }

  test("metrics rows written for every stage") {
    val stages = result.metrics.map(_.stage)
    assert(stages.toSet == Set("st0_extracted", "st0b_contents", "st1_signatures",
      "st2_candidates", "st3_verified", "st4_clusters", "st5_report"))
    assert(result.metrics.forall(_.wall_ms >= 0))
  }

  test("default IO lazily checkpoints every stage output") {
    // A LogicalRDD root means downstream branches share the stage's one
    // materialization: ST1 and ST3 both read ST0b without re-running it.
    val outputs = Seq(result.extracted, result.signatures, result.candidates,
      result.verified, result.clusters, result.report)
    outputs.foreach { df =>
      val root = df.queryExecution.analyzed
      assert(root.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD], root.nodeName)
    }
  }

  test("cfg.canonicalizeUrls collapses spelled url variants before grouping") {
    import spark.implicits._
    val t1 = (1 to 60).map(i => s"cu$i").mkString(" ")
    val t2 = (1 to 60).map(i => s"cv$i").mkString(" ")
    // one page under two spellings + a genuine exact copy at another url
    val rows = Seq(
      ("https://WWW.Site.COM:443/a/?utm_source=x&b=2&a=1", t1),
      ("https://site.com/a?a=1&b=2", t1),
      ("https://site.com/copy", t1),
      ("https://site.com/other", t2))
      .map { case (u, t) =>
        (u, new java.sql.Timestamp(0L), null: Array[Byte], t, "en") }
      .toDF("url", "warc_ts", "html", "text", "lang")

    // knob OFF: raw spellings are distinct urls -> 3-member exact cluster
    val off = Pipeline.run(spark, rows, GraftConfig()).report
      .select("url", "cluster_id").collect()
    assert(off.length == 3, s"expected 3 raw members, got ${off.length}")

    // knob ON: the two spellings are ONE canonical observation -> the
    // cluster is the canonical url + the genuine copy, nothing inflated
    val on = Pipeline.run(spark, rows, GraftConfig(canonicalizeUrls = true)).report
      .select("url", "cluster_id").collect()
    val urls = on.map(_.getString(0)).sorted
    assert(urls.sameElements(Array("https://site.com/a?a=1&b=2", "https://site.com/copy")),
      s"canonical members wrong: ${urls.mkString(",")}")
    assert(on.map(_.getLong(1)).distinct.length == 1)
  }

  test("canonicalMap: one pointer row per member when the canonical url spans node_ids") {
    import spark.implicits._
    // Two crawls of ONE page (spelled differently) with near-dup but
    // DIFFERENT texts: after canonicalization the canonical url sits under
    // two node_ids in the same cluster and BOTH its rows carry
    // canonical=true. The pointer table must still emit exactly one row
    // per non-canonical member (regression: the canon join side used to
    // keep both rows, duplicating every pointer).
    val t1 = (1 to 60).map(i => s"cm$i").mkString(" ")
    val t2 = t1 + " cmx" // J ~ 57/58 >= 0.8, Hamming ~ 0
    val rows = Seq(
      ("http://x.com/a", t1),
      ("http://WWW.x.com/a", t2), // same canonical url, different content
      ("http://y.com/b", t1))     // exact copy binding y into the cluster
      .map { case (u, t) =>
        (u, new java.sql.Timestamp(0L), null: Array[Byte], t, "en") }
      .toDF("url", "warc_ts", "html", "text", "lang")
    val r = Pipeline.run(spark, rows, GraftConfig(canonicalizeUrls = true))
    assert(r.report.select("cluster_id").distinct().count() == 1)
    assert(r.report.count() == 3) // x.com/a twice (two contents) + y.com/b
    val cm = Pipeline.canonicalMap(r.clusters).collect()
    assert(cm.length == 1, s"expected 1 pointer row, got ${cm.length}: ${cm.mkString(";")}")
    assert(cm.head.getString(0) == "http://y.com/b")
    assert(cm.head.getString(1) == "http://x.com/a")
  }
}
