package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.PagesGen
import graft.signatures.MinHasher

/** Seeded inputs and their planted truth. The program only ever sees the
  * parquet written here; truth stays in the benchmark. */
object Corpus {
  val ShingleK = 5
  val MinJaccard = 0.8

  /** A planted url pair, urls ordered. */
  type Pair = (String, String)

  def pair(a: String, b: String): Pair = if (a <= b) (a, b) else (b, a)

  def excluded(url: String): Boolean = url.contains("/excluded/")

  /** Truth: kind ("exact", "near", "borderline", "negative") per url pair.
    * Pairs touching an excluded url are left out of all accounting. */
  final case class Truth(kinds: Map[Pair, String]) {
    def ++(o: Truth): Truth = Truth(kinds ++ o.kinds)
  }

  /** Unit index of the k-th unit of a workload: every unit for web-crawl,
    * only PagesGen's duplicate-bearing kinds (i % 50 < 10) for dup-dense. */
  def webUnit(k: Long): Long = k
  def denseUnit(k: Long): Long = (k / 10) * 50 + k % 10

  /** Pages of units unitOf(k), k in [from, until). `textOnly` nulls html
    * so extraction reads the text column. */
  def pages(spark: SparkSession, from: Long, until: Long, unitOf: Long => Long,
      seed: Long, tokensScale: Int, textOnly: Boolean): DataFrame = {
    import spark.implicits._
    spark.range(from, until)
      .flatMap(k => PagesGen.genUnit(unitOf(k), seed, tokensScale))
      .select($"url", $"warc_ts",
        if (textOnly) lit(null).cast("binary").as("html") else $"html", $"text", $"lang")
  }

  /** Near republication of units [from, until) in stream batch `b`: new
    * urls, html dropped, one appended token. */
  def republish(url: String, b: Int): String = s"$url#rc$b"
  def republishText(text: String, b: Int): String = s"$text rcnear$b"

  def republished(spark: SparkSession, from: Long, until: Long, seed: Long,
      tokensScale: Int, b: Int): DataFrame =
    pages(spark, from, until, webUnit, seed, tokensScale, textOnly = true)
      .select(concat(col("url"), lit(s"#rc$b")).as("url"), col("warc_ts"), col("html"),
        concat(col("text"), lit(s" rcnear$b")).as("text"), col("lang"))

  /** Writes `df` as parquet and returns its text bytes. */
  def write(df: DataFrame, path: String): Long = {
    df.write.mode("overwrite").parquet(path)
    textBytes(df.sparkSession.read.parquet(path))
  }

  def textBytes(pages: DataFrame): Long =
    pages.agg(sum(octet_length(col("text")))).head().getLong(0)

  /** Planted truth of units unitOf(k), k in [from, until), from PagesGen's
    * own labelling. */
  def truth(from: Long, until: Long, unitOf: Long => Long, seed: Long, tokensScale: Int): Truth =
    Truth((from until until).iterator.flatMap { k =>
      PagesGen.genTruth(unitOf(k), seed, ShingleK, MinJaccard, tokensScale)
    }.filterNot(_.involves_excluded).map(p => pair(p.url_a, p.url_b) -> p.kind).toMap)

  /** Truth of unit `i` after its members were republished in batch `b`:
    * PagesGen's labelling rule applied to the original members plus their
    * republished copies. */
  def republishedTruth(i: Long, seed: Long, tokensScale: Int, b: Int): Truth = {
    val orig = PagesGen.genUnit(i, seed, tokensScale).map(p => (p.url, p.text))
    val members = (orig ++ orig.map { case (u, t) => (republish(u, b), republishText(t, b)) })
      .filter { case (u, t) => t.length >= 8 && !excluded(u) }
    val sh = members.map { case (_, t) => MinHasher.shingleHashes(t, ShingleK) }
    Truth((for {
      a <- members.indices
      c <- (a + 1) until members.length
    } yield {
      val j = if (members(a)._2 == members(c)._2) 1.0 else MinHasher.jaccardSorted(sh(a), sh(c))
      val kind =
        if (members(a)._2 == members(c)._2) "exact"
        else if (j >= MinJaccard) "near"
        else if (j > 0.7) "borderline"
        else "negative"
      pair(members(a)._1, members(c)._1) -> kind
    }).toMap)
  }
}

/** Output checks against planted truth. */
object Checks {
  final case class Quality(recall: Double, precision: Double, negatives: Int, found: Int,
      required: Int, giant: Int)

  /** Pair recall and precision of an output given as (url, cluster id)
    * rows. Borderline pairs and excluded urls count for neither. */
  def quality(rows: Seq[(String, Long)], truth: Corpus.Truth, maxCluster: Int = 1000): Quality = {
    val clusters = rows.filterNot(r => Corpus.excluded(r._1)).distinct
      .groupBy(_._2).values.map(_.map(_._1).sorted.toIndexedSeq)
    val giant = clusters.count(_.size > maxCluster)
    val co = clusters.iterator.filter(c => c.size >= 2 && c.size <= maxCluster).flatMap { c =>
      for { a <- c.indices.iterator; b <- ((a + 1) until c.size).iterator } yield (c(a), c(b))
    }.toSet
    val required = truth.kinds.collect { case (p, k) if k == "exact" || k == "near" => p }
    val found = required.count(co.contains)
    val judged = co.filter(p => !truth.kinds.get(p).contains("borderline"))
    val good = judged.count(p => truth.kinds.get(p).exists(k => k == "exact" || k == "near"))
    val negatives = co.count(p => truth.kinds.get(p).contains("negative"))
    Quality(
      recall = if (required.isEmpty) 1.0 else found.toDouble / required.size,
      precision = if (judged.isEmpty) 1.0 else good.toDouble / judged.size,
      negatives = negatives, found = found, required = required.size, giant = giant)
  }

  /** Order-independent hash of a table's rows. */
  def tableHash(rows: Seq[org.apache.spark.sql.Row]): String = {
    val lines = rows.map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case v              => String.valueOf(v)
    }.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString + s"/${lines.length}"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
