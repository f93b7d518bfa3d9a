package graft.fixtures

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.ExtractText
import graft.signatures.MinHasher
import graft.util.Hashing

/** Deterministic synthetic `pages` generator with planted duplicate truth
  * (FIXTURES.md §1-2). Pure function of (unit index, seed): generation is
  * distributed via spark.range(...).flatMap and is invariant under
  * partitioning. Mirrors the reference's hand-built corpus
  * /root/reference/test/example/ (3 exact groups sized 3/4/3 + singletons)
  * at unit indices 0/1/2, then extends with near-dup groups, hard
  * negatives, length outliers, and excluded urls.
  *
  * Unit layout (i mod 50):
  *   0 -> exact group of 3      1 -> exact group of 4    2 -> exact group of 2
  *   3 -> near pair, ~1 token replaced        (J ~ 0.93)
  *   4 -> near triple, chain of edits         (J ~ 0.87-0.93)
  *   5 -> near pair, 3 tokens replaced        (J ~ 0.82)
  *   6 -> mixed: base + exact copy + near copy (exact subgroup inside cluster)
  *   7 -> near pair by block swap             (J ~ 0.95, long LCS)
  *   8 -> hard negative pair (70% shared prefix, J ~ 0.55 — must NOT cluster)
  *   9 -> exact group of 3 with one member under /excluded/ (F2 plant)
  *  10 -> short outlier (below minLen, must be filtered by F1)
  *  11-49 -> singleton
  */
object PagesGen {

  /** tokensScale multiplies per-unit text length (benchmark knob: raises
    * compute density without changing planted-truth semantics; tests use 1).
    * unitOffset shifts the generated unit-id range to [unitOffset,
    * unitOffset + nUnits): units are independent, so an offset range is a
    * DISJOINT corpus (new urls, new content) — how a stream of genuinely
    * fresh batches is built (the perfbench `stream` workload gives each
    * batch its own unit range). */
  final case class Spec(nUnits: Long, seed: Long = 42L, tokensScale: Int = 1,
      unitOffset: Long = 0L)

  final case class GenPage(
      unit: Long, url: String, warc_ts: Timestamp, html: Array[Byte],
      text: String, lang: String, kind: String)

  final case class TruthPair(
      url_a: String, url_b: String, kind: String, true_jaccard: Double,
      involves_excluded: Boolean)

  final case class TruthMember(url: String, cluster_id: Long, involves_excluded: Boolean)

  private val Langs = Array("en", "es", "de", "zh", "fr")
  private val EpochMs = 1704067200000L // 2024-01-01T00:00:00Z, fixed

  // ------------------------------------------------------------ core RNG
  private final class Rng(var state: Long) {
    def next(): Long = { state = Hashing.splitMix64(state); state }
    def nextInt(bound: Int): Int = (Math.floorMod(next(), bound.toLong)).toInt
  }

  /** Global deterministic vocabulary: word v is 3-8 lowercase letters. */
  private def word(v: Int): String = {
    var h = Hashing.splitMix64(0xabcdef1234L + v)
    val len = 3 + (Math.floorMod(h, 6L)).toInt
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) {
      h = Hashing.splitMix64(h)
      sb.append(('a' + Math.floorMod(h, 26L).toInt).toChar)
      i += 1
    }
    sb.toString
  }

  private final val VocabSize = 2000

  private def baseTokens(rng: Rng, n: Int): Array[String] =
    Array.fill(n)(word(rng.nextInt(VocabSize)))

  private def replaceTokens(tokens: Array[String], positions: Seq[Int], tag: String): Array[String] = {
    val out = tokens.clone()
    positions.zipWithIndex.foreach { case (p, idx) =>
      out(p % out.length) = s"zq$tag${idx}x"
    }
    out
  }

  private def swapBlocks(tokens: Array[String]): Array[String] = {
    val n = tokens.length
    val third = n / 3
    // [A B C] -> [B A C]
    val out = new Array[String](n)
    System.arraycopy(tokens, third, out, 0, third)
    System.arraycopy(tokens, 0, out, third, third)
    System.arraycopy(tokens, 2 * third, out, 2 * third, n - 2 * third)
    out
  }

  // --------------------------------------------------------- unit -> rows
  /** All texts of a unit, as (copyTag, text, excluded). Pure in (i, seed). */
  private[fixtures] def unitTexts(i: Long, seed: Long, tokensScale: Int = 1): Seq[(String, String, Boolean)] = {
    val rng = new Rng(seed ^ (i * 0x9e3779b97f4a7c15L) ^ 0x5eedL)
    val n = (120 + rng.nextInt(180)) * tokensScale
    val base = baseTokens(rng, n)
    val t = base.mkString(" ")

    (i % 50) match {
      case 0 => Seq(("c0", t, false), ("c1", t, false), ("c2", t, false))
      case 1 => Seq(("c0", t, false), ("c1", t, false), ("c2", t, false), ("c3", t, false))
      case 2 => Seq(("c0", t, false), ("c1", t, false))
      case 3 =>
        val b = replaceTokens(base, Seq(rng.nextInt(n)), s"u${i}a")
        Seq(("c0", t, false), ("c1", b.mkString(" "), false))
      case 4 =>
        val b = replaceTokens(base, Seq(rng.nextInt(n)), s"u${i}a")
        val c = replaceTokens(b, Seq(rng.nextInt(n)), s"u${i}b")
        Seq(("c0", t, false), ("c1", b.mkString(" "), false), ("c2", c.mkString(" "), false))
      case 5 =>
        val b = replaceTokens(base, Seq(rng.nextInt(n), rng.nextInt(n), rng.nextInt(n)), s"u${i}a")
        Seq(("c0", t, false), ("c1", b.mkString(" "), false))
      case 6 =>
        val b = replaceTokens(base, Seq(rng.nextInt(n)), s"u${i}a")
        Seq(("c0", t, false), ("c1", t, false), ("c2", b.mkString(" "), false))
      case 7 =>
        Seq(("c0", t, false), ("c1", swapBlocks(base).mkString(" "), false))
      case 8 =>
        // hard negative: shares first 70% of tokens, rest fresh
        val keep = (n * 7) / 10
        val other = base.take(keep) ++ baseTokens(rng, n - keep)
        Seq(("c0", t, false), ("c1", other.mkString(" "), false))
      case 9 =>
        Seq(("c0", t, false), ("c1", t, true), ("c2", t, false))
      case 10 =>
        Seq(("c0", "tiny", false)) // below any sane minLen
      case _ =>
        Seq(("c0", t, false))
    }
  }

  private[fixtures] def urlFor(i: Long, tag: String, excluded: Boolean): String = {
    val host = s"host${Math.floorMod(i, 97L)}.example"
    val dir = if (excluded) "excluded" else s"p${Math.floorMod(i * 31, 1000L)}"
    s"https://$host/$dir/u$i/$tag"
  }

  def genUnit(i: Long, seed: Long, tokensScale: Int = 1): Seq[GenPage] = {
    unitTexts(i, seed, tokensScale).zipWithIndex.map { case ((tag, text, excluded), c) =>
      val host = s"host${Math.floorMod(i, 97L)}.example"
      val url = urlFor(i, tag, excluded)
      val ts = new Timestamp(EpochMs + (i * 13 + c) * 3600000L)
      val lang = Langs((Math.floorMod(Hashing.splitMix64(seed ^ i), Langs.length.toLong)).toInt)
      val kind = s"k${i % 50}"
      GenPage(i, url, ts, ExtractText.render(text, host), text, lang, kind)
    }
  }

  /** Truth pairs within a unit: every pair of its non-filtered members with
    * exact-equality or shingle-Jaccard computed exactly via the same kernel
    * the pipeline uses (so "same shingle/signature config" holds by
    * construction). Pairs with 0.7 < J < 0.8 are emitted with kind
    * "borderline" (excluded from both recall and precision accounting). */
  def genTruth(i: Long, seed: Long, shingleK: Int, minJaccard: Double,
      tokensScale: Int = 1): Seq[TruthPair] = {
    val members = unitTexts(i, seed, tokensScale).filter(_._2.length >= 8)
    val withUrl = members.zipWithIndex.map { case ((tag, text, excl), _) =>
      (urlFor(i, tag, excl), text, excl)
    }
    for {
      a <- withUrl.indices
      b <- (a + 1) until withUrl.length
      (ua, ta, ea) = withUrl(a)
      (ub, tb, eb) = withUrl(b)
      j = if (ta == tb) 1.0
          else MinHasher.jaccardSorted(
            MinHasher.shingleHashes(ta, shingleK), MinHasher.shingleHashes(tb, shingleK))
      kind = if (ta == tb) "exact"
             else if (j >= minJaccard) "near"
             else if (j > 0.7) "borderline"
             else "negative"
    } yield {
      val (x, y) = if (ua <= ub) (ua, ub) else (ub, ua)
      TruthPair(x, y, kind, j, ea || eb)
    }
  }

  /** Truth cluster members per unit: union-find over exact+near truth pairs
    * (the transitive closure the pipeline's CC must reproduce). */
  def genTruthClusters(i: Long, seed: Long, shingleK: Int, minJaccard: Double,
      tokensScale: Int = 1): Seq[TruthMember] = {
    val pairs = genTruth(i, seed, shingleK, minJaccard, tokensScale)
      .filter(p => p.kind == "exact" || p.kind == "near")
    if (pairs.isEmpty) return Seq.empty
    val urls = pairs.flatMap(p => Seq(p.url_a, p.url_b)).distinct.sorted
    val idx = urls.zipWithIndex.toMap
    val parent = Array.tabulate(urls.length)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { p =>
      val (ra, rb) = (find(idx(p.url_a)), find(idx(p.url_b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val exclUrls = pairs.filter(_.involves_excluded)
      .flatMap(p => Seq(p.url_a, p.url_b)).toSet
    urls.map { u =>
      TruthMember(u, i * 100 + find(idx(u)), exclUrls.contains(u) && u.contains("/excluded/"))
    }
  }

  // --------------------------------------------------------- public API
  def pages(spark: SparkSession, spec: Spec): DataFrame = {
    import spark.implicits._
    val seed = spec.seed
    val scale = spec.tokensScale
    spark.range(spec.unitOffset, spec.unitOffset + spec.nUnits)
      .flatMap(i => genUnit(i, seed, scale))
      .select($"url", $"warc_ts", $"html", $"text", $"lang")
  }

  def truthPairs(spark: SparkSession, spec: Spec, shingleK: Int = 5, minJaccard: Double = 0.8): DataFrame = {
    import spark.implicits._
    val seed = spec.seed
    val scale = spec.tokensScale
    // Same unit range as pages(spec): truth for an offset Spec must describe
    // the offset corpus, not units [0, nUnits) of a different one.
    spark.range(spec.unitOffset, spec.unitOffset + spec.nUnits)
      .flatMap(i => genTruth(i, seed, shingleK, minJaccard, scale))
      .toDF()
  }

  def truthClusters(spark: SparkSession, spec: Spec, shingleK: Int = 5, minJaccard: Double = 0.8): DataFrame = {
    import spark.implicits._
    val seed = spec.seed
    val scale = spec.tokensScale
    spark.range(spec.unitOffset, spec.unitOffset + spec.nUnits)
      .flatMap(i => genTruthClusters(i, seed, shingleK, minJaccard, scale))
      .toDF()
  }

  /** Driver-shared derivation: expand `documents.parquet` in `sfDir` into a
    * pages table with planted exact copies (doc_id%10==0 -> 3 copies,
    * ==1 -> 2 copies) and a near copy (doc_id%10==2, one appended marker
    * token, J ~ 0.9 at 50-token docs). Exact-copy structure is reproducible
    * in ANSI SQL (DuckDB oracle, see SparkEntry.oracleSql); everything is
    * built from Catalyst expressions (no UDF). */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def urlc(copy: Int) = concat(
      lit("https://host"), pmod(col("doc_id"), lit(97)).cast("string"), lit(".example/d/"),
      col("doc_id").cast("string"), lit(s"/$copy"))
    def ts = timestamp_millis(lit(EpochMs) + col("doc_id") * 1000L)
    val base = docs.select(urlc(0).as("url"), ts.as("warc_ts"),
      lit(null).cast("binary").as("html"), col("text"), col("lang"))
    val copy1 = docs.where(pmod(col("doc_id"), lit(10)).isin(0, 1))
      .select(urlc(1).as("url"), ts.as("warc_ts"),
        lit(null).cast("binary").as("html"), col("text"), col("lang"))
    val copy2 = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      .select(urlc(2).as("url"), ts.as("warc_ts"),
        lit(null).cast("binary").as("html"), col("text"), col("lang"))
    val near = docs.where(pmod(col("doc_id"), lit(10)) === 2)
      .select(urlc(3).as("url"), ts.as("warc_ts"),
        lit(null).cast("binary").as("html"),
        concat(col("text"), lit(" zqnear"), col("doc_id").cast("string"), lit("x")).as("text"),
        col("lang"))
    base.union(copy1).union(copy2).union(near)
  }
}
