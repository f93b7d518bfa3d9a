package graftbench

import graft.extract.ExtractText
import graft.signatures.MinHasher
import graft.verify.Lcs

/** Single-thread kernel timings over docs and pairs sampled from the
  * workload's own corpus. Each kernel gets a warm-up pass, then timed passes
  * until its share of the budget is spent; results feed a sink so no call is
  * dead code. */
object Kernels {
  /** docs: (html or null, text); pairs: two texts. */
  def run(tr: Tracer, docs: Seq[(Array[Byte], String)], pairs: Seq[(String, String)],
      budgetS: Double): Seq[Metric] = {
    val k = Corpus.ShingleK
    val (pa, pb) = MinHasher.permParams(128, 42L)
    val htmls = docs.map(_._1).filter(_ != null).toArray
    val texts = docs.map(_._2).toArray
    val shingles = texts.map(MinHasher.shingleHashes(_, k))
    val minhashes = shingles.map(MinHasher.minhash(_, pa, pb))
    val pairShingles = pairs.map { case (a, b) =>
      (MinHasher.shingleHashes(a, k), MinHasher.shingleHashes(b, k))
    }.toArray
    val pairTexts = pairs.toArray
    var sink = 0L

    val kernels: Seq[(String, Int, Int => Long)] = Seq(
      ("extract_us", htmls.length, i => ExtractText(htmls(i)).length.toLong),
      ("shingle_us", texts.length, i => MinHasher.shingleHashes(texts(i), k).length.toLong),
      ("minhash_us", shingles.length, i => MinHasher.minhash(shingles(i), pa, pb)(0)),
      ("simhash_us", shingles.length, i => MinHasher.simhash(shingles(i))),
      ("band_us", minhashes.length, i => MinHasher.bandHashes(minhashes(i), 32)(0)),
      ("jaccard_us", pairShingles.length, i => java.lang.Double.doubleToLongBits(
        MinHasher.jaccardSorted(pairShingles(i)._1, pairShingles(i)._2))),
      ("lcs_us", pairTexts.length, i => java.lang.Double.doubleToLongBits(
        Lcs.lcsRatio(pairTexts(i)._1, pairTexts(i)._2))))

    val share = budgetS / kernels.size
    val out = kernels.map { case (name, n, f) =>
      if (n == 0) Metric(s"kernel.$name", 0.0, "us") // no input for this kernel here
      else tr.span(s"kernel:$name", "kernel") {
        var i = 0
        while (i < n) { sink ^= f(i); i += 1 }
        var calls = 0L
        val t0 = System.nanoTime()
        while (calls == 0 || System.nanoTime() - t0 < share * 1e9) {
          i = 0
          while (i < n) { sink ^= f(i); i += 1 }
          calls += n
        }
        Metric(s"kernel.$name", (System.nanoTime() - t0) / 1e3 / calls, "us")
      }
    }
    System.err.println(s"[graftbench] kernel sink $sink")
    out
  }
}
