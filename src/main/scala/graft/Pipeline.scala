package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.functions.GraftFunctions
import graft.signatures.MinHasher
import graft.verify.Lcs
import graft.cluster.ConnectedComponents
import graft.checkpoint.{Manifest, NoCheckpointIO, TableIO}

/** The staged hash-then-group near-dup pipeline (SURVEY.md §3.4):
  *
  *   pages -> ST0 extract -> ST1 signatures -> ST2 candidates
  *         -> ST3 verify -> ST4 cluster -> ST5 report
  *
  * Every stage is a pure DataFrame -> DataFrame function; `run` wires them
  * through a TableIO so each stage commits atomically and resumes from its
  * last committed snapshot (the reference's `--resume-stageN` generalized,
  * /root/reference/src/main.rs:114-131).
  *
  * Scale design (100 TB):
  *  - ST1 computes each signature once per distinct text
  *    (`dropDuplicates(node_id)`, the hard-link-collapse analog of
  *    /root/reference/src/file_db.rs:559-563), so exact-dup-heavy corpora
  *    don't pay per-copy signature cost;
  *  - ST2 censuses band keys with map-side partial counting first (a join,
  *    never a driver collect); groups larger than `maxBandGroup` are salted
  *    into bounded buckets and over-cap groups are dropped *before* any
  *    collect_list materializes (hot-band stop-word guard, counted in
  *    metrics) — the skew defuser for boilerplate bands;
  *  - ST3 only ever touches candidate pairs (LSH-bounded): contents are
  *    semi-join-pruned to the candidate id set, so the corpus text is never
  *    shuffled — only dup-set texts; the repartition key is salted so a hub
  *    content cannot serialize the CPU-bound verify;
  *  - ST4 shuffles only the verified-pair edge set (tiny vs corpus);
  *  - no stage collects unbounded data to the driver.
  */
object Pipeline {

  final case class Result(
      extracted: DataFrame,
      signatures: DataFrame,
      candidates: DataFrame,
      verified: DataFrame,
      clusters: DataFrame,
      report: DataFrame,
      metricsFn: () => Seq[StageMetrics]
  ) {
    /** Stage metrics. Evaluated on demand: the ST2 band-guard counters ride
      * on the cached census table, so reading them runs one tiny job over
      * cached partitions instead of forcing a driver sync inside the
      * pipeline itself (the Amdahl floor the north rule measures). */
    lazy val metrics: Seq[StageMetrics] = metricsFn()
  }

  /** ST2 band-guard counters (recall accounting, SURVEY §7.5): fully-dropped
    * over-cap groups, salted (partially-paired) groups, and the member rows
    * inside salted groups. A true pair whose SOLE colliding band is salted
    * can be missed with probability ~(1 - 1/buckets); these counters size
    * that exposure instead of hiding it behind the drop count alone. */
  final case class BandStats(
      droppedBandGroups: Long,
      saltedBandGroups: Long,
      saltedMembers: Long)

  /** ST2 output: the candidate-pair table plus a lazy stats thunk (calling
    * it runs a tiny job over the cached hot-band census). */
  final case class Candidates(pairs: DataFrame, stats: () => BandStats)

  // ---------------------------------------------------------------- ST0
  /** pages(url, warc_ts, html, text, lang) ->
    * extracted(url, warc_ts, text, lang, n_bytes, exact_hash, node_id).
    *
    * Text comes from the html extractor when html is present (the per-row
    * invariant column), falling back to the provided text column. Length
    * filter = F1 (`--min-size`/`--max-size` analog); url-exclusion = F2;
    * null guard = S2.
    */
  def extract(pages: DataFrame, cfg: GraftConfig): DataFrame = {
    val base = pages
      .where(col("url").isNotNull && (col("html").isNotNull || col("text").isNotNull))
      // F2/X4 run on the canonical form when the knob is on: exclusion,
      // latest-binding resolution, keeper selection, and the report all see
      // ONE spelling per page (url-canon tier, cfg.canonicalizeUrls)
      .withColumn("url",
        if (cfg.canonicalizeUrls) graft.web.UrlCanon.canonicalUrl(col("url"))
        else col("url"))
      .withColumn(
        "text",
        when(col("html").isNotNull, GraftFunctions.extractText(col("html")))
          .otherwise(col("text")))
    val excluded = cfg.excludeUrlRegex match {
      case Some(re) => base.where(!col("url").rlike(re))
      case None     => base
    }
    val rows = excluded
      .where(length(col("text")).between(cfg.minLen, cfg.maxLen))
      .withColumn("n_bytes", octet_length(col("text")).cast("long"))
      .withColumn("exact_hash", unhex(md5(col("text")))) // 128-bit content identity (§7.5 collision bound)
      .withColumn("node_id", xxhash64(col("exact_hash")))
      .select("url", "warc_ts", "text", "lang", "n_bytes", "exact_hash", "node_id")
    // Under canonicalization, k spellings of one page with one content are
    // ONE observation, not k members — collapse exact (url, content)
    // repeats so they can't inflate cluster sizes or redundant-bytes.
    // (Same canonical url with DIFFERENT content stays multi-row: batch
    // mode has no latest-binding resolution; incremental mode resolves it.)
    // The survivor is picked DETERMINISTICALLY — max (warc_ts, lang) among
    // the collapsed spellings — not dropDuplicates, whose arbitrary-row
    // semantics would make the surviving warc_ts depend on partitioning.
    // text/n_bytes/exact_hash are functions of node_id, so first() on them
    // is deterministic in value; the groupBy is the same single hash
    // shuffle dropDuplicates would have run.
    if (!cfg.canonicalizeUrls) rows
    else rows
      .groupBy("url", "node_id")
      .agg(
        max(struct(col("warc_ts"), col("lang"))).as("w"),
        first(col("text")).as("text"),
        first(col("n_bytes")).as("n_bytes"),
        first(col("exact_hash")).as("exact_hash"))
      .select(col("url"), col("w.warc_ts").as("warc_ts"), col("text"),
        col("w.lang").as("lang"), col("n_bytes"), col("exact_hash"), col("node_id"))
  }

  /** One row per distinct content: (node_id, n_bytes, text). The J3
    * hard-link-collapse analog, shared by ST1 (signatures) and ST3 (verify
    * text lookup) so the full-text dedup shuffle happens once. */
  def distinctContents(extracted: DataFrame): DataFrame =
    extracted.select("node_id", "n_bytes", "text").dropDuplicates("node_id")

  // ---------------------------------------------------------------- ST1
  /** One row per distinct text: (node_id, n_bytes, minhash, simhash,
    * band_hashes). Signature computed exactly once per content (J3).
    * Input: `distinctContents` output (already deduped by node_id). */
  def signatures(contents: DataFrame, cfg: GraftConfig): DataFrame = {
    contents
      .select("node_id", "n_bytes", "text")
      .withColumn("sig",
        GraftFunctions.docSignature(col("text"), cfg.shingleK, cfg.numPerm, cfg.bands, cfg.seed))
      .select(
        col("node_id"),
        col("n_bytes"),
        col("sig.minhash").as("minhash"),
        col("sig.simhash").as("simhash"),
        col("sig.band_hashes").as("band_hashes"))
  }

  // ---------------------------------------------------------------- ST2
  /** LSH banding -> distinct candidate content pairs (id_a < id_b).
    *
    * Skew handling (north-rule salted band-key repartitioning):
    *  - band groups <= maxBandGroup pair up directly;
    *  - hot groups (maxBandGroup, hardMaxBandGroup] are SALTED into
    *    ceil(size/maxBandGroup) buckets by xxh64(node_id) and pair-generated
    *    within buckets — work stays O(size * maxBandGroup) instead of
    *    O(size^2), at the cost of partial in-band recall (a hot-band pair
    *    still surfaces through its other 31 bands);
    *  - groups beyond hardMaxBandGroup are dropped, counted in metrics
    *    (boilerplate stop-band; recall accounting stays honest, SURVEY §7.5).
    *
    * The census and the salting are JOINS, never a driver collect: a
    * 10^12-doc web corpus can have millions of >maxBandGroup boilerplate
    * bands, and the driver must see only the three scalar counters (and
    * those only when metrics are read). Returns the pair table plus a lazy
    * BandStats thunk riding on the cached census. */
  def candidatePairs(sigs: DataFrame, cfg: GraftConfig): Candidates =
    bandedPairs(bandKeys(sigs, cfg), cfg)

  /** All (node_id, band_key) rows this config's candidate generators join
    * on: the MinHash band hashes (already seeded by band index, so the hash
    * itself is the join key; 32 rows per distinct doc, not 128), plus the
    * SimHash pigeonhole chunk keys when `cfg.simhashTier` is on — ONE
    * unified key table, so ST2 runs one census and one pair shuffle for
    * both tiers, and the incremental mode's durable band index stores (and
    * therefore cross-batch-probes) every enabled tier with no extra state.
    * Chunk-collision candidates above `maxHamming` are a superset, not an
    * error: ST3's exact pass rule decides; the false-collision rate per
    * chunk is ~2^-16 and hot chunks salt like any hot band. */
  def bandKeys(sigs: DataFrame, cfg: GraftConfig): DataFrame = {
    val mh = sigs.select(col("node_id"), explode(col("band_hashes")).as("band_key"))
    if (!cfg.simhashTier || cfg.maxHamming < 0) mh
    else mh.union(sigs.select(col("node_id"), explode(simhashChunkKeys(cfg)).as("band_key")))
  }

  /** Census + salting + within-group pair generation over any
    * (node_id, band_key) table — shared by the MinHash-band tier (ST2) and
    * the SimHash chunk tier (`simhashPairs`). */
  private def bandedPairs(bands: DataFrame, cfg: GraftConfig): Candidates = {
    // Hot-band census (one partial-agg shuffle), kept distributed. Lazily
    // checkpointed: the pair job materializes it once for the join below,
    // and the stats thunk then reads the cached partitions.
    //
    // localCheckpoint over cache() is a DELIBERATE trade: it truncates
    // lineage, so losing an executor's unreplicated census blocks fails the
    // job instead of recomputing them — but fault tolerance here lives one
    // level up (Pipeline.run commits every stage durably via TableIO; a
    // failed ST2 resumes from committed ST1, never from RDD lineage), and
    // the lineage cut is what keeps the pair plan's CI-gated single-pass
    // shape (PlanSpec: exactly one band-key explode — a cached census would
    // re-print its explode subtree inside the pair plan).
    val hotCap = if (cfg.saltHotBands) cfg.hardMaxBandGroup.toLong else cfg.maxBandGroup.toLong
    val hotCounts = bands.groupBy("band_key").count()
      .where(col("count") > cfg.maxBandGroup)
      .localCheckpoint(false)

    // ONE pass over the band-key table — at web scale it is the largest
    // intermediate (docs x bands rows), so cold/hot must not fork into two
    // scans + two groupBys. A left join against the (relatively tiny) hot
    // census — AQE broadcasts it when it fits, shuffle-joins on band_key
    // when millions of boilerplate keys don't (and that partitioning then
    // satisfies the groupBy's (band_key, salt) clustering: no extra
    // exchange) — classifies every row in place:
    //  - cold bands (no census row) keep salt 0 and pair up whole;
    //  - hot bands (maxBandGroup, hotCap] are SALTED into
    //    ceil(size/maxBandGroup) buckets by xxh64(node_id) so each
    //    (band, salt) cell stays <= ~maxBandGroup members — work
    //    O(size * maxBandGroup), not O(size^2), at the cost of partial
    //    in-band recall (counted honestly in BandStats);
    //  - over-cap bands (> hotCap) are dropped (boilerplate stop-band).
    val maxGroup = cfg.maxBandGroup.toLong
    val classified = bands
      .join(hotCounts, Seq("band_key"), "left")
      .where(col("count").isNull || col("count") <= hotCap)
      .withColumn("salt",
        when(col("count").isNull, lit(0L))
          .otherwise(pmod(xxhash64(col("node_id"), col("band_key")),
            floor((col("count") + lit(maxGroup - 1)) / lit(maxGroup)).cast("long"))))
    val pairs = pairsWithin(
      classified.groupBy("band_key", "salt").agg(collect_list(col("node_id")).as("ids")))
      .distinct().toDF("id_a", "id_b")
    val stats = () => {
      val row = hotCounts.agg(
        sum(when(col("count") > hotCap, 1L).otherwise(0L)),
        sum(when(col("count") <= hotCap, 1L).otherwise(0L)),
        sum(when(col("count") <= hotCap, col("count")).otherwise(0L))).head()
      def g(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
      BandStats(g(0), g(1), g(2))
    }
    Candidates(pairs, stats)
  }

  // ---------------------------------------------------------------- ST2'
  /** SimHash Hamming tier as a first-class candidate generator, by
    * pigeonhole chunk banding (the classic SimHash-dedup table scheme,
    * Manku/Jain/Sarma WWW'07 — public technique): the 64-bit fingerprint is
    * split into `maxHamming + 1` near-equal bit ranges, and any two
    * fingerprints within Hamming distance `maxHamming` must agree on at
    * least one whole chunk — so the chunk-key self-join has RECALL 1.0 for
    * the Hamming gate (a structural guarantee, unlike the MinHash band
    * s-curve) whenever no chunk group exceeds `maxBandGroup`. Candidates
    * then pass an exact `bit_count(xor)` filter.
    *
    * Chunk keys flow through the same census/salting machinery as the
    * MinHash bands (`bandedPairs`): low-entropy chunks (boilerplate-heavy
    * corpora concentrate fingerprint regions) are salted or stop-banded
    * identically — those guarded groups trade the exact-recall guarantee
    * for bounded work, visibly, via the same honest recall counters.
    *
    * Returns (id_a, id_b, hamming) with id_a < id_b, hamming <= maxHamming.
    * Role analog: the reference's cheap-filter tier promoted to a full
    * candidate generator (/root/reference/src/process_matches.rs:255-264).
    */
  def simhashPairs(sigs: DataFrame, cfg: GraftConfig): DataFrame = {
    val bands = sigs.select(col("node_id"), explode(simhashChunkKeys(cfg)).as("band_key"))
    val sh = sigs.select(col("node_id"), col("simhash"))
    bandedPairs(bands, cfg).pairs
      .join(sh.toDF("id_a", "sh_a"), "id_a")
      .join(sh.toDF("id_b", "sh_b"), "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .where(col("hamming") <= cfg.maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** The `maxHamming + 1` pigeonhole chunk keys of a 64-bit `simhash`
    * column: near-equal bit ranges covering all 64 bits (e.g. maxHamming=3
    * -> 4 x 16), each keyed as xxh64(chunk index, chunk bits) — seeding by
    * index keeps equal bit patterns in different chunk positions from
    * colliding into one join key (mirrors the band-index seeding of the
    * MinHash band_hashes). */
  private def simhashChunkKeys(cfg: GraftConfig): Column = {
    val chunks = cfg.maxHamming + 1
    require(chunks >= 1 && chunks <= 64, s"maxHamming=${cfg.maxHamming} out of range")
    val base = 64 / chunks
    val rem = 64 % chunks
    val widths = Array.tabulate(chunks)(i => base + (if (i < rem) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    array((0 until chunks).map { i =>
      val bits =
        if (widths(i) == 64) col("simhash")
        else shiftrightunsigned(col("simhash"), starts(i))
          .bitwiseAND(lit((1L << widths(i)) - 1))
      xxhash64(lit(i), bits)
    }: _*)
  }

  private def pairsWithin(grouped: DataFrame): Dataset[CandidatePair] = {
    val spark = grouped.sparkSession
    import spark.implicits._
    grouped
      .where(size(col("ids")) >= 2)
      .select(col("ids"))
      .as[Seq[Long]]
      .flatMap { ids =>
        // distinct+sorted so identical band membership yields identical pairs
        val s = ids.distinct.sorted.toArray
        for {
          i <- 0 until s.length - 1
          j <- i + 1 until s.length
        } yield CandidatePair(s(i), s(j))
      }
  }

  // ---------------------------------------------------------------- ST3
  /** Exact verification of candidate pairs: shingle Jaccard, SimHash
    * Hamming, suffix-automaton LCS. Pure typed mapPartitions — no UDF.
    * Pass rule (SURVEY.md §3.4 ST3): (J >= minJaccard OR hamming <=
    * maxHamming) AND lcs_ratio >= minLcsRatio. */
  def verifyPairs(
      candidates: DataFrame,
      contents: DataFrame, // (node_id, text) one row per distinct content
      cfg: GraftConfig
  ): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val joined = verifyInput(candidates, contents, cfg)

    val k = cfg.shingleK
    val minJ = cfg.minJaccard
    val maxH = cfg.maxHamming
    val minL = cfg.minLcsRatio

    joined.mapPartitions { it =>
      // Per-partition memo: each distinct content is shingled/simhashed once
      // per RUN of pairs, not once per pair (the J3 compute-once discipline
      // applied inside the verify kernel). BOUNDED LRU, not a plain map: an
      // unbounded memo retains every distinct text's shingle array the task
      // ever sees — O(partition's distinct contents) heap, an executor OOM
      // on big candidate sets. The (id_a, salt) repartition delivers runs
      // of the same id_a, so recency eviction keeps the hit rate while
      // capping retained memory (~256 MB of Long[] worst case per task).
      val shingleBudgetLongs = 1L << 25
      var retainedLongs = 0L
      val shingleMemo =
        new java.util.LinkedHashMap[java.lang.Long, Array[Long]](1024, 0.75f, true)
      val simMemo = new java.util.LinkedHashMap[java.lang.Long, java.lang.Long](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[java.lang.Long, java.lang.Long]): Boolean =
          size() > (1 << 20) // 1M boxed longs ~ 48 MB cap
      }
      def shingles(id: Long, t: String): Array[Long] = {
        var s = shingleMemo.get(id)
        if (s == null) {
          s = MinHasher.shingleHashes(t, k)
          shingleMemo.put(id, s)
          retainedLongs += s.length
          // evict eldest (access order) until under budget; the entry just
          // added is newest and is never reached while anything older lives
          val evict = shingleMemo.entrySet().iterator()
          while (retainedLongs > shingleBudgetLongs && shingleMemo.size() > 1) {
            val old = evict.next()
            retainedLongs -= old.getValue.length
            evict.remove()
          }
        }
        s
      }
      def sim(id: Long, sh: Array[Long]): Long = {
        var v = simMemo.get(id)
        if (v == null) { v = MinHasher.simhash(sh); simMemo.put(id, v) }
        v
      }
      it.map { case (idA, idB, ta, tb) =>
        val sa = shingles(idA, ta)
        val sb = shingles(idB, tb)
        val j = MinHasher.jaccardSorted(sa, sb)
        val ham = java.lang.Long.bitCount(sim(idA, sa) ^ sim(idB, sb))
        // LCS — the most expensive per-pair kernel (suffix-automaton build
        // over both full texts) — runs only when the cheap clause holds:
        // the pass rule only ANDs the lcs floor onto J-OR-Hamming, so a
        // pair the cheap clause rejects is rejected at ANY floor and its
        // automaton is pure waste. Skipped pairs carry lcs_ratio = NaN
        // ("not computed"), never a fabricated number — NaN >= floor is
        // false, so downstream re-scoring at other floors stays correct.
        val cheap = j >= minJ || ham <= maxH
        val lcs = if (cheap) Lcs.lcsRatio(ta, tb) else Double.NaN
        val passed = cheap && lcs >= minL
        VerifiedPair(idA, idB, j, ham, lcs, passed)
      }
    }.toDF()
  }

  /** The partitioned verify input. CPU-bound stage with tiny row bytes:
    * force core-proportional parallelism (AQE's bytes-targeted coalescing
    * would serialize it). The repartition key is (id_a, id_b mod
    * verifySalt): id_a alone co-locates each left text's pairs for the
    * shingle memo, but a hub content pairing with 10^5 others would land its
    * whole CPU-bound workload in one partition — the salt bounds any one
    * content's share to ~1/verifySalt of its pairs while keeping most memo
    * locality (each partition still sees runs of the same id_a). */
  private[graft] def verifyInput(
      candidates: DataFrame,
      contents: DataFrame,
      cfg: GraftConfig
  ): Dataset[(Long, Long, String, String)] = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // Only texts that appear in some candidate pair enter the joins: the
    // candidate id set is tiny relative to the corpus (LSH-bounded), so the
    // semi-join prunes the byte-heavy side BEFORE any wide shuffle — the
    // full contents table (the whole corpus's text) is never shuffled here,
    // only the dup-set texts. At 100 TB this is the difference between
    // shuffling ~TBs twice and shuffling the dup set.
    // No distinct on ids: left_semi ignores right-side duplicates, and
    // skipping it saves a whole shuffle stage (AQE broadcasts the id set
    // when it fits; when it doesn't, the join shuffles it once either way).
    val ids = candidates.select(col("id_a").as("node_id"))
      .union(candidates.select(col("id_b").as("node_id")))
    val need = contents.join(ids, Seq("node_id"), "left_semi")
    val a = need.select(col("node_id").as("id_a"), col("text").as("text_a"))
    val b = need.select(col("node_id").as("id_b"), col("text").as("text_b"))
    val nPart =
      if (cfg.verifyPartitions > 0) cfg.verifyPartitions
      else spark.sparkContext.defaultParallelism * 2
    candidates
      .join(a, "id_a")
      .join(b, "id_b")
      .select("id_a", "id_b", "text_a", "text_b")
      .repartition(nPart, col("id_a"), pmod(col("id_b"), lit(cfg.verifySalt.toLong)))
      .as[(Long, Long, String, String)]
  }

  // ---------------------------------------------------------------- ST4
  /** Connected components over passed pairs; every url gets a cluster_id
    * (content nodes outside any near-dup edge cluster by exact identity).
    * Only clusters with >= 2 member urls survive (F3), and fully-exact
    * clusters are suppressed unless cfg.showFullyExact (F6).
    *
    * Cluster statistics and the A7 keeper are computed with two compact
    * aggregations (per content-node, then per cluster) joined back to the
    * member rows — not with windows: the agg tables are tiny relative to
    * members (AQE broadcasts them), there is no per-cluster sort, and a
    * pathologically large cluster can't create a giant sorted partition.
    * Keeper = min over struct(-sub_size, min_url): largest exact subgroup,
    * tie-broken by smallest url — deterministic. */
  def cluster(extracted: DataFrame, verified: DataFrame, cfg: GraftConfig,
      ccDurableDir: Option[String] = None): DataFrame = {
    val spark = extracted.sparkSession

    val edges = verified.where(col("passed")).select(col("id_a"), col("id_b"))
    val cc = ConnectedComponents.run(spark, edges, cfg.maxCcIterations,
      localThreshold = cfg.ccLocalThreshold, durableDir = ccDurableDir)

    val members = extracted
      .join(cc, extracted("node_id") === cc("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("node_id")))
      .select("cluster_id", "url", "exact_hash", "node_id", "n_bytes", "warc_ts")

    val nodeStats = members
      .groupBy("cluster_id", "node_id")
      .agg(
        count(lit(1)).as("sub_size"),
        min(col("url")).as("sub_min_url"),
        first(col("n_bytes")).as("node_bytes"))

    val clusterStats = nodeStats
      .groupBy("cluster_id")
      .agg(
        sum(col("sub_size")).as("n_members"),
        count(lit(1)).cast("int").as("n_exact_subgroups"),
        min(struct((-col("sub_size")).as("neg_size"), col("sub_min_url").as("u")))
          .getField("u").as("canonical_url"),
        // sum - max = bytes reclaimed by keeping ONE copy of the LARGEST
        // content — the reference's accounting (duplicate_group.rs:51-54),
        // deliberately independent of WHICH member the A7 keeper rule
        // designates canonical (largest exact subgroup): the metric sizes
        // the theoretical reclaim, the keeper picks the representative.
        (sum(col("sub_size") * col("node_bytes")) - max(col("node_bytes")))
          .cast("long").as("redundant_bytes"))

    members
      .join(nodeStats.select("cluster_id", "node_id", "sub_size"), Seq("cluster_id", "node_id"))
      .join(clusterStats, Seq("cluster_id"))
      .where(col("n_members") >= 2) // F3 singleton suppression
      .where(col("n_exact_subgroups") > 1 || lit(cfg.showFullyExact)) // F6
      .withColumn("canonical", col("url") === col("canonical_url")) // A7 keeper
      .drop("canonical_url")
  }

  // ---------------------------------------------------------------- ST5
  /** Flat cluster report; redundant_bytes (sum(n_bytes) - max(n_bytes):
    * bytes reclaimed by keeping one copy — equals the reference's
    * (n_subgroups-1)*size for exact groups,
    * /root/reference/src/duplicate_group.rs:51-54) is precomputed per
    * cluster by ST4's aggregation. */
  def report(clusters: DataFrame): DataFrame = {
    clusters
      .select(
        col("cluster_id"),
        col("url"),
        hex(col("exact_hash")).as("exact_hash"),
        col("canonical"),
        col("n_members"),
        col("n_exact_subgroups"),
        col("redundant_bytes"))
      .orderBy("cluster_id", "url")
  }

  /** Nested report mirroring the reference's DuplicateGroup JSON
    * ({"duplicates":[[paths...]...],"redundant_bytes":n},
    * /root/reference/src/duplicate_group.rs:21-25,143-146): outer array =
    * exact subgroups (distinct contents), inner = urls of identical text. */
  def reportNested(clusters: DataFrame): DataFrame = {
    clusters
      .groupBy("cluster_id", "node_id")
      .agg(sort_array(collect_list(col("url"))).as("urls"),
        first(col("n_bytes")).as("sub_bytes"),
        count(lit(1)).as("sub_count"))
      .groupBy("cluster_id")
      .agg(
        sort_array(collect_list(col("urls"))).as("duplicates"),
        (sum(col("sub_bytes") * col("sub_count")) - max(col("sub_bytes"))).cast("long").as("redundant_bytes_ub"))
      .orderBy("cluster_id")
  }

  /** Reference-parity JSON lines: one object per cluster, exactly the
    * reference's DuplicateGroup serialization shape
    * ({"duplicates":[[urls...],...],"redundant_bytes":n},
    * /root/reference/src/duplicate_group.rs:143-146): inner arrays = urls of
    * byte-identical text (the hard-link-subgroup analog), outer = the
    * cluster's distinct contents. Distributed sink: `.write.text(path)`. */
  def referenceJson(clusters: DataFrame): Dataset[String] = {
    val spark = clusters.sparkSession
    import spark.implicits._
    reportNested(clusters)
      .select(to_json(struct(
        col("duplicates"),
        col("redundant_bytes_ub").as("redundant_bytes"))))
      .as[String]
  }

  /** The `canonical_map` output (the reference's consolidation write-back,
    * /root/reference/src/consolidation.rs:25-93, as a pure pointer table). */
  def canonicalMap(clusters: DataFrame): DataFrame = {
    // The canonical URL can appear under MORE THAN ONE node_id in a
    // cluster (under cfg.canonicalizeUrls, two crawls of one page with
    // different near-dup texts both keep their canonical-url row; each is
    // flagged canonical because the flag tests url equality) — the rows
    // are identical on (cluster_id, url), so the dedup is deterministic
    // and keeps the pointer table at exactly one row per non-canonical
    // member.
    val canon = clusters.where(col("canonical"))
      .select(col("cluster_id"), col("url").as("canonical_url"))
      .dropDuplicates("cluster_id")
    // distinct: a NON-canonical url can likewise sit under two node_ids of
    // one cluster — identical pointer rows are redundant. A url appearing
    // in TWO clusters (canonicalized crawls with dissimilar contents) keeps
    // both rows: the ambiguity is real and must stay visible.
    clusters.select("cluster_id", "url")
      .join(canon, "cluster_id")
      .where(col("url") =!= col("canonical_url"))
      .select("url", "canonical_url")
      .distinct()
  }

  // ------------------------------------------------------------- runner
  /** Run all stages through `io` with per-stage atomic commits, resume, and
    * metrics rows. Stages already committed under the same config hash are
    * loaded, not recomputed. */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      cfg: GraftConfig,
      io: TableIO = NoCheckpointIO
  ): Result = {
    val metrics = scala.collection.mutable.ArrayBuffer[StageMetrics]()
    var prevRows = -1L // rows_in of stage N = rows_out of stage N-1

    def stage(name: String)(compute: => DataFrame): DataFrame = {
      io.load(spark, name) match {
        case Some((df, m)) =>
          // rows_in is the PREVIOUS stage's row count even for a loaded
          // stage — filling it with the stage's own rowCount would make
          // every resumed stage report selectivity 1.0 in the lineage.
          metrics += StageMetrics(name, m.snapshotId, prevRows, m.rowCount, 0, 0, m.configHash)
          prevRows = m.rowCount
          df
        case None =>
          val t0 = System.nanoTime()
          val (df, m) = io.commit(compute, name)
          val wallMs = (System.nanoTime() - t0) / 1000000
          metrics += StageMetrics(name, m.snapshotId, prevRows, m.rowCount, 0, wallMs, m.configHash)
          prevRows = m.rowCount
          df
      }
    }

    val extracted = stage("st0_extracted")(extract(pages, cfg))
    // Shared once: the full-text dedup shuffle feeding both ST1 and ST3.
    // A stage of its own so st1's rows_in counts what st1 actually consumes
    // (deduped contents, not st0 rows) and so durable resume of ST3 reads
    // committed contents instead of recomputing the dedup.
    val contents = stage("st0b_contents")(distinctContents(extracted))
    val sigs = stage("st1_signatures")(signatures(contents, cfg))

    var bandStats: Option[() => BandStats] = None
    val candidates = stage("st2_candidates") {
      val c = candidatePairs(sigs, cfg)
      bandStats = Some(c.stats)
      c.pairs
    }

    val verified = stage("st3_verified")(verifyPairs(candidates, contents, cfg))
    // Durable IOs extend resume INSIDE ST4: the CC loop commits labels per
    // iteration under io.ccDurableDir, so a crash mid-propagation resumes
    // from the last committed iteration, not from scratch.
    val clusters = stage("st4_clusters")(cluster(extracted, verified, cfg, io.ccDurableDir))
    val rep = stage("st5_report")(report(clusters))

    val base = metrics.toSeq
    // Band-guard counters attach lazily: reading Result.metrics runs one
    // tiny job over the cached ST2 census; the pipeline itself keeps zero
    // metric-only driver actions (the serial floor the north rule measures).
    val metricsFn = () => bandStats match {
      case Some(f) =>
        val s = f()
        base.map {
          // No wall_ms condition: bandStats is Some only when ST2 was
          // COMPUTED this run (a loaded stage never assigns it), and an
          // in-memory commit's plan construction can round to 0 ms.
          case m if m.stage == "st2_candidates" =>
            m.copy(dropped_by_guard = s.droppedBandGroups,
              salted_groups = s.saltedBandGroups, salted_members = s.saltedMembers)
          case m => m
        }
      case None => base
    }

    Result(extracted, sigs, candidates, verified, clusters, rep, metricsFn)
  }
}
