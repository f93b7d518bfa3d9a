package graft.model

/** Pipeline configuration.
  *
  * Defaults mirror the reference's staged-refinement knobs re-expressed for
  * near-dup text (reference: /root/reference/src/options.rs:38-110 size/thread
  * defaults; /root/reference/src/process_matches.rs:35 4 KiB prefix tier).
  *
  * LSH s-curve with bands=32, rowsPerBand=4: threshold ~ (1/32)^(1/4) = 0.42,
  * so at the verify threshold minJaccard=0.8 the candidate-recall is
  * 1-(1-0.8^4)^32 ~ 1 - 5e-8.
  */
final case class GraftConfig(
    shingleK: Int = 5,
    numPerm: Int = 128,
    bands: Int = 32,
    minJaccard: Double = 0.8,
    maxHamming: Int = 3,
    /** Enable the SimHash pigeonhole chunk tier as a SECOND candidate
      * generator beside MinHash banding (ST2'): chunk keys flow through the
      * same census/salt machinery and the union gives ST3's Hamming clause
      * structural recall independent of the Jaccard s-curve (a pair within
      * `maxHamming` always shares a whole chunk). Off by default: on text
      * corpora the two tiers overlap almost entirely (similar fingerprints
      * come from similar shingle sets), so the default spends no extra
      * shuffle on the chunk keys; corpora where the Hamming gate must not
      * ride the s-curve turn it on. Incremental mode inherits the knob —
      * chunk keys are stored in the same durable band index. */
    simhashTier: Boolean = false,
    /** Longest-common-substring ratio (lcs_len / min(len_a, len_b)) floor.
      * 0.0 disables the LCS gate; lcs_ratio is computed for every pair that
      * passes the cheap J-OR-Hamming clause (cheap-rejected pairs skip the
      * suffix automaton and carry NaN — the floor only ANDs onto the cheap
      * clause, so their verdict is floor-independent).
      * The 0.0 default is the measured planted-truth optimum (PipelineSpec
      * "LCS gate A/B"): every floor in {0.3, 0.5} gains zero precision (the
      * J-OR-Hamming gate already rejects all planted negatives, and the
      * prefix-sharing hard negative carries lcs_ratio ~ 0.7 — ABOVE any sane
      * floor), while 0.5 rejects 25% of true near-dups (block swaps cap the
      * common run near 1/3; mid-text single-token edits near 1/2). Raise it
      * only for corpora where reordered content must NOT count as duplicate. */
    minLcsRatio: Double = 0.0,
    /** Analog of --min-size/--max-size (reference options.rs:38-45), in chars. */
    minLen: Int = 8,
    maxLen: Int = 100_000_000,
    /** Hot-band threshold: band-key groups larger than this are salted into
      * ceil(size/maxBandGroup) buckets and pair-generated within buckets
      * (bounded work, partial in-band recall), instead of exploding O(n^2).
      * Analog of the reference's 10k batch cap (process_matches.rs:324)
      * turned into a skew guard. */
    maxBandGroup: Int = 2000,
    /** Salt-split hot bands (north-rule salted band-key repartitioning).
      * false = drop hot bands entirely (pure stop-band semantics). */
    saltHotBands: Boolean = true,
    /** Absolute cap: band groups beyond this are dropped even when salting
      * (boilerplate bands with millions of members carry no signal; the
      * drop is counted in metrics so recall accounting stays honest). */
    hardMaxBandGroup: Int = 1000000,
    /** Url exclusion regex (glob pre-translated on the driver). Analog of
      * --exclude globs (reference options.rs:184-205). None = keep all. */
    excludeUrlRegex: Option[String] = None,
    /** Suppress clusters whose members are all exact copies of one text,
      * unless set (analog of --show-fully-hardlinked, options.rs:55-58). */
    showFullyExact: Boolean = true,
    seed: Long = 42L,
    /** Max connected-components iterations (safety bound; convergence is
      * detected by delta=0 well before this on dup graphs). */
    maxCcIterations: Int = 25,
    /** Partition count for the ST3 verify mapPartitions (0 = 2x default
      * parallelism). Verify is CPU-bound with tiny row bytes, so AQE's
      * bytes-targeted coalescing would serialize it — parallelism must be
      * proportional to cores, not data size (SURVEY.md §4.3). */
    verifyPartitions: Int = 0,
    /** Salt modulus for the ST3 verify repartition key (id_a, id_b mod
      * verifySalt): bounds a hub content's share of the CPU-bound verify
      * work to ~1/verifySalt of its pairs while keeping shingle-memo
      * locality on id_a. 1 = unsalted. */
    verifySalt: Int = 16,
    /** Edge-count threshold below which ST4 connected components run as
      * driver-side union-find (one collect) instead of the distributed
      * label-propagation loop. Defaults to
      * ConnectedComponents.LocalEdgeThreshold (2M edges = 32 MB collected);
      * tests lower it to exercise the distributed/durable path on small
      * graphs. */
    ccLocalThreshold: Long = 2_000_000L,
    /** Incremental-mode state compaction trigger: when any state dir
      * (members/edges/band_index/signatures) holds more than this many
      * files after a batch, the dir is rewritten compacted — duplicate
      * edges merged, member history reduced to the latest binding per url,
      * and nodes no live url binds GC'd (their signature is recomputed
      * from the page text if the content ever resurrects). Bounds both
      * per-batch scan cost and state size on a years-long stream.
      * 0 disables compaction. */
    incCompactFileThreshold: Int = 64,
    /** Incremental mode: retain each distinct content's TEXT in durable
      * state so cross-batch candidate pairs get the FULL batch ST3 verify
      * (exact shingle Jaccard AND SimHash Hamming AND LCS) instead of the
      * signature-estimate gates — batch/incremental cluster parity at the
      * cost of state growing with live corpus text bytes (vs signatures
      * only). Pairs whose stored text is missing (state predating the
      * toggle, or GC'd then resurrected mid-stream) fall back to the est
      * gates and are counted in the batch metrics row's edges_est_only.
      * Texts are keyed by node_id = content hash, so a retained text can
      * be missing or orphaned but never stale. Off by default: at 100 TB
      * the signature-only state is ~100x smaller, and the measured est-gate
      * divergence on web corpora is small (IncrementalDedupSpec parity). */
    incRetainTexts: Boolean = false,
    /** Canonicalize urls at extraction (graft.web.UrlCanon: case, default
      * ports, www, fragments, index segments, trailing slashes, tracking
      * params) BEFORE exclusion, binding, and reporting — the web analogue
      * of the reference canonicalizing paths before identity grouping
      * (process_matches.rs:116-124). Two spellings of one page then dedup
      * as ONE url (latest-binding, keeper selection, membership all see the
      * canonical form). Off by default: url identity is caller-visible, and
      * exclusion regexes written against raw urls would silently re-anchor. */
    canonicalizeUrls: Boolean = false
) {
  require(numPerm % bands == 0, s"numPerm=$numPerm must be divisible by bands=$bands")
  def rowsPerBand: Int = numPerm / bands

  /** Stable hash of EVERY knob — deliberately including performance-only
    * ones (partition counts, salt thresholds, iteration bounds) — stamped
    * into stage manifests so resume only reuses snapshots computed under
    * the same config (analog of the reference's schema_version gate,
    * file_db.rs:66-77). Conservative by contract (GraftConfigSpec gates
    * that every field perturbs the hash): misclassifying a knob as perf-only
    * would silently serve stale snapshots as current results, so a tuning
    * change costs a recompute instead of carrying that risk. */
  def configHash: String = {
    val repr = productIterator.mkString("|")
    java.lang.Long.toHexString(graft.util.Hashing.hashString(repr, 42L))
  }
}

/** Canonical input row (shape fixed by BASELINE.json input_hint). */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** ST0 output: one row per url, with content identity. */
final case class PageExtracted(
    url: String,
    warc_ts: java.sql.Timestamp,
    text: String,
    lang: String,
    n_bytes: Long,
    exact_hash: Array[Byte], // 16-byte md5 of extracted text
    node_id: Long // xxhash64 of exact_hash: content-node key for CC
)

/** ST1 output: one row per distinct text (content node). */
final case class DocSignature(
    node_id: Long,
    n_bytes: Long,
    minhash: Array[Long],
    simhash: Long,
    band_hashes: Array[Long]
)

/** ST2 output: candidate content pair, id_a < id_b. */
final case class CandidatePair(id_a: Long, id_b: Long)

/** ST3 output: verified measures for a candidate pair. */
final case class VerifiedPair(
    id_a: Long,
    id_b: Long,
    jaccard: Double,
    hamming: Int,
    lcs_ratio: Double,
    passed: Boolean
)

/** ST4/5 output row (flat cluster report). */
final case class ClusterMember(
    cluster_id: Long,
    url: String,
    exact_hash: Array[Byte],
    canonical: Boolean
)

/** Per-stage metrics row (north-rule lineage requirement; generalizes the
  * reference's atomic progress counters, process_matches.rs:85-96). */
final case class StageMetrics(
    stage: String,
    snapshot_id: String,
    rows_in: Long,
    rows_out: Long,
    dropped_by_guard: Long,
    wall_ms: Long,
    config_hash: String,
    /** ST2 only: band groups salted into buckets (partial in-band pairing)
      * and the member rows inside them — sizes the in-band recall exposure
      * that the drop count alone doesn't cover. */
    salted_groups: Long = 0L,
    salted_members: Long = 0L
)
