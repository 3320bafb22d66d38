package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFunctions._
import Relational.Q

/** Deduplication operators for training-data pipelines (builder north
  * star): exact hash-groupBy, n-gram Jaccard via inverted-index join,
  * MinHash+LSH, SimHash banding. All set-based — no driver loops, no
  * pairwise O(n²) over the full corpus:
  *
  *  - exact: one hash aggregation on the text (Spark's HashAggregate on
  *    the string key — at 100 TB you'd pre-hash to a 128-bit fingerprint
  *    and aggregate on that, which q_doc_fingerprint provides).
  *  - Jaccard: explode distinct shingles → self-join on shingle →
  *    co-occurrence counts give |A∩B|, sizes give |A∪B|. Shuffle is on
  *    the shingle key; skew is bounded by the configurable
  *    document-frequency cap ([[capDocFrequency]]) applied before the
  *    join (word-trigram df maxes at 32 on this corpus, so the default
  *    cap is a no-op here and a hot-key guard at scale).
  *  - MinHash+LSH: 64 xxhash64 signatures min-aggregated in ONE pass
  *    (64 agg columns, no 64× row blowup), banded b=32 r=2, candidates
  *    from band-bucket self-join, then exact-Jaccard verification of
  *    candidates only.
  *  - SimHash: per-token 64-bit hash, bitwise ±1 sums in one aggregation,
  *    fingerprint banding into 4×16-bit chunks — pigeonhole-exact for
  *    hamming ≤ 3.
  *
  * The synthetic corpora inject duplicates deterministically (the fixture
  * has none), with derivations mirrored in the DuckDB oracles.
  */
object Dedup {

  /** documents ∪ verbatim copies of every 5th doc (ids offset by 1e6). */
  def corpusExact(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select("doc_id", "text")
    base.unionByName(
      base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** documents ∪ near-copies (first 30 chars dropped) of every 4th doc. */
  def corpusNear(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select("doc_id", "text")
    base.unionByName(
      base.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          substring(col("text"), 31, 1000000).as("text")))
  }

  /** Distinct (doc_id, shingle-fingerprint) pairs — the inverted-index
    * input. Tokens are materialized into a column before shingling (see
    * TextFunctions.shinglesFromTokens for why), and the shingle string is
    * immediately collapsed to its 64-bit xxhash64 fingerprint: every
    * consumer (self-joins, df cap, MinHash) needs only equality, and an
    * 8-byte key keeps the persisted index and every downstream exchange
    * ~3× narrower than ~25-byte strings — the standard shape for
    * corpus-scale shingling. Distinct-per-doc is BY FINGERPRINT (the
    * kernel emits each 64-bit value at most once per document), so a
    * collision (P ≈ n²/2⁶⁵ ≈ 1e-9 at these cardinalities) can only
    * merge two different shingles — within a document it collapses to
    * one posting, across the corpus it joins two grams; it can never
    * double-count.
    */
  def shingleIndex(corpus: DataFrame, n: Int): DataFrame =
    corpus
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // one codegen'd pass (distinct fingerprints straight from the
      // token array) — bit-compatible with the previous HOF chain
      // `array_distinct(shingles) → xxhash64`, whose interpreted lambdas
      // measured 5.6× slower on the 50k-doc probe (spec-asserted
      // equality in PipelineOpsSpec)
      .select(col("doc_id"),
        explode(graft.functions.ShingleFps.fps(
          corpus.sparkSession, col("toks"), n)).as("g"))

  /** Shingles appearing in more than `maxDf` documents are dropped
    * before any self-join: boilerplate hot keys (headers, license
    * blurbs) otherwise contribute O(df²) join rows each — the skew that
    * kills shingle-keyed self-joins at corpus scale. The hot set is by
    * definition small (few shingles exceed the cap), so the filter is a
    * broadcast anti-join, not a shuffle.
    */
  def capDocFrequency(sh: DataFrame, maxDf: Long): DataFrame = {
    val hot = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("g")
    // a using-column join moves the key to column 0 — restore the input
    // order (downstream positional toDF renames depend on it)
    sh.join(broadcast(hot), Seq("g"), "left_anti")
      .select(sh.columns.map(col).toIndexedSeq: _*)
  }

  /** Default df cap for the query wrappers: ~16× the fixture's max
    * word-trigram df (32 at sf0.1), so it is a provable no-op on every
    * tested SF (PipelineOpsSpec asserts this) while bounding per-shingle
    * join fan-out at scale.
    */
  val ShingleDfCap = 500L

  /** Exact near-dup pairs with Jaccard >= threshold from a shingle index:
    * co-occurrence self-join on the shingle key.
    *
    * The index feeds three plan branches (sizes + both join sides) — the
    * caller should persist it (the tokenize/explode/distinct subtree is
    * the expensive part, and Catalyst does not collapse the triple
    * recomputation on its own; see the q* wrappers below).
    */
  def jaccardPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val left = sh.toDF("id_a", "g")
    val right = sh.toDF("id_b", "g")
    val inter = left.join(right, "g")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("id_a", "na"), "id_a")
      .join(sizes.toDF("id_b", "nb"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash signatures as ONE array<long> column per document.
    *
    * Shape history: `numHashes` separate min() aggregate columns are a
    * Janino cold-compile trap (~15s measured at 64 columns); the
    * explode-by-hash-index two-level aggregation fixed that but still
    * materialized a numHashes× row blowup per corpus pass; collect_list
    * + the codegen'd [[graft.functions.MinHashSignature]] kernel removed
    * the blowup but buffered a whole document's fingerprints as
    * aggregation state and shuffled every index row. Final form: the
    * [[graft.functions.MinHashAgg]] typed Aggregator — O(numHashes)
    * mergeable state with MAP-SIDE partial aggregation, so the shuffle
    * carries O(documents × numHashes) longs however large documents get.
    * Signatures are bit-identical across all forms (same XXH64 slot
    * family, min commutes — PipelineOpsSpec asserts kernel ≡ aggregator).
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame =
    sh.groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.sig(numHashes).as("sig"))

  /** The collect-then-kernel form minhashSignatures replaced — kept as
    * the equivalence witness for the aggregator (and the faster pick on
    * corpora of uniformly tiny documents, where collect_list's single
    * wide row per doc beats the per-row aggregator update).
    */
  def minhashSignaturesKernel(sh: DataFrame, numHashes: Int): DataFrame =
    sh.groupBy("doc_id")
      .agg(collect_list(col("g")).as("gs"))
      .select(col("doc_id"),
        graft.functions.MinHashSignature.sig(
          sh.sparkSession, col("gs"), numHashes).as("sig"))

  /** (doc_id, band, bh) LSH bucket rows for a signature frame: r
    * signature slots per band, hashed to one bucket key. Scan-side map —
    * the banding never shuffles.
    */
  def bandBuckets(sig: DataFrame, bands: Int, r: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val rowCols = (0 until r).map(k =>
        element_at(col("sig"), b * r + k + 1))
      struct(lit(b).as("band"), xxhash64(rowCols: _*).as("bh"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** LSH candidate pairs: band the signature (r rows per band), bucket by
    * band hash, self-join buckets.
    */
  def lshCandidates(sig: DataFrame, bands: Int, r: Int): DataFrame = {
    val buckets = bandBuckets(sig, bands, r)
    buckets.toDF("id_a", "band", "bh")
      .join(buckets.toDF("id_b", "band", "bh"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Verify candidate pairs with exact Jaccard over the shingle index —
    * only candidates are scored, preserving LSH's subquadratic shape.
    *
    * Shape: each side's shingle set attaches as ONE sorted-array row
    * (groupBy + sort_array), and the intersection is an allocation-free
    * sorted-merge kernel per pair. The explode formulation this
    * replaced (candidates ⋈ per-shingle postings ⋈ (id, g), then a
    * pair-count aggregate) multiplies every candidate by its ~|doc|
    * shingles BEFORE the hash joins — at the 10× probe's 12.7M
    * candidates that is a ~1.3B-row join feeding an aggregation, vs
    * 2×12.7M array-payload hash probes and a streamed merge here. Same
    * exact integers (inter, sizes) → identical jaccard doubles.
    */
  def verifyJaccard(
      candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val docGrams = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("g"))).as("gs"))
    candidates
      .join(docGrams.toDF("id_a", "gs_a"), "id_a")
      .join(docGrams.toDF("id_b", "gs_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("gs_a"), col("gs_b"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (ia, ib, ga, gb) =>
          var i = 0; var j = 0; var inter = 0
          while (i < ga.length && j < gb.length) {
            val x = ga(i); val y = gb(j)
            if (x == y) { inter += 1; i += 1; j += 1 }
            else if (x < y) i += 1
            else j += 1
          }
          val jac = inter.toDouble / (ga.length + gb.length - inter)
          if (jac >= threshold) Iterator.single((ia, ib, jac))
          else Iterator.empty
        }
      }
      .toDF("id_a", "id_b", "jac")
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** 64-bit SimHash fingerprints: per-token xxhash64, ±1 contribution per
    * bit position summed in one aggregation, sign → bit. The fingerprint
    * is assembled as a sum of distinct powers of two (bitwise-exact even
    * for bit 63's wraparound).
    */
  def simhashFingerprints(corpus: DataFrame): DataFrame = {
    // Shape history: 64 separate sum() columns are the measured ~15 s
    // Janino cold-compile trap; explode-by-bit-index fixed that but
    // materialized a 64× row blowup per token; collect_list-then-kernel
    // removed the blowup but still shuffled every token hash and
    // buffered whole documents as aggregation state. Final form: the
    // SimHashFingerprint kernel consumes the per-row token array
    // directly (hashing internally, bit-compatible with xxhash64) — a
    // pure per-row map: ZERO shuffle, zero aggregation state. The
    // size>0 filter preserves the exploded form's semantics, which
    // emitted no row for token-less documents.
    corpus.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.SimHashFingerprint.fp(
          corpus.sparkSession, col("toks")).as("simhash"))
  }

  /** Pairs with hamming distance <= maxHamming via 4-chunk banding —
    * pigeonhole-exact for maxHamming <= 3 (4 chunks, ≤3 differing bits
    * ⇒ at least one chunk identical). `chunkBits` = 16 for the 64-bit
    * production fingerprints, 8 for the 32-bit md5 twin (chunks must
    * tile the fingerprint exactly, or the all-zero high chunks would
    * band every document with every other — a silent cartesian).
    */
  def simhashPairs(
      fps: DataFrame, maxHamming: Int, chunkBits: Int = 16): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding is exact only for hamming <= 3")
    // delegate to the generalized banding over the same fingerprint
    // width (4 · chunkBits): at radius < 3 it tiles FEWER, wider
    // chunks — still candidate-complete by the same pigeonhole, and
    // the exact bit_count verify makes the OUTPUT identical either
    // way, so the two forms cannot drift
    hammingPairs(fps, maxHamming, bits = 4 * chunkBits)
  }

  /** Generalized exact Hamming banding: `maxHamming + 1` chunks tile
    * the `bits`-wide fingerprint (sizes differing by at most one bit),
    * so any pair within the distance shares at least one chunk
    * verbatim (pigeonhole) — candidates are COMPLETE and the exact
    * bit_count verify makes the output exact at any radius, unlike
    * [[simhashPairs]]'s fixed 4-chunk form (radius ≤ 3 only). Chunk
    * width shrinks as the radius grows (64-bit at radius 4 → ~13-bit
    * chunks), so banding selectivity degrades gracefully instead of
    * the radius being a hard API ceiling. Used by the perceptual-hash
    * family, whose median-centered DCT bits flip in PAIRS under small
    * edits (radius 4 is pHash's natural gate where SimHash's is 3).
    */
  /** The pigeonhole chunk tiling every banded Hamming family shares
    * ([[hammingPairs]], [[vhashPairs]], [[hammingMatch]]): returns the
    * `carry` columns plus (c, v) — `maxHamming + 1` chunks tiling the
    * `bits`-wide `simhash` with sizes differing by at most one bit, so
    * any pair within the radius shares at least one (c, v) verbatim.
    * ONE definition: the chunk math IS the completeness argument, and
    * three drifting copies of it would break a family silently.
    */
  private def pigeonholeChunks(
      fps: DataFrame, carry: Seq[String],
      maxHamming: Int, bits: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming + 1 <= bits,
      s"radius $maxHamming needs ${maxHamming + 1} nonempty chunks")
    val n = maxHamming + 1
    val chunkCols = (0 until n).map { c =>
      val lo = c * bits / n
      val len = (c + 1) * bits / n - lo
      val mask = if (len == 64) -1L else (1L << len) - 1
      struct(lit(c).as("c"),
        shiftright(col("simhash"), lo).bitwiseAND(mask).as("v"))
    }
    fps.select(carry.map(col) :+
        explode(array(chunkCols: _*)).as("ch"): _*)
      .select(carry.map(col) :+
        col("ch.c").as("c") :+ col("ch.v").as("v"): _*)
  }

  def hammingPairs(
      fps: DataFrame, maxHamming: Int, bits: Int = 64): DataFrame = {
    val chunks =
      pigeonholeChunks(fps, Seq("doc_id", "simhash"), maxHamming, bits)
    chunks.toDF("id_a", "fp_a", "c", "v")
      .join(chunks.toDF("id_b", "fp_b", "c", "v"), Seq("c", "v"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp_a", "fp_b")
      .distinct()
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Clip-level perceptual near-dup pairs over PER-FRAME fingerprints
    * (`frames` = (doc_id, j, simhash), one row per sampled frame j —
    * the [[graft.functions.VHashFrames]] output exploded): clip
    * distance is the LOWER MEDIAN of the per-index frame Hammings,
    * pairs within `maxHamming` surface.
    *
    * Candidates are banded WITHIN each frame index — [[hammingPairs]]'
    * pigeonhole chunks with `j` added to the join key — and the gate
    * is COMPLETE for the median: lower-median ≤ r means at least
    * ⌈k/2⌉ aligned frame pairs sit at Hamming ≤ r, and any one of
    * them collides on some chunk by pigeonhole, so the pair enters the
    * candidate set; the exact verify then joins BOTH clips' full frame
    * rows (aligned on j), computes every frame Hamming, and medians.
    * Never all-pairs: the cross join is per-(j, chunk, value) bucket,
    * and the verify join is candidate-bounded (broadcast pair list).
    * Clips with differing sampled-frame counts median over the aligned
    * prefix (the [[graft.functions.VHashFrames]] sampling contract).
    */
  def vhashPairs(
      frames: DataFrame, maxHamming: Int, bits: Int = 64): DataFrame = {
    val chunks =
      pigeonholeChunks(frames, Seq("doc_id", "j"), maxHamming, bits)
    val cand = chunks.toDF("id_a", "j", "c", "v")
      .join(chunks.toDF("id_b", "j", "c", "v"), Seq("j", "c", "v"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val fa = frames.select(col("doc_id").as("id_a"), col("j"),
      col("simhash").as("fp_a"))
    val fb = frames.select(col("doc_id").as("id_b"), col("j"),
      col("simhash").as("fp_b"))
    broadcast(cand).join(fa, "id_a").join(fb, Seq("id_b", "j"))
      .withColumn("fh", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .groupBy("id_a", "id_b")
      .agg(sort_array(collect_list(col("fh"))).as("hs"))
      .select(col("id_a"), col("id_b"),
        element_at(col("hs"),
          ((size(col("hs")) + 1) / 2).cast("int")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Cross-frame exact Hamming banding — [[hammingPairs]]'s pigeonhole
    * chunking with a BATCH side probing an INDEX side (the incremental-
    * admission shape: only the batch is fingerprinted fresh; the index
    * side reads saved fingerprints). Returns (batch_id, index_id,
    * hamming) for every cross pair within the radius — complete by the
    * same pigeonhole argument, exact by the bit_count verify.
    */
  def hammingMatch(
      batch: DataFrame, index: DataFrame, maxHamming: Int,
      bits: Int = 64): DataFrame = {
    def chunksOf(fps: DataFrame, idName: String, fpName: String)
        : DataFrame =
      pigeonholeChunks(fps, Seq("doc_id", "simhash"), maxHamming, bits)
        .toDF(idName, fpName, "c", "v")
    chunksOf(batch, "batch_id", "fp_b")
      .join(chunksOf(index, "index_id", "fp_i"), Seq("c", "v"))
      .select("batch_id", "index_id", "fp_b", "fp_i")
      .distinct()
      .withColumn("hamming",
        bit_count(col("fp_b").bitwiseXOR(col("fp_i"))))
      .filter(col("hamming") <= maxHamming)
      .select("batch_id", "index_id", "hamming")
  }

  /** Frame-aligned incremental-admission match for the VIDEO family —
    * [[vhashPairs]]' banding and lower-median verify with a BATCH side
    * probing an INDEX side (the [[hammingMatch]] shape lifted to
    * per-frame fingerprints). Both sides are (doc_id, j, simhash) frame
    * rows; candidates are banded WITHIN each frame index j, so the
    * cross join stays per-(j, chunk, value) bucket and never
    * batch × index; the exact verify joins both clips' full frame rows
    * aligned on j and takes the lower median. Complete for the median
    * gate by [[vhashPairs]]' pigeonhole argument (lower-median ≤ r
    * means ≥ ⌈k/2⌉ aligned frame pairs at Hamming ≤ r, any one of
    * which collides on some chunk), exact by the bit_count verify.
    * Returns (batch_id, index_id, hamming ≤ maxHamming).
    */
  def vhashMatch(
      batch: DataFrame, index: DataFrame, maxHamming: Int,
      bits: Int = 64): DataFrame = {
    def chunksOf(fps: DataFrame, idName: String): DataFrame =
      pigeonholeChunks(fps, Seq("doc_id", "j"), maxHamming, bits)
        .withColumnRenamed("doc_id", idName)
    val cand = chunksOf(batch, "batch_id")
      .join(chunksOf(index, "index_id"), Seq("j", "c", "v"))
      .select("batch_id", "index_id").distinct()
    val fb = batch.select(col("doc_id").as("batch_id"), col("j"),
      col("simhash").as("fp_b"))
    val fi = index.select(col("doc_id").as("index_id"), col("j"),
      col("simhash").as("fp_i"))
    broadcast(cand).join(fb, "batch_id").join(fi, Seq("index_id", "j"))
      .withColumn("fh", bit_count(col("fp_b").bitwiseXOR(col("fp_i"))))
      .groupBy("batch_id", "index_id")
      .agg(sort_array(collect_list(col("fh"))).as("hs"))
      .select(col("batch_id"), col("index_id"),
        element_at(col("hs"),
          ((size(col("hs")) + 1) / 2).cast("int")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Engine-neutral SimHash twin: 32-bit fingerprints built from
    * per-token md5 (both Spark and DuckDB emit identical lowercase md5
    * hex, so the whole computation is oracle-expressible — unlike
    * xxhash64, whose seed/implementation is engine-specific). Bit
    * counts are accumulated nibble-by-nibble from the first 8 hex
    * chars with higher-order array functions: a pure per-row
    * expression, zero shuffle, same plan family as the production
    * kernel. Position p (0 = MSB-first) takes weight 2^(31-p); a bit
    * is set when its ±1 token-contribution sum is strictly positive.
    *
    * This exists to put the fingerprint family under the driver's
    * hash check; [[simhashFingerprints]] (64-bit xxhash64 kernel)
    * remains the registered production form — md5 per token costs
    * ~4× a xxhash64 and 32 bits discriminate less.
    *
    * Shape history: the first form computed the bit counts with
    * higher-order array functions (aggregate/zip_with/flatten over the
    * md5 hex prefix) — oracle-exact but interpreter-bound (lambda
    * functions don't codegen): 13.3 s at sf0.1 vs 0.9 s for the
    * production kernel. The [[graft.functions.SimHashMd5Fingerprint]]
    * expression computes the identical fingerprint (first 4 digest
    * bytes big-endian = the SQL twin's first-8-hex-chars nibble order)
    * in one codegen'd per-row pass.
    */
  def simhashMd5Fingerprints(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.SimHashMd5Fingerprint.fp(
          corpus.sparkSession, col("toks")).as("simhash"))

  /** Duplicated-span scrub — substring-level exact dedup in the style of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL'22): remove every token span whose n-gram occurs in
    * two or more distinct documents, keeping the rest of each document
    * intact. Document-level dedup can't touch these (the documents
    * differ); span-level removal is what kills shared boilerplate,
    * quoted chains, and templated fragments inside otherwise-unique
    * pages.
    *
    * The suffix-array construction of the paper is replaced by the
    * Spark-shaped equivalent: one gram-keyed document-frequency
    * aggregation (the same index family as the Jaccard/MinHash ops —
    * the df cap and fingerprint collapse compose here too), a join back
    * to gram occurrences, and a per-document covered-position set.
    * Every stage is a hash exchange on the gram or doc key; nothing is
    * quadratic and no driver state exists. Output reconstruction
    * (`filter` with the index lambda over the token array) is a pure
    * per-row map.
    *
    * DEVIATION from the paper (default): the hot set is df ≥ 2 over
    * DISTINCT documents, so a span repeated many times WITHIN a single
    * document (and appearing nowhere else) is deliberately not
    * scrubbed — Lee et al.'s suffix-array rule counts any ≥ 2 corpus
    * occurrences, including same-document repeats. Within-document
    * repetition is handled by the repetition-quality gate
    * ([[graft.operators.Quality]] repetition stats), which scores and
    * filters such documents whole; scrubbing them span-wise would shred
    * the surviving text. `withinDoc = true` selects the paper-faithful
    * rule instead (hot also includes any gram occurring ≥ 2 times in
    * ONE document — one extra (doc, gram)-keyed aggregation,
    * spec-pinned on hand-built docs; the fixture corpus has zero
    * within-doc 5-gram repeats, so no separate driver row exists).
    */
  /** The coverage+rebuild stage against an EXTERNAL hot-gram set (one
    * string column `g`): join gram occurrences to the hot set, union the
    * covered token positions per document, rebuild the text without
    * them. Shared by the whole-corpus scrub below (hot = corpus df ≥ 2)
    * and the streaming ingest form
    * ([[graft.streaming.DocStreams.scrubSpansAgainstCorpus]], hot = any
    * gram of the static corpus).
    */
  def spanCoverageScrub(
      docs: DataFrame, hotGrams: DataFrame, n: Int): DataFrame =
    scrubTokenized(
      docs.select(col("doc_id"), tokens(col("text")).as("toks")),
      hotGrams, n)

  private def scrubTokenized(
      toks: DataFrame, hotGrams: DataFrame, n: Int): DataFrame = {
    val grams = toks.select(col("doc_id"),
      posexplode(shinglesFromTokens(col("toks"), n)).as(Seq("pos0", "g")))
    // collect_set dedups positions itself (with map-side partial
    // aggregation) — a distinct() before it would add a second full
    // exchange over the operator's largest intermediate
    val covered = grams.join(hotGrams.select("g"), "g")
      .select(col("doc_id"),
        explode(sequence(col("pos0") + 1, col("pos0") + n)).as("p"))
      .groupBy("doc_id")
      .agg(collect_set(col("p")).as("cov"))
    val emptyCov = array().cast("array<int>")
    // rebuild via kept POSITIONS (array_except is hash-based, O(n), and
    // keeps the left argument's ascending order) — the per-token
    // array_contains(cov, i) form is O(n_tokens × n_covered), quadratic
    // on long fully-covered documents
    val kept = array_except(
      sequence(lit(1), size(col("toks"))), col("cov"))
    toks.join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), emptyCov))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        when(size(col("toks")) === 0, lit(""))
          .otherwise(array_join(
            transform(kept, p => element_at(col("toks"), p)), " "))
          .as("clean_text"))
  }

  def duplicatedSpanScrub(
      docs: DataFrame, n: Int, withinDoc: Boolean = false): DataFrame = {
    // the token arrays feed the gram index (hot + coverage branches) AND
    // final reconstruction; persist so the corpus is tokenized once
    val toks = docs
      .select(col("doc_id"), tokens(col("text")).as("toks")).persist()
    val crossDoc = toks.select(col("doc_id"),
        explode(array_distinct(shinglesFromTokens(col("toks"), n))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select("g")
    val hot =
      if (!withinDoc) crossDoc
      else crossDoc.union(
        // paper-faithful extension: grams repeating inside one document
        toks.select(col("doc_id"),
            explode(shinglesFromTokens(col("toks"), n)).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2)
          .select("g"))
        .distinct()
    val out = scrubTokenized(toks, hot, n).localCheckpoint(true)
    toks.unpersist()
    out
  }

  /** Span n for the scrub query; shared with the oracle. */
  val SpanN = 5

  val qDedupSpans: Q = (s, d) =>
    duplicatedSpanScrub(documents(s, d), SpanN).orderBy("doc_id")

  val qDedupSpansSql: String =
    s"""WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |mx AS (SELECT max(len(l)) AS m FROM toks),
      |gr AS (SELECT doc_id, CAST(i AS INT) AS i,
      |         array_to_string(l[CAST(i AS INT):CAST(i + ${SpanN - 1} AS INT)],
      |                         ' ') AS g
      |       FROM toks CROSS JOIN
      |         (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) r
      |       WHERE CAST(i AS INT) + ${SpanN - 1} <= len(l)),
      |hot AS (SELECT g FROM (
      |          SELECT g, count(DISTINCT doc_id) AS c FROM gr GROUP BY 1)
      |        WHERE c >= 2),
      |cov AS (SELECT DISTINCT doc_id, CAST(i + k AS INT) AS p
      |        FROM gr JOIN hot USING (g) CROSS JOIN
      |          (SELECT unnest(range(0, $SpanN)) AS k) kk),
      |tok AS (SELECT doc_id, CAST(i AS INT) AS p, l[CAST(i AS INT)] AS t
      |        FROM toks CROSS JOIN
      |          (SELECT unnest(range(1, (SELECT m FROM mx) + 1)) AS i) r
      |        WHERE CAST(i AS INT) <= len(l)),
      |kept AS (SELECT tok.doc_id,
      |           COALESCE(string_agg(tok.t, ' ' ORDER BY tok.p), '')
      |             AS clean_text
      |         FROM tok LEFT JOIN cov
      |           ON tok.doc_id = cov.doc_id AND tok.p = cov.p
      |         WHERE cov.p IS NULL
      |         GROUP BY 1),
      |rmc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS rm
      |        FROM cov GROUP BY 1)
      |SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
      |  COALESCE(rm, 0) AS n_removed,
      |  COALESCE(k.clean_text, '') AS clean_text
      |FROM toks t
      |LEFT JOIN rmc USING (doc_id)
      |LEFT JOIN kept k USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Driver-facing queries
  // ---------------------------------------------------------------------

  /** Exact dedup: hash-groupBy on text, keep the smallest id per group. */
  val qDedupExact: Q = (s, d) =>
    corpusExact(s, d)
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  val qDedupExactSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0)
      |SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM corpus GROUP BY text
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Canonicalized exact dedup — exact dedup keyed on NORMALIZED text
  // (case fold + NFC + whitespace collapse) instead of raw bytes: the
  // composition that makes the parse/normalize stage pay off in the
  // dedup stage. Raw exact dedup misses case-variant and
  // denormalized-unicode copies entirely (one flipped letter = a
  // different hash key); canonicalized keys merge them. The fixture
  // plants UPPERCASED copies (ids +2M) beside corpusExact's verbatim
  // ones — DedupSpec-style evidence lives in the query itself: the
  // verbatim family collapses under BOTH keys, the uppercased family
  // only under the canonical key (n_copies grows vs qDedupExact).
  // Same one-hash-agg scale shape; the key function is a per-row
  // codegen'd chain ending in the NFC kernel.
  // ---------------------------------------------------------------------
  def canonicalKey(s: SparkSession, text: Column): Column =
    graft.functions.NormalizeNfc.normalize(s,
      regexp_replace(lower(text), "\\s+", " "))

  val qDedupExactCanonical: Q = (s, d) => {
    val corpus = corpusExact(s, d).unionByName(
      documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          upper(col("text")).as("text")))
    corpus
      .groupBy(canonicalKey(s, col("text")).as("ckey"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")
  }

  val qDedupExactCanonicalSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, upper(text) FROM documents
      |  WHERE doc_id % 5 = 0)
      |SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM corpus
      |GROUP BY nfc_normalize(regexp_replace(lower(text), '\s+', ' ', 'g'))
      |ORDER BY doc_id""".stripMargin

  /** Exact word-trigram Jaccard near-dup pairs (threshold 0.5). The
    * persisted shingle index is consumed by three branches; at cluster
    * scale the same persist keeps the exploded index off the scan path
    * of every branch (storage is O(corpus tokens)).
    */
  val qDedupNgramJaccard: Q = (s, d) => jaccardPairList(s, d)

  /** Memoized exact-Jaccard pair list — shared by the registered row
    * and [[qSimhashRecall]]'s truth side (the hybrid-ranking
    * discipline: the corpus-sized shingle index + pair verify is paid
    * once per (context, dataset), both consumers read the materialized
    * list).
    */
  private def jaccardPairList(s: SparkSession, d: String): DataFrame =
    graft.plans.Memo.frame(s, d, "jacc_pairs") {
      jaccardPairs(memoCappedIndex(s, d), 0.5).orderBy("id_a", "id_b")
    }

  /** Recall of the native 64-bit SimHash banding gate against the
    * exact trigram-Jaccard near-dup truth — the engine-neutral ledger
    * for the xxhash64-fingerprint family (the q_knn_recall move): the
    * fingerprints and hence the pair LIST are Spark-specific, but
    * recall against a ground truth DuckDB recomputes from the base
    * tables is pure arithmetic. The oracle re-derives the Jaccard≥0.5
    * pair set itself and reads the simhash pairs Verify just
    * materialized, so every count and the recall ratio are
    * hash-checked end to end.
    */
  val qSimhashRecall: Q = (s, d) => {
    val truth = jaccardPairList(s, d).select("id_a", "id_b")
    val sh = simhashPairList(s, d).select("id_a", "id_b")
    val nSh = sh.agg(count(lit(1)).as("n_simhash"))
    truth.join(sh.withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(
        count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .crossJoin(broadcast(nSh))
      .select(col("n_truth"), col("n_simhash"), col("n_hit"),
        round(col("n_hit").cast("double") /
          nullif(col("n_truth"), lit(0L)), 4).as("recall"),
        round(col("n_hit").cast("double") /
          nullif(col("n_simhash"), lit(0L)), 4).as("precision"))
  }

  val qSimhashRecallSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, 31) FROM documents
      |  WHERE doc_id % 4 = 0),
      |toks AS (SELECT doc_id,
      |           list_filter(string_split_regex(trim(text), '\s+'),
      |                       t -> t <> '') AS l
      |         FROM corpus),
      |mx AS (SELECT max(len(l)) + 1 AS m FROM toks),
      |sh AS (SELECT DISTINCT doc_id,
      |         l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1] || ' ' ||
      |           l[CAST(i AS INT)+2] AS g
      |       FROM toks CROSS JOIN
      |         (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) r
      |       WHERE CAST(i AS INT) + 2 <= len(l)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |truth AS (SELECT id_a, id_b FROM inter
      |  JOIN sizes na ON id_a = na.doc_id
      |  JOIN sizes nb ON id_b = nb.doc_id
      |  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5),
      |simp AS (SELECT id_a, id_b FROM read_parquet(
      |  '{GRAFT_OUT_DIR}/q_dedup_simhash/*.parquet')),
      |j AS (SELECT CASE WHEN s.id_a IS NOT NULL THEN 1 END AS hit
      |      FROM truth t LEFT JOIN simp s USING (id_a, id_b))
      |SELECT
      |  count(*) AS n_truth,
      |  (SELECT count(*) FROM simp) AS n_simhash,
      |  CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_hit,
      |  round(CAST(coalesce(sum(hit), 0) AS DOUBLE)
      |    / nullif(count(*), 0), 4) AS recall,
      |  round(CAST(coalesce(sum(hit), 0) AS DOUBLE)
      |    / nullif((SELECT count(*) FROM simp), 0), 4) AS precision
      |FROM j""".stripMargin

  /** Both the df-cap (hot-key aggregation + anti-join) and the pair
    * stages consume the shingle index; the RAW index is persisted before
    * capping so the expensive tokenize/shingle/explode subtree runs ONCE
    * — capping after an un-persisted index re-tokenizes the corpus for
    * the hot-key branch, doubling the dominant scan stage at 100 TB. The
    * capped index is persisted too (it feeds three pair-stage branches);
    * callers release both handles after materializing their output.
    */
  private[operators] def cachedCappedIndex(
      corpus: DataFrame, n: Int, maxDf: Long): (DataFrame, DataFrame) = {
    val raw = shingleIndex(corpus, n).persist()
    (capDocFrequency(raw, maxDf).persist(), raw)
  }

  /** Memoized df-capped word-trigram index of the corpusNear fixture —
    * the shared FIRST STAGE of the whole near-dup family (exact pairs,
    * MinHash, containment, prefix filter, and the graph rows'
    * [[graft.operators.Clustering.nearDupPairs]]). r15: each consumer
    * row used to re-run the tokenize→shingle→cap pipeline per
    * execution; under the [[graft.plans.Memo]] discipline ("a family's
    * expensive corpus-sized subtree — a pair mining — is computed once
    * per (context, dataset)") the index materializes once and every
    * consumer reads the checkpointed blocks. Deterministic (pure in
    * doc_id + xxhash64), so memoized ≡ recomputed — the standing Memo
    * soundness argument. Production analogue: the fingerprint index a
    * dedup service builds once per corpus snapshot and serves to every
    * downstream pair/cluster job — built once, consumed by many, never
    * a per-query artifact.
    */
  private[operators] def memoCappedIndex(
      s: SparkSession, d: String): DataFrame = {
    var raw: DataFrame = null
    // Memo's one eager checkpoint materializes the capped frame on a
    // miss; the raw index stays cached until then, so the cap's two raw
    // branches (hot-key agg + anti-join) read it once
    try graft.plans.Memo.frame(s, d, "neardup_capped_sh3") {
      raw = shingleIndex(corpusNear(s, d), 3).persist()
      capDocFrequency(raw, ShingleDfCap)
    } finally if (raw != null) raw.unpersist()
  }

  val qDedupNgramJaccardSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, 31) FROM documents
      |  WHERE doc_id % 4 = 0),
      |toks AS (SELECT doc_id,
      |           list_filter(string_split_regex(trim(text), '\s+'),
      |                       t -> t <> '') AS l
      |         FROM corpus),
      |mx AS (SELECT max(len(l)) + 1 AS m FROM toks),
      |sh AS (SELECT DISTINCT doc_id,
      |         l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1] || ' ' ||
      |           l[CAST(i AS INT)+2] AS g
      |       FROM toks CROSS JOIN
      |         (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) r
      |       WHERE CAST(i AS INT) + 2 <= len(l)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) AS jaccard
      |FROM inter
      |JOIN sizes na ON id_a = na.doc_id
      |JOIN sizes nb ON id_b = nb.doc_id
      |WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** MinHash+LSH near-dup: banded candidates, exact-verified. Output
    * schema matches q_dedup_ngram_jaccard, and because candidates are
    * verified with EXACT Jaccard, the output equals the exact pairs
    * whenever banding recall is 1 — which holds on this fixture (24
    * bands of r=2 at j>=0.5: miss prob <= (1-0.25)^24 ≈ 1e-3 per pair,
    * and the injected near-copies sit well above the threshold;
    * PipelineOpsSpec asserts the subset+recall). It therefore carries
    * the same DuckDB oracle as the exact query.
    */
  val qDedupMinhash: Q = (s, d) => {
    val sh = memoCappedIndex(s, d)
    // 48 hashes / 24 bands of r=2: detection prob at j=0.5 is
    // 1-(1-0.25)^24 ≈ 0.999 — same recall guarantee as 64/32 for 25%
    // less signature work (the dominant stage); the memoized index
    // needs no per-row persist/checkpoint ceremony — the caller's one
    // action reads the shared blocks directly
    val cand = lshCandidates(minhashSignatures(sh, 48), bands = 24, r = 2)
    verifyJaccard(cand, sh, 0.5).orderBy("id_a", "id_b")
  }

  /** Containment pairs — the ASYMMETRIC near-dup detector Jaccard
    * misses: C = |A∩B| / min(|A|,|B|) flags a short document embedded in
    * a long one (quoted posts, excerpt pages, boilerplate-wrapped
    * copies) whose Jaccard is diluted by the size gap (a doc 10% the
    * size of its container has J ≤ 0.1 at C = 1.0). Standard companion
    * to Jaccard in corpus dedup (the "containment" of Broder's resemblance
    * work).
    *
    * Scale shape: the same df-capped inverted-index co-occurrence join
    * as [[jaccardPairs]] — cost Σ df² over shared grams, bounded by the
    * cap, never all-pairs. MinHash-LSH is NOT the subquadratic fallback
    * here (banding recall collapses exactly on the asymmetric pairs this
    * op exists to find); at extreme scale the candidate generator is the
    * capped index itself, which is why the cap is load-bearing.
    */
  def containmentPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.toDF("id_a", "g")
      .join(sh.toDF("id_b", "g"), "g")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("id_a", "na"), "id_a")
      .join(sizes.toDF("id_b", "nb"), "id_b")
      .withColumn("n_small", least(col("na"), col("nb")))
      .withColumn("c", col("inter").cast("double") / col("n_small"))
      .filter(col("c") >= threshold)
      // floor discretization (the q_window_ntile lesson): i/n rationals
      // can sit exactly on a 4-dp rounding boundary where the engines'
      // rounding modes differ; floor of IEEE-exact products cannot.
      // The integer columns beside it are the bulletproof compare.
      .select(col("id_a"), col("id_b"), col("inter"), col("n_small"),
        (floor(col("c") * lit(1e4)) / lit(1e4)).as("containment"))
  }

  /** Word-trigram containment ≥ 0.9 over the near-dup fixture: each
    * truncated near-copy is a near-subset of its original (the cut can
    * mint a few boundary-artifact shingles from the split word), so this
    * query sees the copies at C ≈ 1.0 that Jaccard scores lower.
    */
  val qDedupContainment: Q = (s, d) =>
    containmentPairs(memoCappedIndex(s, d), 0.9).orderBy("id_a", "id_b")

  val qDedupContainmentSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, 31) FROM documents
      |  WHERE doc_id % 4 = 0),
      |toks AS (SELECT doc_id,
      |           list_filter(string_split_regex(trim(text), '\s+'),
      |                       t -> t <> '') AS l
      |         FROM corpus),
      |mx AS (SELECT max(len(l)) + 1 AS m FROM toks),
      |sh AS (SELECT DISTINCT doc_id,
      |         l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1] || ' ' ||
      |           l[CAST(i AS INT)+2] AS g
      |       FROM toks CROSS JOIN
      |         (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) r
      |       WHERE CAST(i AS INT) + 2 <= len(l)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, i AS inter,
      |  least(na.n, nb.n) AS n_small,
      |  floor(CAST(i AS DOUBLE) / least(na.n, nb.n) * 1e4) / 1e4
      |    AS containment
      |FROM inter
      |JOIN sizes na ON id_a = na.doc_id
      |JOIN sizes nb ON id_b = nb.doc_id
      |WHERE CAST(i AS DOUBLE) / least(na.n, nb.n) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** Prefix-filtering candidate pairs (Chaudhuri et al. SSJoin ICDE'06 /
    * Xiao et al. PPJoin WWW'08 — public papers): the EXACT subquadratic
    * candidate generator for Jaccard self-joins. Order each document's
    * shingles by global rarity (df asc, fingerprint asc — one total
    * order for the whole corpus) and index only the first
    * |d| − ⌈θ·|d|⌉ + 1 of them: two sets with J ≥ θ must overlap in at
    * least ⌈θ/(1+θ)·(|a|+|b|)⌉ elements, so skipping more than the
    * prefix on either side cannot leave a qualifying pair without a
    * shared indexed token — candidates are COMPLETE at the threshold,
    * unlike MinHash banding's probabilistic recall.
    *
    * Scale shape: the inverted index shrinks to the prefixes (~(1−θ) of
    * the postings), and because prefixes hold each document's RAREST
    * tokens, high-df boilerplate shingles never enter the self-join —
    * prefix selection is df-capping by construction, aimed exactly at
    * the hot-key skew that kills shingle joins. Cost: one df
    * aggregation + a per-document window (parallel across docs).
    */
  def prefixFilterCandidates(sh: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = sh.groupBy("g").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("g"))
    val prefix = sh
      .join(dfreq, "g")
      .withColumn("rnk", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rnk") <= col("n") - ceil(col("n") * threshold) + 1)
      .select("doc_id", "g", "rnk", "n")
    // PPJoin's positional filter, computed in the same aggregation that
    // replaces the candidate distinct (same shuffle, strictly more
    // pruning). Let g* be the globally-smallest gram shared by a and b:
    // the SSJoin prefix lemma puts g* in BOTH prefixes, and because
    // each document's positions follow the one global (df, g) order,
    // g* carries min(pa) AND min(pb) within the group. Every shared
    // gram is ≥ g*, hence sits at position ≥ pa in a and ≥ pb in b, so
    // |a∩b| ≤ 1 + min(na−pa, nb−pb); J ≥ θ needs |a∩b| ≥
    // ⌈θ/(1+θ)·(na+nb)⌉ — prune below it (1e-9 slack keeps double
    // rounding from ever dropping a boundary pair; completeness is
    // spec-pinned). At pa=pb=1 this degenerates to the classic length
    // filter min ≥ θ·max, so that filter is subsumed. Measured on the
    // 10× all-replicas probe: 41.2M → 12.7M candidates ahead of the
    // verify join.
    prefix.toDF("id_a", "g", "pa", "na")
      .join(prefix.toDF("id_b", "g", "pb", "nb"), "g")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(min("pa").as("pa"), min("pb").as("pb"),
        first("na").as("na"), first("nb").as("nb"))
      .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >=
        ceil((col("na") + col("nb")) * lit(threshold / (1 + threshold))
          - 1e-9))
      .select("id_a", "id_b")
  }

  /** Prefix-filtered exact Jaccard pairs: candidates from
    * [[prefixFilterCandidates]] (complete at the threshold), verified
    * with exact Jaccard — output IDENTICAL to the full self-join
    * [[qDedupNgramJaccard]] by construction (PipelineOpsSpec asserts
    * equality and candidate completeness), so it carries the same
    * oracle. The deterministic-exact alternative to q_dedup_minhash
    * when recall 1 is a requirement, not a fixture property.
    */
  val qDedupPrefixFilter: Q = (s, d) => {
    val sh = memoCappedIndex(s, d)
    verifyJaccard(prefixFilterCandidates(sh, 0.5), sh, 0.5)
      .orderBy("id_a", "id_b")
  }

  /** SimHash near-dup pairs at hamming <= 3 (exact via chunk banding). */
  val qDedupSimhash: Q = (s, d) =>
    simhashPairList(s, d).orderBy("id_a", "id_b")

  /** Memoized SimHash pair list — the pair row and its recall ledger
    * read one materialized list (the [[jaccardPairList]] discipline).
    */
  private def simhashPairList(s: SparkSession, d: String): DataFrame =
    graft.plans.Memo.frame(s, d, "simhash_pairs")(
      simhashPairs(simhashFingerprints(corpusNear(s, d)), 3))

  /** The oracled fingerprint-family row: same pair semantics as
    * [[qDedupSimhash]] but over the engine-neutral 32-bit md5
    * fingerprints (8-bit chunks keep the 4-chunk banding exact), so
    * DuckDB reproduces the result bit-for-bit.
    */
  val qDedupSimhashMd5: Q = (s, d) =>
    simhashPairs(simhashMd5Fingerprints(corpusNear(s, d)), 3, chunkBits = 8)
      .orderBy("id_a", "id_b")

  val qDedupSimhashMd5Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, 31) FROM documents
      |  WHERE doc_id % 4 = 0),
      |toks AS (SELECT doc_id,
      |           unnest(list_filter(string_split_regex(trim(text), '\s+'),
      |                              t -> t <> '')) AS t
      |         FROM corpus),
      |nibs AS (SELECT doc_id, k,
      |           strpos('0123456789abcdef', substr(md5(t), k, 1)) - 1 AS nib
      |         FROM toks CROSS JOIN
      |           (SELECT unnest(range(1, 9)) AS k) ks),
      |bits AS (SELECT doc_id, (k - 1) * 4 + (3 - j) AS p,
      |           sum(CASE WHEN (nib >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c
      |         FROM nibs CROSS JOIN
      |           (SELECT unnest(range(0, 4)) AS j) js
      |         GROUP BY 1, 2),
      |fps AS (SELECT doc_id,
      |          CAST(sum(CASE WHEN c > 0 THEN 1::BIGINT << (31 - p)
      |                        ELSE 0 END) AS BIGINT) AS simhash
      |        FROM bits GROUP BY 1)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Edit-distance near-dup pairs over short strings (part names) — the
    * classic blocking+Levenshtein pattern for entity resolution. Integer
    * distances are engine-exact, so this oracles cleanly.
    *
    * Blocking is (brand, name length): distance <= 2 implies a length gap
    * <= 2, so the probe side expands each name to its 5 admissible
    * partner lengths and the join is equi on (brand, len). This is sound
    * (no qualifying pair is lost) and each ordered pair matches exactly
    * once (partner length is unique), so the output is identical to the
    * brand-only block — but the join no longer materializes cross-length
    * pairs, and `levenshtein(_, _, 2)` runs the banded DP with early
    * exit instead of the full matrix. The probe side is repartitioned
    * first: a small dimension scan arrives as ONE parquet split, and
    * without the spread the ~1000× pair blowup runs in a single task.
    */
  val qDedupEditDistance: Q = (s, d) => {
    // session parallelism, not a constant (r16): the spread must track
    // the deployment's shuffle partitioning to stay scale-adaptive
    val n = s.sessionState.conf.numShufflePartitions
    val p = part(s, d).select("p_partkey", "p_name", "p_brand")
    val a = p.toDF("id_a", "name_a", "brand")
      .withColumn("len",
        explode(sequence(length(col("name_a")) - 2,
          length(col("name_a")) + 2)))
      .repartition(n, col("brand"), col("len"))
    // both sides spread: Catalyst may broadcast EITHER side of this
    // dim-sized join, and whichever side streams must not be the raw
    // single-split parquet scan or the whole pair blowup runs one task
    val b = p.toDF("id_b", "name_b", "brand")
      .withColumn("len", length(col("name_b")))
      .repartition(n, col("brand"), col("len"))
    a.join(b, Seq("brand", "len"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "dist")
      .orderBy("id_a", "id_b")
  }

  /** The truly subquadratic edit-distance path: SymSpell deletion-
    * neighborhood blocking. Each name expands to its ≤maxDist-deletion
    * variants ([[graft.functions.DeletionNeighborhood]], O(len^k) ≈ 79
    * keys at len 12 / k 2 — a constant factor over the corpus); two
    * names within distance maxDist always share a variant, so the
    * variant self-join generates a sound, OUTPUT-DRIVEN candidate set
    * (no block-quadratic pair enumeration), then banded levenshtein
    * verifies. Same output as the (brand, length)-blocked join —
    * DedupSpec-equality asserted in PipelineOpsSpec; ScaleProbe carries
    * the growth comparison.
    *
    * `blockCols` (e.g. brand) pre-partitions the variant key space;
    * pass Nil for global matching.
    */
  def editDistancePairsDeletes(
      df: DataFrame, idCol: String, nameCol: String,
      blockCols: Seq[String], maxDist: Int): DataFrame = {
    val s = df.sparkSession
    // the variant index carries only (id, block, v) — candidate pairs
    // are deduped on bare ids BEFORE names attach, so the (potentially
    // multiplicity-heavy) variant join shuffles narrow rows only
    val nbr = df.select(
      (col(idCol).as("id") +: col(nameCol).as("name") +:
        blockCols.map(col)): _*)
      .withColumn("v", explode(graft.functions.DeletionNeighborhood
        .neighborhood(s, col("name"), maxDist)))
      .drop("name")
      // session parallelism, not a constant (r16) — see the edit-
      // distance row; the variant key v is high-cardinality, so the
      // hash spreads evenly at any partition count
      .repartition(s.sessionState.conf.numShufflePartitions,
        (blockCols.map(col) :+ col("v")): _*)
    val joinKeys = blockCols :+ "v"
    val a = nbr.toDF(("id_a" +: joinKeys): _*)
    val b = nbr.toDF(("id_b" +: joinKeys): _*)
    val candidates = a.join(b, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val names = df.select(col(idCol).as("id"), col(nameCol).as("name"))
    candidates
      .join(names.toDF("id_a", "name_a"), "id_a")
      .join(names.toDF("id_b", "name_b"), "id_b")
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "dist")
  }

  val qDedupEditDistanceSql: String =
    """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** Jaro fuzzy matches over brand-blocked part names — the record-
    * linkage scorer beside the edit-distance family: Levenshtein's
    * banded ≤2 window is the strict typo detector, Jaro the graded
    * name-similarity used when entities drift more than a few edits
    * (word swaps, suffix churn). Same blocked-join scale shape (brand
    * blocks bound the pair fan-out; the kernel is a codegen'd per-row
    * map — [[graft.functions.JaroSimilarity]]); Jaro admits no variant
    * index like SymSpell's, so blocking IS the scale path.
    *
    * Parity note: both engines implement the same standard definition,
    * and the raw-double threshold plus 4-dp round has held hash-exact on
    * every tested SF (divergence only exists for the empty-vs-empty
    * convention — DuckDB scores it 0, this kernel 1 — which the fixture
    * never exercises).
    */
  val qFuzzyJaro: Q = (s, d) => {
    // SALTED hot-key self-join (guide §2.5, r16): p_brand has only 25
    // distinct values, so hashing by brand alone leaves most partitions
    // empty and each brand's QUADRATIC Jaro work on one task (the r15
    // shape also pinned the spread to a hard-coded 32). The left row's
    // id hash picks one of `salt` buckets; the right side replicates
    // `salt` ways, so every ordered pair (i < j) still joins exactly
    // once — under (brand, sk) the 25 hot keys become 25 × salt
    // balanced ones. salt tracks session parallelism (capped: right-
    // side replication is linear in it, the pair volume it splits is
    // quadratic per brand, so a modest factor buys the balance).
    val salt = math.min(64,
      math.max(4, s.sessionState.conf.numShufflePartitions / 8))
    val n = s.sessionState.conf.numShufflePartitions
    val p = part(s, d).select(col("p_partkey"), col("p_brand"), col("p_name"))
    // both sides spread explicitly (the dim scan is one parquet split,
    // and whichever side a broadcast join streams must not run the
    // whole pair blowup in that one task); equal (brand, sk)
    // partitioning also lets a shuffled join reuse both exchanges
    val a = p.toDF("id_a", "brand", "name_a")
      .withColumn("sk", pmod(xxhash64(col("id_a")), lit(salt.toLong)))
      .repartition(n, col("brand"), col("sk"))
    val b = p.toDF("id_b", "brand", "name_b")
      .withColumn("sk",
        explode(sequence(lit(0L), lit(salt.toLong - 1L))))
      .repartition(n, col("brand"), col("sk"))
    a.join(b, Seq("brand", "sk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim",
        graft.functions.JaroSimilarity.sim(s, col("name_a"), col("name_b")))
      .filter(col("sim") >= 0.92)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("jaro"))
      .orderBy("id_a", "id_b")
  }

  val qFuzzyJaroSql: String =
    """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
      |  round(jaro_similarity(a.p_name, b.p_name), 4) AS jaro
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE jaro_similarity(a.p_name, b.p_name) >= 0.92
      |ORDER BY id_a, id_b""".stripMargin

  /** Asymmetric near-dup matches: NEW-batch docs vs an EXISTING corpus —
    * the continual-ingest shape (daily batch ≪ corpus). Unlike the
    * self-join pair finders, the two sides are different frames and only
    * cross pairs matter; the batch-side index and its sizes BROADCAST, so
    * the corpus index streams through a map-side join and is never
    * shuffled — the property that makes daily dedup-against-100TB
    * tractable. Returns (id_new, id_old) matches at `threshold`.
    */
  def crossJaccardMatches(
      shNew: DataFrame, shOld: DataFrame, threshold: Double): DataFrame =
    crossJaccardMatchesIndexed(shNew, shOld,
      shOld.groupBy("doc_id").agg(count(lit(1)).as("n")), threshold)

  /** [[crossJaccardMatches]] with the corpus per-doc shingle counts
    * supplied as `sizesOld(doc_id, n)` instead of recomputed. The
    * recompute is a full corpus-index scan + doc_id shuffle per batch —
    * exactly the cost a persisted index exists to avoid, so
    * [[graft.plans.ShingleIndexStore]] stores the counts as part of the
    * artifact and passes them here; the generic entry point derives them
    * on the fly.
    */
  def crossJaccardMatchesIndexed(
      shNew: DataFrame, shOld: DataFrame, sizesOld: DataFrame,
      threshold: Double): DataFrame = {
    val sizesNew = shNew.groupBy("doc_id").agg(count(lit(1)).as("nn"))
    val inter = shOld.toDF("id_old", "g")
      .join(broadcast(shNew.toDF("id_new", "g")), Seq("g"))
      .groupBy("id_new", "id_old")
      .agg(count(lit(1)).as("i"))
    // the old-side size join keys on corpus docs that shared >= 1
    // shingle with the batch — bounded by matches, not corpus size
    inter
      .join(broadcast(sizesNew.toDF("id_new", "nn")), "id_new")
      .join(sizesOld.toDF("id_old", "no"), "id_old")
      .filter(col("i").cast("double") /
        (col("nn") + col("no") - col("i")) >= threshold)
      .select("id_new", "id_old")
  }

  /** The signature-index form of [[crossJaccardMatchesIndexed]]: batch
    * near-dups vs a corpus whose MINHASH SIGNATURES (and postings +
    * sizes) are precomputed — candidates come from cross-banding the
    * batch signatures against the corpus signature table (the batch side
    * broadcasts; the corpus signature scan is ~numHashes longs per doc,
    * postings-independent), and only candidates are exact-verified
    * against the corpus postings. Same (48, 24×r=2) recall argument as
    * [[qDedupMinhash]]: output equals the exact cross matches whenever
    * banding recall is 1, which the fixture's injected near-copies
    * guarantee (DocStreamsSpec + q_dedup_incremental_minhash pin it).
    *
    * At 100 TB this is the continual-ingest shape: the signature table
    * is ~10⁴× smaller than the postings, so the per-batch candidate scan
    * stops being proportional to corpus postings; the verify join then
    * touches the postings only for candidate-matched docs (at extreme
    * scale, layout the postings doc_id-keyed for that probe).
    */
  def crossMinhashMatches(
      shNew: DataFrame, shOld: DataFrame, sigOld: DataFrame,
      sizesOld: DataFrame, threshold: Double,
      numHashes: Int = 48, bands: Int = 24, r: Int = 2): DataFrame = {
    val sigNew = minhashSignatures(shNew, numHashes)
    val cand = bandBuckets(sigOld, bands, r).toDF("id_old", "band", "bh")
      .join(broadcast(bandBuckets(sigNew, bands, r)
        .toDF("id_new", "band", "bh")), Seq("band", "bh"))
      .select("id_new", "id_old")
      .distinct()
    val sizesNew = shNew.groupBy("doc_id").agg(count(lit(1)).as("nn"))
    val inter = cand
      .join(broadcast(shNew.toDF("id_new", "g")), "id_new")
      .join(shOld.toDF("id_old", "g"), Seq("id_old", "g"))
      .groupBy("id_new", "id_old")
      .agg(count(lit(1)).as("i"))
    inter
      .join(broadcast(sizesNew.toDF("id_new", "nn")), "id_new")
      .join(sizesOld.toDF("id_old", "no"), "id_old")
      .filter(col("i").cast("double") /
        (col("nn") + col("no") - col("i")) >= threshold)
      .select("id_new", "id_old")
  }

  /** Incremental dedup: admit only the batch docs with no near-dup in
    * the existing corpus (word-trigram Jaccard >= 0.5 vs ANY corpus
    * doc). The synthetic batch is every 3rd doc, mutated bimodally:
    * even ids lose their first 20 chars (overlap stays high → rejected),
    * odd ids keep only an 80-char prefix (overlap of a ~300-char doc
    * falls below 0.5 → admitted) — both outcomes exercised at every SF.
    */
  val qIncrementalDedup: Q = (s, d) => {
    val base = documents(s, d).select("doc_id", "text")
    val batch = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0,
          substring(col("text"), 21, 1000000))
          .otherwise(substring(col("text"), 1, 80)).as("text"))
    val shOld = shingleIndex(base, 3).persist()
    val shNew = shingleIndex(batch, 3).persist()
    val matched = crossJaccardMatches(shNew, shOld, 0.5)
      .select(col("id_new").as("doc_id")).distinct()
    val out = batch.join(matched, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
      .localCheckpoint(true)
    shOld.unpersist(); shNew.unpersist()
    out
  }

  /** The signature-index twin of [[qIncrementalDedup]]: same batch, same
    * admission semantics, but candidates come from cross-banded minhash
    * signatures ([[crossMinhashMatches]]) instead of the full postings
    * join. Exact verification at recall-1 banding ⇒ identical output on
    * this fixture, so it carries the same DuckDB oracle — the
    * hash-checked witness for the streaming signature-index admission
    * path ([[graft.streaming.DocStreams.admitAgainstSignatureIndex]]).
    */
  val qIncrementalDedupMinhash: Q = (s, d) => {
    val base = documents(s, d).select("doc_id", "text")
    val batch = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0,
          substring(col("text"), 21, 1000000))
          .otherwise(substring(col("text"), 1, 80)).as("text"))
    val shOld = shingleIndex(base, 3).persist()
    val shNew = shingleIndex(batch, 3).localCheckpoint(true)
    val sigOld = minhashSignatures(shOld, 48)
    val sizesOld = shOld.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val matched = crossMinhashMatches(shNew, shOld, sigOld, sizesOld, 0.5)
      .select(col("id_new").as("doc_id")).distinct()
    val out = batch.join(matched, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
      .localCheckpoint(true)
    shOld.unpersist()
    out
  }

  val qIncrementalDedupSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text, 0 AS is_new FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    CASE WHEN doc_id % 2 = 0 THEN substr(text, 21)
      |         ELSE substr(text, 1, 80) END, 1
      |  FROM documents WHERE doc_id % 3 = 0),
      |toks AS (SELECT doc_id, is_new,
      |           list_filter(string_split_regex(trim(text), '\s+'),
      |                       t -> t <> '') AS l
      |         FROM corpus),
      |mx AS (SELECT max(len(l)) + 1 AS m FROM toks),
      |sh AS (SELECT DISTINCT doc_id, is_new,
      |         l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1] || ' ' ||
      |           l[CAST(i AS INT)+2] AS g
      |       FROM toks CROSS JOIN
      |         (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) r
      |       WHERE CAST(i AS INT) + 2 <= len(l)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS id_new, b.doc_id AS id_old, count(*) AS i
      |          FROM sh a JOIN sh b
      |            ON a.g = b.g AND a.is_new = 1 AND b.is_new = 0
      |          GROUP BY 1, 2),
      |matched AS (SELECT DISTINCT id_new FROM inter
      |            JOIN sizes na ON id_new = na.doc_id
      |            JOIN sizes nb ON id_old = nb.doc_id
      |            WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5)
      |SELECT doc_id FROM corpus
      |WHERE is_new = 1 AND doc_id NOT IN (SELECT id_new FROM matched)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Line-level dedup (CCNet)
  // ---------------------------------------------------------------------

  /** Segment width for [[lineDedup]]; shared with the oracle. The fixture
    * text carries no newlines, so "lines" are fixed 8-token windows — on a
    * real web corpus the chunker is `split(text, "\n")` and everything
    * downstream is unchanged (the keep-first machinery never looks inside
    * the segment string).
    */
  val LineSegTokens = 8

  /** CCNet-style line-level dedup (Wenzek et al., LREC'20 §4.1): hash
    * every line of every document, drop all but the corpus-wide FIRST
    * occurrence of each distinct line, rebuild documents from the
    * surviving lines. Distinct from [[duplicatedSpanScrub]] on two axes:
    * segments are non-overlapping (no coverage union), and the semantics
    * are keep-first rather than remove-everywhere — the first document to
    * use a boilerplate line keeps it.
    *
    * Scale shape: one hash aggregation on the segment key (min-struct
    * keeps the (doc_id, seg_idx)-lexicographic first occurrence with
    * map-side partial aggregation — order-insensitive, so no sort and no
    * single-task window) plus one join back on the same key; the rebuild
    * is a per-doc sorted collect over that doc's own segments. The same
    * gram-key exchange family as boilerplate/spans: skew on a viral line
    * is bounded because the aggregation side collapses each distinct line
    * to ONE row before the join, and AQE splits the probe side.
    */
  /** Non-overlapping fixed-width segments of every doc:
    * (doc_id, seg_idx, seg).
    */
  def lineSegments(docs: DataFrame, segTokens: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val nSegs = ceil(size(col("toks")) / lit(segTokens.toDouble)).cast("int")
    // guard the empty doc: sequence(0, -1) steps DOWNWARD in Spark
    // (yielding [0, -1], i.e. two phantom empty segments), it is not an
    // empty range
    toks.select(col("doc_id"),
      posexplode(when(nSegs === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), nSegs - 1),
          i => array_join(
            slice(col("toks"), i * segTokens + 1, lit(segTokens)), " "))))
        .as(Seq("seg_idx", "seg")))
  }

  /** Rebuild each doc from its flagged segments: `flagged` is
    * (doc_id, seg_idx, seg, keep); docs whose token list is empty
    * produce zero segment rows, so an outer join against the doc list
    * recovers them with (0, 0, "").
    */
  private def rebuildFromFlagged(
      docs: DataFrame, flagged: DataFrame): DataFrame = {
    val kept = flagged
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("seg_idx"), col("seg"))))),
          x => x("seg")), " ").as("clean_text"))
    docs.select("doc_id").join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def lineDedup(docs: DataFrame, segTokens: Int): DataFrame = {
    val segs = lineSegments(docs, segTokens)
    val first = segs.groupBy("seg")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("keeper"))
    val flagged = segs.join(first, Seq("seg"))
      .withColumn("keep",
        col("keeper.doc_id") === col("doc_id") &&
          col("keeper.seg_idx") === col("seg_idx"))
    rebuildFromFlagged(docs, flagged)
  }

  /** Line scrub of an arriving batch against a FROZEN corpus line set
    * (one string column `seg`) — the continual-ingest form of
    * [[lineDedup]]'s keep-first rule: the corpus owns every line it
    * already contains, and within the batch the first occurrence wins.
    * When every corpus doc_id precedes every batch doc_id, this equals
    * the whole-corpus [[lineDedup]] restricted to the batch's rows
    * (DocStreamsSpec pins it). The corpus side ships as a broadcast-able
    * distinct line set — the batch is the only corpus-independent input,
    * the frozen-model discipline of the decontamination/DSIR gates.
    */
  def lineScrubAgainstCorpus(
      batch: DataFrame, corpusLines: DataFrame, segTokens: Int): DataFrame = {
    val segs = lineSegments(batch, segTokens)
    val batchFirst = segs.groupBy("seg")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("keeper"))
    val flagged = segs
      .join(batchFirst, Seq("seg"))
      .join(broadcast(corpusLines.select(col("seg")).distinct()
        .withColumn("in_corpus", lit(true))), Seq("seg"), "left")
      .withColumn("keep",
        col("in_corpus").isNull &&
          col("keeper.doc_id") === col("doc_id") &&
          col("keeper.seg_idx") === col("seg_idx"))
    rebuildFromFlagged(batch, flagged)
  }

  /** The distinct line set of a static corpus — the frozen input to
    * [[lineScrubAgainstCorpus]].
    */
  def corpusLineSet(corpus: DataFrame, segTokens: Int): DataFrame =
    lineSegments(corpus, segTokens).select("seg").distinct()

  /** Driver row: line dedup over the corpus-with-verbatim-copies fixture
    * (the random-vocabulary fixture has no naturally repeated 8-token
    * windows, so the injected copies supply the duplicate lines; every
    * copy's segments lose keep-first to its original).
    */
  val qLineDedup: Q = (s, d) =>
    lineDedup(corpusExact(s, d), LineSegTokens).orderBy("doc_id")

  val qLineDedupSql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
      |toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |                x -> x <> '') AS l
      |  FROM base),
      |mx AS (SELECT CAST(ceil(max(len(l)) / $LineSegTokens.0) AS INT) AS m
      |       FROM toks),
      |segs AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
      |    array_to_string(
      |      l[(CAST(i AS INT) * $LineSegTokens + 1):
      |        (CAST(i AS INT) * $LineSegTokens + $LineSegTokens)],
      |      ' ') AS seg
      |  FROM toks CROSS JOIN
      |    (SELECT unnest(range(0, (SELECT m FROM mx))) AS i) r
      |  WHERE CAST(i AS INT) * $LineSegTokens < len(l)),
      |first AS (SELECT seg, min(doc_id * 100000 + seg_idx) AS fk
      |          FROM segs GROUP BY 1),
      |kept AS (SELECT s.doc_id,
      |    CAST(count(*) AS BIGINT) AS n_segs,
      |    CAST(sum(CASE WHEN s.doc_id * 100000 + s.seg_idx = f.fk
      |             THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
      |    COALESCE(string_agg(
      |      CASE WHEN s.doc_id * 100000 + s.seg_idx = f.fk THEN s.seg END,
      |      ' ' ORDER BY s.seg_idx), '') AS clean_text
      |  FROM segs s JOIN first f USING (seg)
      |  GROUP BY 1)
      |SELECT b.doc_id,
      |  COALESCE(n_segs, 0) AS n_segs,
      |  COALESCE(n_dropped, 0) AS n_dropped,
      |  COALESCE(clean_text, '') AS clean_text
      |FROM base b LEFT JOIN kept USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Corpus duplication-factor curve — redundancy as a function of gram
  // length (the diagnostic the dedup papers plot before choosing n):
  // occurrences / distinct types per n. High dup factor at long n =
  // literal copy mass (span/near-dup dedup will bite); high only at
  // short n = natural token reuse (dedup won't move token counts).
  // Totals are pure arithmetic off token counts (no materialized grams);
  // distinct types is one two-level agg per n over the fingerprint
  // explode — the only corpus-sized exchanges, one per curve point.
  // 64-bit fingerprint distinct stands in for string distinct
  // (collision-free at any plausible corpus scale; the suite-wide
  // shingle-fingerprint contract).
  // ---------------------------------------------------------------------
  val DupCurveNs: Seq[Int] = Seq(1, 2, 3, 5, 8)

  def dupFactorCurve(corpus: DataFrame, ns: Seq[Int]): DataFrame =
    ns.map { n =>
      val tot = corpus
        .select(tokens(col("text")).as("toks"))
        .select(greatest(lit(0L),
          (size(col("toks")) - lit(n) + 1).cast("long")).as("cnt"))
        .agg(sum("cnt").as("n_grams"))
      val dis = shingleIndex(corpus, n)
        .agg(countDistinct(col("g")).as("n_distinct"))
      tot.crossJoin(dis).select(
        lit(n).as("n"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("n_distinct"),
        when(col("n_distinct") > 0,
          round(col("n_grams").cast("double") / col("n_distinct"), 4))
          .as("dup_factor"),
        when(col("n_grams") > 0,
          round(lit(1.0) -
            col("n_distinct").cast("double") / col("n_grams"), 4))
          .as("dup_frac"))
    }.reduce(_ unionByName _).orderBy("n")

  val qDupFactorCurve: Q = (s, d) =>
    dupFactorCurve(documents(s, d), DupCurveNs)

  val qDupFactorCurveSql: String = {
    def gramExpr(n: Int): String =
      if (n == 1) "l[CAST(i AS INT)]"
      else (0 until n).map(j =>
        if (j == 0) "l[CAST(i AS INT)]"
        else s"l[CAST(i AS INT)+$j]").mkString(" || ' ' || ")
    val rows = DupCurveNs.map { n =>
      s"""SELECT $n AS n,
         |  (SELECT CAST(sum(greatest(0, len(l) - $n + 1)) AS BIGINT)
         |   FROM toks) AS n_grams,
         |  (SELECT CAST(count(DISTINCT ${gramExpr(n)}) AS BIGINT)
         |   FROM toks CROSS JOIN
         |     (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) r
         |   WHERE CAST(i AS INT) + $n - 1 <= len(l)) AS n_distinct"""
        .stripMargin
    }.mkString("\n|UNION ALL\n|")
    s"""WITH toks AS MATERIALIZED (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |                t -> t <> '') AS l
      |  FROM documents),
      |mx AS (SELECT max(len(l)) + 1 AS m FROM toks),
      |curve AS (
      |$rows)
      |SELECT n, COALESCE(n_grams, 0) AS n_grams, n_distinct,
      |  CASE WHEN n_distinct > 0
      |    THEN round(CAST(COALESCE(n_grams, 0) AS DOUBLE) / n_distinct, 4)
      |  END AS dup_factor,
      |  CASE WHEN COALESCE(n_grams, 0) > 0
      |    THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 4)
      |  END AS dup_frac
      |FROM curve
      |ORDER BY n""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Top boilerplate lines — the inspection report behind the line-dedup
  // and boilerplate-fraction numbers: WHICH segments repeat, across how
  // many documents and how many total occurrences. This is the artifact
  // a curation run eyeballs before trusting automated line scrubbing
  // (license headers and nav chrome should dominate; topical sentences
  // at the top of this list mean the segmenting is too coarse). Same
  // segment definition as [[lineDedup]]; one seg-keyed agg; top-k by
  // document frequency with a total-order tie-break.
  // ---------------------------------------------------------------------
  val BoilerplateTopN = 20

  val qBoilerplateLines: Q = (s, d) =>
    lineSegments(corpusExact(s, d), LineSegTokens)
      .filter(col("seg") =!= "")
      .groupBy("seg")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("seg"))
      .limit(BoilerplateTopN)

  val qBoilerplateLinesSql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
      |toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |                x -> x <> '') AS l
      |  FROM base),
      |mx AS (SELECT CAST(ceil(max(len(l)) / $LineSegTokens.0) AS INT) AS m
      |       FROM toks),
      |segs AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
      |    array_to_string(
      |      l[(CAST(i AS INT) * $LineSegTokens + 1):
      |        (CAST(i AS INT) * $LineSegTokens + $LineSegTokens)],
      |      ' ') AS seg
      |  FROM toks CROSS JOIN
      |    (SELECT unnest(range(0, (SELECT m FROM mx))) AS i) r
      |  WHERE CAST(i AS INT) * $LineSegTokens < len(l))
      |SELECT seg, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM segs WHERE seg <> ''
      |GROUP BY seg HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY n_docs DESC, n_occurrences DESC, seg
      |LIMIT $BoilerplateTopN""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_dup_factor_curve" -> qDupFactorCurve,
    "q_boilerplate_lines" -> qBoilerplateLines,
    "q_line_dedup" -> qLineDedup,
    "q_dedup_editdist" -> qDedupEditDistance,
    "q_dedup_incremental" -> qIncrementalDedup,
    "q_dedup_incremental_minhash" -> qIncrementalDedupMinhash,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_exact_canonical" -> qDedupExactCanonical,
    "q_dedup_spans" -> qDedupSpans,
    "q_dedup_ngram_jaccard" -> qDedupNgramJaccard,
    "q_dedup_containment" -> qDedupContainment,
    "q_fuzzy_jaro" -> qFuzzyJaro,
    "q_dedup_prefix_filter" -> qDedupPrefixFilter,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_simhash_md5" -> qDedupSimhashMd5,
    "q_simhash_recall" -> qSimhashRecall)

  val oracles: Map[String, String] = Map(
    "q_dup_factor_curve" -> qDupFactorCurveSql,
    "q_boilerplate_lines" -> qBoilerplateLinesSql,
    "q_line_dedup" -> qLineDedupSql,
    "q_dedup_editdist" -> qDedupEditDistanceSql,
    "q_dedup_incremental" -> qIncrementalDedupSql,
    // recall-1 banding + exact verify ⇒ identical admission to the
    // postings-join form (see qIncrementalDedupMinhash doc)
    "q_dedup_incremental_minhash" -> qIncrementalDedupSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_exact_canonical" -> qDedupExactCanonicalSql,
    "q_dedup_spans" -> qDedupSpansSql,
    "q_dedup_ngram_jaccard" -> qDedupNgramJaccardSql,
    "q_dedup_containment" -> qDedupContainmentSql,
    "q_fuzzy_jaro" -> qFuzzyJaroSql,
    // prefix filtering is exact-complete → identical output to the full
    // self-join, same oracle (the q_dedup_minhash precedent, minus the
    // recall caveat)
    "q_dedup_prefix_filter" -> qDedupNgramJaccardSql,
    // exact-verified candidates at recall 1 on this fixture ⇒ identical
    // output to the exact jaccard query (see qDedupMinhash doc)
    "q_dedup_minhash" -> qDedupNgramJaccardSql,
    "q_dedup_simhash_md5" -> qDedupSimhashMd5Sql,
    "q_simhash_recall" -> qSimhashRecallSql)
}
